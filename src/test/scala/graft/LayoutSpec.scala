package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout

class LayoutSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  /** Reference Morton interleave, bit by bit. */
  private def mortonRef(a: Int, b: Int): Long =
    (0 until 16).foldLeft(0L) { (acc, i) =>
      acc | ((a.toLong >> i) & 1L) << (2 * i) | ((b.toLong >> i) & 1L) << (2 * i + 1)
    }

  test("interleave matches the bit-by-bit Morton reference on known and random values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = Seq((0xFFFF, 0), (0, 0xFFFF), (3, 1), (0, 0), (0xFFFF, 0xFFFF)) ++
      Seq.fill(1000)((rnd.nextInt(65536), rnd.nextInt(65536)))
    val got = pts.toDF("a", "b")
      .select($"a", $"b", Layout.interleave($"a".cast("long"), $"b".cast("long")).as("z"))
      .as[(Int, Int, Long)].collect()
    got.foreach { case (a, b, z) => assert(z == mortonRef(a, b), s"($a,$b)") }
  }

  test("q_zorder_pruning: the z layout prunes most buckets, the natural layout none") {
    val got = SparkEntry.all("q_zorder_pruning").fn(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("prune_frac")).toMap
    assert(got("zorder") > 0.5, s"zorder prune_frac ${got("zorder")}")
    assert(got("natural") < 0.1, s"natural prune_frac ${got("natural")}")
  }

  test("zorderWrite yields disjoint per-file z-ranges and tight per-file spans on BOTH dims") {
    import spark.implicits._
    val dir = tempDir("zorder")
    val o = graft.sources.Tables.orders(spark, TestSpark.sf)
      .select($"o_orderkey", $"o_custkey",
        floor(unix_timestamp($"o_orderdate").cast("double") / 86400).cast("long").as("day"))
    Layout.zorderWrite(o, "o_custkey", "day", s"$dir/z", numFiles = 8)

    val Seq(ckLo, ckHi, dLo, dHi) = o.agg(min($"o_custkey"), max($"o_custkey"),
      min($"day"), max($"day")).head().toSeq.map(_.toString.toLong)
    val stats = spark.read.parquet(s"$dir/z")
      .withColumn("f", input_file_name())
      .withColumn("z", Layout.zValue(
        $"o_custkey", lit(ckLo), lit(ckHi), $"day", lit(dLo), lit(dHi)))
      .groupBy("f").agg(
        min($"z").as("zmin"), max($"z").as("zmax"),
        min($"o_custkey").as("cmin"), max($"o_custkey").as("cmax"),
        min($"day").as("dmin"), max($"day").as("dmax"))
      .collect()
    assert(stats.length == 8)
    // disjoint curve segments: sorted by zmin, no range may overlap the next
    val sorted = stats.sortBy(_.getAs[Long]("zmin"))
    sorted.sliding(2).foreach { w =>
      if (w.length == 2)
        assert(w(0).getAs[Long]("zmax") <= w(1).getAs[Long]("zmin"),
          s"overlap: ${w(0).getAs[Long]("zmax")} > ${w(1).getAs[Long]("zmin")}")
    }
    // file-skipping value: average per-file span well under the global span, on BOTH dims
    def avgFrac(lo: String, hi: String, gLo: Long, gHi: Long) =
      stats.map(r => (r.getAs[Long](hi) - r.getAs[Long](lo)).toDouble / (gHi - gLo)).sum / stats.length
    val ckFrac = avgFrac("cmin", "cmax", ckLo, ckHi)
    val dFrac = avgFrac("dmin", "dmax", dLo, dHi)
    assert(ckFrac < 0.6, s"custkey span frac $ckFrac")
    assert(dFrac < 0.6, s"day span frac $dFrac")
  }
}

package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Degenerate-input behavior of the round-6 operators: constant
  * dimensions, constant value columns, zero-MAD groups. */
class Round6EdgeSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("zorderWrite survives a constant dimension (hi == lo) and still clusters the other") {
    import spark.implicits._
    val dir = tempDir("zorder-edge")
    val df = (1 to 1000).map(i => (i.toLong, 7L)).toDF("a", "b")
    Layout.zorderWrite(df, "a", "b", s"$dir/z", numFiles = 4)
    val stats = spark.read.parquet(s"$dir/z")
      .groupBy(input_file_name()).agg(min($"a"), max($"a"), countDistinct($"b"))
      .collect()
    assert(stats.length == 4)
    // b is constant everywhere; a-ranges must be disjoint (pure a-sort)
    assert(stats.forall(_.getLong(3) == 1L))
    val ranges = stats.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach { w =>
      if (w.length == 2) assert(w(0)._2 < w(1)._1, s"overlap: ${ranges.mkString(",")}") }
  }

  test("zorderWrite on empty input writes an empty table instead of crashing") {
    import spark.implicits._
    val dir = tempDir("zorder-empty")
    val df = Seq.empty[(Long, Long)].toDF("a", "b")
    Layout.zorderWrite(df, "a", "b", s"$dir/z", numFiles = 4)
    assert(spark.read.parquet(s"$dir/z").count() == 0)
  }

  test("q_equidepth degenerates to one bucket on a constant column, no crash") {
    import spark.implicits._
    val dir = tempDir("eq-edge")
    (1 to 100).map(_ => 42.0).toDF("l_extendedprice").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_equidepth")(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("bucket") == 0L && got(0).getAs[Long]("n_rows") == 100L)
  }

  test("q_mad_outliers: a zero-MAD group flags every off-median value") {
    import spark.implicits._
    val dir = tempDir("mad-edge")
    def t(i: Int) = new Timestamp(i * 1000L)
    // "flat": 9 identical values + 1 different -> MAD 0, the 1 is an outlier
    // "spread": symmetric values -> nonzero MAD, no 3x outliers
    val rows = (1 to 9).map(i => ("flat", t(i), 5.0)) :+ (("flat", t(10), 6.0))
    val spread = (1 to 10).map(i => ("spread", t(i), i.toDouble))
    (rows ++ spread).toDF("event_type", "ts", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q_mad_outliers")(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Double]("mad_value"), r.getAs[Long]("n_outliers")))).toMap
    assert(got("flat") == ((0.0, 1L)), s"flat: ${got("flat")}")
    assert(got("spread")._1 > 0.0 && got("spread")._2 == 0L, s"spread: ${got("spread")}")
  }
}

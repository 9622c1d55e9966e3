package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity
import graft.sources.Tables

class SimilaritySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  lazy val emb = Tables.embeddings(spark, sf)
  lazy val probes = emb.filter("vec_id < 5")

  test("bruteForce ranks by cosine, k per query, no self-matches") {
    import spark.implicits._
    val got = Similarity.bruteForce(spark, emb, probes, k = 5).collect()
    assert(got.length == 25)
    got.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rk"))
      assert(sorted.map(_.getAs[Double]("cos_sim")).sliding(2).forall(p => p.head >= p.last))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
    }
  }

  test("rangeSearch returns exactly the vectors at or above tau") {
    import spark.implicits._
    // cosines vs the probe (1,0): a=1.0, b=0.0, c=0.8
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.rangeSearch(spark, vecs, vecs.filter("vec_id = 0"), tau = 0.5)
      .collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
      .sortBy(_._1)
    assert(got.map(_._1).sameElements(Array(1L, 3L)))
    assert(got(0)._2 == 1.0 && math.abs(got(1)._2 - 0.8) < 1e-6)
  }

  test("a planted duplicate vector is every method's top neighbor") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // clone vec 0 as id 9999 → its nearest neighbor must be 0 with cos ≈ 1
    val clone = emb.filter($"vec_id" === 0)
      .withColumn("vec_id", lit(9999L))
    val corpus = emb.unionByName(clone.select(emb.columns.map(col): _*))
    val p = corpus.filter($"vec_id" === 9999L)
    for ((name, df) <- Seq(
        "brute" -> Similarity.bruteForce(spark, corpus, p, k = 1),
        "lsh" -> Similarity.lshTopK(spark, corpus, p, k = 1),
        "ivf" -> Similarity.ivfTopK(spark, corpus, p, k = 1))) {
      val top = df.collect()
      assert(top.length == 1, s"$name returned ${top.length} rows")
      assert(top(0).getAs[Long]("neighbor_id") == 0L, s"$name top=${top(0)}")
      assert(top(0).getAs[Double]("cos_sim") > 0.999999, s"$name cos=${top(0)}")
    }
  }

  test("emb_label_noise flags exactly the planted mislabeled vector in clustered data") {
    import spark.implicits._
    val dir = tempDir("label-noise")
    // 3 tight clusters of 5 vectors; all ids are multiples of 5 so every
    // vector is an anchor. One vector (id 10) carries the WRONG label.
    def v(axis: Int, jitter: Float) = {
      val a = Array.fill(4)(0.01f); a(axis) = 1.0f + jitter; a
    }
    val rows = (0 until 15).map { i =>
      val cluster = i / 5
      val label = if (i == 2) (cluster + 1) % 3 else cluster // id 10 flipped
      (i * 5L, v(cluster, 0.01f * (i % 5)), label)
    }
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("emb_label_noise")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("flagged")).toMap
    assert(got.size == 15)
    assert(got(10L), "mislabeled vector not flagged")
    assert(got.count(_._2) == 1, s"false flags: ${got.filter(_._2).keys}")
  }

  test("emb_separation: every label separates from its best rival centroid") {
    import spark.implicits._
    val got = SparkEntry.all("emb_separation").fn(spark, TestSpark.sf)
      .select($"intra_cos", $"best_inter_cos", $"margin")
      .as[(Double, Double, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (intra, inter, margin) =>
      assert(intra > inter, s"intra $intra <= inter $inter")
      assert(math.abs(margin - (BigDecimal(intra) - BigDecimal(inter)).toDouble) < 1e-9)
    }
  }

  test("signBitCode packs the definitional sign bits, any dimension") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 128-dim vectors (2 words) with deterministic mixed-sign values,
    // including exact 0.0 (not a set bit) at every 7th position
    val rows = (0L until 20L).map { id =>
      id -> Array.tabulate(128) { i =>
        if ((i + id) % 7 == 0) 0.0f
        else (((i * 31 + id * 17) % 11).toFloat - 5.0f)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = df.select($"vec_id", Similarity.signBitCode("embedding").as("code"))
      .as[(Long, Array[Long])].collect().toMap
    rows.foreach { case (id, vec) =>
      val want = Array.tabulate(2) { w =>
        (0 until 64).foldLeft(0L) { (acc, i) =>
          if (vec(w * 64 + i) > 0) acc + (1L << i) else acc
        }
      }
      assert(got(id).sameElements(want), s"vec $id: ${got(id).toSeq} != ${want.toSeq}")
    }
    // hammingDist on the packed codes equals the definitional bit diff
    val pairs = df.as("a").join(df.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
        Similarity.hammingDist(
          Similarity.signBitCode("a.embedding"),
          Similarity.signBitCode("b.embedding")).as("h"))
      .as[(Long, Long, Int)].collect()
    val byId = rows.toMap
    pairs.foreach { case (ia, ib, h) =>
      val want = (0 until 128).count(i => (byId(ia)(i) > 0) != (byId(ib)(i) > 0))
      assert(h == want, s"hamming($ia,$ib)=$h want $want")
    }
  }

  test("bqTopK: planted duplicate is the top neighbor; cosines are exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val clone = emb.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L))
    val corpus = emb.unionByName(clone.select(emb.columns.map(col): _*))
    val p = corpus.filter($"vec_id" === 9999L)
    val top = Similarity.bqTopK(spark, corpus, p, k = 1).collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("neighbor_id") == 0L)
    assert(top(0).getAs[Long]("hamming") == 0L)
    assert(top(0).getAs[Double]("cos_sim") > 0.999999)
    // every reported cosine matches the brute-force score for that pair
    val brute = Similarity.bruteForce(spark, emb, probes, k = 500).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    val bq = Similarity.bqTopK(spark, emb, probes, k = 5).collect()
    assert(bq.length == probes.count() * 5)
    bq.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(key) && math.abs(brute(key) - r.getAs[Double]("cos_sim")) < 1e-12)
    }
  }

  test("lsh candidates are a subset of brute-force scores (same cosine)") {
    val brute = Similarity.bruteForce(spark, emb, probes, k = 500).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cos_sim"))
      .toMap
    val lsh = Similarity.lshTopK(spark, emb, probes, k = 5).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(brute.contains(key) && math.abs(brute(key) - r.getAs[Double]("cos_sim")) < 1e-12)
    }
  }

  test("IVF manifest build: one pass, one commit, one file per nonempty cell even under skew") {
    import spark.implicits._
    import graft.sources.ManifestTable
    // deliberately SKEWED cells (sizes 1/1/12/2) + an empty cell (3):
    // size-balancing partitioners would merge the small cells into one
    // file; the identity placement must not
    val rows = Seq.tabulate(16) { i =>
      val cell = if (i < 1) 0L else if (i < 2) 1L else if (i < 14) 2L else 4L
      (cell, i.toLong, Array(i.toFloat, 1.0f))
    }
    val assigned = rows.toDF("cell", "vec_id", "embedding")
    val root = tempDir("graft-ivf-build-spec")
    val v = Similarity.buildIvfManifestIndex(spark, assigned,
      cells = Array(0L, 1L, 2L, 3L, 4L), root)
    assert(v == 0L)
    assert(ManifestTable.latestVersion(root).contains(0L),
      "index build committed more than once")
    val files = ManifestTable.snapshotFilesWithStats(root)
    assert(files.size == 4, s"expected 4 nonempty-cell files, got ${files.size}")
    // every file holds exactly one cell: tight single-value bounds
    val bounds = files.map(_._2("cell")).sortBy(_._1)
    assert(bounds == Seq((0L, 0L), (1L, 1L), (2L, 2L), (4L, 4L)), bounds.toString)
    // a probe of cell 2 plans exactly one file and reads exactly its rows
    assert(ManifestTable.plannedFilesForRange(root, "cell", 2, 2).size == 1)
    assert(ManifestTable.readRange(spark, root, "cell", 2, 2).count() == 12)
    // the empty cell plans nothing
    assert(ManifestTable.plannedFilesForRange(root, "cell", 3, 3).isEmpty)
  }
}

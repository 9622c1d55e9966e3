package graft

import org.scalatest.funsuite.AnyFunSuite

/** Handcrafted-input semantics for the round-9 keys: the oracle
  * hash-compare proves Spark == DuckDB; these prove both match the
  * DEFINITION (train/held-out vocab split in OOV, majority vote in
  * kNN classification) on inputs small enough to verify by hand. The
  * round-9 graph keys are in `GraphSpec`. */
class Round9EdgeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("corpus_ppl_buckets: value-threshold tertiles split head/middle/tail") {
    // c(a)=4, others 1, N=7 -> rarities a:1, b/x/y:7; scores
    // d1("a a a")=1e6, d2("a b")=4e6, d3("x y")=7e6 -> one doc per bucket
    val dir = tempDir("r9ppl")
    Seq(
      (1L, "a a a", "en", "s1", 5L),
      (2L, "a b", "en", "s1", 3L),
      (3L, "x y", "en", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_ppl_buckets")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == Seq(
      ("en", 1L, "head", 1L, 3L, 1000000L, 1000000L),
      ("en", 2L, "middle", 1L, 2L, 4000000L, 4000000L),
      ("en", 3L, "tail", 1L, 2L, 7000000L, 7000000L)), got.toString)
  }

  test("text_oov_rate: vocab comes from the train split only, rate is exact ppb") {
    val dir = tempDir("r9oov")
    Seq(
      (1L, "a b c", "en", "s1", 5L),   // train: contributes {a,b,c}
      (2L, "b d", "en", "s1", 3L),     // train: contributes {b,d}
      (10L, "a x b y", "en", "s1", 7L), // held out: x,y OOV -> 2/4
      (20L, "c d", "en", "s1", 3L))    // held out: fully covered -> 0/2
      .toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_oov_rate")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((10L, 4L, 2L, 500000000L), (20L, 2L, 0L, 0L)), got.toString)
  }

  test("emb_knn_classify: majority vote over the 10-NN, ties to the smallest label") {
    // 11 IDENTICAL vectors: every cosine is 1.0, so all 8 first-k
    // centroids coincide, everyone lands in cell 1, and each probe's
    // top-10 is exactly the 10 other vectors — IVF degrades to a
    // hand-checkable full vote (and exercises the TopCells tie path).
    // Labels: vec0=0 (unique), vecs1-5=1, vecs6-10=2.
    //  probe 0 sees five 1s vs five 2s -> TIE -> pred 1 (smallest);
    //  probes 1-5 (label 1) see 4x1 vs 5x2 -> pred 2;
    //  probes 6-9 (label 2) see 5x1 vs 4x2 -> pred 1. Nobody correct.
    val dir = tempDir("r9knncls")
    (0L to 10L).map(i =>
      (i, Array(1.0f, 0.0f), if (i == 0) 0 else if (i <= 5) 1 else 2))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("emb_knn_classify")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val want = (0L to 9L).map { q =>
      val lbl = if (q == 0) 0L else if (q <= 5) 1L else 2L
      val pred = if (q == 0) 1L else if (q <= 5) 2L else 1L
      (q, lbl, pred, 5L, 0L)
    }
    assert(got == want, got.toString)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** Round-5 query surface: BM25, perplexity, CMS, decontamination,
  * MinHash LSH pairs, binary dedup (graph_bfs is in GraphSpec). Planted-data tests write a
  * temp documents.parquet so the table-bound queries run against
  * known content. */
class RetrievalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  private def run(name: String, dir: String = TestSpark.sf): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Write a planted documents table, return its dir. */
  private def plantDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-docs")
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        concat(lit("src"), ($"doc_id" % 5).cast("string")).as("source"),
        length($"text").cast("long").as("n_chars"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("text_bm25: valid ranks, descending scores, all queries answered") {
    val rows = run("text_bm25").collect()
    val byQ = rows.groupBy(_.getAs[Int]("query_id"))
    assert(byQ.keySet == Set(1, 2, 3))
    byQ.values.foreach { rs =>
      val ranked = rs.sortBy(_.getAs[Int]("rk"))
      assert(ranked.map(_.getAs[Int]("rk")).toSeq == (1 to ranked.length))
      val scores = ranked.map(_.getAs[Double]("bm25")).toSeq
      assert(scores == scores.sorted.reverse, "bm25 must be non-increasing in rank")
      assert(scores.forall(_ > 0.0))
    }
  }

  test("text_bm25: doc matching both terms outranks equal-length doc matching one") {
    // doc 1 has both 'hash' and 'join' (query 1); doc 2 only 'hash';
    // identical lengths → pure tf/idf effect
    val dir = plantDocs(Seq(
      (1L, "hash join table scan"),
      (2L, "hash part table scan"),
      (3L, "window agg vector scan")))
    val q1 = run("text_bm25", dir).collect()
      .filter(_.getAs[Int]("query_id") == 1)
      .sortBy(_.getAs[Int]("rk"))
    assert(q1.head.getAs[Long]("doc_id") == 1L)
  }

  test("text_perplexity: negative log-probs, bigram counts match doc length") {
    import spark.implicits._
    val dir = plantDocs(Seq(
      (1L, "a b c d e"),
      (2L, "a a a a a a"),
      (3L, "x")))
    val got = run("text_perplexity", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got.contains(3L), "single-token doc has no bigrams")
    assert(got(1L).getAs[Long]("n_bigrams") == 4L)
    assert(got(2L).getAs[Long]("n_bigrams") == 5L)
    assert(got.values.forall(_.getAs[Double]("avg_logp") < 0.0))
    // repetitive doc is far more probable under the self-trained LM
    assert(got(2L).getAs[Double]("avg_logp") > got(1L).getAs[Double]("avg_logp"))
  }

  test("text_perplexity/corpus_decontam: corpus-sized sides carry no broadcast hint") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    // The LM count tables and the carved-out eval side grow with the
    // corpus; a hard broadcast() there OOMs at scale. Only the 1-row
    // vocab scalar may be hint-broadcast — everything else must be
    // left to AQE.
    val perplexHints = run("text_perplexity").queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    assert(perplexHints.length == 1, s"expected only the vocab-scalar hint, got ${perplexHints.length}")
    assert(perplexHints.head.child.schema.fieldNames.sameElements(Array("v")))
    val decontamHints = run("corpus_decontam").queryExecution.analyzed.collect {
      case h: ResolvedHint => h
    }
    assert(decontamHints.isEmpty, "corpus_decontam must not force-broadcast the eval side")
  }

  test("text_cms_topk: count-min error is one-sided (est >= exact)") {
    val rows = run("text_cms_topk").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("cms_est") >= r.getAs[Long]("exact_cnt"))
      assert(r.getAs[Long]("err") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("exact_cnt"))
    }
    // w=8 buckets over a 31-term vocab ⇒ collisions must exist
    assert(rows.exists(_.getAs[Long]("err") > 0))
  }

  test("corpus_decontam flags planted 4-gram overlap with the eval set") {
    // doc 0 (0 % 41 == 0) is eval; doc 1 shares a 4-gram, doc 2 doesn't
    val dir = plantDocs(Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "zz beta gamma delta epsilon yy"),
      (2L, "alpha beta zz gamma delta zz epsilon")))
    val got = run("corpus_decontam", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_grams_hit")).toMap
    assert(got.contains(1L) && got(1L) == 1L) // "beta gamma delta epsilon"
    assert(!got.contains(2L))
  }

  test("dedup_minhash_pairs: planted duplicate scores est_jaccard 1.0 on top") {
    val text = "key agg row scan slow fast table value part hash merge batch"
    val dir = plantDocs(Seq(
      (1L, text), (2L, text),
      (3L, "window spark order data column agg join small line customer query stream")))
    val top = run("dedup_minhash_pairs", dir).collect().head
    assert(top.getAs[Long]("doc_a") == 1L && top.getAs[Long]("doc_b") == 2L)
    assert(top.getAs[Long]("matches") == 32L)
    assert(top.getAs[Double]("est_jaccard") == 1.0)
  }

  test("mm_hash_dedup collapses byte-identical blobs to the min doc_id") {
    val dir = plantDocs(Seq(
      (5L, "same bytes"), (9L, "same bytes"), (7L, "other bytes")))
    val got = run("mm_hash_dedup", dir).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("copies")).toMap
    assert(got == Map(5L -> 2L, 7L -> 1L))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}
import graft.functions.GramMatrix

/** Round-3 additions: span-level substring dedup, Gopher composite
  * filter, Gram-matrix aggregator. */
class PipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("q_profile computes all column stats in one scan (multi-distinct Expand)") {
    val qe = SparkEntry.all("q_profile").fn(spark, TestSpark.sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("Expand"), s"multi-distinct did not plan as Expand:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single table scan, saw $scans:\n$plan")
  }

  test("q_retention derives cohorts with a window, not a self-join") {
    val df = SparkEntry.all("q_retention").fn(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"retention planned a join:\n$plan")
    assert(plan.contains("Window"), "cohort min-window missing from plan")
    // retention identity: every cohort's offset-0 row counts the whole cohort,
    // and no offset can retain more users than offset 0
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val base = rows.filter(_._2 == 0L).map(r => (r._1, r._3)).toMap
    assert(rows.forall { case (c, _, n) => n <= base(c) })
  }

  // 12 tokens: spans of 10 tokens at positions 1..3
  private val span = "a b c d e f g h i j k l"

  test("duplicateSpanStats counts positions of cross-doc shared windows") {
    val d = docs(Seq(
      (1L, span),                      // shares all 3 spans with doc 2
      (2L, span),
      (3L, "totally unlike anything else in the corpus at all here now"), // 11 tokens, 2 spans, unshared
      (4L, "short doc")))              // < 10 tokens → 0 spans
    val got = Dedup.duplicateSpanStats(d, n = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((2L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
  }

  test("duplicateSpanStats: partial overlap counts only the shared window") {
    // doc 2 contains doc 1's exact 10-token window once, shifted
    val d = docs(Seq(
      (1L, "a b c d e f g h i j"),             // exactly one span
      (2L, "x " + "a b c d e f g h i j" + " y") // 12 tokens, 3 spans, 1 shared (pos 2)
    ))
    val got = Dedup.duplicateSpanStats(d, n = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((1L, 1L)))
    assert(got(2L) == ((3L, 1L)))
  }

  test("gopherFilter sets the right fail bits") {
    val stopRich = (1 to 30).map(_ => "the word").mkString(" ") // 60 tokens but "the"/"word" dominate
    val clean = ("the quick brown fox jumps over a lazy dog and then runs " +
      "of to the big red barn while birds sing and wind blows softly today").trim
    val short = "tiny doc here"
    val d = docs(Seq((1L, clean), (2L, short), (3L, stopRich)))
    val got = TextAnalysis.gopherFilter(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got(1L) == ((0L, true)), s"clean doc should pass: ${got(1L)}")
    assert((got(2L)._1 & 1L) == 1L && !got(2L)._2)   // rule 0: too short
    assert((got(3L)._1 & 8L) == 8L && !got(3L)._2)   // rule 3: top-word domination
  }

  test("emb_gram plans map-side partial aggregation around one exchange") {
    val df = SparkEntry.queries("emb_gram")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(plan).length == 2, plan)
    assert("Exchange".r.findAllIn(plan).length <= 2, plan) // agg + final sort
  }

  test("dedup_editdist spreads the levenshtein stage (no single-task BHJ stream)") {
    val df = SparkEntry.queries("dedup_editdist")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("corpus_mix: per-source token budgets follow the shares with a hard cut line") {
    import spark.implicits._
    // src0 (share 40): 2 docs × 10 tokens = 20 toks — the BINDING source;
    // src1 (share 30): 10 docs × 10 tokens = 100 toks.
    // b = min(20·10⁴/40, 100·10⁴/30) = 5000 → budgets: src0 = 20, src1 = 15
    // → all of src0 survives; exactly ONE 10-token src1 doc fits under 15.
    val ids = Seq(0L, 5L) ++ (0 until 10).map(i => 1L + 5L * i)
    val rows = ids.map(id => (id, (1 to 10).map(w => s"w${w}d$id").mkString(" ")))
    val dir = tempDir("graft-mix")
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        concat(lit("src"), ($"doc_id" % 5).cast("string")).as("source"),
        length($"text").cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_mix")(spark, dir).collect()
    val bySrc = got.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySrc == Map("src0" -> 2, "src1" -> 1),
      s"budget cut line: src0 fully kept, src1 cut after one doc — got $bySrc")
    assert(got.forall(_.getAs[Long]("cum") <= 20L))
  }

  test("snapshotDiff classifies inserts, updates, deletes and drops unchanged rows") {
    import spark.implicits._
    val a = Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0))
      .toDF("k", "s", "v")
    val b = Seq((2L, "y", 20.0), (3L, "z", 31.0), (4L, "w", 40.0))
      .toDF("k", "s", "v")
    val got = graft.operators.Cdc.snapshotDiff(a, b, "k").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "delete", 3L -> "update", 4L -> "insert"))
  }

  test("snapshotDiff: NULL keys never pair — old side is a delete, new side an insert") {
    import spark.implicits._
    val a = Seq((Some(1L), "x"), (None, "ghost")).toDF("k", "v")
    val b = Seq((Some(1L), "x"), (None, "ghost")).toDF("k", "v")
    val got = graft.operators.Cdc.snapshotDiff(a, b, "k").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0))) -> r.getString(1))
    assert(got.count(_ == (None -> "delete")) == 1, got.toSeq)
    assert(got.count(_ == (None -> "insert")) == 1, got.toSeq)
    assert(!got.exists(_._1.contains(1L)), got.toSeq) // unchanged row stays dropped
  }

  test("GramMatrix equals the brute-force outer-product sum and survives partitioning") {
    import spark.implicits._
    val vecs = Seq(
      Seq(1L, 2L, 3L),
      Seq(-4L, 5L, -6L),
      Seq(7L, -8L, 9L),
      Seq(2L, 2L, 2L))
    val expected = Array.ofDim[Long](9)
    vecs.foreach { v =>
      for (i <- 0 until 3; j <- 0 until 3) expected(i * 3 + j) += v(i) * v(j)
    }
    val gram = udaf(new GramMatrix(3))
    val got = vecs.toDF("qv").repartition(4)
      .agg(gram($"qv").as("g")).collect()(0).getSeq[Long](0)
    assert(got.toArray.sameElements(expected))
  }
}

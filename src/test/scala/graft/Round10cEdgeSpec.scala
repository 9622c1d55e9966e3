package graft

import org.scalatest.funsuite.AnyFunSuite

/** Definition-level checks for the third round-10 batch: JSD drift is
  * zero-ish only for sources that match the corpus mix, positive and
  * larger for a divergent source. */
class Round10cEdgeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("text_jsd_drift: symmetric sources tie, a divergent-vocab source drifts more") {
    val dir = tempDir("jsdspec")
    Seq((1L, "x y x y", "a"), (2L, "x y x y", "b"), (3L, "z z z z", "c"))
      .toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_jsd_drift")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(got.keySet == Set("a", "b", "c"), got.toString)
    assert(got("a") == got("b"), "identical sources must score identically")
    assert(got("c") > got("a"), "disjoint-vocab source must drift more")
    got.values.foreach { j =>
      assert(j >= -1e-9 && j <= math.log(2.0) + 1e-6, s"JSD out of range: $j")
    }
  }

  test("events_markov_attribution: removal effects match the hand-solved chain") {
    // u1: view->click->purchase; u2: view->error (null).
    // Absorption: click 1.0, view 0.5, start 0.5 -> base 5e8.
    // Remove view or click: conversion 0 (removal 5e8 each);
    // remove error: nothing changes (error already absorbs 0).
    def ts(msv: Long) = new java.sql.Timestamp(msv)
    val dir = tempDir("markovspec")
    Seq(
      (1L, ts(1000L), 1L, "view", 0.0, ""),
      (2L, ts(2000L), 1L, "click", 0.0, ""),
      (3L, ts(3000L), 1L, "purchase", 0.0, ""),
      (4L, ts(1000L), 2L, "view", 0.0, ""),
      (5L, ts(2000L), 2L, "error", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_markov_attribution")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("click", 500000000L, 0L, 500000000L, 500000000L),
      ("error", 500000000L, 500000000L, 0L, 0L),
      ("view", 500000000L, 0L, 500000000L, 500000000L)), got.toString)
  }

  test("text_burstiness: a uniform term scores VMR 0, a bursty term the exact integer ratio") {
    // "u" once in all 21 docs -> Sc=21=Scc, VMR=(21*21-441)/(21*21)=0.
    // "s" 10x in doc 1, once in docs 2..20 -> df=20, Sc=29, Scc=119,
    // vmr_ppb = ((21*119-841)*1e9)//(21*29) = 1658e9//609.
    val dir = tempDir("burstspec")
    val docs = Seq((1L, "u " + Seq.fill(10)("s").mkString(" "))) ++
      (2L to 20L).map(i => (i, "u s")) :+ (21L, "u")
    docs.toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_burstiness")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val sVmr = (BigInt(1658) * BigInt(1000000000) / BigInt(609)).toLong
    assert(got == Seq(("s", 20L, 29L, sVmr), ("u", 21L, 21L, 0L)), got.toString)
  }

  test("q_holt_trend: three-day ramp walks the hand-computed level/trend trajectory") {
    // 100, 200, 300: l1=10000 b1=0; l2=(40000+80000)/10=12000,
    // b2=600, f2=10000, err2=10000; l3=(60000+100800)/10=16080,
    // b3=(3*4080+4200)/10=1644, f3=12600, err3=17400.
    val dir = tempDir("holtspec")
    Seq(
      (1L, java.sql.Date.valueOf("1995-01-01"), 100.0),
      (2L, java.sql.Date.valueOf("1995-01-02"), 200.0),
      (3L, java.sql.Date.valueOf("1995-01-03"), 300.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q_holt_trend")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == Seq(
      (10000L, 10000L, 0L, 10000L, 0L),
      (20000L, 12000L, 600L, 10000L, 10000L),
      (30000L, 16080L, 1644L, 12600L, 17400L)), got.toString)
  }

  test("emb_split_drift: identical vectors in both hash halves score drift_cos 1.0") {
    val dir = tempDir("driftspec")
    val v = Seq(1.0f, 2.0f, 3.0f, 4.0f)
    (0 until 20).map(i => (i.toLong, v, 0))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("emb_split_drift")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.length == 1, got.toString)
    val (label, na, nb, cosv) = got.head
    assert(label == 0L && na > 0 && nb > 0 && na + nb == 20, got.toString)
    assert(cosv == 1.0, got.toString)
  }
}

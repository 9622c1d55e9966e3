package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** `Tables` resolves a table's parquet schema and row count once per
  * file set: a known table is read without a schema-inference job, and
  * a table rewritten at the same path is resolved again. */
class TablesSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def docs(n: Long, path: String): Unit =
    spark.range(n).toDF("doc_id")
      .selectExpr("doc_id", "concat('w', doc_id % 97, ' w', doc_id % 89) AS text",
        "'en' AS lang", "'s0' AS source", "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(path)

  test("a documents table rewritten at the same path past 50k rows plans a spread") {
    val dir = tempDir("tables-rewrite")
    docs(10L, s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).rdd.getNumPartitions == 1)
    docs(Tables.SpreadMinRows + 5000L, s"$dir/documents.parquet")
    val par = spark.sparkContext.defaultParallelism
    val d = Tables.documents(spark, dir)
    assert(d.rdd.getNumPartitions >= par,
      s"rewritten 55k-row table planned ${d.rdd.getNumPartitions} partitions (stale row count)")
    assert(d.count() == Tables.SpreadMinRows + 5000L)
  }

  test("an orders table rewritten at the same path with an extra column returns it") {
    import spark.implicits._
    val dir = tempDir("tables-schema")
    Seq((1L, 10L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    assert(Tables.orders(spark, dir).columns.toSeq == Seq("o_orderkey", "o_custkey"))
    Seq((1L, 10L, "1-URGENT")).toDF("o_orderkey", "o_custkey", "o_orderpriority").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val o = Tables.orders(spark, dir)
    assert(o.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_orderpriority"))
    assert(o.collect().head.getString(2) == "1-URGENT")
  }

  // Ratchet: rebuilding these keys' plans starts no job. dedup_minhash
  // is left out: it pins its signature rows eagerly at plan build.
  private val zeroJobKeys = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_regional_revenue", "q9_profit",
    "q17_small_quantity", "q_sort", "q_group_topk", "q_window_rank",
    "q_sessionize_plan", "q_funnel", "ctr_attribution", "q_wordcount",
    "text_tfidf", "text_bm25")

  test("a warm plan build starts no job for the table-reading headline keys") {
    val sc = spark.sparkContext
    val group = "tables-plan-build"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    zeroJobKeys.foreach(k => SparkEntry.queries(k)(spark, TestSpark.sf))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val started = zeroJobKeys.map { k =>
        org.apache.spark.graft.ListenerBusWait.drain(sc)
        jobs.set(0)
        SparkEntry.queries(k)(spark, TestSpark.sf)
        org.apache.spark.graft.ListenerBusWait.drain(sc)
        k -> jobs.get
      }.filter(_._2 > 0)
      assert(started.isEmpty, s"plan build started jobs: $started")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}

package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{GroupTopK, Sessionize}

class PlanEdgeCaseSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  // -----------------------------------------------------------------
  // Round-13 (r12 VERDICT #5): the 1-split-parallelism class of bug
  // recurred three times (r8 text_winnow, r9 doc/emb tables, r12
  // kmeans checkpoint) — a single-row-group parquet file caps scan
  // parallelism at one task and every downstream per-row kernel runs
  // on one core. These tests fail when any spread/repartition guard is
  // removed: the corpus-CPU pipelines must plan at least
  // min(defaultParallelism, rows/1000) tasks for their heavy stage.
  // -----------------------------------------------------------------

  /** 55k-row SINGLE-FILE documents + embeddings tables (past the
    * Tables.SpreadMinRows=50k gate), planted once per suite. */
  private lazy val bigDir: String = {
    import spark.implicits._
    val dir = tempDir("graft-planguard")
    spark.range(55000L).toDF("doc_id")
      .selectExpr("doc_id",
        "concat_ws(' ', transform(sequence(0, 14), j -> concat('w', (doc_id * 7 + j * 13) % 997))) AS text",
        "'en' AS lang", "concat('s', doc_id % 5) AS source")
      .selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(55000L).toDF("vec_id")
      .selectExpr("vec_id",
        "transform(sequence(0, 63), j -> cast(((vec_id * 31 + j * 17) % 1000) / 1000.0 AS float)) AS embedding",
        "cast(vec_id % 10 AS int) AS label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def minTasks(rows: Long): Int =
    math.min(spark.sparkContext.defaultParallelism.toLong, rows / 1000L).toInt

  test("Tables spread guard: 50k+ single-file tables plan a parallel scan body") {
    val d = graft.sources.Tables.documents(spark, bigDir)
    assert(d.rdd.getNumPartitions >= minTasks(55000),
      s"documents planned ${d.rdd.getNumPartitions} partitions")
    val e = graft.sources.Tables.embeddings(spark, bigDir)
    assert(e.rdd.getNumPartitions >= minTasks(55000),
      s"embeddings planned ${e.rdd.getNumPartitions} partitions")
    // the cost gate: small corpora must NOT pay the spread exchange
    val small = graft.sources.Tables.documents(spark, TestSpark.sf)
    assert(small.rdd.getNumPartitions == 1,
      "sub-50k corpus was spread — the r9 bench tax is back")
  }

  test("Winnow fingerprint walk spreads past a single-partition frame") {
    import spark.implicits._
    val docs = (0L until 5000L)
      .map(i => (i, (0 until 12).map(j => s"t${(i + j * 7) % 503}").mkString(" ")))
      .toDF("doc_id", "text").coalesce(1)
    val fp = graft.queries.Winnow.fingerprintsOf(docs)
    assert(fp.rdd.getNumPartitions >= minTasks(5000),
      s"winnow planned ${fp.rdd.getNumPartitions} partitions for the gram walk")
  }

  test("IVF cell assignment spreads past a single-partition frame") {
    import spark.implicits._
    val emb = (0L until 5000L)
      .map(i => (i, Array.tabulate(16)(j => ((i * 13 + j) % 100) / 100f)))
      .toDF("vec_id", "embedding").coalesce(1)
    val cents = (1L to 4L)
      .map(c => (c, Array.tabulate(16)(j => ((c * 29 + j) % 100) / 100.0f)))
      .toDF("cell", "ce")
    val assigned = graft.operators.Similarity.nearestCells(
      cents, emb, "vec_id", "embedding", 1)
    assert(assigned.rdd.getNumPartitions >= minTasks(5000),
      s"assignment planned ${assigned.rdd.getNumPartitions} partitions")
  }

  test("signature and kmeans pipelines: the DOMINANT stage is never single-task") {
    // End-to-end guard: run each corpus-CPU query on the 55k
    // single-file corpus and assert the stage carrying the most
    // executor run time planned >= min(par, rows/1k) tasks. Removing
    // the query-level repartition guards (dedup sigArray's doc_id
    // spread, kmeansFit's pre-checkpoint spread) collapses the kernel
    // into the 1-task scan stage, which then dominates — and fails.
    val listener = new org.apache.spark.scheduler.SparkListener {
      val stages = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        synchronized {
          val rt = Option(sc.stageInfo.taskMetrics).map(_.executorRunTime).getOrElse(0L)
          stages += ((sc.stageInfo.numTasks, rt))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (key <- Seq("dedup_minhash", "emb_kmeans")) {
        listener.synchronized(listener.stages.clear())
        SparkEntry.queries(key)(spark, bigDir).write.format("noop")
          .mode("overwrite").save()
        org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
        val snap = listener.synchronized(listener.stages.toVector)
        assert(snap.nonEmpty, s"$key: no stages observed")
        // Guard property: the heaviest PARALLEL stage (the kernel) must
        // be in the same league as the heaviest sub-parallel stage.
        // Two wrong forms, both observed r13: "the max-runtime stage
        // is parallel" flakes when a GC pause transiently inflates a
        // legitimate 1-task stage past the kernel; "sub-parallel sum <
        // half of total" fails legitimately because AQE coalesces the
        // tiny downstream shuffles to 1-2 tasks. With a spread guard
        // REMOVED the kernel collapses into the 1-task scan (which
        // then outweighs every parallel stage by orders of magnitude),
        // so the 3x margin fails decisively yet tolerates load noise.
        val par = minTasks(55000)
        val heavyPar = snap.filter(_._1 >= par).map(_._2).maxOption.getOrElse(0L)
        val heavySub = snap.filter(_._1 < par).map(_._2).maxOption.getOrElse(0L)
        assert(heavySub < 3 * heavyPar.max(1L),
          s"$key: heaviest sub-parallel stage ${heavySub}ms vs heaviest " +
            s"parallel ${heavyPar}ms (stages: ${snap.sortBy(-_._2).take(5).mkString(", ")})")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("custom plans handle empty input") {
    import spark.implicits._
    val emptyOrders = Seq.empty[(Long, Long, Double)].toDF("g", "id", "v")
    assert(GroupTopK.topK(emptyOrders, Seq("g"),
      Seq(GroupTopK.Sort("v", desc = true)), 2).count() == 0)
    val emptyEvents = Seq.empty[(Long, Timestamp, Long)].toDF("user_id", "ts", "event_id")
    assert(Sessionize.withSessionIds(emptyEvents, "user_id", "ts", 30).count() == 0)
  }

  test("GroupTopK groups null keys together, like groupBy") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), 10L, 5.0), (Some(1L), 11L, 4.0),
      (None, 20L, 9.0), (None, 21L, 8.0), (None, 22L, 7.0)
    ).toDF("g", "id", "v")
    val got = GroupTopK.topK(df, Seq("g"),
      Seq(GroupTopK.Sort("v", desc = true), GroupTopK.Sort("id")), 2)
      .select($"id").as[Long].collect().sorted
    assert(got.sameElements(Array(10L, 11L, 20L, 21L)), got.mkString(","))
  }

  test("Sessionize single-event users and exact-gap boundaries") {
    import spark.implicits._
    def t(min: Long) = new Timestamp(min * 60000L)
    val df = Seq(
      (1L, t(0), 1L),
      (2L, t(0), 2L), (2L, t(30), 3L),  // exactly 30min → same session
      (3L, t(0), 4L), (3L, t(31), 5L)   // 31min → new session
    ).toDF("user_id", "ts", "event_id")
    val got = Sessionize.withSessionIds(df, "user_id", "ts", 30)
      .select($"event_id", $"session_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
  }
}

package graft.tools

import org.apache.spark.sql.types._

/** Dev smoke: drives the driver-contract surfaces (entry, tolerant
  * JSON source, ClickThru semantics) end-to-end. Run:
  *   sbt "runMain graft.tools.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1. driver smoke: entry() rows>0 — pinned EXACTLY. The flagship
    // CTR-by-referrer over sf0.001 events is deterministic (91 groups);
    // a silent partial-ingest regression (dropped input split, broken
    // tolerant-parse) could hide behind a bare rows>0 check forever.
    val e = graft.SparkEntry.entry(spark)
    val entryRows = e.count()
    println("ENTRY_ROWS=" + entryRows)
    assert(entryRows == 91L,
      s"entry() row count drifted: got $entryRows, pinned 91 at sf0.001")
    e.show(5, truncate = false)

    // 2. probe: poison lines through the graft-jsonlog source, whose
    // row rule keeps the garbage-prefixed and clean lines and drops the
    // non-JSON, malformed and empty ones
    val schema = StructType(Seq(
      StructField("impressionId", StringType),
      StructField("referrer", StringType),
      StructField("adId", StringType)))
    val logDir = java.nio.file.Files.createTempDirectory("smoke-jsonlog")
    val poison = Seq(
      """garbage prefix {"impressionId":"i1","referrer":"r1","adId":"a1"}""",
      """{"impressionId":"i2","referrer":"r2","adId":"a2"}""",
      """no json here at all""",
      """{{{{broken json""",
      "")
    java.nio.file.Files.write(logDir.resolve("poison.jsonl"),
      poison.map(_ + "\n").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val parsed = spark.read.format("graft-jsonlog").schema(schema).load(logDir.toString)
    println("POISON_PARSED=" + parsed.count())
    parsed.show(truncate = false)
    graft.queries.StreamReplay.deleteRec(logDir.toFile)

    // 3. probe: duplicate clicks for one impression collapse to 0/1
    val imps = Seq(("i1", "r1", "a1"), ("i2", "r1", "a1"), ("i3", "r2", "a9"))
      .toDF("impressionId", "referrer", "adId")
    val clks = Seq("i1", "i1", "i1", "i3").toDF("impressionId")
    val ctr = graft.operators.ClickThru.ctr(imps, clks, "impressionId", Seq("referrer", "adId"))
    ctr.orderBy("referrer").show(truncate = false)
    // 4. streaming surface: gap-sessionize a memory stream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = 86400000L
    def sev(id: Long, user: Long, min: Long) = EventStream.Event(
      id, new java.sql.Timestamp(t0 + min * 60000L), user, "view", 1.0)
    val input = MemoryStream[EventStream.Event]
    val q = EventStream.sessionize(spark, input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("smoke_sess").outputMode("append").start()
    input.addData(sev(1, 1, 0), sev(2, 1, 10), sev(3, 1, 60))
    q.processAllAvailable()
    input.addData(sev(4, 9, 10000)) // advance watermark to finalize user 1
    q.processAllAvailable()
    val sessions = spark.sql("select * from smoke_sess where user_id = 1").collect()
    println("STREAM_SESSIONS=" + sessions.length + " " + sessions.mkString(";"))
    q.stop()

    // 5. skew + sinks surfaces
    val skewLeft = (1 to 1000).map(i => (if (i % 10 == 0) i.toLong else 7L, i))
      .toDF("k", "payload")
    val skewRight = (1L to 1000L).map(k => (k, s"d$k")).toDF("k", "attr")
    val sj = graft.operators.Skew.saltedJoin(skewLeft, skewRight, "k", 8).count()
    println(s"SALTED_JOIN_ROWS=$sj (plain=" + skewLeft.join(skewRight, "k").count() + ")")
    val wh = java.nio.file.Files.createTempDirectory("smoke-sink").toString
    graft.sources.Sinks.writePartitioned(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"), s"$wh/docs", Seq("lang"))
    println("PARTITIONED_LANGS=" + new java.io.File(s"$wh/docs").listFiles()
      .count(_.getName.startsWith("lang=")))
    graft.queries.StreamReplay.deleteRec(new java.io.File(wh))

    // 6. streaming CTR: the reference pipeline as a stream-stream join
    val impIn = MemoryStream[(String, String, String, java.sql.Timestamp)]
    val clkIn = MemoryStream[(String, java.sql.Timestamp)]
    def st(min: Long) = new java.sql.Timestamp(t0 + min * 60000L)
    val qc = EventStream.streamingCtr(
      impIn.toDF().toDF("impressionId", "referrer", "adId", "ts"),
      clkIn.toDF().toDF("impressionId", "click_ts"))
      .writeStream.format("memory").queryName("smoke_ctr").outputMode("append").start()
    impIn.addData(("i1", "r1", "a1", st(0)), ("i2", "r1", "a1", st(5)))
    clkIn.addData(("i1", st(3)))
    qc.processAllAvailable()
    impIn.addData(("i9", "r9", "a9", st(500))); clkIn.addData(("i9", st(501)))
    qc.processAllAvailable()
    impIn.addData(("i10", "r9", "a9", st(900))); clkIn.addData(("i10", st(901)))
    qc.processAllAvailable()
    println("STREAM_CTR=" + spark.sql(
      "select referrer, adId, impressions, clicks, ctr from smoke_ctr order by referrer")
      .collect().mkString(";"))
    qc.stop()

    println("SMOKE_DONE")
    // Hard exit (same as Verify/Bench): the memory-stream queries above
    // can leave non-daemon threads alive past spark.stop().
    try spark.streams.active.foreach(_.stop())
    catch { case _: Throwable => }
    spark.stop()
    sys.exit(0)
  }
}

package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream
import graft.streaming.EventStream.Event

class StreamingSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  // base offset: epoch-0 events are exactly at the initial watermark and
  // Spark's late-data filter drops ts <= watermark
  val T0 = 86400000L
  def ev(id: Long, user: Long, min: Long): Event =
    Event(id, new Timestamp(T0 + min * 60000L), user, "view", 1.0)

  test("streaming sessionize: gap-close and watermark-timeout emission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(spark, input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // sessions A=[0,10], B=[60] — but neither is emitted until the
      // watermark proves no late event can extend/bridge them
      input.addData(ev(1, 1, 0), ev(2, 1, 10), ev(3, 1, 60))
      q.processAllAvailable()
      assert(spark.sql("select * from sess").count() == 0,
        "sessions must not be emitted before the watermark finalizes them")

      // t=300 pushes the watermark to 270 > both A.end+gap and B.end+gap
      input.addData(ev(4, 1, 300))
      q.processAllAvailable()
      val two = spark.sql("select * from sess").as[EventStream.SessionOut].collect()
        .sortBy(_.session_start.getTime)
      assert(two.length == 2, s"got: ${two.mkString(";")}")
      assert(two(0).n_events == 2 && two(0).session_start.getTime == T0 &&
        two(0).session_end.getTime == T0 + 10 * 60000L)
      assert(two(1).n_events == 1 && two(1).session_start.getTime == T0 + 60 * 60000L)

      input.addData(ev(5, 2, 500)) // watermark 470 finalizes C=[300]
      q.processAllAvailable()
      val u1 = spark.sql("select * from sess").as[EventStream.SessionOut].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime)
      assert(u1.length == 3, s"got ${u1.mkString(";")}")
      assert(u1(2).session_start.getTime == T0 + 300 * 60000L)
    } finally q.stop()
  }

  test("streaming as-of attribution: out-of-order views, exactly-once on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def e(id: Long, user: Long, min: Long, typ: String): Event =
      Event(id, new Timestamp(T0 + min * 60000L), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStream.streamingAttribution(spark, input.toDS(), watermark = "30 minutes")
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      // click at t=20 arrives BEFORE the view at t=10 that should win
      // it (out-of-order within the watermark); view at t=40 must not
      // steal it. Click at t=5 has no earlier view -> null.
      input.addData(e(100, 1, 20, "click"), e(101, 1, 5, "click"))
      q.processAllAvailable()
      assert(spark.sql("select * from attr").count() == 0,
        "clicks must not finalize before the watermark passes them")
      input.addData(e(102, 1, 10, "view"), e(103, 1, 40, "view"))
      q.processAllAvailable()
      // watermark is still 40-30=10 < click ts 20: nothing final yet
      input.addData(e(104, 2, 120, "view")) // pushes watermark to 90
      q.processAllAvailable()
      val out = spark.sql("select * from attr").as[EventStream.AttrOut].collect()
        .sortBy(_.click_id)
      assert(out.map(_.click_id).toSeq == Seq(100L, 101L), s"got ${out.mkString(";")}")
      assert(out(0).attributed_view.contains(102L),
        s"late-arriving earlier view must win: ${out(0)}")
      assert(out(1).attributed_view.isEmpty, "no view at-or-before -> null")
      // exactly-once: advancing the watermark again re-emits nothing
      input.addData(e(105, 2, 300, "view"))
      q.processAllAvailable()
      assert(spark.sql("select * from attr").count() == 2)
    } finally q.stop()
  }

  test("streaming CEP: negation veto, no-click miss, exactly-once on watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def e(id: Long, user: Long, min: Long, typ: String): Event =
      Event(id, new Timestamp(T0 + min * 60000L), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStream.streamingCep(spark, input.toDS(),
        spanMs = 3600000L, watermark = "30 minutes")
      .writeStream.format("memory").queryName("cep").outputMode("append").start()
    try {
      // u1: clean view->click->purchase; u2: error inside the span
      // vetoes; u3: purchase with no click -> no match
      input.addData(
        e(10, 1, 0, "view"), e(11, 1, 10, "click"), e(12, 1, 20, "purchase"),
        e(20, 2, 0, "view"), e(21, 2, 10, "click"), e(22, 2, 15, "error"),
        e(23, 2, 20, "purchase"),
        e(30, 3, 0, "view"), e(31, 3, 10, "purchase"))
      q.processAllAvailable()
      assert(spark.sql("select * from cep").count() == 0,
        "views must not finalize before the watermark passes view+span")
      input.addData(e(99, 9, 200, "view")) // watermark -> 170 > 60
      q.processAllAvailable()
      val out = spark.sql("select * from cep").as[EventStream.CepOut].collect().toSeq
      assert(out == Seq(EventStream.CepOut(1L, 10L, 11L, 12L, 1200000L)), out.toString)
      // exactly-once: advancing the watermark further re-emits nothing
      input.addData(e(100, 9, 400, "view"))
      q.processAllAvailable()
      assert(spark.sql("select * from cep").count() == 1)
    } finally q.stop()
  }

  test("streaming CEP: watermark landing exactly on view_ts + span keeps the view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def e(id: Long, user: Long, min: Long, typ: String): Event =
      Event(id, new Timestamp(T0 + min * 60000L), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = EventStream.streamingCep(spark, input.toDS(),
        spanMs = 3600000L, watermark = "30 minutes")
      .writeStream.format("memory").queryName("cepb").outputMode("append").start()
    try {
      input.addData(e(10, 1, 0, "view"), e(11, 1, 10, "click"), e(12, 1, 20, "purchase"))
      q.processAllAvailable()
      // max ts 90min - 30min delay => watermark == T0 + 60min == view_ts + span
      // EXACTLY: the view must neither finalize (a purchase at ts == wm could
      // still arrive) nor be evicted (the r8 off-by-one silently dropped it).
      input.addData(e(98, 9, 90, "view"))
      q.processAllAvailable()
      assert(spark.sql("select * from cepb").count() == 0,
        "view must not finalize while watermark == view_ts + span")
      input.addData(e(99, 9, 200, "view")) // watermark 170 > 60: finalize now
      q.processAllAvailable()
      val out = spark.sql("select * from cepb").as[EventStream.CepOut].collect().toSeq
      assert(out == Seq(EventStream.CepOut(1L, 10L, 11L, 12L, 1200000L)),
        s"boundary view was lost or duplicated: $out")
    } finally q.stop()
  }

  test("streaming CTR: stream-stream join with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    case class Imp(impressionId: String, referrer: String, adId: String, ts: Timestamp)
    val impIn = MemoryStream[(String, String, String, Timestamp)]
    val clkIn = MemoryStream[(String, Timestamp)]
    val imps = impIn.toDF.toDF("impressionId", "referrer", "adId", "ts")
    val clks = clkIn.toDF.toDF("impressionId", "click_ts")
    val q = graft.streaming.EventStream.streamingCtr(imps, clks)
      .writeStream.format("memory").queryName("sctr").outputMode("append").start()
    try {
      def t(min: Long) = new Timestamp(T0 + min * 60000L)
      impIn.addData(("i1", "r1", "a1", t(0)), ("i2", "r1", "a1", t(5)), ("i3", "r2", "a2", t(10)))
      clkIn.addData(("i1", t(3))) // i1 clicked within window; i2/i3 not
      q.processAllAvailable()
      // push both watermarks far past the agg window + join window
      impIn.addData(("i9", "r9", "a9", t(500)))
      clkIn.addData(("i9", t(501)))
      q.processAllAvailable()
      impIn.addData(("i10", "r9", "a9", t(900)))
      clkIn.addData(("i10", t(901)))
      q.processAllAvailable()
      val rows = spark.sql("select referrer, adId, impressions, clicks, ctr from sctr order by referrer")
        .collect()
      val r1 = rows.find(_.getString(0) == "r1").get
      assert(r1.getAs[Long]("impressions") == 2 && r1.getAs[Long]("clicks") == 1)
      assert(math.abs(r1.getAs[Double]("ctr") - 0.5) < 1e-12)
      val r2 = rows.find(_.getString(0) == "r2").get
      assert(r2.getAs[Long]("impressions") == 1 && r2.getAs[Long]("clicks") == 0)
    } finally q.stop()
  }

  test("streaming dedup drops within-horizon duplicates, keeps firsts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = graft.streaming.EventStream.streamingDedup(
      input.toDF.toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      def d(id: Long, min: Long, text: String) = (id, new Timestamp(T0 + min * 60000L), text)
      input.addData(d(1, 0, "alpha"), d(2, 1, "beta"), d(3, 2, "alpha"))
      q.processAllAvailable()
      input.addData(d(4, 5, "alpha"), d(5, 6, "gamma")) // alpha again within horizon
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from sdedup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("foreachBatch upsert sink lands a CDC stream as a keyed parquet table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("upsert_sink") + "/tbl"
    val input = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventStream.upsertSink(
      input.toDF.toDF("k", "v", "seq"), dir, "k", "seq")
    try {
      input.addData((1L, "a", 1L), (2L, "b", 2L))
      q.processAllAvailable()
      input.addData((2L, "B", 3L), (3L, "c", 4L), (3L, "C", 5L)) // within-batch dup: last wins
      q.processAllAvailable()
      val got = spark.read.parquet(dir).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "B", 3L -> "C"), s"got $got")
    } finally q.stop()
  }

  test("stream-static blocklist join drops blocked sources, streams the rest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val blocklist = Seq("spam_farm", "seo_mill").toDF("source")
    val input = MemoryStream[(Long, String, String)]
    val q = graft.streaming.EventStream.streamingBlocklistFilter(
      input.toDF.toDF("doc_id", "source", "text"), blocklist)
      .writeStream.format("memory").queryName("sblock").outputMode("append").start()
    try {
      input.addData((1L, "wiki", "a"), (2L, "spam_farm", "b"), (3L, "news", "c"))
      q.processAllAvailable()
      input.addData((4L, "seo_mill", "d"), (5L, "wiki", "e"))
      q.processAllAvailable()
      val kept = spark.sql("select doc_id from sblock").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("windowed counts with watermark over a memory stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc").outputMode("append").start()
    try {
      input.addData(ev(1, 1, 0), ev(2, 1, 30), ev(3, 1, 70))
      q.processAllAvailable()
      input.addData(ev(4, 1, 600)) // watermark far past hour 0 and 1
      q.processAllAvailable()
      val rows = spark.sql("select window.start, n from wc order by 1").collect()
      assert(rows.length >= 2)
      assert(rows(0).getAs[Long]("n") == 2) // hour 0: t=0,30
      assert(rows(1).getAs[Long]("n") == 1) // hour 1: t=70
    } finally q.stop()
  }
}

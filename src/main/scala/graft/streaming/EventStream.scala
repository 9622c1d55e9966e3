package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2-G): the batch operators'
  * streaming siblings. At scale these run exactly like the batch plans
  * — the watermark bounds state, `flatMapGroupsWithState` state lives
  * in the state store (RocksDB on a real cluster), and the shuffle is
  * on the group key only.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionAcc(start: Long, last: Long, n: Int)

  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Int)

  /** Sliding event-time window counts with a watermark: the streaming
    * form of q_hourly_stats. */
  def windowedCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     slide: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: keep the first occurrence of each text
    * hash; duplicates arriving within the watermark horizon are
    * dropped, and per-hash state is evicted once the watermark passes
    * — bounded memory on an unbounded stream (duplicates farther
    * apart than the horizon can reappear; that's the documented
    * tradeoff). The streaming sibling of Dedup.exactSurvivors. */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", xxhash64(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Stream-static enrichment + gate: join a document stream against a
    * static blocklist (broadcast — the static side is a dim table, so
    * no shuffle ever touches the stream) and drop blocked sources.
    * The static side is re-read per micro-batch, so blocklist updates
    * take effect without restarting the query — the standard
    * "slowly-changing reference data" streaming pattern. */
  def streamingBlocklistFilter(docs: DataFrame, blocklist: DataFrame): DataFrame =
    docs.join(broadcast(blocklist), Seq("source"), "left_anti")

  /** Streaming CTR — the reference pipeline (ClickThru.java) as a
    * stream-stream join. Impressions and clicks arrive as separate
    * streams; a click joins its impression within `joinWindow` (the
    * watermarks bound the join state, so it runs forever at constant
    * memory). Output: per-window (referrer, adId) CTR, complete once
    * the watermark closes the window.
    *
    * @param impressions streaming DF: (impressionId, referrer, adId, ts)
    * @param clicks      streaming DF: (impressionId, click_ts)
    */
  def streamingCtr(impressions: DataFrame, clicks: DataFrame,
                   joinWindow: String = "30 minutes",
                   aggWindow: String = "1 hour"): DataFrame = {
    val imp = impressions.withWatermark("ts", joinWindow)
    // Reference semantics collapse repeated clicks on one impression to
    // a single 0/1 flag (ClickThru.java:137-147) — dedup clicks within
    // the watermark horizon so the join emits at most one row per
    // impression-click match.
    val clk = clicks
      .withColumnRenamed("impressionId", "c_impressionId")
      .withWatermark("click_ts", joinWindow)
      .dropDuplicatesWithinWatermark("c_impressionId")
    val joined = imp.join(clk,
      expr(s"""
        c_impressionId = impressionId AND
        click_ts >= ts AND
        click_ts <= ts + INTERVAL $joinWindow"""),
      "leftOuter")
    joined
      .groupBy(window(col("ts"), aggWindow), col("referrer"), col("adId"))
      .agg(
        count(lit(1)).as("impressions"),
        count(col("c_impressionId")).as("clicks"),
        (count(col("c_impressionId")).cast("double") / count(lit(1))).as("ctr"))
  }

  /** Streaming upsert into a parquet warehouse table via foreachBatch —
    * the standard "CDC stream → serving table" landing pattern. Each
    * micro-batch is collapsed to its last row per key (by `seqCol`,
    * then any tie-break column order the caller bakes into seqCol),
    * merged into the target with `Sinks.upsert` (wholesale-row MERGE
    * semantics), and swapped in via two directory renames (old →
    * trash, staging → live). The swap is NOT transactional on a plain
    * local/object filesystem — a reader can race the rename pair, and
    * a crash between them leaves the snapshot in the trash dir for
    * manual recovery; production deployments replace exactly this step
    * with a transactional-table commit (the dataflow is identical).
    *
    * Scale: the per-batch merge is one co-partitioned full-outer join.
    * Returns the started query.
    */
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator.asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      } finally walk.close()
    }

  def upsertSink(updates: DataFrame, targetDir: String, key: String,
                 seqCol: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    updates.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val latest = batch
          .withColumn("_rk", row_number().over(
            Window.partitionBy(col(key)).orderBy(col(seqCol).desc)))
          .filter(col("_rk") === 1).drop("_rk")
        val tgtPath = java.nio.file.Paths.get(targetDir)
        val trashPath = java.nio.file.Paths.get(targetDir + "_old")
        // crash recovery: a failure between the two swap renames leaves
        // the only live snapshot in the trash dir — restore it before
        // merging, or this batch would silently rebuild from itself
        if (!java.nio.file.Files.exists(tgtPath) &&
            java.nio.file.Files.exists(trashPath))
          java.nio.file.Files.move(trashPath, tgtPath)
        val merged =
          if (java.nio.file.Files.exists(tgtPath))
            graft.sources.Sinks.upsert(
              spark.read.parquet(targetDir), latest, key)
          else latest
        val tmp = targetDir + "_staging"
        merged.write.mode("overwrite").parquet(tmp) // materialize BEFORE touching the target we just read
        val tmpPath = java.nio.file.Paths.get(tmp)
        val trash = java.nio.file.Paths.get(targetDir + "_old")
        deleteTree(trash)
        if (java.nio.file.Files.exists(tgtPath))
          java.nio.file.Files.move(tgtPath, trash) // one rename, not a slow recursive delete of the live dir
        java.nio.file.Files.move(tmpPath, tgtPath)
        deleteTree(trash)
        ()
      }
      .start()
  }

  case class SessState(sessions: List[SessionAcc])

  /** Gap-based sessionization: the streaming form of q_sessionize.
    * A session is emitted only once the event-time watermark passes
    * last+gap — until then it stays in state, because a late-but-
    * within-watermark event may still extend it or BRIDGE two
    * apparently-separate sessions into one (interval-merge
    * semantics). Output is therefore complete and correct under the
    * full allowed lateness, and state stays bounded: sessions
    * finalize as the watermark advances. */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapMinutes: Int): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(gapMs) _)
  }

  private def toOut(userId: Long, a: SessionAcc): SessionOut =
    SessionOut(userId, new Timestamp(a.start), new Timestamp(a.last), a.n)

  private def update(gapMs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[SessState]): Iterator[SessionOut] = {
    val wm = state.getCurrentWatermarkMs()
    var sessions = state.getOption.map(_.sessions).getOrElse(Nil)
    if (!state.hasTimedOut) {
      val evs = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      for (e <- evs) {
        val t = e.ts.getTime
        // merge the event with EVERY session within gap reach — one
        // event can bridge two sessions into one
        val (touch, rest) = sessions.partition(a =>
          t >= a.start - gapMs && t <= a.last + gapMs)
        val merged = touch.foldLeft(SessionAcc(t, t, 1)) { (acc, a) =>
          SessionAcc(math.min(acc.start, a.start), math.max(acc.last, a.last), acc.n + a.n)
        }
        sessions = merged :: rest
      }
    }
    // finalized = no in-watermark event can still reach it
    val (done, open) = sessions.partition(a => a.last + gapMs < wm)
    if (open.nonEmpty) {
      state.update(SessState(open))
      // strictly greater than the watermark by construction of `open`
      state.setTimeoutTimestamp(open.map(_.last).min + gapMs + 1)
    } else {
      state.remove()
    }
    done.sortBy(_.start).map(toOut(userId, _)).iterator
  }

  case class AttrState(views: List[(Long, Long)], clicks: List[(Long, Long)])

  case class AttrOut(user_id: Long, click_id: Long, attributed_view: Option[Long])

  /** Streaming as-of click attribution — the stateful form of
    * ctr_attribution's AsOf join: each click is attributed to the
    * user's latest view at-or-before it (ties broken by event_id,
    * exactly the batch contract). A click is emitted EXACTLY ONCE,
    * when the event-time watermark passes its timestamp — only then
    * is "latest at-or-before" final, because any later-arriving view
    * that could still win would be beyond-watermark late and dropped.
    * State per user is bounded: pending clicks drain as the watermark
    * advances, and views at-or-below the watermark collapse to the
    * single newest one (the only candidate any future click can see).
    * Event types other than view/click pass through as watermark
    * carriers only. */
  def streamingAttribution(spark: SparkSession, events: Dataset[Event],
                           watermark: String = "30 minutes"): Dataset[AttrOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        attrUpdate _)
  }

  private def newerView(a: (Long, Long), b: (Long, Long)): (Long, Long) =
    if (a._1 > b._1 || (a._1 == b._1 && a._2 > b._2)) a else b

  private def attrUpdate(
      userId: Long, events: Iterator[Event],
      state: GroupState[AttrState]): Iterator[AttrOut] = {
    val wm = state.getCurrentWatermarkMs()
    var st = state.getOption.getOrElse(AttrState(Nil, Nil))
    if (!state.hasTimedOut) {
      val evs = events.toSeq
      val v = evs.collect { case e if e.event_type == "view" => (e.ts.getTime, e.event_id) }
      val c = evs.collect { case e if e.event_type == "click" => (e.ts.getTime, e.event_id) }
      st = AttrState(v ++: st.views, c ++: st.clicks)
    }
    // finalized = the watermark passed the click: no admissible view
    // at-or-before it can still arrive
    val (done, pending) = st.clicks.partition(_._1 < wm)
    val out = done.sortBy(identity).map { case (cts, cid) =>
      val best = st.views.filter(_._1 <= cts).reduceOption(newerView)
      AttrOut(userId, cid, best.map(_._2))
    }
    // views at/below the watermark can only ever serve a future click
    // as "the latest" — keep just the newest, plus everything fresher
    val (stable, fresh) = st.views.partition(_._1 <= wm)
    val keep = stable.reduceOption(newerView).toList ::: fresh
    if (pending.isEmpty && keep.isEmpty) state.remove()
    else {
      state.update(AttrState(keep, pending))
      // pending clicks have cts >= wm, so this is strictly > wm
      if (pending.nonEmpty) state.setTimeoutTimestamp(pending.map(_._1).min + 1)
    }
    out.iterator
  }

  case class TopKState(counts: Map[String, Long])

  case class TopKOut(window_start: Timestamp, dim: String, n: Long, rk: Int)

  /** Per-window top-k dimensions by count — the streaming sibling of
    * GroupTopK. Ranking can't be expressed as an incremental streaming
    * aggregate (a rank is only final when the window is), so counts
    * accrue in state keyed by window start and the top-k is emitted
    * EXACTLY ONCE, when the event-time watermark passes the window end
    * (event-time timeout). State per window is one (dim → count) map,
    * bounded by dim cardinality and evicted on emit.
    *
    * Scale shape: only (ts, dim) pairs are shuffled (the Event payload
    * is projected away), but each open window IS one task — the rank
    * needs the whole window's counts in one place. That bounds
    * parallelism by the number of open windows (window length /
    * watermark), which is the right trade when dim cardinality is
    * modest; for very hot windows, chain a distributed windowed count
    * aggregation in front and rank only the (dim, count) rows. */
  def streamingTopK(spark: SparkSession, events: Dataset[Event],
                    windowMinutes: Int, k: Int,
                    watermark: String = "30 minutes"): Dataset[TopKOut] = {
    import spark.implicits._
    require(windowMinutes > 0 && k > 0)
    val windowMs = windowMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type")).as[(Timestamp, String)]
      .groupByKey { case (ts, _) => ts.getTime / windowMs * windowMs }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        topkUpdate(windowMs, k) _)
  }

  case class HHState(counts: Map[String, Long])

  case class HHOut(window_start: Timestamp, dim: String, lower_bound: Long)

  /** Per-window heavy hitters via the Misra–Gries sketch in state —
    * unlike [[streamingTopK]] (exact counts, state bounded by dim
    * cardinality), this bounds state at k counters per open window
    * REGARDLESS of cardinality, the right trade for high-cardinality
    * dims (urls, users). Emits the surviving candidates with their
    * lower-bound counts exactly once at watermark close; every dim
    * with true in-window frequency > n/k is guaranteed present. */
  def streamingHeavyHitters(spark: SparkSession, events: Dataset[Event],
                            windowMinutes: Int, k: Int,
                            watermark: String = "30 minutes"): Dataset[HHOut] = {
    import spark.implicits._
    require(windowMinutes > 0 && k > 0)
    val windowMs = windowMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type")).as[(Timestamp, String)]
      .groupByKey { case (ts, _) => ts.getTime / windowMs * windowMs }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        hhUpdate(windowMs, k) _)
  }

  private def hhUpdate(windowMs: Long, k: Int)(
      windowStart: Long, events: Iterator[(Timestamp, String)],
      state: GroupState[HHState]): Iterator[HHOut] = {
    val mg = new graft.functions.HeavyHitters(k)
    if (state.hasTimedOut) {
      val counts = state.getOption.map(_.counts).getOrElse(Map.empty)
      state.remove()
      counts.toSeq.sortBy { case (d, n) => (-n, d) }.map {
        case (dim, n) => HHOut(new Timestamp(windowStart), dim, n)
      }.iterator
    } else {
      val counts = events.foldLeft(state.getOption.map(_.counts).getOrElse(Map.empty)) {
        case (m, (_, dim)) => mg.reduce(m, dim)
      }
      state.update(HHState(counts))
      state.setTimeoutTimestamp(windowStart + windowMs)
      Iterator.empty
    }
  }

  private def topkUpdate(windowMs: Long, k: Int)(
      windowStart: Long, events: Iterator[(Timestamp, String)],
      state: GroupState[TopKState]): Iterator[TopKOut] = {
    if (state.hasTimedOut) {
      // watermark passed window end: counts are final — emit and evict
      val counts = state.getOption.map(_.counts).getOrElse(Map.empty)
      state.remove()
      counts.toSeq.sortBy { case (d, n) => (-n, d) }.take(k).zipWithIndex.map {
        case ((dim, n), i) => TopKOut(new Timestamp(windowStart), dim, n, i + 1)
      }.iterator
    } else {
      val counts = events.foldLeft(state.getOption.map(_.counts).getOrElse(Map.empty)) {
        case (m, (_, dim)) => m.updated(dim, m.getOrElse(dim, 0L) + 1L)
      }
      state.update(TopKState(counts))
      state.setTimeoutTimestamp(windowStart + windowMs) // fires when wm passes this
      Iterator.empty
    }
  }

  case class KmvState(sketch: Array[Long], rows: Long)

  case class KmvOut(window_start: Timestamp, event_type: String,
                    n_rows: Long, n_est: Long)

  /** Per-(window, dim) distinct users via the KMV bottom-k sketch IN
    * STREAMING STATE — the state store holds one ≤k-long sorted array
    * per open group (vs exact distinct's one entry per user), reusing
    * the batch [[graft.functions.KmvSketch]] aggregator's insert/merge
    * kernels so batch and stream can never disagree on sketch
    * contents. Emits exactly once per group when the watermark closes
    * the window; the md5-based hash makes the final estimate exactly
    * replayable by an external engine. */
  def streamingKmvDistinct(spark: SparkSession, events: Dataset[Event],
                           windowMinutes: Int, k: Int = 64,
                           watermark: String = "30 minutes"): Dataset[KmvOut] = {
    import spark.implicits._
    require(windowMinutes > 0 && k > 1)
    val windowMs = windowMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"), col("user_id"))
      .as[(Timestamp, String, Long)]
      .groupByKey { case (ts, et, _) => (ts.getTime / windowMs * windowMs, et) }
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        kmvUpdate(windowMs, k) _)
  }

  case class CepState(evs: List[(Long, Long, String)]) // (ms, event_id, type)

  case class CepOut(user_id: Long, v_eid: Long, c_eid: Long, p_eid: Long,
                    span_ms: Long)

  /** STREAMING CEP — the batch `events_cep_match` pattern
    * (view → first click after it → first purchase after that, within
    * 7 days of the view, with NO error strictly inside the span) as
    * stateful streaming. A view's match is decidable exactly when the
    * event-time watermark passes view_ts + 7 d: every event that can
    * join or veto the match has ts ≤ view_ts + 7 d < wm. State per
    * user is the 7-day event tail (evicted at wm − 7 d; an open view
    * has v.ms ≥ wm − 7 d and only consumes events AFTER itself, so
    * nothing evicted can matter), bounded by per-user weekly volume.
    * Emission is exactly once per view, on watermark passage — the
    * MATCH_RECOGNIZE one-row-per-match contract. */
  def streamingCep(spark: SparkSession, events: Dataset[Event],
                   spanMs: Long = 604800000L,
                   watermark: String = "30 minutes"): Dataset[CepOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        cepUpdate(spanMs) _)
  }

  private def cepUpdate(spanMs: Long)(
      userId: Long, events: Iterator[Event],
      state: GroupState[CepState]): Iterator[CepOut] = {
    val wm = state.getCurrentWatermarkMs()
    var evs = state.getOption.map(_.evs).getOrElse(Nil)
    if (!state.hasTimedOut) {
      val fresh = events.map(e => (e.ts.getTime, e.event_id, e.event_type)).toList
      evs = fresh ::: evs
    }
    // finalize views whose whole 7-day span is below the watermark
    val (closed, rest) = evs.partition {
      case (ms, _, t) => t == "view" && ms + spanMs < wm
    }
    val out = closed.sorted.flatMap { case (vms, vid, _) =>
      val c = evs.filter { case (ms, _, t) => t == "click" && ms > vms }
        .map { case (ms, id, _) => (ms, id) }.sorted.headOption
      c.flatMap { case (cms, cid) =>
        val p = evs.filter { case (ms, _, t) => t == "purchase" && ms > cms }
          .map { case (ms, id, _) => (ms, id) }.sorted.headOption
        p.collect {
          case (pms, pid)
              if pms - vms <= spanMs && !evs.exists {
                case (ms, _, t) => t == "error" && ms > vms && ms < pms
              } =>
            CepOut(userId, vid, cid, pid, pms - vms)
        }
      }
    }
    // 7-day tail: complementary to the finalize condition above
    // (ms + spanMs < wm), so a view with ms + spanMs == wm stays in
    // state until the watermark passes it — never silently evicted.
    val keep = rest.filter { case (ms, _, _) => ms >= wm - spanMs }
    if (keep.isEmpty) state.remove()
    else {
      state.update(CepState(keep))
      val openViews = keep.collect { case (ms, _, "view") => ms }
      if (openViews.nonEmpty)
        state.setTimeoutTimestamp(openViews.min + spanMs + 1)
      else state.setTimeoutTimestamp(wm + spanMs + 1) // pure eviction tick
    }
    out.iterator
  }

  private def kmvUpdate(windowMs: Long, k: Int)(
      key: (Long, String), events: Iterator[(Timestamp, String, Long)],
      state: GroupState[KmvState]): Iterator[KmvOut] = {
    val agg = new graft.functions.KmvSketch(k)
    if (state.hasTimedOut) {
      val st = state.getOption.getOrElse(KmvState(Array.emptyLongArray, 0L))
      state.remove()
      val est =
        if (st.sketch.length < k) st.sketch.length.toLong
        else (BigInt(k - 1) * (BigInt(1) << 60) / BigInt(st.sketch(k - 1))).toLong
      Iterator.single(KmvOut(new Timestamp(key._1), key._2, st.rows, est))
    } else {
      val st = state.getOption.getOrElse(KmvState(Array.emptyLongArray, 0L))
      var sk = st.sketch
      var n = st.rows
      events.foreach { case (_, _, uid) =>
        sk = agg.reduce(sk, graft.functions.Kernels.md5Hash60(uid.toString))
        n += 1
      }
      state.update(KmvState(sk, n))
      state.setTimeoutTimestamp(key._1 + windowMs) // fires when wm passes this
      Iterator.empty
    }
  }

  case class EwmaState(open: Map[Long, Long], lastDay: Long, ewma: Long)

  case class EwmaOut(event_type: String, day: Long, rev_cents: Long,
                     ewma_cents: Long, is_anomaly: Boolean)

  /** STREAMING EWMA anomaly monitor — q_ewma_anomaly's recurrence as
    * per-key state (the alerting pipeline shape): per event_type, daily
    * cents totals accumulate in an open-days map; when the watermark
    * passes a day's end the day finalizes IN DAY ORDER through the
    * exact integer recurrence s = (2·x + 8·s′) div 10 with the ±30%
    * integer cross-multiply anomaly test against the prior smoothed
    * level. State per key = the open-day partials plus one (lastDay,
    * ewma) pair — bounded by the watermark horizon, independent of
    * stream length. Cents are quantized in the DataFrame (Spark ROUND,
    * half away from zero) BEFORE the lambda so batch and stream share
    * the quantizer; truncating division matches the oracle's integer
    * `//` (DuckDB truncates toward zero) on any sign. */
  def streamingEwma(spark: SparkSession, events: Dataset[Event],
                    watermark: String = "30 minutes"): Dataset[EwmaOut] = {
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Timestamp, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        ewmaUpdate _)
  }

  private def ewmaUpdate(
      eventType: String, rows: Iterator[(Timestamp, String, Long)],
      state: GroupState[EwmaState]): Iterator[EwmaOut] = {
    val dayMs = 86400000L
    val wm = state.getCurrentWatermarkMs()
    var st = state.getOption.getOrElse(EwmaState(Map.empty, -1L, 0L))
    if (!state.hasTimedOut) {
      // a day already consumed by the recurrence never re-opens: a
      // straggler that slipped past the watermark filter is dropped
      // rather than emitted as a duplicate day (exactly-once contract)
      val merged = rows.foldLeft(st.open) { case (acc, (ts, _, c)) =>
        val d = Math.floorDiv(ts.getTime, dayMs)
        if (d <= st.lastDay) acc
        else acc.updated(d, acc.getOrElse(d, 0L) + c)
      }
      st = st.copy(open = merged)
    }
    // finalize days whose end the watermark has passed, in day order —
    // the recurrence consumes closed days exactly once, oldest first
    val (closable, stillOpen) = st.open.partition {
      case (d, _) => (d + 1) * dayMs <= wm
    }
    val out = closable.toSeq.sortBy(_._1).map { case (d, cents) =>
      val anom = st.lastDay >= 0 &&
        (10 * cents > 13 * st.ewma || 10 * cents < 7 * st.ewma)
      val e =
        if (st.lastDay < 0) cents
        // Long `/` truncates toward zero = DuckDB's integer `//`
        else (2 * cents + 8 * st.ewma) / 10
      st = st.copy(lastDay = d, ewma = e)
      EwmaOut(eventType, d, cents, e, anom)
    }
    st = st.copy(open = stillOpen)
    state.update(st)
    if (st.open.nonEmpty)
      state.setTimeoutTimestamp((st.open.keys.min + 1) * dayMs)
    else state.setTimeoutTimestamp(wm + dayMs) // pure tick until new data
    out.iterator
  }

  case class BandRow(doc_id: Long, band: Long, bkey: Long, ts: Timestamp)
  case class BucketState(width: Long, minDoc: Long, lastSeenMs: Long)
  case class BucketOut(band: Long, bkey: Long, width: Long, min_doc: Long,
                       last_seen_ms: Long)

  /** Streaming LSH bucket-index maintainer WITH state TTL (r12 VERDICT
    * #7): the standing (band, bkey) → (width, min doc) summary behind
    * dedup_incremental_minhash, kept as flatMapGroupsWithState state —
    * and, unlike the plain streaming-aggregation replay
    * (dedup_index_streaming_replay, whose state holds every bucket
    * ever seen, forever), EVICTED once a bucket has been idle past
    * `horizonMs`: the timeout removes the state row, so state tracks
    * the crawl's LIVE bucket working set, not its history — the
    * property that lets a 100 TB never-ending crawl keep a bounded
    * index.
    *
    * Eviction semantics are EVENT-defined, not batch-defined: a bucket
    * re-seen after an idle gap > horizon restarts its summary in the
    * update handler itself (same arithmetic whether or not the timeout
    * happened to fire between the two arrivals), so the emitted
    * summaries are deterministic for an in-event-time-order replay
    * regardless of micro-batch boundaries — which is what lets a plain
    * batch oracle (sessionize occurrences per bucket, keep the last
    * run) hash-match the stream. One emission per (bucket, batch) with
    * the running summary; the latest emission per bucket is the
    * bucket's final state. */
  def streamingLshIndex(spark: SparkSession, rows: Dataset[BandRow],
                        horizonMs: Long): Dataset[BucketOut] = {
    import spark.implicits._
    rows
      .withWatermark("ts", "0 seconds")
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateBucket(horizonMs) _)
  }

  private def updateBucket(horizonMs: Long)(
      key: (Long, Long), rows: Iterator[BandRow],
      state: GroupState[BucketState]): Iterator[BucketOut] = {
    if (state.hasTimedOut) {
      state.remove() // idle past the horizon: evict, emit nothing
      Iterator.empty
    } else {
      val evs = rows.toSeq.sortBy(r => (r.ts.getTime, r.doc_id))
      var st = state.getOption.getOrElse(BucketState(0L, Long.MaxValue, Long.MinValue))
      for (r <- evs) {
        val t = r.ts.getTime
        if (st.width > 0L && t - st.lastSeenMs > horizonMs)
          st = BucketState(0L, Long.MaxValue, Long.MinValue) // event-defined reset
        st = BucketState(st.width + 1L, math.min(st.minDoc, r.doc_id),
          math.max(st.lastSeenMs, t))
      }
      state.update(st)
      // must be strictly beyond the watermark or Spark throws; a
      // lastSeen already at/behind the watermark means the bucket is
      // due for eviction at the next possible tick
      state.setTimeoutTimestamp(
        math.max(st.lastSeenMs + horizonMs, state.getCurrentWatermarkMs() + 1L))
      Iterator.single(BucketOut(key._1, key._2, st.width, st.minDoc, st.lastSeenMs))
    }
  }
}

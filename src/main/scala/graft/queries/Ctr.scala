package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.ClickThru
import graft.sources.Tables

/** SURVEY.md §2-A: the reference's own query surface.
  *
  * `ctr_referrer` runs the FULL reference pipeline shape end-to-end:
  * impression/click JSON log lines (with a noise prefix, as the
  * reference's inputs have — ClickThru.java:97-98) are derived
  * deterministically from `events`, materialized as text log files,
  * ingested through the registered `graft-jsonlog` DataSourceV2 (the
  * noise-tolerant parse with byte-range splits + physical pushdown),
  * unified+joined on impressionId and ratio-aggregated by
  * (referrer, ad_id) by the ClickThru operator. The oracle computes the
  * same answer directly — so the whole JSON → join → agg path is
  * hash-verified.
  */
object Ctr {

  private[graft] val impSchema = StructType(Seq(
    StructField("impressionId", StringType),
    StructField("referrer", StringType),
    StructField("adId", StringType)))

  private val clkSchema = StructType(Seq(
    StructField("impressionId", StringType)))

  /** Deterministic impression log derived from events: every event is
    * an impression; referrer/adId from stable columns. The "ts=" prefix
    * is the noise the reference strips before '{'. */
  private[graft] def impressionLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).select(concat(
      lit("ts="), $"event_id".cast("string"), lit(" "),
      to_json(struct(
        $"event_id".cast("string").as("impressionId"),
        concat(lit("r"), ($"user_id" % 7).cast("string")).as("referrer"),
        concat(lit("ad"), ($"event_id" % 13).cast("string")).as("adId")))).as("value"))
  }

  /** Click log lines: the events that are clicks, keyed by impressionId
    * only, with the reference's pre-'{' noise prefix. */
  private[graft] def clickLines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir).filter($"event_type" === "click").select(concat(
      lit("click "),
      to_json(struct($"event_id".cast("string").as("impressionId")))).as("value"))
  }

  /** Materialize the derived log lines ONCE per sf dir as real text log
    * files, so the oracle-gated query ingests through the registered
    * `graft-jsonlog` DataSourceV2 — the actual 100 TB path (line-aligned
    * byte-range splits, physical column prune, in-parse filters) instead
    * of an in-memory repartition standing in for a log collector.
    * Idempotent: keyed by sf dir, reused across bench repetitions. */
  private[graft] def materializedLogs(s: SparkSession, dir: String): (String, String) = {
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft-ctrlog-" + dir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val imp = new java.io.File(root, "impressions")
    val clk = new java.io.File(root, "clicks")
    def ensure(target: java.io.File, df: => DataFrame): Unit =
      if (!new java.io.File(target, "_SUCCESS").exists()) {
        // many files (one per task) = many independent scan units, the
        // shape a distributed log collector produces
        val par = s.sparkContext.defaultParallelism
        df.repartition(par).write.mode("overwrite").text(target.getAbsolutePath)
      }
    ensure(imp, impressionLines(s, dir))
    ensure(clk, clickLines(s, dir))
    (imp.getAbsolutePath, clk.getAbsolutePath)
  }

  private def ctrReferrer(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (impPath, clkPath) = materializedLogs(s, dir)
    val impressions = s.read.format("graft-jsonlog").schema(impSchema).load(impPath)
    val clicks = s.read.format("graft-jsonlog").schema(clkSchema).load(clkPath)
    ClickThru.ctr(impressions, clicks, "impressionId", Seq("referrer", "adId"))
      .select($"referrer", $"adId".as("ad_id"), $"impressions", $"clicks", $"ctr")
      .orderBy($"referrer", $"ad_id")
  }

  private val ctrReferrerSql =
    """SELECT 'r' || CAST(user_id % 7 AS VARCHAR) AS referrer,
      | 'ad' || CAST(event_id % 13 AS VARCHAR) AS ad_id,
      | COUNT(*) AS impressions,
      | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      | CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE) / COUNT(*) AS ctr
      |FROM events GROUP BY referrer, ad_id ORDER BY referrer, ad_id""".stripMargin

  /** The reference's ratio-aggregate shape applied per user: CTR as
    * clicks/views (null when the user never saw a view). */
  private def ctrUser(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        count(when($"event_type" === "click", 1)).as("clicks"),
        count(when($"event_type" === "view", 1)).as("views"))
      .withColumn("ctr",
        when($"views" === 0, lit(null).cast("double"))
          .otherwise($"clicks".cast("double") / $"views"))
      .orderBy($"user_id")
  }

  private val ctrUserSql =
    """SELECT user_id,
      | COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
      | COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
      | CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
      |   / NULLIF(COUNT(CASE WHEN event_type = 'view' THEN 1 END), 0) AS ctr
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Click attribution via the AsOf operator: each click is attributed
    * to the user's latest view at-or-before it. One shuffle + one
    * sort regardless of per-user event counts. */
  private def ctrAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts")
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id", $"ts")
    graft.operators.AsOf.join(
      clicks, views, key = "user_id",
      leftTs = "ts", rightTs = "ts", rightId = "event_id",
      matchCol = "attributed_view")
      .select($"user_id", $"click_id", $"attributed_view")
      .orderBy($"user_id", $"click_id")
  }

  private val ctrAttributionSql =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'),
      |v AS (
      |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
      |j AS (
      |  SELECT c.user_id, c.click_id, v.event_id AS attributed_view,
      |    ROW_NUMBER() OVER (PARTITION BY c.user_id, c.click_id
      |                       ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.ts <= c.ts)
      |SELECT user_id, click_id, attributed_view FROM j WHERE rn = 1
      |UNION ALL
      |SELECT c.user_id, c.click_id, NULL AS attributed_view FROM c
      |WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = c.user_id AND v.ts <= c.ts)
      |ORDER BY user_id, click_id""".stripMargin

  /** Windowed attribution: the latest at-or-before view counts ONLY if
    * it falls inside the 1-hour lookback (the production ad-attribution
    * contract). Identical asymptotics to ctr_attribution (the window
    * test is a post-filter on the single as-of match — if the latest
    * view is stale, every earlier one is staler, so filter-then-rank
    * and rank-then-filter coincide). All time math runs on the µs→ms
    * grid BOTH engines share, so a boundary view can't flip between
    * them. */
  private def ctrAttributionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), unix_millis($"ts").as("cms"))
    val views = ev.filter($"event_type" === "view")
      .select($"user_id", $"event_id", unix_millis($"ts").as("vms"))
    graft.operators.AsOf.join(clicks, views, key = "user_id",
        leftTs = "cms", rightTs = "vms", rightId = "event_id",
        matchCol = "attributed_view")
      .join(views.select($"event_id".as("attributed_view"), $"vms"),
        Seq("attributed_view"), "left")
      .select($"user_id", $"click_id",
        when($"vms" >= $"cms" - 3600000L, $"attributed_view").as("attributed_view"),
        coalesce($"vms" < $"cms" - 3600000L, lit(false)).as("stale"))
      .orderBy($"user_id", $"click_id")
  }

  private val ctrAttributionWindowSql =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_ns(ts)//1000000 AS cms
      |  FROM events WHERE event_type = 'click'),
      |v AS (
      |  SELECT user_id, event_id, epoch_ns(ts)//1000000 AS vms
      |  FROM events WHERE event_type = 'view'),
      |j AS (
      |  SELECT c.user_id, c.click_id, c.cms, v.event_id AS av, v.vms,
      |    ROW_NUMBER() OVER (PARTITION BY c.user_id, c.click_id
      |                       ORDER BY v.vms DESC, v.event_id DESC) AS rn
      |  FROM c JOIN v ON v.user_id = c.user_id AND v.vms <= c.cms)
      |SELECT user_id, click_id,
      |  CASE WHEN vms >= cms - 3600000 THEN av ELSE NULL END AS attributed_view,
      |  (vms < cms - 3600000) AS stale
      |FROM j WHERE rn = 1
      |UNION ALL
      |SELECT c.user_id, c.click_id, NULL AS attributed_view, FALSE AS stale FROM c
      |WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = c.user_id AND v.vms <= c.cms)
      |ORDER BY user_id, click_id""".stripMargin

  /** The streaming pipeline, driver-verified (VERDICT r5 #5): replays
    * the events table through EventStream.streamingCtr — file-source
    * streams → watermarked stream-stream leftOuter join → windowed
    * aggregation → memory sink — then rolls the closed windows up to
    * (referrer, ad_id) and hash-compares against the SAME oracle as the
    * batch ctr_referrer. Every impression lands in exactly one window,
    * so the rollup equals the global aggregate iff the streaming join +
    * window semantics are right — making this the first streaming-path
    * row in CORRECTNESS.
    *
    * Append-mode mechanics: a window only emits once the watermark
    * passes it, and the watermark trails max-seen-event-time, so a
    * far-future SENTINEL row is appended to both streams to close every
    * real window before AvailableNow drains (the sentinel's own window
    * stays open and is never emitted; it is filtered out regardless).
    * The temp-dir write is replay harness, not pipeline: in production
    * the streams arrive from a log bus and windows close as real time
    * advances. */
  private def ctrStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-ctr-replay") { root =>
      import s.implicits._
      val ev = Tables.events(s, dir)
      val maxTs = ev.agg(max($"ts")).head.getTimestamp(0)
      val far = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
      val imps = ev.select(
        $"event_id".cast("string").as("impressionId"),
        concat(lit("r"), ($"user_id" % 7).cast("string")).as("referrer"),
        concat(lit("ad"), ($"event_id" % 13).cast("string")).as("adId"),
        $"ts")
        .unionByName(Seq(("__sentinel", "zz", "zz", far))
          .toDF("impressionId", "referrer", "adId", "ts"))
      val clks = ev.filter($"event_type" === "click")
        .select($"event_id".cast("string").as("impressionId"), $"ts".as("click_ts"))
        .unionByName(Seq(("__sentinel", far)).toDF("impressionId", "click_ts"))
      imps.write.mode("overwrite").parquet(s"$root/imps")
      clks.write.mode("overwrite").parquet(s"$root/clicks")

      val impStream = s.readStream
        .schema(impSchema.add("ts", TimestampType)).parquet(s"$root/imps")
      val clkStream = s.readStream
        .schema(clkSchema.add("click_ts", TimestampType)).parquet(s"$root/clicks")
      StreamReplay.toMemory("ctr_streaming_replay", root)(
        graft.streaming.EventStream.streamingCtr(impStream, clkStream))
        .filter($"referrer" =!= "zz")
        .groupBy($"referrer", $"adId")
        .agg(sum($"impressions").as("impressions"), sum($"clicks").as("clicks"))
        .select($"referrer", $"adId".as("ad_id"), $"impressions", $"clicks",
          ($"clicks".cast("double") / $"impressions").as("ctr"))
        .orderBy($"referrer", $"ad_id")
    }

  /** Streaming as-of attribution, driver-verified against the SAME
    * oracle as the batch ctr_attribution: the events table replays
    * through a file source into EventStream.streamingAttribution
    * (flatMapGroupsWithState keyed by user — buffered views/clicks,
    * clicks finalized exactly once when the watermark passes them),
    * with the established three-drain sentinel protocol pushing the
    * watermark past every real click. Hash equality here proves the
    * stateful stream computes the identical latest-view-at-or-before
    * match the batch AsOf join does. Sentinels are watermark carriers
    * (event_type "zz_wm" — neither view nor click), so they leave no
    * state and need no output filter. */
  private def attributionStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-attr-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "attribution_streaming_replay", root, "zz_wm")(d =>
        EventStream.streamingAttribution(s, d).toDF())
        .select($"user_id", $"click_id", $"attributed_view")
        .orderBy($"user_id", $"click_id")
    }

  /** Position-based (U-shaped) MULTI-TOUCH attribution — the model
    * the single-touch as-of join (ctr_attribution) graduates into:
    * each purchase's credit is split 40/20/40 across ALL its
    * journey's touches (first / evenly-among-middles / last), not
    * granted solely to the last click. Journeys reset at each
    * purchase (a touch belongs to exactly ONE journey — running
    * purchase count per user), so total work is linear in events,
    * never quadratic in touches × conversions.
    *
    * Determinism: credits are exact integer micro-units summing to
    * 10⁶ per converted journey (middles get the integer quotient,
    * the LAST touch absorbs the remainder); event order is the total
    * (ts, event_id) key. Both engines replay identical windows.
    *
    * Scale shape: everything is per-user windows (the sessionize
    * partitioning) + key-only aggregation — one user-key shuffle,
    * no self-join of touches against conversions. */
  private def ctrMultitouch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(s, dir)
      .filter($"event_type".isin("view", "click", "purchase"))
      .withColumn("is_p", when($"event_type" === "purchase", 1L).otherwise(0L))
      .withColumn("jid", sum($"is_p").over(w) - $"is_p") // purchases BEFORE this row
    val journeys = ev.groupBy($"user_id", $"jid")
      .agg(max($"is_p").as("converted"), sum(lit(1L) - $"is_p").as("n_touch"))
      .filter($"converted" === 1L && $"n_touch" >= 1L)
    val touches = ev.filter($"is_p" === 0L)
      .withColumn("tpos", row_number().over(
        Window.partitionBy($"user_id", $"jid").orderBy($"ts", $"event_id")))
    val credited = touches.join(journeys.select($"user_id", $"jid", $"n_touch"),
        Seq("user_id", "jid"))
      .withColumn("credit_micro",
        when($"n_touch" === 1L, lit(1000000L))
          .when($"n_touch" === 2L, lit(500000L))
          .otherwise(
            when($"tpos" === 1L, lit(400000L))
              .when($"tpos" === $"n_touch",
                lit(400000L) + lit(200000L) % ($"n_touch" - 2L))
              .otherwise(expr("200000 div (n_touch - 2)"))))
    credited.groupBy($"event_type")
      .agg(sum($"credit_micro").as("cm"),
        count(lit(1)).as("n_touches"),
        countDistinct($"user_id", $"jid").as("n_journeys"))
      .select($"event_type", ($"cm".cast("double") / 1000000).as("credit"),
        $"n_touches", $"n_journeys")
      .orderBy($"event_type")
  }

  private val ctrMultitouchSql =
    """WITH ev AS (SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |j AS (SELECT *,
      |    SUM(is_p) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - is_p AS jid
      |  FROM ev),
      |jr AS (SELECT user_id, jid, MAX(is_p) AS converted,
      |    SUM(1 - is_p) AS n_touch
      |  FROM j GROUP BY 1, 2 HAVING MAX(is_p) = 1 AND SUM(1 - is_p) >= 1),
      |tch AS (SELECT user_id, jid, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, jid ORDER BY ts, event_id) AS tpos
      |  FROM j WHERE is_p = 0),
      |cr AS (SELECT t.event_type, t.user_id, t.jid,
      |    CASE WHEN jr.n_touch = 1 THEN 1000000
      |         WHEN jr.n_touch = 2 THEN 500000
      |         WHEN t.tpos = 1 THEN 400000
      |         WHEN t.tpos = jr.n_touch THEN 400000 + 200000 % (jr.n_touch - 2)
      |         ELSE 200000 // (jr.n_touch - 2) END AS credit_micro
      |  FROM tch t JOIN jr ON t.user_id = jr.user_id AND t.jid = jr.jid)
      |SELECT event_type, CAST(SUM(credit_micro) AS DOUBLE) / 1000000 AS credit,
      |  CAST(COUNT(*) AS BIGINT) AS n_touches,
      |  CAST(COUNT(DISTINCT (user_id, jid)) AS BIGINT) AS n_journeys
      |FROM cr GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Top conversion paths: the event-type sequence of each converted
    * journey (multitouch's journey segmentation — reset at every
    * purchase), truncated to the LAST 6 steps (the standard path-
    * analysis cap, so path cardinality stays bounded no matter how
    * long users wander), counted corpus-wide, top-20. Per-user
    * windows + key-only aggregation; the (ts, event_id) struct sort
    * inside the collect is the same total order both engines use. */
  private def eventsFunnelPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(s, dir)
      .withColumn("is_p", when($"event_type" === "purchase", 1L).otherwise(0L))
      .withColumn("jid", sum($"is_p").over(w) - $"is_p")
    val conv = ev.groupBy($"user_id", $"jid")
      .agg(max($"is_p").as("c")).filter($"c" === 1L)
      .select($"user_id", $"jid")
    val paths = ev.join(conv, Seq("user_id", "jid"))
      .groupBy($"user_id", $"jid")
      .agg(expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)").as("arr"))
      .select(expr("CASE WHEN size(arr) > 6 THEN slice(arr, size(arr) - 5, 6) ELSE arr END").as("arr"))
      .select(array_join($"arr", ">").as("path"))
    paths.groupBy($"path").agg(count(lit(1)).as("n_journeys"))
      .orderBy($"n_journeys".desc, $"path")
      .limit(20)
  }

  private val eventsFunnelPathsSql =
    """WITH j AS (SELECT user_id, event_id, ts, event_type,
      |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS jid
      |  FROM events),
      |conv AS (SELECT user_id, jid FROM j GROUP BY 1, 2
      |  HAVING MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1),
      |pl AS (SELECT j.user_id, j.jid,
      |    list(j.event_type ORDER BY j.ts, j.event_id) AS arr
      |  FROM j JOIN conv ON j.user_id = conv.user_id AND j.jid = conv.jid
      |  GROUP BY 1, 2),
      |tr AS (SELECT CASE WHEN len(arr) > 6
      |    THEN arr[len(arr)-5:len(arr)] ELSE arr END AS arr FROM pl)
      |SELECT array_to_string(arr, '>') AS path,
      |  CAST(COUNT(*) AS BIGINT) AS n_journeys
      |FROM tr GROUP BY 1 ORDER BY n_journeys DESC, path LIMIT 20""".stripMargin

  // ------------------------------------------------ events_markov_attribution

  private val MarkovIters = 40

  /** Markov removal-effect attribution (Anderl et al. 2014) — the
    * data-driven attribution model next to the position-based
    * ctr_multitouch: per-user journeys (zz_start → events in (ts,
    * event_id) order, truncated at the FIRST purchase; non-converting
    * journeys absorb into zz_null) define a first-order transition
    * matrix; a channel's credit is how much the corpus conversion
    * probability DROPS when that channel is knocked out (treated as a
    * zero absorber).
    *
    * Determinism: the absorption probabilities run as EXACTLY
    * $MarkovIters integer nano iterations v(s) ← (Σ cnt(s,t)·v(t))
    * div tot(s) — both engines walk bit-identical trajectories whether
    * or not the chain has converged, so the hash cannot depend on a
    * convergence threshold. The oracle unrolls the same iterations
    * over a (scenario × state) table (pagerank/HITS precedent).
    *
    * Scale shape: the corpus-sized work is ONE lag-window pass over
    * user-keyed events + a (from,to) count aggregate; the iteration
    * state is (channels+1 scenarios) × (channels+3 states) — event-type
    * dimension bounded, computed driver-side over the collected matrix
    * (q_survival_km precedent). */
  private def eventsMarkovAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ranked = Tables.events(s, dir)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("rk", row_number().over(w))
    val rp = ranked.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min($"rk").as("rp"))
    val j = ranked.join(rp, Seq("user_id"), "left")
      .filter($"rp".isNull || $"rk" <= $"rp")
      .withColumn("prev", lag($"event_type", 1).over(
        Window.partitionBy($"user_id").orderBy($"rk")))
      .withColumn("maxrk", max($"rk").over(Window.partitionBy($"user_id")))
      .select($"event_type", $"rk", $"rp", $"prev", $"maxrk")
      .localCheckpoint() // three transition derivations read it; one window pass
    val pairTrans = j.filter($"prev".isNotNull)
      .select($"prev".as("from_type"), $"event_type".as("to_type"))
    val startTrans = j.filter($"rk" === 1)
      .select(lit("zz_start").as("from_type"), $"event_type".as("to_type"))
    val nullTrans = j.filter($"rp".isNull && $"rk" === $"maxrk")
      .select($"event_type".as("from_type"), lit("zz_null").as("to_type"))
    val trans = pairTrans.union(startTrans).union(nullTrans)
      .groupBy($"from_type", $"to_type").agg(count(lit(1)).as("n"))
      .collect() // bounded: (event types + 2)^2 — a dimension matrix
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tot = trans.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._3).sum }
    val channels = trans.flatMap(t => Seq(t._1, t._2))
      .filter(c => c != "purchase" && c != "zz_null" && c != "zz_start")
      .distinct.sorted
    def absorb(removed: Option[String]): BigInt = {
      val transient = ("zz_start" +: channels).filterNot(removed.contains)
      var v = Map("purchase" -> BigInt(1000000000)).withDefaultValue(BigInt(0))
      for (_ <- 1 to MarkovIters) {
        val nv = transient.map { st =>
          val num = trans.filter(_._1 == st)
            .map { case (_, to, n) => BigInt(n) * v(to) }.sum
          st -> (if (tot.getOrElse(st, 0L) == 0L) BigInt(0)
                 else num / BigInt(tot(st)))
        }.toMap
        v = (nv + ("purchase" -> BigInt(1000000000))).withDefaultValue(BigInt(0))
      }
      v("zz_start")
    }
    val base = absorb(None)
    val rem = channels.map(c => c -> (base - absorb(Some(c))))
    val remSum = rem.map(_._2).sum
    val rows = rem.map { case (c, r) =>
      (c, base.toLong, (base - r).toLong, r.toLong,
        if (remSum == 0) 0L else (r * BigInt(1000000000) / remSum).toLong)
    }.toSeq
    s.createDataFrame(rows)
      .toDF("channel", "base_conv_nano", "removed_conv_nano",
        "removal_effect_nano", "credit_ppb")
      .orderBy($"channel")
  }

  private val eventsMarkovAttributionSql: String = {
    val head =
      """WITH ranked AS (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        |  FROM events),
        |rp AS (SELECT user_id, MIN(rk) AS rp FROM ranked
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |j AS (
        |  SELECT r.user_id, r.event_type, r.rk, rp.rp,
        |    LAG(r.event_type, 1) OVER (PARTITION BY r.user_id ORDER BY r.rk) AS prev,
        |    MAX(r.rk) OVER (PARTITION BY r.user_id) AS maxrk
        |  FROM ranked r LEFT JOIN rp ON rp.user_id = r.user_id
        |  WHERE rp.rp IS NULL OR r.rk <= rp.rp),
        |trans AS MATERIALIZED (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM (
        |    SELECT prev AS from_type, event_type AS to_type FROM j WHERE prev IS NOT NULL
        |    UNION ALL
        |    SELECT 'zz_start', event_type FROM j WHERE rk = 1
        |    UNION ALL
        |    SELECT event_type, 'zz_null' FROM j WHERE rp IS NULL AND rk = maxrk) u
        |  GROUP BY 1, 2),
        |tot AS MATERIALIZED (SELECT from_type, SUM(n) AS tf FROM trans GROUP BY 1),
        |channels AS MATERIALIZED (
        |  SELECT DISTINCT c FROM (
        |    SELECT from_type AS c FROM trans UNION SELECT to_type FROM trans) x
        |  WHERE c NOT IN ('purchase', 'zz_null', 'zz_start')),
        |scens AS MATERIALIZED (
        |  SELECT 'zz_base' AS scen UNION ALL SELECT c FROM channels),
        |states AS MATERIALIZED (
        |  SELECT c AS state FROM channels
        |  UNION ALL SELECT 'zz_start' UNION ALL SELECT 'purchase'
        |  UNION ALL SELECT 'zz_null'),
        |sx AS MATERIALIZED (SELECT scen, state FROM scens CROSS JOIN states),
        |v0 AS MATERIALIZED (
        |  SELECT scen, state,
        |    CASE WHEN state = 'purchase' THEN CAST(1000000000 AS HUGEINT)
        |         ELSE CAST(0 AS HUGEINT) END AS val
        |  FROM sx)""".stripMargin
    val iters = (1 to MarkovIters).map { i =>
      s"""v$i AS MATERIALIZED (
         |  SELECT s.scen, s.state,
         |    CASE WHEN s.state = 'purchase' THEN CAST(1000000000 AS HUGEINT)
         |         WHEN s.state = 'zz_null' OR s.state = s.scen THEN CAST(0 AS HUGEINT)
         |         ELSE CAST(COALESCE(u.vv, 0) AS HUGEINT) END AS val
         |  FROM sx s
         |  LEFT JOIN (
         |    SELECT p.scen, t.from_type AS state, SUM(t.n * p.val) // MAX(tt.tf) AS vv
         |    FROM trans t
         |    JOIN v${i - 1} p ON p.state = t.to_type
         |    JOIN tot tt ON tt.from_type = t.from_type
         |    GROUP BY p.scen, t.from_type) u
         |  ON u.scen = s.scen AND u.state = s.state)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters,
       |base AS (SELECT val AS b FROM v$MarkovIters
       |  WHERE scen = 'zz_base' AND state = 'zz_start'),
       |rem AS (
       |  SELECT v.scen AS channel, base.b AS basev, v.val AS removedv,
       |    base.b - v.val AS r
       |  FROM v$MarkovIters v CROSS JOIN base
       |  WHERE v.state = 'zz_start' AND v.scen <> 'zz_base'),
       |rs AS (SELECT SUM(r) AS sr FROM rem)
       |SELECT channel,
       |  CAST(basev AS BIGINT) AS base_conv_nano,
       |  CAST(removedv AS BIGINT) AS removed_conv_nano,
       |  CAST(r AS BIGINT) AS removal_effect_nano,
       |  CAST(CASE WHEN rs.sr = 0 THEN 0
       |            ELSE (r * 1000000000) // rs.sr END AS BIGINT) AS credit_ppb
       |FROM rem CROSS JOIN rs
       |ORDER BY channel""".stripMargin
  }

  val defs: Map[String, QueryDef] = Map(
    "events_markov_attribution" ->
      QueryDef(eventsMarkovAttribution, Some(eventsMarkovAttributionSql)),
    "events_funnel_paths" -> QueryDef(eventsFunnelPaths, Some(eventsFunnelPathsSql)),
    "ctr_multitouch" -> QueryDef(ctrMultitouch, Some(ctrMultitouchSql)),
    "ctr_referrer" -> QueryDef(ctrReferrer, Some(ctrReferrerSql), bench = true),
    "attribution_streaming_replay" ->
      QueryDef(attributionStreamingReplay, Some(ctrAttributionSql)),
    "ctr_streaming_replay" -> QueryDef(ctrStreamingReplay, Some(ctrReferrerSql)),
    "ctr_user" -> QueryDef(ctrUser, Some(ctrUserSql)),
    "ctr_attribution" -> QueryDef(ctrAttribution, Some(ctrAttributionSql), bench = true),
    "ctr_attribution_window" -> QueryDef(ctrAttributionWindow, Some(ctrAttributionWindowSql))
  )
}

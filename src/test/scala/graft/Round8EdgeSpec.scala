package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Handcrafted-input semantics for the round-8 statistical keys: the
  * oracle hash-compare proves Spark == DuckDB, these prove both match
  * the DEFINITION (censoring in KM, negation + first-match anchoring
  * in CEP) on inputs small enough to verify by hand. */
class Round8EdgeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def day(d: Int) = new Timestamp(d * 86400000L)

  /** Write a tiny events table in the driver parquet layout. */
  private def eventsDir(rows: Seq[(Long, Timestamp, Long, String, Double, String)]): String = {
    val dir = tempDir("r8edge")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q_survival_km: censored users stay in the risk set, last-day zero factor lands on 0") {
    // u1: signup d0, purchase d2 (event t=2)
    // u2: signup d0, never purchases (censored at horizon d4 = max ts)
    // u3: signup d0, purchase d4 (event t=4; u2's censor time equals it)
    val dir = eventsDir(Seq(
      (1L, day(0), 1L, "signup", 1.0, ""), (2L, day(2), 1L, "purchase", 1.0, ""),
      (3L, day(0), 2L, "signup", 1.0, ""), (4L, day(1), 2L, "view", 1.0, ""),
      (5L, day(0), 3L, "signup", 1.0, ""), (6L, day(4), 3L, "purchase", 1.0, "")))
    val rows = SparkEntry.queries("q_survival_km")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // day 2: all 3 at risk, 1 event -> S = 2/3; day 4: u2 (censored at 4)
    // still at risk with u3 -> n=2, 1 event... but u3's event makes the
    // remaining factor (2-1)/2; S = 2/3 * 1/2 = 1/3
    assert(rows.toSeq == Seq(
      (2L, 3L, 1L, 0.666666666), // floor(1e9*2/3)/1e9
      (4L, 2L, 1L, 0.333333333)))
  }

  test("events_cep_match: error inside the span kills the match, outside does not") {
    // u1: view d0 -> click d1 -> purchase d2, error at d3 (AFTER span) => match
    // u2: view d0 -> click d1 -> purchase d2, error at d1+ (INSIDE) => no match
    // u3: view d0 -> purchase d1 with no click => no match (pattern needs the click)
    val dir = eventsDir(Seq(
      (1L, day(0), 1L, "view", 1.0, ""), (2L, day(1), 1L, "click", 1.0, ""),
      (3L, day(2), 1L, "purchase", 1.0, ""), (4L, day(3), 1L, "error", 1.0, ""),
      (5L, day(0), 2L, "view", 1.0, ""), (6L, day(1), 2L, "click", 1.0, ""),
      (7L, day(2), 2L, "purchase", 1.0, ""),
      (8L, new Timestamp(90000000L), 2L, "error", 1.0, ""), // d1.04: inside u2's span
      (9L, day(0), 3L, "view", 1.0, ""), (10L, day(1), 3L, "purchase", 1.0, "")))
    val rows = SparkEntry.queries("events_cep_match")(spark, dir)
      .select($"user_id", $"v_eid", $"c_eid", $"p_eid").as[(Long, Long, Long, Long)]
      .collect().toSeq
    assert(rows == Seq((1L, 1L, 2L, 3L)))
  }

  test("ctr_multitouch: U-shaped credits sum to 1.0 per converted journey") {
    def t(i: Int) = new Timestamp(i * 1000L)
    // one user, two journeys: [view, click, view] -> purchase (40/20/40),
    // then [view] -> purchase (solo touch gets the full credit)
    val dir = eventsDir(Seq(
      (1L, t(1), 1L, "view", 1.0, ""), (2L, t(2), 1L, "click", 1.0, ""),
      (3L, t(3), 1L, "view", 1.0, ""), (4L, t(4), 1L, "purchase", 1.0, ""),
      (5L, t(5), 1L, "view", 1.0, ""), (6L, t(6), 1L, "purchase", 1.0, "")))
    val got = SparkEntry.queries("ctr_multitouch")(spark, dir).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(("click", 0.2, 1L, 1L), ("view", 1.8, 3L, 2L)), got.toString)
  }

  test("q_decile_lift: perfectly separating score gives top-decile lift tu/tp") {
    val pre = Timestamp.valueOf("2024-01-05 00:00:00")
    val post = Timestamp.valueOf("2024-01-25 00:00:00")
    // users 1..10: one pre-boundary event, no conversion;
    // users 11..20: five pre-boundary events, all convert afterwards
    var id = 0L
    def ev(u: Long, ts: Timestamp, tp: String) = { id += 1; (id, ts, u, tp, 1.0, "") }
    val rows = (1 to 10).map(u => ev(u.toLong, pre, "view")) ++
      (11 to 20).flatMap(u => (1 to 5).map(_ => ev(u.toLong, pre, "view"))) ++
      (11 to 20).map(u => ev(u.toLong, post, "purchase"))
    val dir = eventsDir(rows)
    val got = SparkEntry.queries("q_decile_lift")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    // scores {1,5}: edges put score-5 users in decile 5, score-1 in 0.
    // top decile: rate 1.0, lift = (10*20)/(10*10) = 2.0, cum_gain 1.0
    assert(got == Seq(
      (5L, 10L, 10L, 1.0, 2.0, 1.0),
      (0L, 10L, 0L, 0.0, 0.0, 1.0)), got.toString)
  }

  test("q_kmv_setops: under-k audiences make every estimate exact") {
    // a: users 1..40, b: users 21..60 -> inter 20, union 60, jacc 1/3.
    // All distinct counts < k=64, so the sketches are complete and the
    // union/intersection/jaccard estimators must hit exactly.
    val rows = (1 to 40).map(u => (u.toLong, day(0), u.toLong, "a", 1.0, "")) ++
      (21 to 60).map(u => (100L + u, day(0), u.toLong, "b", 1.0, ""))
    val dir = eventsDir(rows)
    val r = SparkEntry.queries("q_kmv_setops")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_a") == 40L && row.getAs[Long]("n_b") == 40L)
    assert(row.getAs[Long]("inter_exact") == 20L)
    assert(row.getAs[Long]("union_exact") == 60L)
    assert(row.getAs[Long]("union_est") == 60L)
    assert(row.getAs[Long]("inter_est") == 20L)
    assert(math.abs(row.getAs[Double]("jacc_est") - 20.0 / 60.0) < 1e-9)
  }

  test("q_kmv_distinct estimator: under-k groups are exact") {
    val dir = eventsDir((1 to 40).map(i =>
      (i.toLong, day(0), (i % 7).toLong, "view", 1.0, "")))
    val r = SparkEntry.queries("q_kmv_distinct")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_exact") == 7L)
    assert(r.head.getAs[Long]("n_est") == 7L) // 7 < k=64 -> exact path
    assert(r.head.getAs[Double]("rel_err") == 0.0)
  }
}

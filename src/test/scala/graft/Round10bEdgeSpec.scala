package graft

import java.sql.Date

import org.scalatest.funsuite.AnyFunSuite

/** Definition-level checks for the second round-10 batch: the EWMA
  * recurrence and funnel attrition traced by hand, DP noise mechanism
  * invariants, and the NN-descent dominance property (a refinement
  * over a candidate superset can never rank-wise worsen the graph). */
class Round10bEdgeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("q_ewma_anomaly: flat level absorbs, a 10x spike trips the +30% band") {
    // daily revenue 100, 100, 100, 1000: s stays 10000 cents through
    // day 3; day 4 has 10·100000 > 13·10000 -> anomaly, s4 = 28000.
    val dir = tempDir("r10ewma")
    Seq(
      (1L, Date.valueOf("1995-01-01"), 100.0),
      (2L, Date.valueOf("1995-01-02"), 100.0),
      (3L, Date.valueOf("1995-01-03"), 100.0),
      (4L, Date.valueOf("1995-01-04"), 1000.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    val got = SparkEntry.queries("q_ewma_anomaly")(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(
      (10000L, 10000L, false),
      (10000L, 10000L, false),
      (10000L, 10000L, false),
      (100000L, 28000L, true)), got.toString)
  }

  test("corpus_filter_funnel: each gate drops exactly the docs it should") {
    // "" fails nonempty; "a b" fails min_words; "x x x x x" fails the
    // word-shape band (5 chars < 2·5); the duplicated 5-word doc is
    // collapsed by exact_dedup.
    val dir = tempDir("r10funnel")
    Seq((1L, ""), (2L, "a b"), (3L, "aa bb cc dd ee"),
      (4L, "aa bb cc dd ee"), (5L, "x x x x x"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("corpus_filter_funnel")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("nonempty", 5L, 4L, 800000L),
      ("min_words", 4L, 3L, 750000L),
      ("word_shape", 3L, 2L, 666666L),
      ("exact_dedup", 2L, 1L, 500000L)), got.toString)
  }

  test("q_dp_counts: noise is bounded, deterministic, and never yields negative releases") {
    val dir = "/root/testdata/sf0.001"
    val run1 = SparkEntry.queries("q_dp_counts")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val run2 = SparkEntry.queries("q_dp_counts")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(run1 == run2, "noise must be deterministic across runs")
    assert(run1.nonEmpty)
    run1.foreach { case (et, tc, noise, noisy) =>
      assert(noise >= -8L && noise <= 8L, s"$et noise $noise out of table range")
      assert(noisy == math.max(tc + noise, 0L), s"$et noisy mismatch")
    }
  }

  test("knn_graph_refine: candidate-superset dominance — rank-k similarity never drops") {
    val dir = "/root/testdata/sf0.001"
    val base = SparkEntry.queries("knn_graph")(spark, dir)
      .select("node_id", "rk", "cos_sim")
      .collect()
      .map(r => (r.getLong(0), r.get(1).toString.toLong, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    val refined = SparkEntry.queries("knn_graph_refine")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.get(2).toString.toLong, r.getDouble(3), r.getBoolean(4)))
    assert(refined.nonEmpty)
    refined.foreach { case (node, rk, sim, wasKnn) =>
      base.get(node).flatMap(_.get(rk)).foreach { baseSim =>
        assert(sim >= baseSim - 1e-9,
          s"node $node rank $rk: refined $sim < base $baseSim")
      }
    }
    // the refinement must add at least some edges the IVF graph missed
    // OR confirm every edge (both are valid outcomes; an empty result
    // or missing flags are not)
    assert(refined.map(_._4).distinct.nonEmpty)
  }
}

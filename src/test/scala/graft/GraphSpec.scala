package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The graph keys by subject (`queries.Graph`): hand-traced semantics
  * on graphs small enough to walk the integer trajectories by hand.
  * The oracle hash-compare proves Spark == DuckDB; these prove both
  * match the DEFINITION. */
class GraphSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(name: String, dir: String = TestSpark.sf): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** nations 0,1,2 with trade edges 0→1 and 1→2 (directed path). */
  private def pathDir(): String = {
    val dir = tempDir("r10graph")
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 1L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L), (2L, 2L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** Trade-graph tables for nations `names` (key = index) with one
    * lineitem per weighted edge (src nation, dst nation, l_quantity):
    * customer 100+src buys from supplier 200+dst in order 10·(k+1). */
  private def tradeDir(names: Seq[String], edges: Seq[(Long, Long, Double)]): String = {
    val dir = tempDir("graphspec")
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    edges.map(_._1).distinct.map(v => (100L + v, v))
      .toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    edges.map(_._2).distinct.map(v => (200L + v, v))
      .toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    val keyed = edges.zipWithIndex.map { case (e, k) => (10L * (k + 1), e) }
    keyed.map { case (o, (src, _, _)) => (o, 100L + src) }
      .toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    keyed.map { case (o, (_, dst, w)) => (o, 200L + dst, w) }
      .toDF("l_orderkey", "l_suppkey", "l_quantity").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  /** A lineitem-only co-purchase graph: each order's parts form a
    * clique (order keys are multiples of 10 to pass the sample). */
  private def coPurchaseDir(li: Seq[(Long, Long)]): String = {
    val dir = tempDir("graphspec")
    li.toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("pagerank: a 3-cycle holds its uniform rank exactly; an isolated node keeps the teleport") {
    // edges 0→1→2→0, nation 3 isolated: n = 4, init = 1e9÷4 = 250000000,
    // teleport = 150000000÷4 = 37500000. Each cycle node receives its
    // predecessor's full rank (outdeg 1): 37500000 + 85·250000000÷100 =
    // 250000000, stationary from iteration 1; nation 3 receives nothing.
    val dir = tradeDir(Seq("ALGERIA", "BRAZIL", "CANADA", "DENMARK"),
      Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0)))
    val got = run("pagerank", dir)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == Seq(
      ("ALGERIA", 250000000L / 1e9),
      ("BRAZIL", 250000000L / 1e9),
      ("CANADA", 250000000L / 1e9),
      ("DENMARK", 37500000L / 1e9)), got.toString)
  }

  test("graph_bfs: fixpoint — source at 0, reachable hop levels contiguous") {
    val rows = run("graph_bfs").collect()
    assert(rows.length == 25) // all nations reported
    val hops = rows.map(_.getAs[Long]("hops"))
    assert(hops.count(_ == 0L) == 1, "exactly the source nation at hop 0")
    assert(hops.forall(_ >= -1L))
    // BFS at fixpoint: every level h>0 is reached FROM level h-1, so the
    // reachable hop values form a contiguous 0..max range — a fixed
    // too-small iteration bound would instead leave a gap (far nodes
    // stuck at -1). This replaces the old tautological h<=4 assertion.
    val reached = hops.filter(_ >= 0L).toSet
    assert(reached == (0L to reached.max).toSet,
      s"hop levels must be contiguous, got ${reached.toSeq.sorted}")
  }

  test("graph_ppr: restart mass stays at the seed; a dangling chain reaches its fixpoint") {
    // edges 0→1 only (nation 2 isolated): seed 0 keeps exactly the
    // 150000000 restart after iteration 1 (its own mass left, nothing
    // returns), so from iteration 2 on r1 = 85·150000000÷100 =
    // 127500000 — stationary well before the 10th iteration.
    val dir = tempDir("r10ppr")
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L)).toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_ppr")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("ALGERIA", 150000000L),
      ("BRAZIL", 127500000L),
      ("CANADA", 0L)), got.toString)
  }

  test("graph_hits: two hubs pointing at one authority reach the exact fixpoint") {
    // trade edges 0→1 and 2→1: nation 1 is the sole authority
    // (auth_nano = 1e9), nations 0 and 2 are equal hubs (5e8 each).
    // Integer L1 trajectory: h0 = 333333333 each; a(1) = 1e9 from the
    // first rescale and the system is stationary from iteration 1.
    val dir = tempDir("r9bhits")
    Seq((0L, "ALGERIA"), (1L, "BRAZIL"), (2L, "CANADA"))
      .toDF("n_nationkey", "n_name").coalesce(1)
      .write.parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 2L)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.parquet(s"$dir/customer.parquet")
    Seq((1L, 1L)).toDF("s_suppkey", "s_nationkey").coalesce(1)
      .write.parquet(s"$dir/supplier.parquet")
    Seq((10L, 1L), (20L, 2L)).toDF("o_orderkey", "o_custkey").coalesce(1)
      .write.parquet(s"$dir/orders.parquet")
    Seq((10L, 1L), (20L, 1L)).toDF("l_orderkey", "l_suppkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_hits")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("ALGERIA", 500000000L, 0L),
      ("BRAZIL", 0L, 1000000000L),
      ("CANADA", 500000000L, 0L)), got.toString)
  }

  test("graph_closeness: directed path 0→1→2 — reach sets, WF closeness, eccentricity") {
    // root 0 reaches {0,1,2} at hops {0,1,2}: clo = (2²·1e9)÷(2·3) = 666666666, ecc 2
    // root 1 reaches {1,2}:                   clo = (1·1e9)÷(2·1) = 500000000, ecc 1
    // root 2 reaches only itself:             clo 0, ecc −1
    val got = SparkEntry.queries("graph_closeness")(spark, pathDir())
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq(
      ("ALGERIA", 3L, 3L, 666666666L, 2L),
      ("BRAZIL", 2L, 1L, 500000000L, 1L),
      ("CANADA", 1L, 0L, 0L, -1L)), got.toString)
  }

  test("graph_betweenness: the middle of a directed path carries the only s→t pair") {
    // 0→1→2: the sole (s,t) pair with an intermediary is (0,2) through
    // node 1 (σ01·σ12/σ02 = 1 → 1e6 micro); endpoints carry nothing.
    val got = SparkEntry.queries("graph_betweenness")(spark, pathDir())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(
      ("BRAZIL", 1000000L),
      ("ALGERIA", 0L),
      ("CANADA", 0L)), got.toString)
  }

  test("graph_label_prop: bridged triangles resolve to two communities") {
    // orders (keys % 10 == 0 to pass the sample filter) define cliques:
    // triangle {1,2,3}, triangle {4,5,6}, bridge edge {3,4}.
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 4L), (20L, 5L), (20L, 6L), (30L, 3L), (30L, 4L))
    val dir = tempDir("lpa")
    li.toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("graph_label_prop")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // hand-traced 3 synchronous rounds (min-label tie-break): the
    // bridge briefly pulls node 4 toward label 3, the triangle majority
    // pulls it back — final communities {1,2,3}->1 and {4,5,6}->4.
    assert(got == Seq((1L, 3L), (4L, 3L)), got.toString)
  }

  test("q_ktruss: pendant triangle peels away, K4 survives with support 2") {
    // order 10 -> K4 on {1,2,3,4}; order 20 -> triangle {4,5,6}.
    // Triangle edges have support 1 (< 2) and peel in round 1; every
    // K4 edge sits in exactly 2 triangles and is stable.
    val dir = tempDir("r9btruss")
    (Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
      (20L, 4L), (20L, 5L), (20L, 6L)))
      .toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q_ktruss")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)), got.toString)
  }

  test("graph_sssp: the lightest path wins over the fewest hops; unreachable is -1") {
    // 0→2 directly at weight 50, or 0→1→2 at 1 + 1: BFS reaches 2 in
    // one hop, SSSP takes the two-hop path at distance 2. Nation 3 has
    // no in-edge.
    val dir = tradeDir(Seq("ALGERIA", "BRAZIL", "CANADA", "DENMARK"),
      Seq((0L, 2L, 50.0), (0L, 1L, 1.0), (1L, 2L, 1.0)))
    val sssp = run("graph_sssp", dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sssp == Seq(
      ("DENMARK", -1L), ("ALGERIA", 0L), ("BRAZIL", 1L), ("CANADA", 2L)), sssp.toString)
    val bfs = run("graph_bfs", dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(bfs == Seq(
      ("DENMARK", -1L), ("ALGERIA", 0L), ("BRAZIL", 1L), ("CANADA", 1L)), bfs.toString)
  }

  test("q_kcore: K4 plus a pendant — the pendant is peeled, K4 is the 3-core") {
    // order 10 -> K4 on {1,2,3,4}; order 20 -> pendant edge {4,5}.
    // Round 1 drops part 5 (degree 1 < 3); part 4 keeps degree 3 in K4
    // and round 2 changes nothing.
    val dir = coPurchaseDir(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L),
      (20L, 4L), (20L, 5L)))
    val got = run("q_kcore", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), got.toString)
  }

  test("q_graph_modularity: bridged triangles score Q = 5/14 exactly") {
    val li = Seq((10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 4L), (20L, 5L), (20L, 6L), (30L, 3L), (30L, 4L))
    val dir = coPurchaseDir(li)
    val r = SparkEntry.queries("q_graph_modularity")(spark, dir).collect().head
    // LPA communities {1,2,3} and {4,5,6}; m2=14 directed edges, 12
    // intra-community, d_c = 7 each: Q = (12*14 - 2*49)/14^2 = 5/14
    assert(r.getAs[Long]("n_communities") == 2L)
    assert(r.getAs[Long]("n_edges") == 7L)
    assert(r.getAs[Long]("l_in") == 6L)
    assert(math.abs(r.getAs[Double]("modularity") - 5.0 / 14.0) < 1e-12)
  }

  test("graph_wcc: two chains label every node with its component minimum") {
    // orders (% 10 == 0 to pass the sample filter) define cliques:
    // edge {1,2} and path {3,4},{4,5} -> components {1,2} and {3,4,5}
    val dir = coPurchaseDir(Seq((10L, 1L), (10L, 2L),
      (20L, 3L), (20L, 4L), (30L, 4L), (30L, 5L)))
    val got = SparkEntry.queries("graph_wcc")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L)), got.toString)
  }

  test("graph_clustering_coeff: every triangle corner is credited, deg-1 nodes drop") {
    // triangle {1,2,3} (order 10) + pendant edge {3,4} (order 20):
    // lcc(1)=lcc(2)=1 (their whole neighborhood is closed),
    // lcc(3)=2*1/(3*2)=1/3, node 4 has deg 1 -> excluded.
    val dir = coPurchaseDir(Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L)))
    val got = SparkEntry.queries("graph_clustering_coeff")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 1000000000L),
      (2L, 2L, 1L, 1000000000L),
      (3L, 3L, 1L, 333333333L)), got.toString)
  }

  test("graph_assortativity: hub-to-leaf pendant drives r negative") {
    // triangle {1,2,3} + pendant {3,4}: degrees 2,2,3,1 over 8 edge
    // rows -> Σjk=38, Σj=18, Σj²=44, r = (8·38−18²)/(8·44−18²) = −20/28
    val dir = coPurchaseDir(Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 3L), (20L, 4L)))
    val got = SparkEntry.queries("graph_assortativity")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((4L, 38L, 18L, 44L)), r.toString)
    assert(math.abs(r.getDouble(4) - (-20.0 / 28.0)) < 1e-15, r.toString)
  }
}

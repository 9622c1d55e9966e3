package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Rounds
import graft.sources.Tables

/** PageRank — the canonical iterative-MapReduce example (Page et al.
  * 1999; the Hadoop/Spark tutorial workload), run over a graph derived
  * from the warehouse: nation→nation trade edges (customer nation →
  * supplier nation per purchased line).
  *
  * Determinism across engines: ranks are integer nano-units (1e9 = 1.0)
  * and every step is integer arithmetic — init 1e9/N, contribution
  * rank/outdeg (integer div), damping (85·s)/100 (integer div), teleport
  * 0.15e9/N — so ten iterations produce bit-identical longs on any
  * engine, with no float-summation order sensitivity. The oracle unrolls
  * the same ten iterations as chained CTEs.
  *
  * Scale: each iteration is one shuffle (contributions re-keyed by dst
  * — the MapReduce formulation); edges are localCheckpoint'd so the
  * 4-table derivation runs once, and each iteration's ranks are a
  * `Rounds` pin.
  */
object Graph {

  private val Iters = 10

  /** Nation→nation trade edges (customer nation → supplier nation per
    * purchased line), shared by pagerank and graph_bfs. ≤ N² rows after
    * distinct; localCheckpoint truncates the 4-table lineage so
    * iterative consumers re-read a materialized edge list. */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey")
    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val sup = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .select($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .distinct()
      .localCheckpoint()
  }

  /** Shared oracle fragment for the trade-edge list. */
  private val edgesCte =
    """edges AS MATERIALIZED (
      |  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey)""".stripMargin

  /** The integer rank recurrence shared by pagerank and graph_ppr:
    * `Iters` rounds from `init`, each node taking its `restart` term
    * plus `(85·s) div 100` of its in-contributions `rank_n div deg`.
    * The two keys differ only in the `init` and `restart` columns. */
  private def rankRounds(edges: DataFrame, nodes: DataFrame,
                         init: Column, restart: Column): DataFrame = {
    import edges.sparkSession.implicits._
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    Rounds.run(nodes.select($"id", init.as("rank_n")), Iters) { (ranks, _) =>
      val contribs = edges
        .join(outdeg, "src")
        .join(ranks.select($"id".as("src"), $"rank_n"), "src")
        .select($"dst", expr("rank_n div deg").as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("s"))
      nodes.join(contribs, $"id" === $"dst", "left")
        .select($"id",
          (restart + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("rank_n"))
    }.state
  }

  private def pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    val n = nodes.count() // bounded scalar (dimension cardinality), not data-sized
    rankRounds(edges, nodes, init = lit(1000000000L / n), restart = lit(150000000L / n))
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"),
        ($"rank_n".cast("double") / 1000000000.0).as("pr_score"))
      .orderBy($"pr_score".desc, $"nation")
  }

  private val pagerankSql: String = {
    // MATERIALIZED: edges/outdeg are referenced by all 10 iteration
    // CTEs — without the hint DuckDB may re-inline the 4-table join
    // per reference (OOM at sf0.1).
    val head =
      s"""WITH $edgesCte,
        |outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT n_nationkey AS id FROM nation),
        |cnt AS (SELECT COUNT(*) AS n FROM nodes),
        |pr0 AS (SELECT id, 1000000000 // n AS rank_n FROM nodes CROSS JOIN cnt)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.id AS id, (150000000 // cnt.n) + (85 * COALESCE(c.s, 0)) // 100 AS rank_n
         |  FROM nodes nd CROSS JOIN cnt
         |  LEFT JOIN (
         |    SELECT e.dst AS did, SUM(p.rank_n // o.deg) AS s
         |    FROM edges e JOIN outdeg o ON e.src = o.src JOIN pr${i - 1} p ON p.id = e.src
         |    GROUP BY e.dst) c ON nd.id = c.did)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT n_name AS nation, CAST(rank_n AS DOUBLE)/1000000000.0 AS pr_score
       |FROM pr$Iters JOIN nation ON id = n_nationkey
       |ORDER BY pr_score DESC, nation""".stripMargin
  }

  /** BFS to FIXPOINT: hop distance from nation 0 over the directed
    * trade graph (the iterative-frontier pattern — label propagation /
    * reachability — as chained relational steps). All-integer state, so
    * every engine reproduces the distances bit-exactly; unreachable
    * nodes report -1.
    *
    * Iteration runs until an iteration changes no distance (the
    * convergence check is a scalar count), hard-bounded by |V| — so
    * every reachable node gets its TRUE distance, with no assumed
    * diameter bound (an under-sized fixed bound would silently
    * mislabel far nodes as unreachable).
    * The oracle computes the same fixpoint with a recursive CTE
    * (min over all path lengths, pruned at d < 999 — path lengths
    * beyond |V|-1 can't be shortest).
    *
    * Scale shape: the unit-weight, single-root case of
    * [[shortestPaths]] (one edges⋈dist join + a min-aggregate per
    * round, the MapReduce BFS formulation). */
  private def graphBfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    val maxIters = nodes.count() // dim-table scalar: diameter ≤ |V| - 1
    shortestPaths(Some(0L), nodes, tradeEdges(s, dir).withColumn("w", lit(1L)), maxIters)
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"),
        when($"d" >= Unreached, -1L).otherwise($"d").as("hops"))
      .orderBy($"hops", $"nation")
  }

  /** Distance for a node no path reaches yet; every real path sum (at
    * most |V|−1 edges of weight ≤ 50 here) stays far below it. */
  private val Unreached = 1000000000L

  /** Shortest-path relaxation to fixpoint, the one body under
    * graph_bfs, graph_sssp, graph_closeness and graph_betweenness:
    * synchronous Bellman–Ford from the node `root`, or from every node
    * when it is None, over `nodes` (`id`) and positive-weight `edges`
    * (src, dst, w). State is (root, id, d), d = [[Unreached]] where no
    * path is known. A round relaxes the edges out of every reached node
    * — one join keyed by src plus a min-aggregate keyed by (root, dst) —
    * and the loop stops once a round changes no distance (one scalar
    * count) or after `maxRounds`, each caller's own cap. BFS is the
    * w = 1, single-root case. The result may carry an extra `old`
    * column. */
  private def shortestPaths(root: Option[Long], nodes: DataFrame,
                            edges: DataFrame, maxRounds: Long): DataFrame = {
    val pairs = root match {
      case Some(r) => nodes.select(lit(r).as("root"), col("id"))
      case None => nodes.select(col("id").as("root")).crossJoin(nodes)
    }
    val init = pairs
      .select(col("root"), col("id"),
        when(col("root") === col("id"), 0L).otherwise(Unreached).as("d"))
      .localCheckpoint()
    Rounds.run(init, maxRounds, _.filter(col("d") =!= col("old")).count() == 0L) {
      (dist, _) =>
        val relaxed = dist.filter(col("d") < Unreached)
          .join(edges, col("id") === col("src"))
          .groupBy(col("root"), col("dst")).agg(min(col("d") + col("w")).as("dr"))
          .select(col("root").as("rroot"), col("dst"), col("dr"))
        dist.join(relaxed, col("root") === col("rroot") && col("id") === col("dst"), "left")
          .select(col("root"), col("id"),
            least(col("d"), coalesce(col("dr"), lit(Unreached))).as("d"),
            col("d").as("old"))
    }.state
  }

  private val graphBfsSql: String =
    s"""WITH RECURSIVE $edgesCte,
       |nodes AS (SELECT n_nationkey AS id FROM nation),
       |reach(id, d) AS (
       |  SELECT 0, 0
       |  UNION
       |  SELECT e.dst, r.d + 1
       |  FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.d < 999),
       |best AS (SELECT id, MIN(d) AS d FROM reach GROUP BY id)
       |SELECT n_name AS nation,
       |  CAST(COALESCE(b.d, -1) AS BIGINT) AS hops
       |FROM nodes LEFT JOIN best b ON nodes.id = b.id
       |JOIN nation ON nodes.id = n_nationkey
       |ORDER BY hops, nation""".stripMargin

  /** k-core decomposition (k = 3) of the part co-purchase graph — the
    * third iterative shape next to PageRank (fixed iterations) and BFS
    * (monotone frontier growth): monotone SET SHRINKAGE peeled to
    * fixpoint. Each round keeps vertices with ≥ k surviving neighbors;
    * the survivor set only shrinks, so count-stability ⇒ set-stability
    * and one bounded scalar count per round is the convergence check
    * (graph_bfs precedent). Edges are localCheckpoint'd once and each
    * round's survivor set is a `Rounds` pin; a round is one
    * join-degree-filter pass — one shuffle on the vertex key.
    * The oracle replays the SAME round semantics as a recursive CTE
    * run to the shared 60-round cap: survivors re-assert each round,
    * so the round-60 row set IS the fixpoint whenever peeling
    * converges earlier — Spark's early stop and the oracle's full
    * unroll agree by construction. */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 3
    val maxRounds = 60
    val li = Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .distinct()
    val ed = pairs.select($"pa".as("a"), $"pb".as("b"))
      .unionAll(pairs.select($"pb".as("a"), $"pa".as("b")))
      .localCheckpoint()
    val surv0 = ed.select($"a".as("v")).distinct().localCheckpoint()
    val n0 = surv0.count()
    val surv = Rounds.run(surv0, if (n0 == 0L) 0 else maxRounds,
        Rounds.unchanged(n0)(_.count())) { (surv, _) =>
      ed.join(surv.select($"v".as("va")), $"a" === $"va")
        .join(surv.select($"v".as("vb")), $"b" === $"vb")
        .groupBy($"a").agg(count(lit(1)).as("deg"))
        .filter($"deg" >= k)
        .select($"a".as("v"))
    }.state
    ed.join(surv.select($"v".as("va")), $"a" === $"va")
      .join(surv.select($"v".as("vb")), $"b" === $"vb")
      .groupBy($"a".as("part_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy($"part_id")
  }

  private val qKcoreSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |ed AS (SELECT pa AS a, pb AS b FROM pairs
      |       UNION ALL SELECT pb, pa FROM pairs),
      |surv(r, v) AS (
      |  SELECT 0, a FROM (SELECT DISTINCT a FROM ed) t
      |  UNION ALL
      |  SELECT sa.r + 1, ed.a
      |  FROM ed JOIN surv sa ON ed.a = sa.v
      |          JOIN surv sb ON ed.b = sb.v AND sb.r = sa.r
      |  WHERE sa.r < 60
      |  GROUP BY sa.r, ed.a
      |  HAVING COUNT(*) >= 3),
      |core AS (SELECT v FROM surv WHERE r = 60)
      |SELECT ed.a AS part_id, CAST(COUNT(*) AS BIGINT) AS core_degree
      |FROM ed JOIN core ca ON ed.a = ca.v JOIN core cb ON ed.b = cb.v
      |GROUP BY ed.a ORDER BY part_id""".stripMargin

  // ------------------------------------------------------------- q_ktruss

  /** 4-truss decomposition of the sampled co-purchase graph: peel
    * edges whose triangle SUPPORT (triangles through the edge, counted
    * among surviving edges) falls below k−2 = 2, to fixpoint — the
    * edge-level analogue of q_kcore's vertex peel, and the standard
    * cohesive-subgraph primitive one level up from triangle counting.
    *
    * State is the CANONICAL (a<b) edge list and every triangle x<y<z
    * is enumerated exactly ONCE per round (the q_triangles wedge shape:
    * (x,y)⋈(y,z) + semi-join closure (x,z)), then fanned out to its
    * three member edges for the support count — 6× less wedge work
    * than counting per directed edge, and every join stays an
    * equi-join. Convergence = scalar edge-count stability (monotone
    * shrink ⇒ count-stable is set-stable, the q_kcore argument), and
    * the round cap equals the oracle's recursive depth, so even an
    * unconverged cap state matches BY CONSTRUCTION — survivors
    * re-assert each round on both engines.
    *
    * Scale: one wedge equi-join + one closure semi-join + an edge-key
    * count per round, all shuffled on edge/vertex keys; the input is
    * the C(parts-per-order,2)-bounded co-purchase sample. At 100 TB
    * the wedge join gets the linkPred hub filter (deg cap) first —
    * here the sampled graph is already bounded. */
  private def qKtruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val minSupport = 2 // k = 4
    val maxRounds = 20
    val li = Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .distinct()
    def supportOf(ed: DataFrame): DataFrame =
      ed.as("e1")
        .join(ed.as("e2"), col("e1.b") === col("e2.a"))
        .join(ed.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"),
          "left_semi")
        .select(explode(array(
          struct(col("e1.a").as("a"), col("e1.b").as("b")),
          struct(col("e1.b").as("a"), col("e2.b").as("b")),
          struct(col("e1.a").as("a"), col("e2.b").as("b")))).as("e"))
        .groupBy($"e.a".as("a"), $"e.b".as("b"))
        .agg(count(lit(1)).as("support"))
    val ed0 = pairs.select($"pa".as("a"), $"pb".as("b")).localCheckpoint()
    val n0 = ed0.count()
    val ed = Rounds.run(ed0, if (n0 == 0L) 0 else maxRounds,
        Rounds.unchanged(n0)(_.count())) { (ed, _) =>
      supportOf(ed).filter($"support" >= minSupport).select($"a", $"b")
    }.state
    supportOf(ed)
      .select($"a".as("src"), $"b".as("dst"), $"support")
      .orderBy($"src", $"dst")
  }

  private val qKtrussSql: String =
    """WITH RECURSIVE li AS (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |trs(r, a, b) AS (
      |  SELECT 0, pa, pb FROM pairs
      |  UNION ALL
      |  SELECT r + 1, edge['a'] AS a, edge['b'] AS b FROM (
      |    SELECT e1.r AS r, unnest([
      |        {'a': e1.a, 'b': e1.b},
      |        {'a': e1.b, 'b': e2.b},
      |        {'a': e1.a, 'b': e2.b}]) AS edge
      |    FROM trs e1
      |    JOIN trs e2 ON e2.r = e1.r AND e1.b = e2.a
      |    JOIN trs e3 ON e3.r = e1.r AND e3.a = e1.a AND e3.b = e2.b
      |    WHERE e1.r < 20) t
      |  GROUP BY r, edge['a'], edge['b']
      |  HAVING COUNT(*) >= 2),
      |fix AS (SELECT a, b FROM trs WHERE r = 20)
      |SELECT edge['a'] AS src, edge['b'] AS dst,
      |  CAST(COUNT(*) AS BIGINT) AS support
      |FROM (
      |  SELECT unnest([
      |      {'a': e1.a, 'b': e1.b},
      |      {'a': e1.b, 'b': e2.b},
      |      {'a': e1.a, 'b': e2.b}]) AS edge
      |  FROM fix e1
      |  JOIN fix e2 ON e1.b = e2.a
      |  JOIN fix e3 ON e3.a = e1.a AND e3.b = e2.b) t
      |GROUP BY edge['a'], edge['b']
      |ORDER BY src, dst""".stripMargin

  /** Weighted single-source shortest paths (Bellman–Ford to fixpoint)
    * from nation 0 over the trade graph — the fourth iterative shape:
    * monotone VALUE relaxation (BFS is its unit-weight special case).
    * Edge weight = MIN(l_quantity) over the lines behind the edge —
    * small exact integers, so every engine reproduces the distances
    * bit-identically.
    *
    * Iterates until a round relaxes nothing (scalar count check, the
    * graph_bfs pattern), hard-bounded by |V|−1 — Bellman–Ford's own
    * bound, so the fixpoint IS the true shortest distance (weights are
    * positive; no negative cycles possible). The oracle enumerates all
    * path sums of ≤ 24 edges with a recursive CTE (25 nations ⇒ a
    * shortest path has ≤ 24 edges; sums ≤ 24·50 keep the recursion's
    * distinct-(id,d,h) state bounded) and takes the per-node MIN.
    *
    * Scale shape: the single-root case of [[shortestPaths]] — dist is
    * node-sized, so at cluster scale it broadcasts into the edge scan. */
  private def graphSssp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey", $"l_quantity")
    val o = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
    val c = Tables.customer(s, dir).select($"c_custkey", $"c_nationkey")
    val sup = Tables.supplier(s, dir).select($"s_suppkey", $"s_nationkey")
    val edges = l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(c), $"o_custkey" === $"c_custkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .filter($"c_nationkey" =!= $"s_nationkey")
      .groupBy($"c_nationkey".as("src"), $"s_nationkey".as("dst"))
      .agg(min($"l_quantity".cast("long")).as("w"))
      .localCheckpoint()
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    val maxIters = nodes.count() - 1 // Bellman–Ford round bound: |V|−1
    shortestPaths(Some(0L), nodes, edges, maxIters)
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"),
        when($"d" >= Unreached, -1L).otherwise($"d").as("dist"))
      .orderBy($"dist", $"nation")
  }

  private val graphSsspSql: String =
    """WITH RECURSIVE wedges AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst,
      |    MIN(CAST(l_quantity AS BIGINT)) AS w
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE c_nationkey <> s_nationkey
      |  GROUP BY 1, 2),
      |nodes AS (SELECT n_nationkey AS id FROM nation),
      |reach(id, d, h) AS (
      |  SELECT 0, CAST(0 AS BIGINT), 0
      |  UNION
      |  SELECT e.dst, r.d + e.w, r.h + 1
      |  FROM reach r JOIN wedges e ON e.src = r.id
      |  WHERE r.h < 24 AND r.d + e.w <= 1200),
      |best AS (SELECT id, MIN(d) AS d FROM reach GROUP BY id)
      |SELECT n_name AS nation, CAST(COALESCE(b.d, -1) AS BIGINT) AS dist
      |FROM nodes LEFT JOIN best b ON nodes.id = b.id
      |JOIN nation ON nodes.id = n_nationkey
      |ORDER BY dist, nation""".stripMargin

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007) over the part co-purchase graph — the fourth iterative
    * shape: per-round MAJORITY VOTE (vs PageRank's weighted sum, BFS's
    * min, k-core's degree filter). Three synchronous rounds from
    * self-labels; each node adopts the most frequent label among its
    * neighbors plus itself (tie → max count, then MIN label — fully
    * deterministic, so both engines replay the identical rounds).
    *
    * Scale shape: a round is votes = edges ⋈ labels re-keyed by dst
    * (one vertex-key shuffle) + two key-only aggregations; state is
    * node-sized (v, lbl) pairs, never edge-sized, and each round's
    * labels are a `Rounds` pin, so lineage stays one round deep.
    * The oracle unrolls the same three rounds as chained CTEs. */
  /** Directed-both-ways co-purchase edge list (each undirected edge
    * appears twice), shared by graph_label_prop and
    * q_graph_modularity. */
  private def coPurchaseEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_partkey")
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
      .localCheckpoint()
  }

  /** Local clustering coefficient (Watts–Strogatz) per node of the
    * co-purchase graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) —
    * the "how clique-like is this node's neighborhood" readout that
    * complements the global triangle count (q_triangles counts per
    * anchor vertex only; this attributes every triangle to all three
    * corners). Triangles enumerate once over the ORDERED edge list
    * (a<b<c — each triangle exactly one row) via the same wedge join
    * + existence check as q_triangles, then fan out 3 corner rows;
    * degree comes from the symmetric edge list. The coefficient ships
    * as an exact integer ppb ((2·tri·10⁹) div (deg·(deg−1))) so both
    * engines hash identically. Scale: wedge volume is Σdeg² of the
    * sampled subgraph — the same bound q_triangles already carries. */
  private def graphClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sym = coPurchaseEdges(s, dir)
    val ord = sym.filter($"src" < $"dst")
      .select($"src".as("pa"), $"dst".as("pb"))
      .localCheckpoint()
    val tris = ord.as("e1")
      .join(ord.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(ord.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"), "left_semi")
      .select(col("e1.pa").as("a"), col("e1.pb").as("b"), col("e2.pb").as("c"))
    val perNode = tris
      .select(explode(array($"a", $"b", $"c")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
    val deg = sym.groupBy($"src".as("node")).agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("node"), "left")
      .select($"node", $"deg",
        coalesce($"n_tri", lit(0L)).as("n_tri"),
        expr("(coalesce(n_tri, 0L) * 2000000000L) div (deg * (deg - 1L))")
          .as("lcc_ppb"))
      .filter($"deg" >= 2)
      .orderBy($"node")
  }

  private val graphClusteringCoeffSql =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |ord AS (SELECT src AS pa, dst AS pb FROM pedges WHERE src < dst),
      |tris AS (SELECT e1.pa AS a, e1.pb AS b, e2.pb AS c
      |  FROM ord e1 JOIN ord e2 ON e1.pb = e2.pa
      |  WHERE EXISTS (SELECT 1 FROM ord e3
      |                WHERE e3.pa = e1.pa AND e3.pb = e2.pb)),
      |corners AS (SELECT a AS node FROM tris UNION ALL
      |  SELECT b FROM tris UNION ALL SELECT c FROM tris),
      |pt AS (SELECT node, COUNT(*) AS n_tri FROM corners GROUP BY node),
      |deg AS (SELECT src AS node, COUNT(*) AS deg FROM pedges GROUP BY src)
      |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(COALESCE(pt.n_tri, 0) AS BIGINT) AS n_tri,
      |  CAST((COALESCE(pt.n_tri, 0) * 2000000000)
      |    // (d.deg * (d.deg - 1)) AS BIGINT) AS lcc_ppb
      |FROM deg d LEFT JOIN pt ON d.node = pt.node
      |WHERE d.deg >= 2 ORDER BY d.node""".stripMargin

  /** Degree assortativity (Newman 2002) of the co-purchase graph: the
    * Pearson correlation of endpoint degrees over all edges — positive
    * means hubs link to hubs (social-network shape), negative means
    * hubs link to leaves (star/hub-and-spoke shape). Over the symmetric
    * edge list the j and k marginals coincide, so
    * r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²) with M = 2m edge rows.
    * Every sum is a 128-bit exact integer (DECIMAL(38)/HUGEINT — the
    * q_graph_modularity pattern); both engines cast the two exact
    * differences to double and do ONE division, so the hash cannot
    * drift on float summation order. Scale: one degree aggregation +
    * two vertex-key joins + one global agg — no wedge blow-up; the
    * joins shuffle on the vertex key and AQE broadcasts the degree
    * side only when it measures small. */
  private def graphAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = coPurchaseEdges(s, dir)
    val deg = edges.groupBy($"src".as("v")).agg(count(lit(1)).as("deg"))
    val jk = edges
      .join(deg.select($"v".as("src"), $"deg".as("dj")), "src")
      .join(deg.select($"v".as("dst"), $"deg".as("dk")), "dst")
    jk.agg(
        count(lit(1)).as("m2"),
        sum($"dj".cast(d38) * $"dk").as("sum_jk"),
        sum($"dj".cast(d38)).as("sum_j"),
        sum($"dj".cast(d38) * $"dj").as("sum_j2"))
      .select(
        expr("m2 div 2").cast("long").as("n_edges"),
        $"sum_jk".cast("long").as("sum_jk"),
        $"sum_j".cast("long").as("sum_deg2"),
        $"sum_j2".cast("long").as("sum_j2"),
        (($"m2".cast(d38) * $"sum_jk" - $"sum_j" * $"sum_j").cast("double") /
          ($"m2".cast(d38) * $"sum_j2" - $"sum_j" * $"sum_j").cast("double"))
          .as("assortativity"))
  }

  private val graphAssortativitySql =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT src AS v, COUNT(*) AS deg FROM pedges GROUP BY src),
      |jk AS (SELECT dj.deg AS j, dk.deg AS k FROM pedges e
      |  JOIN deg dj ON e.src = dj.v JOIN deg dk ON e.dst = dk.v),
      |s AS (SELECT COUNT(*) AS m2,
      |    SUM(CAST(j AS HUGEINT) * k) AS sum_jk,
      |    SUM(CAST(j AS HUGEINT)) AS sum_j,
      |    SUM(CAST(j AS HUGEINT) * j) AS sum_j2
      |  FROM jk)
      |SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
      |  CAST(sum_jk AS BIGINT) AS sum_jk,
      |  CAST(sum_j AS BIGINT) AS sum_deg2,
      |  CAST(sum_j2 AS BIGINT) AS sum_j2,
      |  CAST(m2 * sum_jk - sum_j * sum_j AS DOUBLE)
      |    / CAST(m2 * sum_j2 - sum_j * sum_j AS DOUBLE) AS assortativity
      |FROM s""".stripMargin

  /** Weakly-connected components of the co-purchase graph as a
    * driver-gated key: the two-phase large-star/small-star contraction
    * (operators.Dedup.clusters — O(log n) rounds, the 100 TB CC) runs
    * on the same %10-sampled symmetric edge list as LPA, labelling
    * every node with its component minimum. The oracle re-derives the
    * labels from first principles with a recursive reachability
    * closure + MIN — a completely different algorithm arriving at the
    * same fixpoint, which is exactly what you want a CC oracle to be. */
  private def graphWcc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = coPurchaseEdges(s, dir)
      .select($"src".as("doc_a"), $"dst".as("doc_b"))
    graft.operators.Dedup.clusters(s, edges)
      .select($"doc_id".as("node"), $"cluster".as("component"))
      .orderBy($"node")
  }

  private val graphWccSql =
    """WITH RECURSIVE
      |li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |nodes AS (SELECT DISTINCT src AS v FROM pedges),
      |r AS (
      |  SELECT v, v AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst AS v, r.lbl FROM r JOIN pedges e ON e.src = r.v)
      |SELECT v AS node, MIN(lbl) AS component FROM r
      |GROUP BY v ORDER BY node""".stripMargin

  /** Final (v, lbl) assignment after 3 synchronous LPA rounds, pinned
    * (the last round's `Rounds` pin). */
  private def lpaLabels(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    val lab0 = edges.select($"src".as("v")).distinct()
      .withColumn("lbl", $"v")
      .localCheckpoint()
    Rounds.run(lab0, 3) { (lab, _) =>
      val votes = edges.join(lab.withColumnRenamed("v", "src"), "src")
        .select($"dst".as("v"), $"lbl")
        .unionByName(lab) // self-vote
      votes.groupBy($"v", $"lbl").agg(count(lit(1)).as("cnt"))
        .groupBy($"v")
        .agg(max(struct($"cnt", (-$"lbl").as("neg"))).as("m"))
        .select($"v", (-$"m.neg").as("lbl"))
    }.state
  }

  private def graphLabelProp(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lpaLabels(coPurchaseEdges(s, dir))
      .groupBy($"lbl".as("community")).agg(count(lit(1)).as("n_nodes"))
      .orderBy($"n_nodes".desc, $"community")
      .limit(50)
  }

  /** Common-neighbor Jaccard node similarity — the classic
    * link-prediction score (Liben-Nowell & Kleinberg 2003): for node
    * pairs sharing ≥ 1 neighbor, jaccard = common/(deg_a + deg_b −
    * common). Candidates come from the wedge join (the q_triangles
    * shape, Σdeg² bounded on the sampled graph), counts and degrees
    * are exact integers, and the output ranking uses the integer key
    * (common·10⁹) div union so no float ordering exists; the jaccard
    * column itself is one double division. is_edge marks pairs
    * already connected (link prediction scores the rest). */
  /** Sampled (%50 orders) + HUB-FILTERED (deg ≤ 64) co-purchase
    * subgraph shared by the link-prediction keys. The hub filter is
    * the super-node defense (deg² wedges, no signal); the sample is
    * what production link prediction does — all-pairs common-neighbor
    * counting is inherently Σdeg²-ish (the unsampled uncapped form
    * measured 109s at sf10 vs the q_triangles cost class after). */
  private def linkPredEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).filter($"l_orderkey" % 50 === 0)
      .select($"l_orderkey", $"l_partkey")
    val all = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
      .localCheckpoint()
    val keepN = all.groupBy($"src").agg(count(lit(1)).as("d0"))
      .filter($"d0" <= 64).select($"src".as("v"))
      .localCheckpoint() // two endpoint semi-joins below
    all
      .join(keepN.select($"v".as("src")), Seq("src"), "left_semi")
      .join(keepN.select($"v".as("dst")), Seq("dst"), "left_semi")
      .select($"src", $"dst")
      .localCheckpoint()
  }

  /** Shared oracle fragment for the sampled hub-filtered subgraph. */
  private val linkPredEdgesCtes =
    """li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 50 = 0),
      |pedges0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |keepn AS (SELECT src AS v FROM pedges0 GROUP BY src HAVING COUNT(*) <= 64),
      |pedges AS (SELECT e.src, e.dst FROM pedges0 e
      |  JOIN keepn ka ON e.src = ka.v JOIN keepn kb ON e.dst = kb.v),
      |deg AS (SELECT src, COUNT(*) AS deg FROM pedges GROUP BY src)""".stripMargin

  private def graphJaccardLinks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = linkPredEdges(s, dir)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val wedges = edges.as("e1").join(edges.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .groupBy(col("e1.src").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("common"))
      // support threshold: most random pairs share exactly one
      // neighbor; requiring >= 2 prunes that bulk BEFORE the degree
      // joins touch the pair table (the oracle prunes identically)
      .filter($"common" >= 2L)
    val isEdge = edges.select($"src".as("a"), $"dst".as("b"), lit(1L).as("ie"))
    wedges
      .join(deg.select($"src".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"src".as("b"), $"deg".as("db")), "b")
      .withColumn("uni", $"da" + $"db" - $"common")
      .join(isEdge, Seq("a", "b"), "left")
      .orderBy(expr("(common * 1000000000) div uni").desc, $"a", $"b")
      .limit(50)
      .select($"a".as("node_a"), $"b".as("node_b"), $"common",
        ($"common".cast("double") / $"uni").as("jaccard"),
        coalesce($"ie", lit(0L)).as("is_edge"))
  }

  private val graphJaccardLinksSql =
    s"""WITH $linkPredEdgesCtes,
      |w AS (SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS common
      |  FROM pedges e1 JOIN pedges e2 ON e1.dst = e2.src AND e1.src < e2.dst
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |sc AS (SELECT w.a, w.b, w.common, da.deg + db.deg - w.common AS uni
      |  FROM w JOIN deg da ON w.a = da.src JOIN deg db ON w.b = db.src)
      |SELECT a AS node_a, b AS node_b, CAST(common AS BIGINT) AS common,
      |  CAST(common AS DOUBLE) / uni AS jaccard,
      |  CAST(CASE WHEN EXISTS (SELECT 1 FROM pedges p
      |    WHERE p.src = sc.a AND p.dst = sc.b) THEN 1 ELSE 0 END AS BIGINT) AS is_edge
      |FROM sc
      |ORDER BY (common * 1000000000) // uni DESC, node_a, node_b LIMIT 50""".stripMargin

  /** Adamic–Adar link prediction on the same subgraph — the
    * hub-DISCOUNTED score: each common neighbor w contributes
    * 1/ln(deg w) instead of 1 (rare shared neighbors are stronger
    * evidence than popular ones). Per-center weights are
    * micro-quantized (round(10⁶/ln deg), one scalar ln per edge row)
    * BEFORE the pair sum, so aggregation order cannot perturb the
    * exact-integer ranking; same wedge join, support threshold, and
    * bounded subgraph as graph_jaccard_links. */
  private def qGraphAdamicAdar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = linkPredEdges(s, dir)
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
    val e1w = edges.join(deg.select($"src".as("dst"), $"deg"), "dst")
      .filter($"deg" >= 2) // a deg-1 center cannot form a wedge; ln(1) = 0
      .select($"src", $"dst",
        expr("CAST(round(1000000 / ln(deg)) AS BIGINT)").as("wmicro"))
    val pairs = e1w.as("e1").join(edges.as("e2"),
        col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
      .groupBy(col("e1.src").as("a"), col("e2.dst").as("b"))
      .agg(count(lit(1)).as("common"), sum(col("e1.wmicro")).as("aam"))
      .filter($"common" >= 2L)
    val isEdge = edges.select($"src".as("a"), $"dst".as("b"), lit(1L).as("ie"))
    pairs.join(isEdge, Seq("a", "b"), "left")
      .orderBy($"aam".desc, $"a", $"b")
      .limit(50)
      .select($"a".as("node_a"), $"b".as("node_b"), $"common",
        ($"aam".cast("double") / 1000000).as("adamic_adar"),
        coalesce($"ie", lit(0L)).as("is_edge"))
  }

  private val qGraphAdamicAdarSql =
    s"""WITH $linkPredEdgesCtes,
      |aw AS (SELECT e.src, e.dst,
      |    CAST(ROUND(1000000 / ln(d.deg)) AS BIGINT) AS wmicro
      |  FROM pedges e JOIN deg d ON e.dst = d.src WHERE d.deg >= 2),
      |w2 AS (SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS common,
      |    SUM(e1.wmicro) AS aam
      |  FROM aw e1 JOIN pedges e2 ON e1.dst = e2.src AND e1.src < e2.dst
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT a AS node_a, b AS node_b, CAST(common AS BIGINT) AS common,
      |  CAST(aam AS DOUBLE) / 1000000 AS adamic_adar,
      |  CAST(CASE WHEN EXISTS (SELECT 1 FROM pedges p
      |    WHERE p.src = w2.a AND p.dst = w2.b) THEN 1 ELSE 0 END AS BIGINT) AS is_edge
      |FROM w2
      |ORDER BY aam DESC, node_a, node_b LIMIT 50""".stripMargin

  /** Newman modularity of the LPA communities — the quality readout
    * that says whether graph_label_prop found real structure:
    * Q = L_in/m − Σ_c d_c²/(4m²), computed on the directed-both-ways
    * edge list as Q = (lin2·m2 − Σd_c²)/m2² in EXACT integer
    * arithmetic (DECIMAL(38)/HUGEINT products) with one final double
    * division — bit-identical both engines. One edge-key join pair to
    * label endpoints + two key-only aggregations; no per-community
    * loops. */
  private def qGraphModularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val edges = coPurchaseEdges(s, dir)
    val lab = lpaLabels(edges) // pinned already: 3 consumers below
    val labeled = edges
      .join(lab.select($"v".as("src"), $"lbl".as("lsrc")), "src")
      .join(lab.select($"v".as("dst"), $"lbl".as("ldst")), "dst")
    val ec = labeled.agg(count(lit(1)).as("m2"),
      sum(when($"lsrc" === $"ldst", 1L).otherwise(0L)).as("lin2"))
    val deg = edges.groupBy($"src".as("v")).agg(count(lit(1)).as("deg"))
    val dc = deg.join(lab, "v").groupBy($"lbl").agg(sum($"deg").as("dcs"))
    val s2 = dc.agg(count(lit(1)).as("n_communities"),
      sum($"dcs".cast(d38) * $"dcs").as("sum_dc2"))
    ec.crossJoin(broadcast(s2)).select(
      $"n_communities",
      expr("m2 div 2").as("n_edges"),
      expr("lin2 div 2").as("l_in"),
      (($"lin2".cast(d38) * $"m2" - $"sum_dc2").cast("double") /
        ($"m2".cast("double") * $"m2")).as("modularity"))
  }

  /** Shared LPA oracle prefix: the sampled co-purchase graph (li/pedges),
    * self-labelled l0, and three chained majority rounds ending in l3.
    * ONE copy of the round semantics feeds both graph_label_prop and
    * q_graph_modularity so the two oracles cannot drift apart. */
  private val lpaOracleCtes = {
    def round(prev: String, cur: String): String =
      s"""c$cur AS (SELECT v, lbl, COUNT(*) AS cnt FROM (
         |    SELECT e.dst AS v, l.lbl AS lbl FROM pedges e JOIN l$prev l ON l.v = e.src
         |    UNION ALL SELECT v, lbl FROM l$prev) t
         |  GROUP BY v, lbl),
         |l$cur AS (SELECT v, lbl FROM (
         |    SELECT v, lbl, ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$cur) r WHERE rn = 1)""".stripMargin
    s"""li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
       |pedges AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
       |  FROM li a JOIN li b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM pedges),
       |${round("0", "1")},
       |${round("1", "2")},
       |${round("2", "3")}""".stripMargin
  }

  private val qGraphModularitySql =
    s"""WITH $lpaOracleCtes,
       |ec AS (SELECT COUNT(*) AS m2,
       |    SUM(CASE WHEN la.lbl = lb.lbl THEN 1 ELSE 0 END) AS lin2
       |  FROM pedges e JOIN l3 la ON e.src = la.v JOIN l3 lb ON e.dst = lb.v),
       |deg AS (SELECT src AS v, COUNT(*) AS deg FROM pedges GROUP BY 1),
       |dc AS (SELECT l.lbl, SUM(d.deg) AS dcs FROM deg d JOIN l3 l ON d.v = l.v GROUP BY 1),
       |s2 AS (SELECT COUNT(*) AS n_communities,
       |    SUM(CAST(dcs AS HUGEINT) * dcs) AS sum_dc2 FROM dc)
       |SELECT CAST(n_communities AS BIGINT) AS n_communities,
       |  CAST(m2 // 2 AS BIGINT) AS n_edges,
       |  CAST(lin2 // 2 AS BIGINT) AS l_in,
       |  CAST(CAST(lin2 AS HUGEINT) * m2 - sum_dc2 AS DOUBLE)
       |    / (CAST(m2 AS DOUBLE) * m2) AS modularity
       |FROM ec CROSS JOIN s2""".stripMargin

  private val graphLabelPropSql =
    s"""WITH $lpaOracleCtes
       |SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM l3 GROUP BY lbl
       |ORDER BY n_nodes DESC, community LIMIT 50""".stripMargin

  // ----------------------------------------------------------- graph_hits

  private val HitsIters = 8

  /** HITS (Kleinberg hubs & authorities) over the directed
    * nation-trade graph, $HitsIters power iterations with exact
    * integer L1 normalization.
    *
    * Cross-engine exactness: instead of the textbook L2 norm (a sqrt
    * whose low bits would have to survive 8 iterations of feedback),
    * each half-step rescales scores to nano units by the repo's
    * integer pattern `score·10^9 div Σscores` — iteration state stays
    * in BIGINT, so both engines walk bit-identical trajectories (the
    * pagerank `rank_n div deg` precedent, applied to a global sum).
    * Overflow headroom: scores sum to ~10^9 after each rescale, so
    * raw·10^9 ≤ ~1.0e18 < 2^63 regardless of graph size.
    *
    * Scale shape: the data-sized work is the one shared `tradeEdges`
    * derivation (bounded ≤N² output); each iteration then joins the
    * ≤N²-row edge list against an N-row score table — broadcast-sized
    * at any corpus scale where the dimension stays a dimension.
    *
    * Rounds: one `Rounds` round per half-step over one (id, hn, an)
    * state, authorities on odd rounds and hubs on even rounds, so each
    * half-step is pinned and the one it supersedes freed. */
  private def graphHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    // init pre-normalized (1e9 div |V|, the pagerank pattern): scores
    // then SUM to ≤1e9 after every rescale, so raw·10^9 stays < 2^63
    val n = nodes.count() // bounded scalar (dimension cardinality)
    val rescaled = coalesce(expr("(raw * 1000000000L) div s"), lit(0L))
    val h0 = nodes.select($"id", lit(1000000000L / n).as("hn"))
    Rounds.run(h0, 2 * HitsIters) { (st, round) =>
      if (round % 2 == 1) {
        val ar = edges.join(st.select($"id".as("src"), $"hn"), "src")
          .groupBy($"dst").agg(sum($"hn").as("raw"))
        val asum = ar.agg(sum($"raw").as("s"))
        st.join(ar, $"id" === $"dst", "left").crossJoin(broadcast(asum))
          .select($"id", $"hn", rescaled.as("an"))
      } else {
        val hr = edges.join(st.select($"id".as("dst2"), $"an"), $"dst" === $"dst2")
          .groupBy($"src").agg(sum($"an").as("raw"))
        val hsum = hr.agg(sum($"raw").as("s"))
        st.join(hr, $"id" === $"src", "left").crossJoin(broadcast(hsum))
          .select($"id", rescaled.as("hn"), $"an")
      }
    }.state
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"),
        $"hn".as("hub_nano"), $"an".as("auth_nano"),
        ($"hn".cast("double") / 1e9).as("hub_score"),
        ($"an".cast("double") / 1e9).as("auth_score"))
      .orderBy($"nation")
  }

  private val graphHitsSql: String = {
    // MATERIALIZED everywhere: ar_i/hr_i are each referenced twice (by
    // their sum CTE and the rescale CTE) — without the hint DuckDB may
    // re-inline, doubling the plan per half-step (2^16 scans of the
    // 4-table edge join → "too many open files" before it even OOMs).
    val head =
      s"""WITH $edgesCte,
         |nodes AS MATERIALIZED (SELECT n_nationkey AS id FROM nation),
         |cnt AS (SELECT COUNT(*) AS n FROM nodes),
         |h0 AS MATERIALIZED (
         |  SELECT id, CAST(1000000000 // n AS BIGINT) AS hn
         |  FROM nodes CROSS JOIN cnt)""".stripMargin
    val iters = (1 to HitsIters).map { i =>
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id, SUM(h.hn) AS raw
         |  FROM edges e JOIN h${i - 1} h ON h.id = e.src GROUP BY e.dst),
         |asum$i AS (SELECT SUM(raw) AS s FROM ar$i),
         |a$i AS MATERIALIZED (SELECT nd.id,
         |    COALESCE(CAST((ar.raw * 1000000000) // t.s AS BIGINT), 0) AS an
         |  FROM nodes nd CROSS JOIN asum$i t LEFT JOIN ar$i ar ON ar.id = nd.id),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, SUM(a.an) AS raw
         |  FROM edges e JOIN a$i a ON a.id = e.dst GROUP BY e.src),
         |hsum$i AS (SELECT SUM(raw) AS s FROM hr$i),
         |h$i AS MATERIALIZED (SELECT nd.id,
         |    COALESCE(CAST((hr.raw * 1000000000) // t.s AS BIGINT), 0) AS hn
         |  FROM nodes nd CROSS JOIN hsum$i t LEFT JOIN hr$i hr ON hr.id = nd.id)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT n_name AS nation, h.hn AS hub_nano, a.an AS auth_nano,
       |  CAST(h.hn AS DOUBLE)/1e9 AS hub_score,
       |  CAST(a.an AS DOUBLE)/1e9 AS auth_score
       |FROM h$HitsIters h JOIN a$HitsIters a ON a.id = h.id
       |JOIN nation ON h.id = n_nationkey
       |ORDER BY nation""".stripMargin
  }

  /** Personalized PageRank (Jeh & Widom 2003 / Haveliwala 2002) from
    * seed nation 0 over the directed trade graph — the ranking behind
    * related-item and who-to-follow features, where the teleport mass
    * returns to the SEED instead of spreading uniformly.
    *
    * Determinism: the pagerank integer pattern verbatim — nano-unit
    * ranks, `rank_n div deg` contributions, `(85·s) div 100` damping —
    * with the restart term `150000000` credited only to the seed row,
    * so ten iterations are bit-identical BIGINT on both engines.
    *
    * Scale shape: identical to pagerank — the same [[rankRounds]] with
    * the seed's init and restart columns. Personalization changes WHERE
    * teleport mass lands, not the plan. */
  private def graphPpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val seed = 0L
    rankRounds(tradeEdges(s, dir), Tables.nation(s, dir).select($"n_nationkey".as("id")),
        init = when($"id" === seed, 1000000000L).otherwise(0L),
        restart = when($"id" === seed, 150000000L).otherwise(0L))
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"), $"rank_n".as("ppr_nano"),
        ($"rank_n".cast("double") / 1000000000.0).as("ppr_score"))
      .orderBy($"ppr_score".desc, $"nation")
  }

  private val graphPprSql: String = {
    val head =
      s"""WITH $edgesCte,
        |outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |nodes AS (SELECT n_nationkey AS id FROM nation),
        |pr0 AS (SELECT id, CASE WHEN id = 0 THEN 1000000000 ELSE 0 END AS rank_n FROM nodes)""".stripMargin
    val iters = (1 to Iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.id AS id,
         |    (CASE WHEN nd.id = 0 THEN 150000000 ELSE 0 END)
         |      + (85 * COALESCE(c.s, 0)) // 100 AS rank_n
         |  FROM nodes nd
         |  LEFT JOIN (
         |    SELECT e.dst AS did, SUM(p.rank_n // o.deg) AS s
         |    FROM edges e JOIN outdeg o ON e.src = o.src JOIN pr${i - 1} p ON p.id = e.src
         |    GROUP BY e.dst) c ON nd.id = c.did)""".stripMargin
    }.mkString(",\n")
    s"""$head,
       |$iters
       |SELECT n_name AS nation, CAST(rank_n AS BIGINT) AS ppr_nano,
       |  CAST(rank_n AS DOUBLE)/1000000000.0 AS ppr_score
       |FROM pr$Iters JOIN nation ON id = n_nationkey
       |ORDER BY ppr_score DESC, nation""".stripMargin
  }

  /** Closeness centrality + eccentricity from a bounded PIVOT set
    * (here every nation — the full dimension graph; at corpus scale
    * the same operator runs from a sampled landmark set, the standard
    * pivot approximation for closeness on large graphs).
    *
    * Multi-source BFS: distance state keyed (root, id) — |pivots|·|V|
    * rows — relaxed to fixpoint by the same [[shortestPaths]] as
    * graph_bfs (monotone min, scalar convergence count, |V|-bounded).
    * Directed reachability.
    *
    * Closeness is the Wasserman–Faust normalized form, emitted as an
    * exact integer ppb — ((r−1)²·10⁹) div ((n−1)·Σd) where r = nodes
    * reached and Σd their hop sum — so the ranking carries no float;
    * eccentricity is the max finite hop (−1 for isolated roots). */
  private def graphCloseness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir).withColumn("w", lit(1L))
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    val maxIters = nodes.count() // dim-table scalar: diameter ≤ |V| - 1
    val dist = shortestPaths(None, nodes, edges, maxIters)
    dist.groupBy($"root")
      .agg(sum(when($"d" < Unreached, 1L).otherwise(0L)).as("reached"),
        sum(when($"d" < Unreached, $"d").otherwise(0L)).as("sum_hops"),
        max(when(($"d" < Unreached) && ($"d" > 0L), $"d").otherwise(0L)).as("maxfin"))
      .join(broadcast(Tables.nation(s, dir)), $"root" === $"n_nationkey")
      .select($"n_name".as("nation"), $"reached", $"sum_hops",
        when($"sum_hops" > 0L,
          expr(s"((reached - 1) * (reached - 1) * 1000000000L) div (${maxIters - 1}L * sum_hops)"))
          .otherwise(0L).as("closeness_ppb"),
        when($"reached" > 1L, $"maxfin").otherwise(-1L).as("eccentricity"))
      .orderBy($"closeness_ppb".desc, $"nation")
  }

  private val graphClosenessSql: String =
    s"""WITH RECURSIVE $edgesCte,
       |nodes AS (SELECT n_nationkey AS id FROM nation),
       |cnt AS (SELECT COUNT(*) AS n FROM nodes),
       |reach(root, id, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT r.root, e.dst, r.d + 1
       |  FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.d < 999),
       |best AS (SELECT root, id, MIN(d) AS d FROM reach GROUP BY root, id),
       |agg AS (
       |  SELECT root, COUNT(*) AS reached, SUM(d) AS sum_hops,
       |    MAX(CASE WHEN d > 0 THEN d ELSE 0 END) AS maxfin
       |  FROM best GROUP BY root)
       |SELECT n_name AS nation,
       |  CAST(reached AS BIGINT) AS reached,
       |  CAST(sum_hops AS BIGINT) AS sum_hops,
       |  CAST(CASE WHEN sum_hops > 0
       |    THEN ((reached - 1) * (reached - 1) * 1000000000) // ((cnt.n - 1) * sum_hops)
       |    ELSE 0 END AS BIGINT) AS closeness_ppb,
       |  CAST(CASE WHEN reached > 1 THEN maxfin ELSE -1 END AS BIGINT) AS eccentricity
       |FROM agg CROSS JOIN cnt JOIN nation ON root = n_nationkey
       |ORDER BY closeness_ppb DESC, nation""".stripMargin

  /** Betweenness centrality (Brandes 2001 semantics, pair-sum form)
    * over the directed trade graph: bc(v) = Σ_{s≠v≠t} σ_sv·σ_vt/σ_st
    * over shortest-path counts σ. Instead of Brandes' depth-descending
    * dependency accumulation (awkward relationally), σ is built
    * level-synchronously — σ_t(v) = Σ_{u→v, d(u)=t−1} σ_{t−1}(u) — and
    * bc comes from ONE three-way join of the (pivot, node) σ table
    * with the shortest-path composition test d_sv + d_vt = d_st.
    *
    * Exactness: σ are exact integer path counts; each (s,t) term is
    * micro-quantized ((σ_sv·σ_vt·10⁶) div σ_st in DECIMAL(38)) before
    * the sum, so the ranking is order-proof on both engines.
    *
    * Scale shape: state is |pivots|·|V| rows; each σ level is one
    * edge⋈frontier join (the BFS shuffle), the bc join is pivot²·|V|
    * bounded. On a data-sized graph the pivot set is sampled (as in
    * closeness) — the standard betweenness approximation (Brandes &
    * Pich 2007). */
  private def graphBetweenness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = tradeEdges(s, dir)
    val nodes = Tables.nation(s, dir).select($"n_nationkey".as("id"))
    val maxIters = nodes.count()
    val fin = shortestPaths(None, nodes, edges.withColumn("w", lit(1L)), maxIters)
      .filter($"d" < Unreached).select($"root", $"id", $"d").localCheckpoint()
    val maxd = fin.agg(max($"d")).head.getLong(0) // bounded scalar
    var level = fin.filter($"d" === 0L)
      .select($"root", $"id", lit(1L).as("sigma"))
    var sigAll = level
    for (t <- 1L to maxd) {
      val next = level.join(edges, level("id") === edges("src"))
        .select($"root", $"dst".as("nid"), $"sigma")
        .join(fin.filter($"d" === t)
          .select($"root".as("fr"), $"id".as("fid")),
          $"root" === $"fr" && $"nid" === $"fid")
        .groupBy($"root", $"nid").agg(sum($"sigma").as("sigma"))
        .select($"root", $"nid".as("id"), $"sigma")
        .localCheckpoint()
      sigAll = sigAll.unionByName(next)
      level = next
    }
    val sig = sigAll.join(fin, Seq("root", "id")).localCheckpoint()
    val sv = sig.select($"root".as("s"), $"id".as("v"),
      $"sigma".as("ssv"), $"d".as("dsv"))
    val vt = sig.select($"root".as("v2"), $"id".as("t"),
      $"sigma".as("svt"), $"d".as("dvt"))
    val st = sig.select($"root".as("s3"), $"id".as("t3"),
      $"sigma".as("sst"), $"d".as("dst"))
    val terms = sv.join(vt, $"v" === $"v2")
      .join(st, $"s" === $"s3" && $"t" === $"t3" &&
        ($"dsv" + $"dvt") === $"dst")
      .filter($"s" =!= $"v" && $"t" =!= $"v" && $"s" =!= $"t")
      .select($"v", expr(
        """CAST((CAST(ssv AS DECIMAL(38,0)) * CAST(svt AS DECIMAL(38,0))
          |  * 1000000) div CAST(sst AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
        .as("term"))
    nodes.join(terms.groupBy($"v").agg(sum($"term").as("bcm")),
        $"id" === $"v", "left")
      .join(broadcast(Tables.nation(s, dir)), $"id" === $"n_nationkey")
      .select($"n_name".as("nation"),
        coalesce($"bcm", lit(0L)).as("bc_micro"),
        (coalesce($"bcm", lit(0L)).cast("double") / 1e6).as("bc"))
      .orderBy($"bc".desc, $"nation")
  }

  private val graphBetweennessSql: String =
    s"""WITH RECURSIVE $edgesCte,
       |nodes AS (SELECT n_nationkey AS id FROM nation),
       |reach(root, id, d) AS (
       |  SELECT id, id, 0 FROM nodes
       |  UNION
       |  SELECT r.root, e.dst, r.d + 1
       |  FROM reach r JOIN edges e ON e.src = r.id
       |  WHERE r.d < 999),
       |best AS (SELECT root, id, MIN(d) AS d FROM reach GROUP BY root, id),
       |paths(root, id, d, cnt) AS (
       |  SELECT id, id, 0, 1 FROM nodes
       |  UNION ALL
       |  SELECT p.root, e.dst, p.d + 1, p.cnt
       |  FROM paths p
       |  JOIN edges e ON e.src = p.id
       |  JOIN best b ON b.root = p.root AND b.id = e.dst AND b.d = p.d + 1),
       |sig AS (SELECT root, id, d, SUM(cnt) AS sigma
       |  FROM paths GROUP BY root, id, d),
       |terms AS (
       |  SELECT sv.id AS v,
       |    ((sv.sigma::HUGEINT * vt.sigma * 1000000) // st.sigma) AS term
       |  FROM sig sv
       |  JOIN sig vt ON vt.root = sv.id
       |  JOIN sig st ON st.root = sv.root AND st.id = vt.id
       |    AND st.d = sv.d + vt.d
       |  WHERE sv.root <> sv.id AND vt.root <> vt.id AND sv.root <> vt.id),
       |agg AS (SELECT v, SUM(term) AS bcm FROM terms GROUP BY v)
       |SELECT n_name AS nation,
       |  CAST(COALESCE(bcm, 0) AS BIGINT) AS bc_micro,
       |  CAST(COALESCE(bcm, 0) AS DOUBLE) / 1e6 AS bc
       |FROM nodes LEFT JOIN agg ON nodes.id = agg.v
       |JOIN nation ON nodes.id = n_nationkey
       |ORDER BY bc DESC, nation""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "graph_betweenness" -> QueryDef(graphBetweenness, Some(graphBetweennessSql)),
    "graph_ppr" -> QueryDef(graphPpr, Some(graphPprSql)),
    "graph_closeness" -> QueryDef(graphCloseness, Some(graphClosenessSql)),
    "graph_label_prop" -> QueryDef(graphLabelProp, Some(graphLabelPropSql)),
    "graph_hits" -> QueryDef(graphHits, Some(graphHitsSql)),
    "graph_wcc" -> QueryDef(graphWcc, Some(graphWccSql)),
    "graph_clustering_coeff" -> QueryDef(graphClusteringCoeff, Some(graphClusteringCoeffSql)),
    "graph_assortativity" -> QueryDef(graphAssortativity, Some(graphAssortativitySql)),
    "q_graph_modularity" -> QueryDef(qGraphModularity, Some(qGraphModularitySql)),
    "graph_jaccard_links" -> QueryDef(graphJaccardLinks, Some(graphJaccardLinksSql)),
    "q_graph_adamic_adar" -> QueryDef(qGraphAdamicAdar, Some(qGraphAdamicAdarSql)),
    "q_kcore" -> QueryDef(qKcore, Some(qKcoreSql)),
    "q_ktruss" -> QueryDef(qKtruss, Some(qKtrussSql)),
    "pagerank" -> QueryDef(pagerank, Some(pagerankSql)),
    "graph_bfs" -> QueryDef(graphBfs, Some(graphBfsSql)),
    "graph_sssp" -> QueryDef(graphSssp, Some(graphSsspSql))
  )
}

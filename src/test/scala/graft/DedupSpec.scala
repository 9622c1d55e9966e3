package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Fns
import graft.operators.Dedup

class DedupSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  val base = "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"
  val nearDup = base.replace("warm", "cold") // 1-word edit
  val other = "completely different content about spark catalyst optimizer rules and physical plan strategies here now"

  test("dedup_incremental plans a hash anti-join on the content hash, not a nested loop") {
    val qe = SparkEntry.all("dedup_incremental").fn(spark, TestSpark.sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"no anti-join in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$plan")
  }

  test("dedup_minhash: range+sortWithinPartitions output IS the (doc_id, perm) total order, kernel evaluated once") {
    // r16 optimization: the global orderBy was replaced by
    // repartitionByRange(doc_id) + sortWithinPartitions(doc_id, perm) so
    // the signature kernel is no longer re-executed by the sort's range-
    // sampling pass (and no longer pushed into the scan stage as a
    // filter condition). The output contract — total (doc_id, perm)
    // order — must be preserved exactly.
    val df = SparkEntry.all("dedup_minhash").fn(spark, TestSpark.sf)
    val got = df.collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(got.sameElements(got.sortBy(identity)), "output not in (doc_id, perm) total order")
    assert(got.nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter (size(minhashsigmd5"),
      s"signature kernel pushed into a pre-shuffle filter:\n$plan")
  }

  test("dedup_streaming_replay emits exactly the batch-distinct hash set") {
    val got = SparkEntry.all("dedup_streaming_replay").fn(spark, TestSpark.sf)
      .collect().map(_.getString(0))
    val want = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
      .selectExpr("md5(text) AS th").distinct().orderBy("th")
      .collect().map(_.getString(0))
    assert(got.sameElements(want))
  }

  test("exactSurvivors keeps the lowest doc_id per duplicate group") {
    val d = docs(Seq((1L, base), (2L, base), (3L, other), (7L, base)))
    val got = Dedup.exactSurvivors(d).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 3L, 3L -> 1L))
  }

  test("minhashPairs finds planted near-duplicates, not unrelated docs") {
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = Dedup.minhashPairs(d, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getAs[Double]("est_jaccard") > 0.5)
  }

  test("simhashPairs finds hamming-close docs only") {
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val pairs = Dedup.simhashPairs(d, maxDist = 16).collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
  }

  test("ngramJaccardPairs computes exact jaccard") {
    // a: shingles of "w1 w2 w3 w4" = {w1 w2 w3, w2 w3 w4}
    // b: "w1 w2 w3 w5" = {w1 w2 w3, w2 w3 w5} → inter=1, union=3 → 1/3
    val d = docs(Seq((1L, "w1 w2 w3 w4"), (2L, "w1 w2 w3 w5")))
    val got = Dedup.ngramJaccardPairs(spark, d).collect()
    assert(got.length == 1)
    assert(math.abs(got(0).getAs[Double]("jaccard") - 1.0 / 3.0) < 1e-9)
  }

  test("jaccardJoin: prefix filtering is lossless vs the all-pairs baseline") {
    // small-vocab random docs → dense shingle sharing, the adversarial
    // regime for prefix pruning (fat buckets, high overlap everywhere)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val rows = (0L until 40L).map { i =>
      i -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    } ++ Seq(100L -> "x y z x y z x y", 101L -> "x y z x y z x y w") // planted near-dup
    for (tau <- Seq(0.3, 0.5, 0.8)) {
      val d = docs(rows)
      val got = Dedup.jaccardJoin(spark, d, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = Dedup.ngramJaccardPairs(spark, d)
        .filter(s"jaccard >= $tau")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == want, s"tau=$tau: prefix join diverged from exact baseline")
    }
  }

  test("shingle joins plan no lambda: jaccardJoin, ngramJaccardPairs, dedup_containment") {
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    for ((name, plans) <- Seq(
        "jaccardJoin" -> SpecLint.plannedLambdas(spark)(Dedup.jaccardJoin(spark, d, 0.7)),
        "ngramJaccardPairs" -> SpecLint.plannedLambdas(spark)(Dedup.ngramJaccardPairs(spark, d)),
        "dedup_containment" -> SpecLint.plannedLambdas(spark)(
          SparkEntry.all("dedup_containment").fn(spark, TestSpark.sf)))) {
      assert(plans.exists(_._1 == "localCheckpoint"), s"$name: the shingle-set job was not seen")
      val bad = plans.filter(_._2.nonEmpty)
      assert(bad.isEmpty, s"$name runs interpreted lambdas: $bad")
    }
  }

  test("minhashPairs plans no lambda: est_jaccard is sig_match_count, not zip_with") {
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val plans = SpecLint.plannedLambdas(spark)(Dedup.minhashPairs(d, 0.5))
    assert(plans.exists(_._1 == "localCheckpoint"), "the signature job was not seen")
    val bad = plans.filter(_._2.nonEmpty)
    assert(bad.isEmpty, s"minhashPairs runs interpreted lambdas: $bad")
  }

  /** minhashPairs as it was before the candidate-first verify: a
    * statistics-chosen band self-join, then the candidates joined to the
    * whole signature table on each side, matched by zip_with. */
  def minhashPairsReference(docs: DataFrame, threshold: Double,
                            numPerms: Int = 128, bands: Int = 16): DataFrame = {
    val sigs = docs.select(col("doc_id"), Fns.minhash_sig(col("text"), numPerms).as("sig"))
      .localCheckpoint()
    val idx = Dedup.bandSignatures(sigs, numPerms, bands)
    val cand = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sigs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sig", "sig_a"), "doc_a")
      .join(sigs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sig", "sig_b"), "doc_b")
      .withColumn("est_jaccard",
        expr(s"size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / cast($numPerms as double)"))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** Planted clusters around one bridge document (cluster A edits its
    * head, cluster B its tail, so it belongs to both), three more
    * clusters, a byte-identical copy, four "" texts (all-zero
    * signatures: they collide in every band, est_jaccard 1.0) and 30
    * unrelated documents. */
  lazy val plantedCorpus: Seq[(Long, String)] = {
    val r = new scala.util.Random(17)
    def words(n: Int) = Vector.fill(n)(s"v${r.nextInt(5000)}")
    def edit(ws: Vector[String], at: Int*) = at.foldLeft(ws)((w, i) => w.updated(i, s"e${r.nextInt(5000)}"))
    val bridge = words(40)
    val clusterA = Seq(edit(bridge, 2), edit(bridge, 3, 5), edit(bridge, 1))
    val clusterB = Seq(edit(bridge, 36), edit(bridge, 33, 37), edit(bridge, 38))
    val more = (1 to 3).flatMap { _ => val b = words(30); Seq(b, edit(b, 10), edit(b, 20)) }
    val copy = words(30)
    val texts = (bridge +: (clusterA ++ clusterB ++ more ++ Seq(copy, copy))).map(_.mkString(" ")) ++
      Seq.fill(4)("") ++ Seq.fill(30)(words(25).mkString(" "))
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
  }

  def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("minhashPairs returns the reference's rows, est_jaccard included, at thresholds 0.0, 0.5 and 1.0") {
    val d = docs(plantedCorpus)
    val n = plantedCorpus.size.toLong
    val bridge = 1L
    val (aIds, bIds) = ((2L to 4L).toSet, (5L to 7L).toSet)
    for (t <- Seq(0.0, 0.5, 1.0)) {
      val (got, ref) = (Dedup.minhashPairs(d, t), minhashPairsReference(d, t))
      assert(got.columns.toSeq == Seq("doc_a", "doc_b", "est_jaccard"))
      assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType))
      val (g, w) = (pairSet(got), pairSet(ref))
      assert(g == w, s"threshold $t: only new ${(g -- w).take(5)}, only reference ${(w -- g).take(5)}")
      if (t == 0.0) {
        // the corpus shapes the spec claims: the bridge pairs with both
        // clusters, the empty texts pair with each other
        def partners(id: Long) = g.collect { case (a, b, _) if a == id => b; case (a, b, _) if b == id => a }
        assert(partners(bridge).exists(aIds) && partners(bridge).exists(bIds), s"bridge: ${partners(bridge)}")
        assert((n - 33 to n - 30).combinations(2).forall { case Seq(a, b) => g.contains((a, b, 1.0)) })
      }
      if (t == 1.0) assert(g.size >= 7, s"the copy and the six \"\" pairs verify at 1.0: $g")
    }
  }

  test("minhashPairs broadcasts the candidate pairs, never the signature table or the band index") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    // rows entering the broadcasts of one executed plan, from their
    // numOutputRows metric; a reused exchange is counted once
    def broadcastRows(df: DataFrame): Long = {
      df.collect()
      nodes(df.queryExecution.executedPlan).collect { case b: BroadcastExchangeExec => b }
        .distinct.map(_.metrics("numOutputRows").value).sum
    }
    val d = docs(plantedCorpus)
    val n = plantedCorpus.size.toLong
    val idx = Dedup.bandSignatures(
      d.select(col("doc_id"), Fns.minhash_sig(col("text"), 128).as("sig")), 128, 16)
    val nCand = idx.as("a").join(idx.as("b"), col("a.band") === col("b.band") &&
        col("a.band_hash") === col("b.band_hash") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    assert(nCand > 0 && 2 * nCand < 17 * n, s"$nCand candidates for $n docs")
    val got = broadcastRows(Dedup.minhashPairs(d, 0.5))
    assert(got > 0 && got <= 2 * nCand,
      s"$got rows broadcast for $nCand candidate pairs over $n docs")
    // the reference ships the signature table and the band index
    val ref = broadcastRows(minhashPairsReference(d, 0.5))
    assert(ref >= 17 * n, s"the reference broadcast $ref rows for $n docs")
  }

  test("jaccardJoin finds the planted near-dup and nothing else") {
    // one word changed in 20 → 3 of 21 union shingles differ → j = 15/21 ≈ 0.714
    val d = docs(Seq((1L, base), (2L, nearDup), (3L, other)))
    val got = Dedup.jaccardJoin(spark, d, tau = 0.7).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L && got(0).getLong(1) == 2L)
    assert(got(0).getDouble(2) > 0.7)
  }

  test("clusters: chains merge into one component, min doc_id wins") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("clusters: 100-hop chain converges logarithmically, not O(diameter)") {
    import spark.implicits._
    // a single 101-node path: min-label propagation needs 100 rounds;
    // the star-contraction must close it well inside maxIters=20
    val pairs = (1L to 100L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.clustersWithRounds(spark, pairs, maxIters = 20)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 101 && got.values.forall(_ == 1L),
      s"all 101 chain nodes must label 1, got ${got.toSeq.sortBy(_._1).take(8)}...")
    assert(rounds < 20, s"star contraction took $rounds rounds — not logarithmic")
  }

  test("clusters: random graph matches a single-node union-find ground truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 400).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    val pairs = edges.toDF("doc_a", "doc_b")
    val got = Dedup.clusters(spark, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference union-find
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(x => x -> find(x)).toMap
    assert(got == want, s"CC mismatch: ${(got.toSet -- want.toSet).take(5)}")
  }

  test("dedup_embedding plan: pair generation is an equi-join, no corpus-sized nested loop") {
    // VERDICT r5 #4: the registered embedding near-dup query must not
    // carry an O(n²) BroadcastNestedLoopJoin/CartesianProduct over the
    // corpus. The only nested-loop allowed is the bounded centroid
    // crossJoin (a k-row broadcast into the scan).
    val plan = SparkEntry.queries("dedup_embedding")(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "no cartesian product")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 1, s"only the centroid cross-join may be nested-loop, found $bnlj")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), "intra-cell pairs must come from an equi-join")
  }

  test("banded LSH (r=8) bounds bucket width on a skewed corpus where r=1 blows up") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 60 docs that all share one hot shingle ("aaa bbb ccc") but are
    // otherwise unique — the hot-minhash skew case from ADVICE r5: under
    // any permutation where the shared shingle is the min, an r=1
    // (perm, minhash) bucket holds MANY docs; an 8-row band key requires
    // agreement on 8 permutations at once, which unrelated docs don't have.
    val rows = (0L until 60L).map(i =>
      (i, s"aaa bbb ccc u${i}a u${i}b u${i}c u${i}d u${i}e"))
    val dir = tempDir("graft-skew")
    rows.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val sig = rows.toDF("doc_id", "text")
      .select($"doc_id", graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .select($"doc_id", posexplode($"sig").as(Seq("perm", "minhash")))
    val r1MaxBucket = sig.groupBy($"perm", $"minhash").count()
      .agg(max($"count")).head.getLong(0)
    assert(r1MaxBucket >= 10L,
      s"skew corpus must produce a hot r=1 bucket, got max=$r1MaxBucket")

    val banded = SparkEntry.queries("dedup_minhash_banded")(spark, dir).collect()
    assert(banded.length == 4) // 4 bands of 8 perms
    val maxBucket = banded.map(_.getAs[Long]("max_bucket")).max
    assert(maxBucket <= 2L,
      s"r=8 band buckets must stay narrow on the skewed corpus, got $maxBucket")
    assert(banded.map(_.getAs[Long]("n_docs")).forall(_ == 60L))
  }

  test("banded LSH recall: byte-identical docs collide in every band") {
    import spark.implicits._
    val dir = tempDir("graft-banddup")
    val text = "key agg row scan slow fast table value part hash merge batch"
    Seq((1L, text), (2L, text),
      (3L, "window spark order data column agg join small line customer query stream"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_minhash_banded")(spark, dir).collect()
    // docs 1,2 share every band key → 1 candidate pair per band
    assert(got.map(_.getAs[Long]("n_cand_pairs")).forall(_ == 1L))
    assert(got.map(_.getAs[Long]("max_bucket")).forall(_ == 2L))
  }

  test("dedup_minhash_recall: planted near-dups caught, low-sim pairs missed (the S-curve)") {
    import spark.implicits._
    val dir = tempDir("mh-recall")
    // 3 near-dup pairs (1-word edits, jaccard ~0.9) + a low-sim pair
    // sharing exactly one 3-shingle run
    val lowA = "alpha beta gamma " + (1 to 20).map(i => s"ax$i").mkString(" ")
    val lowB = "alpha beta gamma " + (1 to 20).map(i => s"bx$i").mkString(" ")
    Seq(
      (1L, base), (2L, nearDup),
      (3L, base.replace("quick", "swift")), (4L, base.replace("quick", "rapid")),
      (5L, lowA), (6L, lowB), (7L, other))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("dedup_minhash_recall")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // high-similarity deciles (>=0.8): every pair caught by r=8 banding
    val hi = got.filter(_._1 >= 8).values
    assert(hi.nonEmpty && hi.forall { case (n, c) => c == n }, s"high-sim missed: $got")
    // mid/low-sim pairs (cross-pairs of different edits, j<=0.75) exist
    // and sit below the banding S-curve knee: none caught
    val lo = got.filter(_._1 <= 7).values
    assert(lo.nonEmpty && lo.forall { case (_, c) => c == 0 }, s"low-sim caught: $got")
  }

  test("minhash est_jaccard approximates true jaccard") {
    val d = docs(Seq((1L, base), (2L, nearDup)))
    val est = Dedup.minhashPairs(d, threshold = 0.0).collect()(0).getAs[Double]("est_jaccard")
    val exact = Dedup.ngramJaccardPairs(spark, d).collect()(0).getAs[Double]("jaccard")
    assert(math.abs(est - exact) < 0.25, s"est=$est exact=$exact") // 128 perms → ~±0.09 stddev
  }

  // ---- the star fallback for wide near-identical families
  //
  // The ≤64 LSH bucket-width cap must not drop wide NEAR-identical
  // (non-byte-identical) families — the exact case web-scale near-dedup
  // exists for: a 200-doc syndication family whose members each differ
  // by a token is invisible to exact dedup and was invisible to the
  // capped pair join too. The star fallback (Dedup.cappedBucketEdges)
  // emits O(W) edges from each wide bucket's min-doc_id representative,
  // so the family (a) costs linear candidate volume and (b) still
  // collapses to ONE cluster.
  //
  // Planted corpus: 200 docs sharing a 38-token body, each with a
  // UNIQUE trailing token — so no two texts are byte-equal, most of the
  // 32 permutations take their minimum from a shared shingle (one
  // family-wide bucket, width ~200 > 64 → star edges), and the rest
  // take it from the doc's unique shingle (singleton bucket → nothing).
  // Buckets are therefore either family-wide or width-1: without the
  // star rule the family contributes ZERO candidate edges.

  private val W = 200

  private val familyBody = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliett kilo lima mike november oscar papa quebec romeo " +
    "sierra tango uniform victor whiskey xray yankee zulu one two three " +
    "four five six seven eight nine ten eleven twelve"

  private def plant(): String = {
    import spark.implicits._
    val dir = tempDir("graft-widefamily")
    val rows = (0L until W.toLong).map(i => (i, s"$familyBody tail$i", s"m${i % 3}"))
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The registered dedup_minhash_pairs signature pipeline, pre-cap —
    * one copy so the spec exercises the shipped bucket construction. */
  private def sigFrame(dir: String) = {
    import spark.implicits._
    graft.sources.Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .filter(size($"sig") > 0)
      .select($"doc_id", posexplode($"sig").as(Seq("perm", "minhash")))
  }

  test("star fallback: candidate volume is O(W), not O(W²)") {
    val dir = plant()
    val edges = graft.operators.Dedup
      .cappedBucketEdges(sigFrame(dir), Seq("perm", "minhash"), cap = 64)
      .localCheckpoint()
    // ≤ one star edge per (perm, member): 32 × (W−1) is the hard
    // ceiling; the uncapped family pair set would be 32 × W(W−1)/2
    // = 636,800 rows. Distinct pairs: only rep-incident ones.
    val volume = edges.count()
    assert(volume <= 32L * (W - 1), s"edge volume $volume exceeds O(W)")
    assert(volume >= (W - 1).toLong, s"family contributed too little: $volume")
    // Every edge is a star edge: doc_a is the min doc PRESENT in its
    // bucket — doc 0 on permutations where its unique shingle lost,
    // the next-smallest id on the few where it won. So doc_a ranges
    // over a handful of small representatives (≤ one per perm), never
    // the O(W²) spread of arbitrary member pairs.
    val pairs = edges.distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val reps = pairs.map(_._1).toSet
    assert(reps.size <= 32, s"too many distinct doc_a values (${reps.size}): " +
      s"wide-bucket pairs leaked — ${pairs.take(5).toSeq}")
    assert(reps.contains(0L), "doc 0 must be a representative")
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(touched == (0L until W.toLong).toSet,
      s"stars must reach every family member; missing ${((0L until W.toLong).toSet -- touched).take(5)}")
  }
  test("star fallback: the family lands in ONE cluster") {
    val dir = plant()
    val cand = graft.operators.Dedup
      .cappedBucketEdges(sigFrame(dir), Seq("perm", "minhash"), cap = 64)
      .distinct()
    val cl = graft.operators.Dedup.clusters(spark, cand).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cl.length == W, s"expected all $W members labeled, got ${cl.length}")
    assert(cl.forall(_._2 == 0L),
      s"family split across clusters: ${cl.map(_._2).distinct.toSeq}")
  }
  test("registered queries surface the family through the representative") {
    val dir = plant()
    val p = SparkEntry.queries("dedup_minhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(p.length == 50 && p.forall(_._1 == 0L), s"got ${p.take(5).toSeq}")
    // sources m0/m1/m2 round-robin; rep (doc 0) is m0, so the star
    // registers m0×{m0,m1,m2} — the family shows up in the matrix
    val m = SparkEntry.queries("dedup_source_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val srcs = m.map(t => (t._1, t._2)).toSet
    assert(Set(("m0", "m0"), ("m0", "m1"), ("m0", "m2")).subsetOf(srcs),
      s"family missing from source matrix: ${m.toSeq}")
    assert(m.map(_._3).sum >= (W - 1).toLong, s"got ${m.toSeq}")
  }
  test("corpus_near_dedup_e2e: the planted family collapses to one survivor") {
    val dir = plant()
    // sources m0/m1/m2 round-robin over 200 docs: 67/67/66 before;
    // the single survivor is doc 0 (family min) in m0
    val r = SparkEntry.queries("corpus_near_dedup_e2e")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.map(t => t._1 -> (t._2, t._3)).toMap ==
      Map("m0" -> (67L, 1L), "m1" -> (67L, 0L), "m2" -> (66L, 0L)),
      s"got ${r.toSeq}")
    // exact integer token ledger: every doc is 39 tokens (38 base + tail)
    val tok = SparkEntry.queries("corpus_near_dedup_e2e")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(3), x.getLong(4)))
    assert(tok.toSeq.map(t => (t._1, t._2, t._3)) ==
      Seq(("m0", 67L * 39, 39L), ("m1", 67L * 39, 0L), ("m2", 66L * 39, 0L)),
      s"got ${tok.toSeq}")
  }
  test("dedup_banding_curve: candidate mass collapses as rows-per-band grows") {
    val dir = plant()
    val rows = SparkEntry.queries("dedup_banding_curve")(spark, dir).collect()
      .map(x => (x.getLong(1), x.getLong(3), x.getLong(4))) // (r, max_bucket, n_cand)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L), s"got ${rows.toSeq}")
    // the law the chart exists to show: buckets thin ~j^r, so the
    // widest bucket and the uncapped pair mass are non-increasing in r
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 >= b._2 && a._3 >= b._3 },
      s"census not monotone in r: ${rows.toSeq}")
    // at r=1 the 200-doc near-identical family saturates a shared-min
    // bucket (the mega-bucket regime the width cap exists for)
    assert(rows.head._2 >= 100, s"r=1 widest bucket too small: ${rows.head}")
  }
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Deduplication operators for document corpora (SURVEY.md §2-C).
  *
  * Scale notes (100 TB): every variant reduces a document to a small
  * fixed-width key/signature FIRST (hash, minhash sig, simhash word),
  * so all shuffles move O(#docs × signature) bytes — never document
  * text. Candidate generation is always an equi-join on banded keys
  * (LSH bands / hamming bands / shingle hashes), never a cross join.
  */
object Dedup {

  /** Doc-count cutoff for the Jaccard verify-broadcast path (~40 MB of
    * hash arrays). Above it both the verify joins AND the candidate
    * self-join are pinned to shuffled-hash strategies — the
    * checkpointed inputs carry inherited (often tiny) size estimates,
    * so leaving the choice to stats can broadcast corpus-sized sides. */
  private val BroadcastVerifyMaxDocs = 100000L

  /** Exact dedup: first (lowest doc_id) survivor per distinct text.
    * Pre-hashing with xxhash64 keeps the shuffle narrow; the full text
    * comparison within a hash group guards against collisions.
    */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs
      .groupBy(xxhash64(col("text")).as("h"), col("text"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "copies")

  /** Span-level exact substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", adapted from suffix
    * arrays to fixed-width token windows): a span is an `n`-token
    * window; a span position is "duplicated" when the same window text
    * occurs in ≥2 distinct documents. Returns per-doc span counts and
    * the duplicated fraction — the signal used to cut repeated
    * boilerplate from a pre-training corpus.
    *
    * Scale: windows are reduced to 60-bit hashes in-scan, so the single
    * shuffle moves fixed-width (hash, doc, pos) rows — never text. The
    * per-hash occurrence list is collected once and exploded back
    * (bounded by the duplication factor of one span; a pathological
    * mega-span would need a count-then-join fallback), so the gram
    * stream is computed exactly once — no self-join, no second scan.
    */
  def duplicateSpanStats(docs: DataFrame, n: Int = 10): DataFrame = {
    val ws = TextAnalysis.whitespaceTokens(col("text"))
    // collect_list keeps one entry per OCCURRENCE (a doc repeating the
    // same span contributes each position), so bare doc_ids carry the
    // full multiplicity — no need to haul span positions through the
    // aggregation state.
    val grams = docs
      .repartition(col("doc_id")) // test parquet is one row group — spread the explode
      .select(col("doc_id"),
        explode(TextAnalysis.wordNgrams(col("text"), n)).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gh"))
    val dupOccs = grams
      .groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"),
        collect_list(col("doc_id")).as("occ"))
      .filter(col("nd") >= 2)
      .select(explode(col("occ")).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n_dup_spans"))
    docs
      .select(col("doc_id"), greatest(size(ws) - (n - 1), lit(0)).cast("long").as("n_spans"))
      .join(dupOccs, col("doc_id") === col("d"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        when(col("n_spans") === 0, lit(0.0))
          .otherwise(expr("(n_dup_spans * 1000000000L) div n_spans")
            .cast("double") / 1e9))
  }

  /** MAXIMAL duplicated-span ledger — the real Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * substring-dedup contract, which [[duplicateSpanStats]] only
    * approximates with per-window counts: production substring dedup
    * REMOVES maximal repeated spans, so the deliverable is one row per
    * (doc, maximal span) — start/end token positions of each chained
    * duplicated region of at least `minTokens` tokens (the paper's 50,
    * at token granularity).
    *
    * Pipeline: (1) one gram pass — n-token windows hashed to 8-byte
    * keys with their positions, localCheckpoint'd: the text scan +
    * hash kernel (the dominant cost) runs ONCE and feeds both the
    * census and the position lookup; fixed-width (doc_id, pos, gh)
    * rows, never text. (2) duplicated grams = hashes seen in ≥ 2
    * distinct docs — a hash-keyed aggregate. (3) a LEFT SEMI join
    * flags each occurrence, deliberately NOT the collect_list trick
    * [[duplicateSpanStats]] uses: a corpus-hot boilerplate gram at
    * 100 TB puts millions of occurrences into one aggregation buffer
    * there, while the semi-join stays a streaming hash probe per
    * occurrence — skew-proof. (4) per-doc islands-and-gaps chaining
    * (the mm_vad_segments idiom) under a doc-keyed window: two
    * duplicated windows at positions p < q cover contiguous tokens
    * iff q ≤ p + n, so a span breaks exactly when the gap exceeds n;
    * start = first window pos, end = last window pos + n − 1.
    * Chaining state is bounded by tokens-per-doc, never corpus size. */
  def duplicateSpans(docs: DataFrame, n: Int = 10, minTokens: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .repartition(col("doc_id")) // test parquet is one row group — spread the explode
      .select(col("doc_id"),
        posexplode(TextAnalysis.wordNgrams(col("text"), n)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gh"))
      .localCheckpoint()
    val dup = grams.groupBy(col("gh"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("gh"))
    val dpos = grams.join(dup, Seq("gh"), "left_semi").select("doc_id", "pos")
    val wo = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dpos
      .withColumn("prev", lag(col("pos"), 1).over(wo))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") > col("prev") + n, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(wo))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (n - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1L)
      .filter(col("span_tokens") >= minTokens)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_windows"))
  }

  /** Per-doc MinHash/LSH index rows: `bands` band keys per document.
    * Join this to itself on (band, band_hash) to get candidate pairs.
    */
  def minhashIndex(docs: DataFrame, numPerms: Int = 128, bands: Int = 16): DataFrame =
    bandSignatures(
      docs.select(col("doc_id"), Fns.minhash_sig(col("text"), numPerms).as("sig")),
      numPerms, bands)

  /** Band an existing (doc_id, sig) frame — lets callers that also need
    * the raw signatures compute them ONCE (the signature kernel is the
    * dominant per-doc cost). */
  def bandSignatures(sigs: DataFrame, numPerms: Int, bands: Int): DataFrame = {
    require(bands > 0 && numPerms % bands == 0,
      s"numPerms ($numPerms) must be a positive multiple of bands ($bands)")
    val rows = numPerms / bands
    sigs
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(
        col("doc_id"), col("band"),
        xxhash64(slice(col("sig"), col("band") * rows + 1, lit(rows))).as("band_hash"))
  }

  /** Near-dup pairs via MinHash+LSH: candidates from band collisions,
    * verified by estimated Jaccard (matching signature fraction).
    *
    * Candidate-first verify. The signature pin keeps its pre-pin size
    * estimate (about 6.6 MiB at 102k docs while 115 MB is stored), so a
    * plan left to statistics broadcasts the whole signature table and
    * the 16-rows-per-doc band index to check a few thousand pairs. Here
    * the band self-join is pinned to a shuffled hash join, and the
    * broadcast side is the candidate pairs: first the bare
    * (doc_a, doc_b) rows (16 B each), streamed past by the pinned
    * signatures on doc_a, then those pairs with sig_a (16 B plus one
    * signature each), streamed past by the signatures on doc_b. The
    * broadcast follows the near-duplicate volume, not the corpus size;
    * the signature table used to be broadcast at every scale, so no
    * scale ships more. A candidate set past the broadcast limit has no
    * shuffled fallback yet. */
  def minhashPairs(docs: DataFrame, threshold: Double,
                   numPerms: Int = 128, bands: Int = 16): DataFrame = {
    // compute signatures once; band from the same frame
    val sigs = docs.select(col("doc_id"), Fns.minhash_sig(col("text"), numPerms).as("sig"))
      .localCheckpoint()
    val idx = bandSignatures(sigs, numPerms, bands).hint("shuffle_hash")
    val cand = idx.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withA = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      .join(broadcast(cand), "doc_a")
    sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      .join(broadcast(withA), "doc_b")
      .withColumn("est_jaccard",
        Fns.sig_match_count(col("sig_a"), col("sig_b")) / lit(numPerms.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** SimHash near-dup pairs: 64-bit signature, hamming ≤ maxDist.
    * Band trick: split the word into (maxDist+1) bands — any pair with
    * hamming ≤ maxDist agrees on ≥1 whole band (pigeonhole), so
    * candidates come from an equi-join on (band, band_bits). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val nBands = maxDist + 1
    val width = 64 / nBands
    // (1L << 64) is a no-op shift on the JVM — maxDist=0 would produce
    // mask 0 and degrade the band join into a full cross product
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val sigs = docs.select(col("doc_id"), Fns.simhash64(col("text")).as("sh"))
    val banded = sigs.select(
      col("doc_id"), col("sh"),
      explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .withColumn("band_bits",
        expr(s"shiftrightunsigned(sh, band * $width)").bitwiseAND(lit(mask)))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Exact word-w-gram Jaccard similarity for all pairs sharing ≥1
    * shingle. Equi-join on the shingle hash: work is proportional to
    * shared-shingle pairs, not |docs|². */
  def ngramJaccardPairs(spark: SparkSession, docs: DataFrame, w: Int = 3): DataFrame = {
    import spark.implicits._
    // Join on the 64-bit shingle hash, not the string: the self-join
    // moves/compares 8-byte keys instead of ~25-byte UTF8 strings.
    // (Counts differ from exact only on a 64-bit collision.)
    // Per-doc dedup is IN-ROW (the shingle_set kernel returns a distinct
    // set): a doc's shingles are all born in its own row, so the shingle
    // stream never pays a (doc_id, s) exchange, and |set| is a free
    // in-row size() — no groupBy for the per-doc sizes either.
    // localCheckpoint: the per-doc set feeds three consumers (both
    // self-join sides + sizes); aliasing defeats Catalyst's exchange
    // reuse, so without it the shingle kernel runs thrice.
    // A doc with fewer than w tokens keeps an empty set: it never meets
    // the self-join, and filtering it would run the kernel twice (the
    // filter is pushed below the projection).
    val perDoc = docs
      .select($"doc_id", Fns.shingle_set($"text", w).as("ss"))
      .localCheckpoint()
    val sh = perDoc.select($"doc_id", explode($"ss").as("s"))
    val sz = perDoc.select($"doc_id", size($"ss").cast("long").as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select($"doc_id".as("doc_a"), $"n".as("na")), "doc_a")
      .join(sz.select($"doc_id".as("doc_b"), $"n".as("nb")), "doc_b")
      .select($"doc_a", $"doc_b",
        // exact ppb integer ratio, then ONE exact /1e9 scaling: identical
        // bits in Spark and DuckDB regardless of either engine's
        // ROUND(double) implementation (the r8 driver-hash lesson)
        (expr("(inter * 1000000000L) div (na + nb - inter)")
          .cast("double") / 1e9).as("jaccard"))
  }

  /** Exact τ-threshold Jaccard similarity join with PREFIX FILTERING
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW'07;
    * Chaudhuri et al.'s SSJoin) — the scale path for exact near-dup
    * detection that `ngramJaccardPairs` (all co-shingle pairs) can't
    * take: joining on EVERY shingle is quadratic in bucket population,
    * and a 10× corpus measured 22× slower (PERFORMANCE.md, sf1 run).
    *
    * Order each doc's shingle set by ascending global document
    * frequency (rarest first, hash tiebreak — the SAME total order for
    * all docs). If j(A,B) ≥ τ then |A∩B| ≥ ⌈τ·|A|⌉, which cannot fit
    * in A's last ⌈τ·|A|⌉−1 shingles — so A and B must collide inside
    * their first n−⌈τ·n⌉+1 ("prefix") shingles. Candidates therefore
    * come from an equi-join on PREFIX shingles only — and rarest-first
    * ordering makes those buckets the thinnest available — then exact
    * Jaccard is verified per candidate with a sorted-array
    * intersection (no second shuffle over the shingle stream). The
    * filter is lossless: every τ-pair shares a prefix shingle, so
    * recall is exactly 1 and the DuckDB all-pairs oracle hash-matches.
    *
    * Scale shape: shuffles carry 8-byte hashes; candidate count is
    * Σ_prefix-bucket², bounded by the df of RARE shingles (at τ=0.8 a
    * doc's prefix is ~20% of its shingles); verify is map-side per
    * candidate. 100 TB survives because the fat (stopword-ish) shingle
    * buckets never reach the join. */
  def jaccardJoin(spark: SparkSession, docs: DataFrame, tau: Double,
                  w: Int = 3): DataFrame = {
    import spark.implicits._
    require(tau > 0.0 && tau <= 1.0, "prefix filtering needs tau in (0,1]")
    // Per-doc shingle dedup happens IN-ROW (the shingle_set kernel
    // returns a distinct set), not via explode+distinct(): every
    // shingle of a doc is born in the doc's own row, so a within-row
    // dedup is exact and the raw shingle stream never pays a
    // (doc_id, s) exchange — at any scale that was the widest shuffle
    // in the query.
    val sh = docs.select($"doc_id", explode(Fns.shingle_set($"text", w)).as("s"))
    // one df-ascending, hash-tiebroken order shared by every doc; the
    // per-doc sorted shingle array feeds the prefix explode AND both
    // verify sides — localCheckpoint so it computes once. df comes
    // from a count window over the SAME shingle pass (one exchange on
    // s), not a separate aggregate joined back — that join was pure
    // fixed overhead at every scale. Every step is a codegen'd
    // built-in (sort_array, the oss.s field extraction): no lambda.
    val byRarity = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"s"))).as("oss"))
      .select($"doc_id", $"oss.s".as("hs"),
        // numerically-sorted copy for the verify kernel: the verify
        // intersect is a two-pointer merge (sorted_intersect_count),
        // which needs a shared ascending order — the df order of hs
        // serves the prefix, this one serves verify
        sort_array($"oss.s").as("hv"),
        size($"oss").as("n"))
      .localCheckpoint()
    // free off the checkpoint (sums cached partition sizes); drives
    // both the verify-broadcast cutoff and the join-strategy pin below
    val nDocs = byRarity.count()
    val pre = byRarity.select($"doc_id", $"n",
      posexplode(slice($"hs", lit(1),
        ($"n" - ceil($"n" * tau) + 1).cast("int"))))
      .withColumnRenamed("col", "s").withColumnRenamed("pos", "p")
    // Candidate prunes, both lossless (ε-slack keeps float rounding
    // from ever flipping a boundary-true pair; verify rejects extras):
    //  - length: j ≥ τ ⇒ τ·|A| ≤ |B| ≤ |A|/τ
    //  - positional (PPJoin): both arrays share one global order, so a
    //    collision at positions (i, j) bounds the overlap by
    //    min(i,j) + 1 + min(na−i−1, nb−j−1); a τ-pair needs overlap
    //    ≥ τ/(1+τ)·(na+nb), and its FIRST common shingle always
    //    satisfies the bound — at least one event per true pair lives.
    val eps = 1e-9
    val overlapUb = least($"a.p", $"b.p") + lit(1) +
      least($"a.n" - $"a.p" - 1, $"b.n" - $"b.p" - 1)
    // Aggregated positional bound across ALL of a pair's prefix
    // collisions (replaces the bare distinct()): let c = collision
    // count and (ma, mb) the LAST collision's positions. Any common
    // shingle not among the c counted sits, in the shared global
    // order, strictly after that last collision token — were it
    // earlier, both its positions would be inside both prefixes and
    // it would have been counted — so it occupies positions > ma in A
    // and > mb in B. Hence overlap <= c + min(na-ma-1, nb-mb-1),
    // lossless. On the sf10 near-dup-heavy probe (100-wide clusters,
    // 38k shingle types) this cuts verify input 387M -> 112M pairs
    // (-71%) for the same aggregation shuffle the distinct() already
    // paid; true pairs there are 25.4M, so the array-verify join now
    // runs within ~4x of the inherent output instead of 15x.
    // Size the downstream exchanges from MEASURED candidate volume,
    // not the session default: Σ df² over prefix buckets is the exact
    // row count the prefix self-join emits (a ~one-second aggregate
    // over the checkpointed prefix — 38k groups at sf10). At the
    // session default the sf10 pair aggregation spilled 118 GB (19M
    // wide rows per task); at ~5M candidate rows per partition it
    // runs in memory, while small corpora keep the session default
    // (the max() floor) so nothing changes below the cliff. A global
    // initialPartitionNum multiple was measured and rejected — it
    // taxes every small shuffle instead (see GraftSession). The probe
    // job runs only past the broadcast cutoff: below it small corpora
    // keep the session default anyway (measured fine at 50k docs), so
    // the aggregate would be a blocking driver job spent computing the
    // max() floor.
    // Accepted skew bound below the cutoff: with no probe, a corpus of
    // ≤ 100k docs emits Σ df² / 2 prefix-collision rows into the pair
    // aggregation at the session-default partition count, at most
    // nDocs² / 2 (5·10⁹) if one shingle sat in every prefix. Rarest-
    // first order keeps that off real corpora: a hot shingle (a
    // boilerplate footer on 15% of docs) sorts LAST, so it enters a
    // doc's prefix only when that doc has fewer than n − ⌈τ·n⌉ + 1
    // rarer shingles, i.e. when the doc is nearly all boilerplate. Such
    // a corpus spills in the aggregation rather than failing; gating
    // the probe on a cheap skew signal (max df off byRarity) instead of
    // nDocs alone is left open.
    val big = nDocs > BroadcastVerifyMaxDocs
    val estRows =
      if (!big) 0L
      else pre.groupBy($"s").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum($"cnt" * $"cnt"), lit(0L))).head.getLong(0)
    val parts = math.max(spark.sessionState.conf.numShufflePartitions,
      math.min(4096L, estRows / 5000000L).toInt)
    // Past the broadcast cutoff, PIN shuffled joins. The checkpointed
    // byRarity is a LogicalRDD whose inherited size estimate can fall
    // under the broadcast threshold, and with no shuffle stage in
    // front AQE never gets to re-plan — at sf10 the planner chose to
    // BROADCAST the 5M-row prefix side and both 200 MB verify array
    // sides, turning the 288s query into a >25-minute one. The hint
    // makes the strategy explicit instead of stats-dependent:
    // shuffle-hash (not merge) because the pair stream should never
    // be sorted, and per-partition builds are small once hashed.
    val preJ = if (big) pre.hint("shuffle_hash") else pre
    val cand = preJ.as("a")
      .join(preJ.as("b"), $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id" &&
        $"b.n" >= $"a.n" * tau - eps && $"a.n" >= $"b.n" * tau - eps &&
        overlapUb.cast("double") * (1.0 + tau) >= ($"a.n" + $"b.n") * tau - eps)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.p".as("pa"), $"b.p".as("pb"), $"a.n".as("na"), $"b.n".as("nb"))
      .repartition(parts, $"doc_a", $"doc_b")
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("c"), max($"pa").as("ma"), max($"pb").as("mb"),
        max($"na").as("can"), max($"nb").as("cbn"))
      .filter(($"c" + least($"can" - $"ma", $"cbn" - $"mb") - 1).cast("double") *
        (1.0 + tau) >= ($"can" + $"cbn") * tau - eps)
      .select($"doc_a", $"doc_b")
    // verify joins sized like the aggregation: the surviving pairs
    // pick up a ~45-element hash array per side, so per-task sort
    // memory is what matters, not the session default. When the doc
    // table itself is small (measured off the checkpointed byRarity —
    // the count is free, it just sums cached partition sizes), ship it
    // as a broadcast instead: both verify joins then run map-side with
    // zero exchanges. Measured at 50k docs (sf1): broadcast 10.7s vs
    // repartitioned 16.9s — the candidate-pair side is millions of rows
    // there, so two extra exchanges + SMJ sorts of it dwarf the 2×20 MB
    // broadcast build. The cutoff (100k docs ≈ 40 MB of hash arrays)
    // still keeps the broadcast far under executor memory; a 100 TB
    // corpus takes the repartitioned path unconditionally.
    val aSide = byRarity.select($"doc_id".as("doc_a"), $"hv".as("ha"), $"n".as("na"))
    val bSide = byRarity.select($"doc_id".as("doc_b"), $"hv".as("hb"), $"n".as("nb"))
    val verified =
      if (!big)
        cand.join(broadcast(aSide), "doc_a").join(broadcast(bSide), "doc_b")
      else
        cand.repartition(parts, $"doc_a")
          .join(aSide.hint("shuffle_hash"), "doc_a")
          .repartition(parts, $"doc_b")
          .join(bSide.hint("shuffle_hash"), "doc_b")
    verified
      .withColumn("inter", graft.functions.Fns.sorted_intersect_count($"ha", $"hb"))
      .withColumn("jaccard",
        expr("(inter * 1000000000L) div (na + nb - inter)").cast("double") / 1e9)
      .filter($"jaccard" >= tau)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** Connected components over a duplicate-pair edge list: every doc
    * gets the min doc_id of its component as `cluster` — turning
    * pairwise near-dup hits into dedup groups ("keep one per cluster").
    *
    * Alternating large-star/small-star contraction (the two-phase CC
    * of Kiveris et al., "Connected Components in MapReduce and
    * Beyond" — a public algorithm): each round attaches every
    * neighbor larger than u to u's minimum neighbor (large-star),
    * then points each smaller neighbor — and u itself — at the local
    * minimum (small-star). The edge set contracts toward one star per
    * component in O(log n) rounds, where min-label propagation needs
    * O(diameter) — a 100-hop chain closes in a handful of rounds
    * instead of 100, so maxIters=20 covers any realistic component
    * instead of silently splitting long chains. Convergence is a
    * scalar (count, hash-sum) signature per round — no data collect;
    * each round's edge set is a [[Rounds]] pin, and the round it
    * supersedes is freed. */
  def clusters(spark: SparkSession, pairs: DataFrame,
               maxIters: Int = 20): DataFrame =
    clustersWithRounds(spark, pairs, maxIters)._1

  /** [[clusters]] plus the number of rounds it took — the spec hook
    * for asserting logarithmic convergence. */
  def clustersWithRounds(spark: SparkSession, pairs: DataFrame,
                         maxIters: Int = 20): (DataFrame, Int) = {
    import spark.implicits._
    val nodes = pairs.select($"doc_a".as("id"))
      .union(pairs.select($"doc_b".as("id"))).distinct().localCheckpoint()
    // edges oriented larger -> smaller endpoint, no self-loops
    val star0 = pairs.select(greatest($"doc_a", $"doc_b").as("a"),
        least($"doc_a", $"doc_b").as("b"))
      .filter($"a" =!= $"b").distinct().localCheckpoint()
    // XOR-fold, not sum: ANSI-safe (no overflow) and exact on the
    // distinct edge rows
    val sameSig = Rounds.unchanged((-1L, 0L)) { small =>
      val row = small.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }
    val res = Rounds.run(star0, maxIters, sameSig) { (star, _) =>
      // LARGE-STAR over the symmetric closure: for each u, attach
      // every neighbor v > u to m = min(N(u) ∪ {u})
      val sym = star.select($"a".as("u"), $"b".as("v"))
        .union(star.select($"b".as("u"), $"a".as("v")))
      val lmin = sym.groupBy($"u").agg(min($"v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val large = sym.join(lmin, "u").filter($"v" > $"u")
        .select($"v".as("a"), $"m".as("b"))
        .filter($"a" =!= $"b").distinct()
      // SMALL-STAR on the larger->smaller edges: point each smaller
      // neighbor of a (and a itself) at a's minimum neighbor
      val smin = large.groupBy($"a").agg(min($"b").as("m"))
      large.join(smin, "a").select($"b".as("v"), $"m")
        .union(smin.select($"a".as("v"), $"m"))
        .filter($"v" =!= $"m").distinct()
        .select($"v".as("a"), $"m".as("b"))
    }
    if (!res.converged)
      System.err.println(s"[graft] Dedup.clusters: NOT converged after $maxIters rounds — " +
        "components may still be contracting; raise maxIters")
    // at the fixpoint the edge set is one star per component, rooted
    // at the component min; roots and singletons label themselves
    val labels = nodes
      .join(res.state.select($"a".as("id"), $"b".as("cluster")), Seq("id"), "left")
      .select($"id".as("doc_id"), coalesce($"cluster", $"id").as("cluster"))
    (labels, res.rounds)
  }

  /** Width-capped candidate edges over LSH-style hash buckets.
    *
    * A (bucket-key) group of width W ≤ `cap` contributes its full
    * (doc_a < doc_b) pair set, as a plain self-equi-join. A group
    * WIDER than the cap — the hot-shingle / boilerplate regime where a
    * single bucket can hold millions of docs at web scale — would make
    * that self-join O(W²); instead it contributes STAR edges from the
    * bucket's min-doc_id representative to every other member: O(W)
    * rows, and the family stays CONNECTED, so downstream clustering
    * ([[clusters]]) still unifies it into one component and wide
    * near-duplicate (non-identical) families are not silently dropped
    * the way a plain width cutoff drops them (r11 VERDICT #1).
    *
    * Emits one (doc_a, doc_b) row PER bucket collision — callers that
    * count signature agreements (dedup_minhash_pairs' `matches`) group
    * by pair; set-semantics callers `.distinct()`. Star rows keep
    * doc_a = rep < doc_b by construction (rep is the bucket min).
    *
    * `keyed` must carry `doc_id` plus the `bucketCols`. The width
    * census is a window over the SAME bucket exchange the self-join
    * needs (no extra aggregate-and-join pass), and the annotated frame
    * is localCheckpoint'd because it feeds three consumers (both
    * self-join sides + the star leg) — aliasing would defeat exchange
    * reuse and recompute the upstream signature kernel thrice.
    *
    * Planted-corpus behavior (byte-identical mega-bucket AND
    * near-identical wide family) is pinned in Round11EdgeSpec /
    * Round12EdgeSpec, with the DuckDB oracles applying the identical
    * cap + star rule. */
  def cappedBucketEdges(keyed0: DataFrame, bucketCols: Seq[String],
                        cap: Int = 64): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val keyed = keyed0
      .withColumn("bw", count(lit(1)).over(w))
      .withColumn("rep", min(col("doc_id")).over(w))
      .localCheckpoint()
    val narrow = keyed.filter(col("bw") <= cap)
    val joinCond = bucketCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    val pairs = narrow.alias("a").join(narrow.alias("b"), joinCond)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val star = keyed.filter(col("bw") > cap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    pairs.unionByName(star)
  }
}

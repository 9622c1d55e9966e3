package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup => DedupOps}

/** SURVEY.md §2-C: dedup query surface over `documents`/`embeddings`.
  *
  * The round-6 regenerated corpus carries a small set of real
  * near-duplicates (~25 pairs at Jaccard ≥ 0.9 at sf0.01), so the
  * pair-emitting variants return genuine hits; they still emit a
  * deterministic top-K so the row set stays stable as sf grows.
  * Planted-duplicate recall is additionally asserted in DedupSpec.
  */
object Dedup {

  private def dedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.exactSurvivors(Tables.documents(s, dir)).orderBy($"doc_id")
  }

  private val dedupExactSql =
    """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS copies
      |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin

  /** The MinHash signature table (doc × perm → min shingle hash): what
    * you'd band and self-join at 100 TB. This registered variant uses
    * md5 permutation hashes — min over shingles of md5_60(perm ':'
    * shingle) — which any engine reproduces exactly, so the whole
    * signature is hash-verified. The production operator
    * (DedupOps.minhashIndex, FNV+splitmix perms, 4-8× cheaper per doc)
    * is pair-recall spec-tested; shuffle volume is identical
    * (O(docs × perms) fixed-width rows). */
  private def dedupMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // One md5 per shingle; per-perm values are (a_j·hi + b_j·lo) mod
    // 2^31-1 with 30-bit md5-derived coefficients — the classic linear
    // permutation family, every term < 2^61 so plain BIGINT math
    // reproduces it anywhere (no wrapping multiplies). The whole
    // signature is computed by one native expression inside the scan
    // stage (no shingle×perm row explosion); the oracle re-derives the
    // identical values relationally.
    // Spread docs across tasks before the CPU-heavy signature pass
    // (the test parquet is a single row group = one scan task) by HASH
    // on doc_id — hash, not range: repartitionByRange runs a sampling
    // pass that materializes the full text rows a second time in the
    // single scan task (two serial ~300 ms stages before any parallel
    // work). The partition count must be EXPLICIT: without it AQE
    // sizes the exchange by shuffle bytes (rows here are tiny) and
    // coalesces the CPU-heavy kernel to 1-2 tasks. The signature
    // kernel computes ONCE: the checkpoint pins its result, so the
    // final orderBy's range sampling walks 12-byte signature rows, not
    // the kernel (the unpinned hash+orderBy shape ran it three times).
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id",
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .select($"doc_id", posexplode($"sig").as(Seq("perm", "minhash")))
      .localCheckpoint()
      .orderBy($"doc_id", $"perm")
  }

  /** Shared oracle fragment: the md5-family MinHash signature table
    * (doc_id × perm → minhash). Single-sourced so dedup_minhash and
    * dedup_minhash_pairs can't diverge. */
  private val minhashSigCtes =
    """coefs AS (
      |  SELECT j AS perm,
      |    CAST('0x' || substring(md5('a:' || j::VARCHAR), 1, 8) AS BIGINT) % 1073741824 AS a,
      |    CAST('0x' || substring(md5('b:' || j::VARCHAR), 1, 8) AS BIGINT) % 1073741824 AS b
      |  FROM (SELECT unnest(range(0, 32)) AS j) t),
      |tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |shg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingle
      |  FROM tok),
      |hs AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h
      |  FROM shg),
      |sig AS (
      |  SELECT doc_id, perm,
      |    MIN((a * (h >> 30) + b * (h & 1073741823)) % 2147483647) AS minhash
      |  FROM hs CROSS JOIN coefs
      |  GROUP BY doc_id, perm)""".stripMargin

  private val dedupMinhashSql =
    s"""WITH $minhashSigCtes
      |SELECT doc_id, perm, minhash FROM sig ORDER BY doc_id, perm""".stripMargin

  /** SimHash signatures, hash-verified: the query uses the 60-bit
    * md5-token variant (portable hash → the oracle recomputes the exact
    * bit votes); `simhash64` (FNV, faster) stays the operator-default
    * with pairs spec-tested. */
  private def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", graft.functions.Fns.simhash_md5($"text").as("simhash"))
      .orderBy($"doc_id")
  }

  private val dedupSimhashSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |h AS (
      |  SELECT doc_id, CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS hv
      |  FROM tok WHERE t != ''),
      |bits AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b) bs
      |  GROUP BY doc_id, b),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id, COALESCE(sig.simhash, 0) AS simhash
      |FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Exact 3-gram Jaccard near-dup pairs at τ = 0.8 (top-50), via the
    * prefix-filtered similarity join — lossless pruning, so the DuckDB
    * oracle can stay the naive all-pairs re-derivation (quadratic is
    * fine oracle-side at sf0.01) while the Spark plan only ever joins
    * the thin rare-shingle prefix buckets. The τ-less all-co-shingle
    * variant (`ngramJaccardPairs`) measured 22× on a 10× corpus
    * (PERFORMANCE.md sf1 run); this one is the shape you'd ship. */
  private def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.jaccardJoin(s, Tables.documents(s, dir), tau = 0.8)
      .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
      .limit(50)
  }

  /** CONTAINMENT near-dup detection (Broder's asymmetric measure:
    * C(A→B) = |S_A ∩ S_B| / |S_A|) — catches near-SUPERSET pairs
    * (quotes, aggregator pages, doc+boilerplate wrappers) that
    * symmetric Jaccard misses: a small doc fully quoted inside a big
    * one has high containment but low Jaccard. Same in-row distinct
    * shingle sets and 8-byte hash equi-join as ngramJaccardPairs,
    * plus a df ≤ 64 stop-shingle cap (applied identically in the
    * oracle) so bucket width — and therefore pair fan-out — is
    * df-bounded, not corpus-bounded. Selection and ordering use the
    * integer key (shared·10⁹) div min(|A|,|B|): no float compare
    * decides membership or rank. */
  private def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = 3
    // r9 sf10 audit: the all-co-shingle-pair form generated a 40+ GB
    // pair shuffle at sf10 (Σdf² with the synthetic corpus' dense
    // shingle reuse). This is the SAME prefix-filter rescue jaccardJoin
    // uses, adapted to asymmetric containment: for a qualifying pair,
    // shared >= ceil(n_min/2) kept shingles, so the (full-size, id)-
    // smaller doc must collide with the other doc inside its rarest
    // k - ceil(n/2) + 1 KEPT shingles. Candidates come from
    // prefix x full-index buckets only (rare shingles dominate the
    // prefixes, so the fat buckets never reach the join); exact shared
    // is then a per-candidate two-pointer merge. Lossless: the DuckDB
    // all-pairs oracle is unchanged and still hash-matches.
    // n, the full distinct-shingle count, is the set's in-row size,
    // taken before the explode and the df cap.
    val sh = Tables.documents(s, dir)
      .select($"doc_id", graft.functions.Fns.shingle_set($"text", w).as("ss"))
      .select($"doc_id", size($"ss").cast("long").as("n"), explode($"ss").as("h"))
    val byRarity = sh
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"h")))
      .filter($"df" <= 64) // stop-shingle cap: shared counts kept only
      .groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"df", $"h"))).as("oss"),
        max($"n").as("n")) // full distinct-shingle count (incl. dropped)
      .select($"doc_id", $"oss.h".as("hs"), sort_array($"oss.h").as("hv"),
        size($"oss").cast("long").as("k"), $"n")
      .localCheckpoint()
    // min-side prefix: only docs that can still reach shared >= ceil(n/2)
    val pre = byRarity
      .filter($"k" >= expr("(n + 1L) div 2L"))
      .select($"doc_id", $"n",
        explode(expr("slice(hs, 1, int(k - ((n + 1L) div 2L) + 1L))")).as("h"))
    val idx = byRarity.select($"doc_id", $"n", explode($"hs").as("h"))
    val cand = pre.as("a").join(idx.as("b"),
        $"a.h" === $"b.h" &&
          ($"a.n" < $"b.n" ||
            ($"a.n" === $"b.n" && $"a.doc_id" < $"b.doc_id")))
      .select(least($"a.doc_id", $"b.doc_id").as("doc_a"),
        greatest($"a.doc_id", $"b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(byRarity.select($"doc_id".as("doc_a"), $"hv".as("ha"), $"n".as("na")), "doc_a")
      .join(byRarity.select($"doc_id".as("doc_b"), $"hv".as("hb"), $"n".as("nb")), "doc_b")
      .withColumn("shared",
        graft.functions.Fns.sorted_intersect_count($"ha", $"hb").cast("long"))
      .filter(expr("(shared * 1000000000) div least(na, nb) >= 500000000"))
      .orderBy(expr("(shared * 1000000000) div least(na, nb)").desc, $"doc_a", $"doc_b")
      .limit(50)
      .select($"doc_a", $"doc_b", $"shared", $"na", $"nb",
        ($"shared".cast("double") / $"na").as("cont_a_in_b"),
        ($"shared".cast("double") / $"nb").as("cont_b_in_a"))
  }

  private val dedupContainmentSql =
    """WITH tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      |    FROM tok) u),
      |keep AS (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= 64),
      |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN keep ON sh.s = keep.s),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |sc AS (SELECT doc_a, doc_b, shared, sa.n AS na, sb.n AS nb
      |  FROM pair JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
      |  WHERE (shared * 1000000000) // LEAST(sa.n, sb.n) >= 500000000)
      |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
      |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
      |  CAST(shared AS DOUBLE) / na AS cont_a_in_b,
      |  CAST(shared AS DOUBLE) / nb AS cont_b_in_a
      |FROM sc
      |ORDER BY (shared * 1000000000) // LEAST(na, nb) DESC, doc_a, doc_b
      |LIMIT 50""".stripMargin

  /** Shared oracle fragment: exact word-3-gram Jaccard over all shingle-
    * sharing pairs (mirrors DedupOps.ngramJaccardPairs). Used by both
    * dedup_ngram_jaccard and (as the edge source) dedup_clusters — keep
    * single-sourced so the two oracles can't diverge. */
  private val ngramPairCtes =
    """tok AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      |    FROM tok) u),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_a, doc_b,
      |    CAST((inter * 1000000000) // (sa.n + sb.n - inter) AS DOUBLE)/1e9 AS jaccard
      |  FROM pair JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)""".stripMargin

  private val dedupNgramJaccardSql =
    s"""WITH $ngramPairCtes
       |SELECT doc_a, doc_b, jaccard FROM scored
       |WHERE jaccard >= 0.8
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** Cell count for the blocked embedding queries: √n cells (≈√n
    * vectors per cell), floored at 8 (useful blocking needs a few
    * cells) and capped at 64k (a centroid table must stay
    * broadcastable — real deployments re-train a deeper coarse
    * quantizer past that point). √n balances the two corpus-sized
    * costs — assignment is n·cells cosines, intra-cell pairing is
    * n·cellSize — at Θ(n^1.5) total; the earlier fixed-64 cell size
    * made assignment n²/64 (quadratic again, just hidden one stage
    * earlier). Computing the corpus count driver-side is index-build
    * statistics collection, not a data collect. The oracle re-derives
    * the identical value (SQRT is correctly-rounded IEEE in both
    * engines). */
  private def sizedCells(s: SparkSession, dir: String): Int = {
    val n = Tables.embeddings(s, dir).count()
    math.max(8L, math.min(65536L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
  }

  private val sizedCellsSql =
    "(SELECT GREATEST(8, LEAST(65536, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT))) FROM embeddings)"

  /** Oracle fragment: first-nCells coarse centroids + nearest-cell
    * assignment (replays Similarity.coarseCentroids/nearestCells with
    * the sizedCells law). */
  private def cellAsgCtes: String =
    s"""cents AS (
       |  SELECT cell, ce FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS cell, embedding AS ce
       |    FROM embeddings) t
       |  WHERE cell <= $sizedCellsSql),
       |asg AS (
       |  SELECT vec_id, cell, embedding FROM (
       |    SELECT e.vec_id, c.cell, e.embedding,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ROUND(${cosOf("e.embedding", "c.ce")}, 9) DESC, c.cell) AS crk
       |    FROM embeddings e CROSS JOIN cents c) x WHERE crk = 1)""".stripMargin

  /** Embedding-cosine near-dup, CELL-BLOCKED (VERDICT r5 #4): top-100
    * intra-cell pairs by cosine. The registered plan's only corpus-sized
    * join is the equi-join on cell id — no O(n²) nested-loop join ships
    * (plan-asserted in DedupSpec). Blocking trades the cross-cell
    * pairs away, and the oracle replays the same blocking so the
    * result stays hash-verified. */
  private def dedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Similarity.cellPairs(s, Tables.embeddings(s, dir),
        nCells = sizedCells(s, dir))
      .orderBy($"cos_sim".desc, $"vec_a", $"vec_b")
      .limit(100)
  }

  private def dedupEmbeddingSql =
    s"""WITH $cellAsgCtes,
      |p AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    ROUND(${cosOf("a.embedding", "b.embedding")}, 9) AS cos_sim
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, cos_sim FROM p
      |ORDER BY cos_sim DESC, vec_a, vec_b LIMIT 100""".stripMargin

  /** Dedup groups: connected components over the top near-dup pairs.
    * Min-label propagation converges to the component-min label, which a
    * recursive-CTE transitive closure re-derives exactly in the oracle. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = DedupOps.ngramJaccardPairs(s, Tables.documents(s, dir))
      .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
      .limit(200)
    DedupOps.clusters(s, pairs).orderBy($"doc_id")
  }

  private val dedupClustersSql =
    s"""WITH RECURSIVE $ngramPairCtes,
       |top AS (
       |  SELECT doc_a, doc_b FROM scored
       |  ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM top
       |          UNION SELECT doc_b, doc_a FROM top),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |  WHERE e.dst != r.src)
       |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Cluster-size histogram over the same near-dup components — the
    * dedup report a curation run publishes (how big do duplicate
    * families get?). Two key-only aggregations past the clusters. */
  private def dedupClusterSizes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = DedupOps.ngramJaccardPairs(s, Tables.documents(s, dir))
      .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
      .limit(200)
    DedupOps.clusters(s, pairs)
      .groupBy($"cluster").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")
  }

  private val dedupClusterSizesSql =
    s"""WITH RECURSIVE $ngramPairCtes,
       |top AS (
       |  SELECT doc_a, doc_b FROM scored
       |  ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM top
       |          UNION SELECT doc_b, doc_a FROM top),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |  WHERE e.dst != r.src),
       |cl AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
       |  FROM reach GROUP BY src),
       |cs AS (SELECT cluster, COUNT(*) AS sz FROM cl GROUP BY 1)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** Single-row dedup savings report: how many documents and tokens
    * exact dedup removes, plus the count of remaining near-dup pairs
    * at Jaccard ≥ 0.9 — the before/after numbers a curation run
    * publishes to justify its cost. Exact integer counts end-to-end;
    * the near-pair leg reuses the prefix-filtered similarity join. */
  private def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"text", size(split($"text", " ")).cast("long").as("tk"))
    val before = docs.agg(count(lit(1)).as("n_docs"), sum($"tk").as("n_tokens"))
    val after = docs.groupBy($"text").agg(max($"tk").as("tk"))
      .agg(count(lit(1)).as("n_docs_dedup"), sum($"tk").as("n_tokens_dedup"))
    // "remaining" means after exact dedup: score only the survivors
    val surv = docs.groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .join(docs.select($"doc_id", $"text"), Seq("doc_id", "text"))
    val near = DedupOps.jaccardJoin(s, surv.select($"doc_id", $"text"), tau = 0.9)
      .agg(count(lit(1)).as("n_near_pairs"))
    before.crossJoin(broadcast(after)).crossJoin(broadcast(near))
      .select($"n_docs", $"n_docs_dedup", $"n_tokens", $"n_tokens_dedup",
        (lit(1.0) - $"n_tokens_dedup".cast("double") / $"n_tokens").as("token_savings_frac"),
        $"n_near_pairs")
      .orderBy("n_docs")
  }

  private val dedupSavingsSql =
    s"""WITH $ngramPairCtes,
       |d AS (SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
       |    FROM documents),
       |b AS (SELECT COUNT(*) AS n_docs, SUM(tk) AS n_tokens FROM d),
       |a AS (SELECT COUNT(*) AS n_docs_dedup, SUM(tk) AS n_tokens_dedup FROM
       |    (SELECT text, MAX(tk) AS tk FROM d GROUP BY text) g),
       |surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
       |np AS (SELECT COUNT(*) AS n_near_pairs FROM scored
       |    WHERE jaccard >= 0.9
       |      AND doc_a IN (SELECT doc_id FROM surv)
       |      AND doc_b IN (SELECT doc_id FROM surv))
       |SELECT CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_docs_dedup AS BIGINT) AS n_docs_dedup,
       |  CAST(n_tokens AS BIGINT) AS n_tokens,
       |  CAST(n_tokens_dedup AS BIGINT) AS n_tokens_dedup,
       |  1e0 - CAST(n_tokens_dedup AS DOUBLE)/n_tokens AS token_savings_frac,
       |  CAST(n_near_pairs AS BIGINT) AS n_near_pairs
       |FROM b CROSS JOIN a CROSS JOIN np ORDER BY n_docs""".stripMargin

  /** Corpus curation: quality-filter + dedup-survivor semijoin — the
    * end-to-end "keep the good docs" pipeline, hash-verified. */
  private def dedupCuration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quality = graft.operators.TextAnalysis.qualityScore(Tables.documents(s, dir))
    val survivors = DedupOps.exactSurvivors(Tables.documents(s, dir)).select($"doc_id")
    quality
      .filter($"n_tokens" >= 30 && $"n_tokens" <= 90 &&
        $"stopword_ratio" >= 0.02 && $"mean_word_len" < 5.0)
      .join(survivors, "doc_id") // semijoin-shaped: survivors is a projection
      .select($"doc_id", $"n_tokens", $"stopword_ratio", $"mean_word_len")
      .orderBy($"doc_id")
  }

  private val dedupCurationSql =
    """WITH q AS (
      |  SELECT doc_id,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |   CAST((CAST(len(list_filter(string_split(text, ' '),
      |       t -> list_contains(['the','a','and','of','to'], t))) AS BIGINT)
      |     * 1000000000) // len(string_split(text, ' ')) AS DOUBLE)/1e9 AS stopword_ratio,
      |   CAST((CAST(length(replace(text, ' ', '')) AS BIGINT)
      |     * 1000000000) // len(string_split(text, ' ')) AS DOUBLE)/1e9 AS mean_word_len
      |  FROM documents),
      |surv AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text)
      |SELECT q.doc_id AS doc_id, n_tokens, stopword_ratio, mean_word_len
      |FROM q JOIN surv ON q.doc_id = surv.doc_id
      |WHERE n_tokens >= 30 AND n_tokens <= 90
      |  AND stopword_ratio >= 0.02 AND mean_word_len < 5.0
      |ORDER BY doc_id""".stripMargin

  /** SemDeDup-style semantic dedup over embeddings: nearest coarse cell
    * (deterministic first-k init, k sized by the [[sizedCells]] law so
    * intra-cell pair cost stays O(n·cellSize) as the corpus grows —
    * VERDICT r5 #2), intra-cell pairs with cosine ≥ 0.4 (the corpus'
    * near-dup ceiling is ~0.55), survivors keep the min id. The oracle
    * replays cell sizing, assignment and pair pruning relationally. */
  private def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Similarity.semDedup(s, Tables.embeddings(s, dir), tau = 0.4,
        nCells = sizedCells(s, dir))
      .orderBy($"drop_id")
  }

  private val dedupSemanticCos =
    """list_inner_product(%a::DOUBLE[], %b::DOUBLE[])
      |      / (SQRT(list_inner_product(%a::DOUBLE[], %a::DOUBLE[]))
      |         * SQRT(list_inner_product(%b::DOUBLE[], %b::DOUBLE[])))""".stripMargin

  private def cosOf(a: String, b: String): String =
    dedupSemanticCos.replace("%a", a).replace("%b", b)

  private def dedupSemanticSql =
    s"""WITH $cellAsgCtes,
       |pairs AS (
       |  SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
       |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ROUND(${cosOf("a.embedding", "b.embedding")}, 9) >= 0.4)
       |SELECT drop_id, MIN(keep_id) AS kept_by, CAST(COUNT(*) AS BIGINT) AS n_dups
       |FROM pairs GROUP BY drop_id ORDER BY drop_id""".stripMargin

  /** LSH candidate pairs from the MinHash signature, high-recall
    * banding (b = 32 bands × r = 1 row: candidate iff ANY permutation
    * collides — the right operating point for this corpus's low
    * pairwise similarity; production thresholds use r = 4 via
    * DedupOps.minhashIndex, spec-tested). For each candidate the
    * signature-agreement fraction estimates Jaccard; top-50 emitted.
    *
    * Scale shape: the pair join keys on (perm, minhash) — fixed-width
    * ints, never text — so the SHUFFLE is O(docs × perms) rows. The
    * r=1 banding is, however, quadratic in bucket population: one hot
    * minhash value (many short/similar docs sharing a min shingle)
    * yields O(bucket²) candidate pairs, so this operating point is the
    * high-recall AUDIT configuration, not the scale path — at corpus
    * scale run dedup_minhash_banded / DedupOps.minhashPairs (r ≥ 4),
    * whose bucket populations shrink exponentially in r (bucket-size
    * law spec-tested on a skewed corpus in DedupSpec). The signature
    * table is localCheckpoint'd: it feeds both join sides, and
    * self-join aliasing would otherwise defeat exchange reuse and
    * recompute the CPU-heavy signatures twice.
    *
    * Bucket-width cap with STAR fallback (r10 VERDICT #4 + r11 #1,
    * via DedupOps.cappedBucketEdges): a (perm, minhash) bucket wider
    * than 64 docs is a hot-minimum artifact — identical boilerplate
    * minima across millions of web docs in the 100 TB case — whose
    * self-join is O(W²). Buckets ≤ 64 wide emit their full pair set;
    * wider buckets emit star edges to the bucket's min-doc_id
    * representative instead — O(W) rows, and a wide NEAR-identical
    * (non-byte-identical) family stays connected through its
    * representative so downstream clustering still unifies it (the
    * exact case web-scale near-dedup exists for; a hard cutoff
    * dropped those pairs entirely). A star row is a genuine signature
    * agreement (rep and member share that permutation's minhash), so
    * `matches`/`est_jaccard` stay honest — only non-representative
    * pairs inside wide buckets lose those agreement counts. Planted
    * byte-identical mega-bucket: Round11EdgeSpec; planted
    * near-identical 200-doc family (O(W) volume + one cluster):
    * Round12EdgeSpec. The DuckDB oracle applies the identical rule. */
  private def dedupMinhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = Tables.documents(s, dir)
      .repartition($"doc_id")
      .select($"doc_id",
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .filter(size($"sig") > 0)
      .select($"doc_id", posexplode($"sig").as(Seq("perm", "minhash")))
    DedupOps.cappedBucketEdges(sig, Seq("perm", "minhash"), cap = 64)
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("matches"))
      .select($"doc_a", $"doc_b", $"matches",
        round($"matches" / lit(32.0), 9).as("est_jaccard"))
      .orderBy($"matches".desc, $"doc_a", $"doc_b")
      .limit(50)
  }

  private val dedupMinhashPairsSql =
    s"""WITH $minhashSigCtes,
      |bkt AS (
      |  SELECT perm, minhash, COUNT(*) AS bw, MIN(doc_id) AS rep
      |  FROM sig GROUP BY 1, 2),
      |ks AS (SELECT sig.doc_id, sig.perm, sig.minhash, bkt.bw, bkt.rep
      |       FROM sig JOIN bkt USING (perm, minhash)),
      |edges AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM ks a JOIN ks b
      |    ON a.perm = b.perm AND a.minhash = b.minhash AND a.doc_id < b.doc_id
      |  WHERE a.bw <= 64
      |  UNION ALL
      |  SELECT rep AS doc_a, doc_id AS doc_b FROM ks
      |  WHERE bw > 64 AND doc_id <> rep),
      |cand AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS matches FROM edges GROUP BY 1, 2)
      |SELECT doc_a, doc_b, CAST(matches AS BIGINT) AS matches,
      |  ROUND(matches / 32.0, 9) AS est_jaccard
      |FROM cand ORDER BY matches DESC, doc_a, doc_b LIMIT 50""".stripMargin

  /** Banded LSH bucket audit at the PRODUCTION operating point
    * (VERDICT r5 #3): the 32-perm md5 signature banded at b = 4 bands
    * × r = 8 rows — candidates must agree on a whole 8-perm band, so a
    * bucket's population shrinks ~ j⁸ and hot-shingle blowup can't
    * happen. Emits the per-band bucket census (docs, buckets, widest
    * bucket, candidate pairs = Σ c·(c−1)/2) — the skew audit a 100 TB
    * dedup run reads before launching the pair join. On the round-6
    * corpus the audit reports ~20 candidate pairs per band from the
    * real near-dup families (dedup_minhash_recall confirms those are
    * exactly the Jaccard ≥ 0.9 pairs); planted-duplicate recall and
    * the r-vs-bucket-size law are spec-tested in DedupSpec. */
  /** The 4×8 banded-LSH key frame (doc_id, band, bkey) off the
    * 32-perm md5 MinHash signature — the production operating point.
    * Band key = 60-bit md5 of the band's 8 minhashes (':'-joined):
    * fixed-width, engine-portable, computed in the same pass as the
    * signature. Single-sourced for dedup_minhash_banded /
    * dedup_source_matrix / corpus_near_dedup_e2e so the three views
    * of one index cannot drift. */
  /** The signature frame (doc_id, sig: array of 32 minhashes). */
  private def sigArray(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .repartition($"doc_id")
      .select($"doc_id",
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .filter(size($"sig") > 0)
  }

  /** (doc_id, band, bkey) at an arbitrary (bands × rowsPerBand)
    * slicing of the 32-perm signature. */
  private def bandedKeys(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    import sig.sparkSession.implicits._
    sig
      .select($"doc_id", explode(sequence(lit(0), lit(bands - 1))).as("band"), $"sig")
      .select($"doc_id", $"band".cast("long").as("band"),
        conv(substring(md5(concat_ws(":",
          expr(s"transform(slice(sig, band * $rowsPerBand + 1, $rowsPerBand), x -> cast(x as string))"))), 1, 15), 16, 10)
          .cast("long").as("bkey"))
  }

  private[graft] def banded48(s: SparkSession, dir: String): DataFrame =
    bandedKeys(sigArray(s, dir), bands = 4, rowsPerBand = 8)

  /** Oracle fragment: the 4×8 band keys plus the width-capped
    * star/pair candidate set (replays [[banded48]] +
    * DedupOps.cappedBucketEdges; assumes `sig` from minhashSigCtes is
    * in scope). Shared by dedup_source_matrix and
    * corpus_near_dedup_e2e. */
  private val bandKeyCte =
    """bk AS (
      |  SELECT doc_id, perm // 8 AS band,
      |    CAST('0x' || substring(md5(string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY perm)), 1, 15) AS BIGINT) AS bkey
      |  FROM sig GROUP BY doc_id, perm // 8)""".stripMargin

  private val bandedCappedPairCtes =
    s"""$bandKeyCte,
      |bw AS (
      |  SELECT band, bkey, COUNT(*) AS c, MIN(doc_id) AS rep
      |  FROM bk GROUP BY 1, 2),
      |kb AS (SELECT bk.doc_id, bk.band, bk.bkey, bw.c, bw.rep
      |       FROM bk JOIN bw USING (band, bkey)),
      |p AS (
      |  SELECT DISTINCT da, db FROM (
      |    SELECT a.doc_id AS da, b.doc_id AS db
      |    FROM kb a JOIN kb b
      |      ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |    WHERE a.c <= 64
      |    UNION ALL
      |    SELECT rep AS da, doc_id AS db FROM kb
      |    WHERE c > 64 AND doc_id <> rep) e)""".stripMargin

  private def dedupMinhashBanded(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = banded48(s, dir)
    val buckets = banded.groupBy($"band", $"bkey").agg(count(lit(1)).as("c"))
    buckets.groupBy($"band")
      .agg(sum($"c").as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max($"c").as("max_bucket"),
        sum(expr("(c * (c - 1)) div 2")).as("n_cand_pairs"))
      .orderBy($"band")
  }

  /** The LSH OPERATING-POINT curve — the banding analog of
    * ann_probe_curve: the full bucket census at every (bands ×
    * rows-per-band) slicing of the 32-perm signature, (32×1, 16×2,
    * 8×4, 4×8), in one result. Per config: buckets, widest bucket,
    * and the uncapped candidate-pair mass Σ c·(c−1)/2 — the numbers a
    * 100 TB dedup run reads to pick its (b, r) before committing to
    * the pair join (r up ⇒ buckets thin ~j^r and candidate mass
    * collapses; the S-curve recall side of the trade is
    * dedup_minhash_recall). The signature is computed ONCE
    * (localCheckpoint) and re-sliced four ways — re-banding costs a
    * vocabulary of 60-bit keys per config, never a re-scan of text. */
  private def dedupBandingCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sig = sigArray(s, dir).localCheckpoint() // feeds all 4 slicings
    Seq((32, 1), (16, 2), (8, 4), (4, 8)).map { case (b, r) =>
      bandedKeys(sig, b, r)
        .groupBy($"band", $"bkey").agg(count(lit(1)).as("c"))
        // coalesce: on a degenerate corpus (no doc yields a signature)
        // the global agg still emits one row per config — keep the
        // 4-row shape with zeros instead of NULLs so the oracle (cfgs
        // LEFT JOIN census, same coalesce) hash-matches (r12 ADVICE)
        .agg(count(lit(1)).as("n_buckets"),
          coalesce(max($"c"), lit(0L)).as("max_bucket"),
          coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)).as("n_cand_pairs"))
        .select(lit(b.toLong).as("n_bands"), lit(r.toLong).as("rows_per_band"),
          $"n_buckets", $"max_bucket", $"n_cand_pairs")
    }.reduce(_ unionByName _)
      .orderBy($"rows_per_band")
  }

  private val dedupBandingCurveSql =
    s"""WITH $minhashSigCtes,
       |cfgs AS (SELECT * FROM (VALUES (32, 1), (16, 2), (8, 4), (4, 8)) t(b, r)),
       |bk AS (
       |  SELECT cfg.b, cfg.r, doc_id, perm // cfg.r AS band,
       |    CAST('0x' || substring(md5(string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY perm)), 1, 15) AS BIGINT) AS bkey
       |  FROM sig CROSS JOIN cfgs cfg
       |  GROUP BY cfg.b, cfg.r, doc_id, perm // cfg.r),
       |bu AS (SELECT b, r, band, bkey, COUNT(*) AS c FROM bk GROUP BY 1, 2, 3, 4),
       |cen AS (
       |  SELECT b, r, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |    CAST(MAX(c) AS BIGINT) AS max_bucket,
       |    CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS n_cand_pairs
       |  FROM bu GROUP BY b, r)
       |SELECT CAST(cfg.b AS BIGINT) AS n_bands, CAST(cfg.r AS BIGINT) AS rows_per_band,
       |  COALESCE(cen.n_buckets, 0) AS n_buckets,
       |  COALESCE(cen.max_bucket, 0) AS max_bucket,
       |  COALESCE(cen.n_cand_pairs, 0) AS n_cand_pairs
       |FROM cfgs cfg LEFT JOIN cen ON cfg.b = cen.b AND cfg.r = cen.r
       |ORDER BY rows_per_band""".stripMargin

  /** Hot-bucket TRIAGE — the row-level complement of the census keys
    * (dedup_minhash_banded aggregates per band, dedup_banding_curve
    * per config; this names the actual offenders): the 10 widest
    * buckets of the production 4×8 index with each bucket's min-doc
    * representative and its source — the "which boilerplate family
    * dominates the index" readout an engineer inspects before
    * launching a 100 TB pair join. One census aggregate, one
    * broadcast-sized top-10, one row lookup join for attribution;
    * ties broken deterministically (width desc, band, bkey). */
  private def dedupHotBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val top = banded48(s, dir)
      .groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("width"), min($"doc_id").as("rep_doc"))
      .orderBy($"width".desc, $"band", $"bkey")
      .limit(10)
    top.join(Tables.documents(s, dir)
        .select($"doc_id".as("rep_doc"), $"source".as("rep_source")), "rep_doc")
      .select($"band", $"bkey", $"width", $"rep_doc", $"rep_source")
      .orderBy($"width".desc, $"band", $"bkey")
  }

  private val dedupHotBucketsSql =
    s"""WITH $minhashSigCtes,
       |$bandKeyCte,
       |bu AS (
       |  SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS width,
       |    MIN(doc_id) AS rep_doc
       |  FROM bk GROUP BY 1, 2
       |  ORDER BY width DESC, band, bkey LIMIT 10)
       |SELECT bu.band, bu.bkey, bu.width, bu.rep_doc,
       |  d.source AS rep_source
       |FROM bu JOIN documents d ON d.doc_id = bu.rep_doc
       |ORDER BY bu.width DESC, bu.band, bu.bkey""".stripMargin

  /** Cross-source near-duplication matrix — which sources copy each
    * other (syndication/mirror detection, the report a curation run
    * uses to pick per-source dedup policy): banded-LSH candidate pairs
    * at the production 4×8 operating point, DISTINCT'd across bands,
    * rolled up to canonicalized (source_a ≤ source_b) pairs. Shares
    * the exact band-key construction with dedup_minhash_banded, so
    * the two views of the same index cannot drift. Shuffles carry
    * (band, bkey) 16-byte rows and doc-id pairs — never text.
    *
    * Bucket-width cap with STAR fallback (r10 VERDICT #4 + r11 #1,
    * via DedupOps.cappedBucketEdges): even at the 4×8 operating point
    * one degenerate bucket — millions of docs sharing identical
    * boilerplate, the normal web-crawl case — makes the bucket
    * self-join O(W²). Buckets ≤ 64 wide emit their full pair set;
    * wider buckets emit O(W) star edges to the bucket's min-doc_id
    * representative, so a wide near-identical syndication family still
    * REGISTERS in the matrix (rep's source × every member's source)
    * instead of vanishing under a hard cutoff — at W members the
    * count is a floor on the family's true pair mass, which is the
    * right bias for a skew-audit report. Identical rule in the
    * DuckDB oracle; planted-corpus behavior pinned in Round11EdgeSpec
    * (byte-identical mega-bucket) and Round12EdgeSpec (near-identical
    * wide family). */
  private def dedupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val banded = banded48(s, dir)
    val pairs = DedupOps.cappedBucketEdges(banded, Seq("band", "bkey"), cap = 64)
      .select($"doc_a".as("da"), $"doc_b".as("db"))
      .distinct()
    val src = docs.select($"doc_id", $"source")
    pairs
      .join(src.select($"doc_id".as("da"), $"source".as("sa")), "da")
      .join(src.select($"doc_id".as("db"), $"source".as("sb")), "db")
      .select(least($"sa", $"sb").as("source_a"),
        greatest($"sa", $"sb").as("source_b"))
      .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy($"n_pairs".desc, $"source_a", $"source_b")
  }

  private val dedupSourceMatrixSql =
    s"""WITH $minhashSigCtes,
       |$bandedCappedPairCtes,
       |sp AS (
       |  SELECT LEAST(d1.source, d2.source) AS source_a,
       |    GREATEST(d1.source, d2.source) AS source_b
       |  FROM p
       |  JOIN documents d1 ON d1.doc_id = p.da
       |  JOIN documents d2 ON d2.doc_id = p.db)
       |SELECT source_a, source_b, COUNT(*) AS n_pairs
       |FROM sp GROUP BY 1, 2
       |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin

  /** End-to-end NEAR-dedup curation in one run — the flagship DAG a
    * 100 TB crawl-dedup job actually executes: 32-perm MinHash →
    * 4×8 banded LSH (the production operating point) → width-capped
    * star/pair candidates (DedupOps.cappedBucketEdges — hot
    * boilerplate buckets cost O(W), wide near-identical families stay
    * connected through their representative) → connected components
    * (two-phase star contraction, O(log n) rounds) → min-doc_id
    * survivor per family → per-source before/after docs+tokens
    * ledger. Complements corpus_curate_e2e (whose dedup leg is
    * EXACT-hash only): this is the near-dup removal accounting.
    *
    * Scale shape: text is read once (the signature pass); everything
    * downstream shuffles fixed-width (band, bkey) keys, doc-id pairs,
    * and labels. The report is exact integer accounting (a family's
    * non-min members are the removals), so both engines agree
    * hash-exactly; the oracle replays the candidate rule via the
    * shared bandedCappedPairCtes fragment and the closure via a
    * recursive CTE. Planted wide near-identical family behavior
    * (family collapses to ONE survivor) pinned in Round12EdgeSpec. */
  private def corpusNearDedupE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE text scan computes both the signature (index leg) and the
    // token count (ledger leg); everything downstream of this
    // checkpoint moves fixed-width keys, id pairs, and labels only.
    val base = Tables.documents(s, dir)
      .repartition($"doc_id")
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("tk"),
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .localCheckpoint()
    val banded = bandedKeys(
      base.filter(size($"sig") > 0).select($"doc_id", $"sig"),
      bands = 4, rowsPerBand = 8)
    val pairs = DedupOps.cappedBucketEdges(banded, Seq("band", "bkey"), cap = 64)
      .select($"doc_a", $"doc_b").distinct()
    val labels = DedupOps.clusters(s, pairs) // (doc_id, cluster=family min)
    val surv = $"cluster".isNull || $"cluster" === $"doc_id"
    base.select($"doc_id", $"source", $"tk")
      .join(labels, Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("docs_before"),
        sum(when(surv, 1L).otherwise(0L)).as("docs_after"),
        sum($"tk").as("tokens_before"),
        sum(when(surv, $"tk").otherwise(0L)).as("tokens_after"))
      .orderBy($"source")
  }

  private val corpusNearDedupE2eSql =
    s"""WITH RECURSIVE $minhashSigCtes,
       |$bandedCappedPairCtes,
       |edges AS (SELECT da AS src, db AS dst FROM p
       |          UNION SELECT db, da FROM p),
       |reach AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
       |  WHERE e.dst != r.src),
       |cl AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster
       |  FROM reach GROUP BY src),
       |d AS (SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
       |  FROM documents),
       |j AS (SELECT d.doc_id, d.source, d.tk, cl.cluster
       |  FROM d LEFT JOIN cl USING (doc_id))
       |SELECT source,
       |  CAST(COUNT(*) AS BIGINT) AS docs_before,
       |  CAST(SUM(CASE WHEN cluster IS NULL OR cluster = doc_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS docs_after,
       |  CAST(SUM(tk) AS BIGINT) AS tokens_before,
       |  CAST(SUM(CASE WHEN cluster IS NULL OR cluster = doc_id
       |    THEN tk ELSE 0 END) AS BIGINT) AS tokens_after
       |FROM j GROUP BY source ORDER BY source""".stripMargin

  private val dedupMinhashBandedSql =
    s"""WITH $minhashSigCtes,
       |$bandKeyCte,
       |b AS (SELECT band, bkey, COUNT(*) AS c FROM bk GROUP BY band, bkey)
       |SELECT band, CAST(SUM(c) AS BIGINT) AS n_docs,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(MAX(c) AS BIGINT) AS max_bucket,
       |  CAST(SUM((c * (c - 1)) // 2) AS BIGINT) AS n_cand_pairs
       |FROM b GROUP BY band ORDER BY band""".stripMargin

  /** Streaming exact dedup, driver-verified: replays `documents` as a
    * file-source stream through the streaming `dropDuplicates` state
    * store (key = md5(text), 16 bytes/key) and emits the surviving
    * hash set, compared against the batch DISTINCT oracle. Output is
    * the KEY SET rather than first-seen rows because first-seen is an
    * arrival-order artifact in any streaming engine — the key set is
    * the order-free invariant both engines must agree on.
    *
    * Scale shape: state is keyed by a fixed-width hash (never text),
    * partitioned by key across the cluster like any shuffle. This
    * replay keeps state for the whole run (bounded corpus); an
    * unbounded production stream would use dropDuplicatesWithinWatermark
    * so state evicts once the watermark passes the ingest-time skew
    * window. */
  private def dedupStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-dedup-replay") { root =>
      import s.implicits._
      import org.apache.spark.sql.types.{StructType, StringType}
      Tables.documents(s, dir).select(md5($"text").as("th"))
        .write.mode("overwrite").parquet(s"$root/docs")
      val stream = s.readStream
        .schema(new StructType().add("th", StringType))
        .parquet(s"$root/docs")
      StreamReplay.toMemory("dedup_streaming_replay", root)(stream.dropDuplicates("th"))
        .select($"th").orderBy($"th")
    }

  private val dedupStreamingReplaySql =
    "SELECT DISTINCT md5(text) AS th FROM documents ORDER BY th"

  /** Incremental dedup — the production shape: admit only NEW-batch
    * docs (doc_id ≡ 0 mod 5 plays today's crawl) whose content hash is
    * absent from the standing index (the other 4/5), then collapse
    * intra-batch duplicates to the min doc_id. Scale shape: the
    * anti-join and group both key on a fixed-width hash (never text);
    * in production the standing index is bucketed by hash so the daily
    * anti-join is shuffle-free on the index side, and only the new
    * batch — the small side — moves. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir).select($"doc_id", md5($"text").as("th"))
    val index = d.filter($"doc_id" % 5 =!= 0).select($"th").distinct()
    d.filter($"doc_id" % 5 === 0)
      .join(index, Seq("th"), "left_anti")
      .groupBy($"th").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", $"th")
      .orderBy($"doc_id")
  }

  private val dedupIncrementalSql =
    """WITH d AS (SELECT doc_id, md5(text) AS th FROM documents),
      |idx AS (SELECT DISTINCT th FROM d WHERE doc_id % 5 <> 0),
      |nw AS (SELECT * FROM d WHERE doc_id % 5 = 0)
      |SELECT MIN(doc_id) AS doc_id, th FROM nw
      |WHERE th NOT IN (SELECT th FROM idx)
      |GROUP BY th ORDER BY doc_id""".stripMargin

  /** Streaming build of the STANDING LSH index — the eleventh
    * driver-verified replay path, closing the loop on
    * [[dedupIncrementalMinhash]]: the bucket summary that the daily
    * probe hits ((band, bkey) → width, min doc) is itself maintained
    * as streaming aggregation state. The doc stream's band keys
    * arrive as a multi-file replay (8 splits → several micro-batches)
    * and fold into per-bucket (count, min) state; the END state is
    * order-free — count and min are commutative — so the final table
    * must hash-match the batch construction exactly, which is the
    * invariant the oracle checks. Emitted: near-dup buckets only
    * (width ≥ 2) — the index rows a probe can actually hit; state per
    * bucket is two fixed-width values regardless of bucket width, so
    * a boilerplate mega-bucket costs the same state as a pair.
    * Production note: complete-mode output here is the replay
    * harness; a production maintainer upserts update-mode deltas into
    * the bucketed index table instead. */
  private def dedupIndexStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-lshindex-replay") { root =>
      import s.implicits._
      import org.apache.spark.sql.types.{StructType, LongType}
      banded48(s, dir).repartition(8)
        .write.mode("overwrite").parquet(s"$root/bands")
      val stream = s.readStream
        .schema(new StructType()
          .add("doc_id", LongType).add("band", LongType).add("bkey", LongType))
        .option("maxFilesPerTrigger", 2) // several micro-batches: real state folding
        .parquet(s"$root/bands")
      StreamReplay.toMemory("dedup_index_streaming_replay", root, mode = "complete")(
        stream.groupBy($"band", $"bkey")
          .agg(count(lit(1)).as("width"), min($"doc_id").as("min_doc"))
          .filter($"width" >= 2))
        .select($"band", $"bkey", $"width", $"min_doc")
        .orderBy($"band", $"bkey")
    }

  private val dedupIndexStreamingReplaySql =
    s"""WITH $minhashSigCtes,
       |$bandKeyCte
       |SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS width,
       |  MIN(doc_id) AS min_doc
       |FROM bk GROUP BY 1, 2 HAVING COUNT(*) >= 2
       |ORDER BY band, bkey""".stripMargin

  /** The TTL'd form of the standing index (r12 VERDICT #7): the
    * bucket summary is flatMapGroupsWithState state with watermark-
    * driven EVICTION — a bucket idle longer than the 120-minute
    * horizon is removed from the store, so state tracks the crawl's
    * live working set, not its full history (the replay key above
    * deliberately keeps every bucket forever; this is what a
    * never-ending production crawl runs instead). Docs arrive in
    * event-time order (ts = one minute per doc_id, range-ordered
    * files), resets are event-defined (see
    * [[graft.streaming.EventStream.streamingLshIndex]]), and the
    * emitted final summaries over the RETAINED horizon hash-match a
    * batch oracle that sessionizes each bucket's occurrences (gap >
    * 120 doc-minutes starts a new run) and keeps the last run of
    * buckets still alive at stream end. State-curve numbers (with vs
    * without TTL) are recorded by `tools.StreamAudit lshindex` in
    * PERFORMANCE.md. */
  private def dedupIndexStreamingTtl(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-lshttl-replay") { root =>
      import s.implicits._
      import org.apache.spark.sql.types.{StructType, LongType, TimestampType}
      import graft.streaming.EventStream
      val epochMs = 1767225600000L // 2026-01-01T00:00:00Z
      val horizonMin = 120L
      // chronological replay: range-partition by ts so the file source
      // (same-mtime files ordered by path) advances the watermark
      // monotonically — the StreamAudit discipline
      banded48(s, dir)
        .withColumn("ts", expr(s"timestamp_millis(${epochMs}L + doc_id * 60000L)"))
        .repartitionByRange(8, $"ts").sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(s"$root/bands")
      StreamReplay.stampChronological(s"$root/bands")
      val stream = s.readStream
        .schema(new StructType()
          .add("doc_id", LongType).add("band", LongType).add("bkey", LongType)
          .add("ts", TimestampType))
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/bands")
        .as[EventStream.BandRow]
      val out = StreamReplay.toMemory("dedup_index_streaming_ttl", root)(
        EventStream.streamingLshIndex(s, stream, horizonMin * 60000L).toDF())
      val maxDoc = Tables.documents(s, dir).agg(max($"doc_id")).head.getLong(0)
      val aliveMs = epochMs + (maxDoc - horizonMin) * 60000L
      out
        // latest emission per bucket = its final summary (last_seen
        // strictly increases per emission)
        .groupBy($"band", $"bkey")
        .agg(max(struct($"last_seen_ms", $"width", $"min_doc")).as("m"))
        .select($"band", $"bkey", $"m.width".as("width"),
          $"m.min_doc".as("min_doc"), $"m.last_seen_ms".as("last_seen_ms"))
        .filter($"width" >= 2 && $"last_seen_ms" >= aliveMs)
        .select($"band", $"bkey", $"width", $"min_doc")
        .orderBy($"band", $"bkey")
    }

  private val dedupIndexStreamingTtlSql =
    s"""WITH $minhashSigCtes,
       |$bandKeyCte,
       |occ AS (SELECT band, bkey, doc_id,
       |    LAG(doc_id) OVER (PARTITION BY band, bkey ORDER BY doc_id) AS prev
       |  FROM bk),
       |isl AS (SELECT band, bkey, doc_id,
       |    SUM(CASE WHEN prev IS NULL OR doc_id - prev > 120 THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY band, bkey ORDER BY doc_id) AS run
       |  FROM occ),
       |lastrun AS (SELECT band, bkey, MAX(run) AS mr FROM isl GROUP BY 1, 2),
       |fin AS (SELECT i.band, i.bkey, CAST(COUNT(*) AS BIGINT) AS width,
       |    MIN(i.doc_id) AS min_doc, MAX(i.doc_id) AS last_doc
       |  FROM isl i JOIN lastrun l
       |    ON i.band = l.band AND i.bkey = l.bkey AND i.run = l.mr
       |  GROUP BY 1, 2),
       |mx AS (SELECT MAX(doc_id) AS md FROM documents)
       |SELECT band, bkey, width, min_doc
       |FROM fin, mx WHERE width >= 2 AND last_doc >= md - 120
       |ORDER BY band, bkey""".stripMargin

  /** Incremental NEAR-dedup — the daily-crawl production shape for
    * the banded-LSH index, complementing [[dedupIncremental]]'s
    * exact-hash variant: today's batch (doc_id ≡ 0 mod 5) probes the
    * STANDING 4×8 index built from the other 4/5, and a new doc is a
    * near-dup candidate iff any of its 4 band keys hits a standing
    * bucket. Output per flagged doc: how many bands hit and the
    * minimum standing doc_id among the hit buckets (the attribution).
    *
    * Scale shape: the standing index is NOT the per-doc band table —
    * it is the bucket SUMMARY (band, bkey) → min standing doc_id, one
    * fixed-width row per bucket regardless of width. A boilerplate
    * mega-bucket holding millions of standing docs is still ONE index
    * row, so the daily probe join is skew-proof by construction (no
    * cap needed — contrast cappedBucketEdges, which exists because
    * pair GENERATION is quadratic in width; a probe lookup is not).
    * In production the summary is bucketed on (band, bkey) so only
    * the new batch's band keys — the small side — move. */
  private def dedupIncrementalMinhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val banded = banded48(s, dir).localCheckpoint() // feeds both legs
    val idx = banded.filter($"doc_id" % 5 =!= 0)
      .groupBy($"band", $"bkey").agg(min($"doc_id").as("min_standing"))
    banded.filter($"doc_id" % 5 === 0)
      .join(idx, Seq("band", "bkey"))
      .groupBy($"doc_id")
      .agg(countDistinct($"band").as("n_bands_hit"),
        min($"min_standing").as("min_standing_doc"))
      .orderBy($"doc_id")
  }

  private val dedupIncrementalMinhashSql =
    s"""WITH $minhashSigCtes,
       |$bandKeyCte,
       |idx AS (SELECT band, bkey, MIN(doc_id) AS min_standing
       |  FROM bk WHERE doc_id % 5 <> 0 GROUP BY 1, 2),
       |nw AS (SELECT * FROM bk WHERE doc_id % 5 = 0)
       |SELECT nw.doc_id,
       |  CAST(COUNT(DISTINCT nw.band) AS BIGINT) AS n_bands_hit,
       |  MIN(idx.min_standing) AS min_standing_doc
       |FROM nw JOIN idx USING (band, bkey)
       |GROUP BY nw.doc_id ORDER BY nw.doc_id""".stripMargin

  /** LSH quality evaluation — the ann_recall analog for MinHash: how
    * much of the EXACT near-dup pair set does the production banding
    * (4 bands × r = 8) catch, bucketed by true Jaccard? The classic
    * S-curve, measured: low-similarity pairs must be (nearly) all
    * missed, 0.9+ pairs (the dedup targets) nearly all caught.
    * Ground truth comes from the prefix-filtered exact join at a low
    * τ — affordable here; a 100 TB run computes it on a sample, while
    * the banding side scales as-is (bucket equi-join). */
  private def dedupMinhashRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val exact = DedupOps.jaccardJoin(s, docs, tau = 0.05)
    val sig = docs.repartition($"doc_id")
      .select($"doc_id", graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .filter(size($"sig") > 0)
    val banded = sig
      .select($"doc_id", explode(sequence(lit(0), lit(3))).as("band"), $"sig")
      .select($"doc_id", $"band",
        conv(substring(md5(concat_ws(":",
          expr("transform(slice(sig, band * 8 + 1, 8), x -> cast(x as string))"))), 1, 15), 16, 10)
          .cast("long").as("bkey"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    exact
      .join(cand.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .withColumn("hit", coalesce($"hit", lit(0L)))
      .groupBy(least(floor($"jaccard" * 10), lit(9)).cast("long").as("sim_decile"))
      .agg(count(lit(1)).as("n_pairs"), sum($"hit").as("n_caught"))
      .withColumn("recall", $"n_caught".cast("double") / $"n_pairs")
      .orderBy("sim_decile")
  }

  private val dedupMinhashRecallSql =
    s"""WITH $minhashSigCtes,
       |sh AS (
       |  SELECT DISTINCT doc_id, s FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
       |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
       |    FROM tok) u),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pair AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |    CAST((inter * 1000000000) // (sa.n + sb.n - inter) AS DOUBLE)/1e9 AS jaccard
       |  FROM pair JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b),
       |bk AS (
       |  SELECT doc_id, perm // 8 AS band,
       |    CAST('0x' || substring(md5(string_agg(CAST(minhash AS VARCHAR), ':' ORDER BY perm)), 1, 15) AS BIGINT) AS bkey
       |  FROM sig GROUP BY doc_id, perm // 8),
       |cp AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
       |    AND x.doc_id < y.doc_id),
       |j AS (
       |  SELECT s.doc_a, s.doc_b, s.jaccard,
       |    CASE WHEN cp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM scored s LEFT JOIN cp
       |    ON s.doc_a = cp.doc_a AND s.doc_b = cp.doc_b
       |  WHERE s.jaccard >= 0.05)
       |SELECT LEAST(CAST(FLOOR(jaccard * 10) AS BIGINT), 9) AS sim_decile,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(hit) AS BIGINT) AS n_caught,
       |  CAST(SUM(hit) AS DOUBLE)/COUNT(*) AS recall
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** CCNet/RefinedWeb-style boilerplate chunk removal, re-expressed on
    * the word corpus: docs split into NON-overlapping 10-token chunks
    * (the "line" unit), a chunk appearing in ≥2 distinct docs is
    * boilerplate, and each doc reports how many tokens survive the
    * strip — the per-doc retention ledger the curation step consumes.
    * Unlike `dedup_substring` (sliding-window duplicated-SPAN stats)
    * the tumbling chunks partition the doc, so kept-token counts are
    * additive and the strip is directly actionable.
    *
    * Scale shape: chunks shuffle as (doc_id, 60-bit hash, token count)
    * — never text; df is one hash-keyed aggregate; the re-join is an
    * equi-join on the chunk hash. */
  private def corpusLineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = Tables.documents(s, dir)
      .select($"doc_id", split($"text", " ").as("ws"))
      // spread docs across tasks before the CPU-heavy chunk+md5 pass:
      // the test parquet is a single row group (one scan task), and the
      // r9 sf10 audit caught this stage running ~single-threaded
      .repartition($"doc_id")
      .select($"doc_id", explode(expr(
        "transform(sequence(0, int((size(ws)-1)/10)), i -> slice(ws, i*10+1, 10))"))
        .as("chunk"))
      .select($"doc_id",
        conv(substring(md5(concat_ws(" ", $"chunk")), 1, 15), 16, 10)
          .cast("long").as("ch"),
        size($"chunk").cast("long").as("ctok"))
    val df = chunks.groupBy($"ch").agg(countDistinct($"doc_id").as("df"))
    chunks.join(df, "ch")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_boiler"),
        sum($"ctok").as("tokens_total"),
        sum(when($"df" < 2, $"ctok").otherwise(0L)).as("tokens_kept"))
      .select($"doc_id", $"n_chunks", $"n_boiler", $"tokens_total", $"tokens_kept",
        // exact integer micro-ratio (parts-per-billion): both engines compute
        // the same integer division, so the hash cannot drift on float ULPs
        // the way a rounded double can across engine versions.
        expr("(tokens_kept * 1000000000L) div tokens_total").as("keep_ratio_ppb"))
      .orderBy($"doc_id")
  }

  private val corpusLineDedupSql =
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ch AS (SELECT doc_id,
      |    CAST('0x' || substring(md5(array_to_string(ws[(i*10+1):(i*10+10)], ' ')), 1, 15)
      |      AS BIGINT) AS ch,
      |    CAST(len(ws[(i*10+1):(i*10+10)]) AS BIGINT) AS ctok
      |  FROM (SELECT doc_id, ws, unnest(generate_series(0, (len(ws)-1)//10)) AS i
      |        FROM tok) t),
      |df AS (SELECT ch, COUNT(DISTINCT doc_id) AS df FROM ch GROUP BY 1)
      |SELECT doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |  CAST(SUM(ctok) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN df < 2 THEN ctok ELSE 0 END) AS BIGINT) AS tokens_kept,
      |  CAST((SUM(CASE WHEN df < 2 THEN ctok ELSE 0 END) * 1000000000)
      |    // SUM(ctok) AS BIGINT) AS keep_ratio_ppb
      |FROM ch JOIN df USING (ch)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "corpus_line_dedup" -> QueryDef(corpusLineDedup, Some(corpusLineDedupSql)),
    "dedup_minhash_recall" -> QueryDef(dedupMinhashRecall, Some(dedupMinhashRecallSql)),
    "dedup_incremental" -> QueryDef(dedupIncremental, Some(dedupIncrementalSql)),
    "dedup_incremental_minhash" -> QueryDef(dedupIncrementalMinhash, Some(dedupIncrementalMinhashSql)),
    "dedup_index_streaming_replay" -> QueryDef(dedupIndexStreamingReplay, Some(dedupIndexStreamingReplaySql)),
    "dedup_index_streaming_ttl" -> QueryDef(dedupIndexStreamingTtl, Some(dedupIndexStreamingTtlSql)),
    "dedup_streaming_replay" -> QueryDef(dedupStreamingReplay, Some(dedupStreamingReplaySql)),
    "dedup_minhash_pairs" -> QueryDef(dedupMinhashPairs, Some(dedupMinhashPairsSql)),
    "dedup_minhash_banded" -> QueryDef(dedupMinhashBanded, Some(dedupMinhashBandedSql)),
    "dedup_banding_curve" -> QueryDef(dedupBandingCurve, Some(dedupBandingCurveSql)),
    "dedup_hot_buckets" -> QueryDef(dedupHotBuckets, Some(dedupHotBucketsSql)),
    "dedup_source_matrix" -> QueryDef(dedupSourceMatrix, Some(dedupSourceMatrixSql)),
    "corpus_near_dedup_e2e" -> QueryDef(corpusNearDedupE2e, Some(corpusNearDedupE2eSql)),
    "dedup_semantic" -> QueryDef(dedupSemantic, Some(dedupSemanticSql)),
    "dedup_clusters" -> QueryDef(dedupClusters, Some(dedupClustersSql)),
    "dedup_cluster_sizes" -> QueryDef(dedupClusterSizes, Some(dedupClusterSizesSql)),
    "dedup_savings" -> QueryDef(dedupSavings, Some(dedupSavingsSql)),
    "dedup_curation" -> QueryDef(dedupCuration, Some(dedupCurationSql)),
    "dedup_exact" -> QueryDef(dedupExact, Some(dedupExactSql)),
    "dedup_minhash" -> QueryDef(dedupMinhash, Some(dedupMinhashSql), bench = true),
    "dedup_simhash" -> QueryDef(dedupSimhash, Some(dedupSimhashSql)),
    "dedup_ngram_jaccard" -> QueryDef(dedupNgramJaccard, Some(dedupNgramJaccardSql), bench = true),
    "dedup_containment" -> QueryDef(dedupContainment, Some(dedupContainmentSql)),
    "dedup_embedding" -> QueryDef(dedupEmbedding, Some(dedupEmbeddingSql))
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
  * SIGMOD 2003 — the MOSS algorithm): hash every k-token gram, slide a
  * w-hash window, keep each window's minimum. Winnowing guarantees any
  * shared run of ≥ w+k−1 tokens between two documents yields at least
  * one SHARED fingerprint, so near-dup candidate generation becomes an
  * EQUI-JOIN on fingerprint values — no all-pairs pass — while
  * selecting only ~2/(w+1) of the grams. This is the position-robust
  * complement to the MinHash/SimHash/Jaccard family: those estimate
  * whole-document similarity; winnowing localizes shared passages
  * (plagiarism / quote / mirror detection).
  *
  * Determinism: fingerprints are the SET of window-minimum hash VALUES
  * per doc, so the rightmost-vs-leftmost tie rule (which only affects
  * selected positions) cannot leak into the result. Hashes are the
  * repo-standard portable 60-bit md5 prefix — both engines compute the
  * identical integer.
  *
  * Scale shape: gram hashing and window minima are IN-ROW (one
  * transform over the token array — the raw gram stream never leaves
  * the scan); only distinct (fingerprint, doc_id) 16-byte rows
  * shuffle. A df ≤ 50 stop-fingerprint guard bounds every join
  * bucket's width (the same boilerplate defense as the prefix filter
  * in dedup_ngram_jaccard), making the pair join's fan-out
  * df-bounded, not corpus-bounded.
  */
object Winnow {

  private val K = 4 // tokens per gram
  private val W = 4 // hashes per winnow window
  private val MaxDf = 50 // stop-fingerprint guard
  private val MinShared = 3 // pair evidence threshold

  /** Distinct winnow fingerprints per doc: (doc_id, f). Docs shorter
    * than k tokens drop; docs with fewer than w grams contribute their
    * single global-min fingerprint (the window degenerates to the
    * whole doc). */
  private[queries] def fingerprints(s: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables.documents(s, dir))

  /** Same, over any (doc_id, text) frame — spec entry point. The
    * fingerprint set comes from the native `winnow_fps` kernel (one
    * text walk, codegen'd); KernelsPropertySpec pins it to the
    * definitional relational formulation below. */
  private[graft] def fingerprintsOf(docs: DataFrame): DataFrame =
    // The gram md5 walk is the CPU body; single-row-group test files
    // cap scan parallelism at 1 task, so spread docs BEFORE hashing
    // (the ctr_referrer pre-parse pattern — real clusters split by
    // size, this decouples the kernel from the file layout).
    docs
      .select(col("doc_id"), col("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(graft.functions.Fns.winnow_fps(col("text"), K, W)).as("f"))

  /** The definitional relational formulation (split → gram md5 →
    * window minima → distinct) the kernel must reproduce — spec-only. */
  private[graft] def fingerprintsDefinitional(docs: DataFrame): DataFrame = {
    val gh = expr(
      s"""transform(sequence(0, size(ws) - $K),
         |  i -> CAST(conv(substring(md5(concat_ws(' ', slice(ws, i + 1, $K))), 1, 15), 16, 10) AS BIGINT))""".stripMargin)
    val wmins = expr(
      s"""CASE WHEN size(gh) >= $W
         |  THEN transform(sequence(1, size(gh) - ${W - 1}), j -> array_min(slice(gh, j, $W)))
         |  ELSE array(array_min(gh)) END""".stripMargin)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= K)
      .select(col("doc_id"), gh.as("gh"))
      .select(col("doc_id"), explode(array_distinct(wmins)).as("f"))
  }

  /** Shared passage detection: doc pairs sharing ≥ MinShared winnow
    * fingerprints (after the df guard), strongest evidence first. */
  private def textWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = fingerprints(s, dir).localCheckpoint()
    val keep = fp.groupBy($"f").agg(count(lit(1)).as("df"))
      .filter($"df" <= MaxDf)
      .select($"f")
    // NOT checkpointed: a kept-set materialization was measured
    // (r16 optimization round) and rejected — the checkpoint job +
    // block re-reads cost more than the duplicated df-aggregate it
    // saves (AQE reuses the broadcast keep-exchange at runtime).
    val kept = fp.join(keep, "f")
    kept.as("a").join(kept.as("b"),
        col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter($"n_shared" >= MinShared)
      .orderBy($"n_shared".desc, $"doc_a", $"doc_b")
      .limit(100)
  }

  private val textWinnowSql =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $K),
       |g AS (
       |  SELECT doc_id, i,
       |    CAST('0x' || substring(md5(array_to_string(ws[i:i+${K - 1}], ' ')), 1, 15) AS BIGINT) AS gh
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${K - 1})) AS i FROM tok) t),
       |m AS (
       |  SELECT doc_id, i,
       |    MIN(gh) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS wm,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g),
       |fp AS (
       |  SELECT DISTINCT doc_id, wm AS f FROM m
       |  WHERE (ng >= $W AND i <= ng - ${W - 1}) OR (ng < $W AND i = 1)),
       |keep AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) <= $MaxDf),
       |kept AS (SELECT fp.doc_id, fp.f FROM fp JOIN keep ON fp.f = keep.f)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared
       |ORDER BY n_shared DESC, doc_a, doc_b LIMIT 100""".stripMargin

  /** Corpus-level winnowing telemetry: per source, docs fingerprinted,
    * total and distinct fingerprints, and the realized selection
    * density (fingerprints per gram — theory says ≈ 2/(w+1)). The
    * sizing readout that decides w before a 100 TB fingerprint run. */
  private def textWinnowDensity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = fingerprints(s, dir)
    val perDoc = fp.groupBy($"doc_id").agg(count(lit(1)).as("nf"))
    val grams = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        (size(split($"text", " ")) - (K - 1)).as("ng"))
      .filter($"ng" >= 1)
    grams.join(perDoc, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"nf").as("n_fingerprints"),
        sum($"ng").as("n_grams"))
      .select($"source", $"n_docs", $"n_fingerprints",
        (expr("(n_fingerprints * 1000000000L) div n_grams")
          .cast("double") / 1e9).as("density"))
      .orderBy($"source")
  }

  private val textWinnowDensitySql =
    s"""WITH tok AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= $K),
       |g AS (
       |  SELECT doc_id, i,
       |    CAST('0x' || substring(md5(array_to_string(ws[i:i+${K - 1}], ' ')), 1, 15) AS BIGINT) AS gh
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${K - 1})) AS i FROM tok) t),
       |m AS (
       |  SELECT doc_id, i,
       |    MIN(gh) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN CURRENT ROW AND ${W - 1} FOLLOWING) AS wm,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS ng
       |  FROM g),
       |fp AS (
       |  SELECT DISTINCT doc_id, wm AS f FROM m
       |  WHERE (ng >= $W AND i <= ng - ${W - 1}) OR (ng < $W AND i = 1)),
       |pd AS (SELECT doc_id, COUNT(*) AS nf FROM fp GROUP BY doc_id),
       |gr AS (SELECT doc_id, source, len(string_split(text, ' ')) - ${K - 1} AS ng
       |       FROM documents WHERE len(string_split(text, ' ')) - ${K - 1} >= 1)
       |SELECT gr.source AS source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(pd.nf) AS BIGINT) AS n_fingerprints,
       |  CAST((SUM(pd.nf) * 1000000000) // SUM(gr.ng) AS DOUBLE)/1e9 AS density
       |FROM gr JOIN pd ON gr.doc_id = pd.doc_id
       |GROUP BY gr.source ORDER BY source""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "text_winnow" -> QueryDef(textWinnow, Some(textWinnowSql), bench = true),
    "text_winnow_density" -> QueryDef(textWinnowDensity, Some(textWinnowDensitySql))
  )
}

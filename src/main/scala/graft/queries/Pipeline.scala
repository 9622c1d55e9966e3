package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Dedup => DedupOps, TextAnalysis => TA}

/** Round-3 pipeline batch: span-level substring dedup, the Gopher
  * composite quality filter, the Gram-matrix block matmul, triangle
  * counting (the classic multi-way-join MapReduce workload), and
  * per-domain quota sampling.
  */
object Pipeline {

  /** Manifest-committed sink round-trip — the table-format commit
    * protocol (Delta/Iceberg core) proven end-to-end: the English
    * corpus is appended in TWO separate commits through
    * [[graft.sources.ManifestTable]], a CRASHED-WRITER orphan (a real
    * parquet file in data/ that no manifest names) is planted, and the
    * table is read back via the latest manifest. The per-source
    * aggregate equals the oracle's direct aggregate over `documents`
    * IFF (a) both commits landed (append lost nothing), and (b) the
    * orphan stayed invisible (readers plan manifest-listed files, not
    * directory listings). Time travel and conflict sequencing are
    * spec-pinned (ManifestSinkSpec). Result rows are checkpointed and
    * the temp table deleted — the StreamReplay teardown discipline.
    *
    * Scale shape: commits are O(live files) metadata, row-count
    * independent; readers never LIST the data directory (the
    * object-store eventual-consistency trap). */
  private def sinkManifestRoundtrip(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-rt") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val en = Tables.documents(s, dir)
        .filter($"lang" === "en")
        .select($"doc_id", $"source", $"n_chars")
      ManifestTable.append(s, en.filter($"doc_id" % 2 === 0), root)
      ManifestTable.append(s, en.filter($"doc_id" % 2 =!= 0), root)
      // crashed writer: real data file on disk, named by NO manifest
      Tables.documents(s, dir).filter($"lang" =!= "en")
        .select($"doc_id", $"source", $"n_chars")
        .write.parquet(s"$root/data/txn-orphan-crashed")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestRoundtripSql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY source ORDER BY source""".stripMargin

  /** Exactly-once STREAMING append into the manifest table — the 13th
    * driver-verified streaming path, and the one that proves the SINK
    * side: the events stream drains through foreachBatch into
    * [[graft.sources.ManifestTable.appendIdempotent]] (the Delta `txn`
    * appId/version pattern), and every batch is deliberately delivered
    * TWICE — the retry a foreachBatch sink must survive, since Spark
    * re-runs a batch whose commit landed just before a crash. The txn
    * marker makes the duplicate a no-op; the read-back aggregate
    * hash-matches the plain batch oracle IFF no batch was lost AND no
    * batch was double-counted. maxFilesPerTrigger=2 over a 8-file
    * source forces a genuinely multi-batch replay. */
  private def sinkManifestStreaming(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-stream") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val ev = Tables.events(s, dir)
        .select($"event_id", $"event_type", QueryDef.cents($"value").as("value_cents"))
      ev.repartition(8).write.mode("overwrite").parquet(s"$root/src")
      val table = s"$root/table"
      StreamReplay.drain("sink_manifest_streaming", root)(s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          val first = ManifestTable.appendIdempotent(s, batch.toDF(), table, "ev", batchId)
          require(first.isDefined, s"batch $batchId skipped on first delivery")
          // the post-commit-crash retry: same batch, same id, again
          val dup = ManifestTable.appendIdempotent(s, batch.toDF(), table, "ev", batchId)
          require(dup.isEmpty, s"duplicate batch $batchId committed twice")
          ()
        })
      ManifestTable.read(s, table)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"value_cents").as("sum_cents"))
        .orderBy($"event_type")
    }

  private val sinkManifestStreamingSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** File skipping on the manifest table proven end-to-end — the
    * Iceberg-style data-skipping half of the table format: the corpus
    * is appended as 8 single-file doc_id slices via
    * [[graft.sources.ManifestTable.appendWithStats]] (per-file min/max
    * recorded in the manifest `add=` entries), then a narrow range
    * read plans ONLY the two overlapping files + the residual row
    * filter. The emitted row commits both the pruning census
    * (n_planned = 2 of 8 — wrong stats or a broken overlap test change
    * it) and the exact range aggregate (a pruned-away live row would
    * break it the other way). Scale shape: stats are O(batch) at
    * append time; the range read never opens non-overlapping files —
    * the manifest IS the index. */
  private def sinkManifestPruned(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-prune") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      // skey: a zero-padded STRING shadow of doc_id, so the slices carry
      // disjoint truncated-string bounds (sstat=) alongside the long
      // bounds — the string-pruning half of the census
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
        .withColumn("skey", format_string("k%09d", $"doc_id"))
      val n = docs.count()
      val w = (n + 7) / 8
      for (i <- 0L until 8L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id", "n_chars", "skey")
      val lo = w + 3; val hi = 2 * w + 5 // overlaps slices 1 and 2 only
      val planned = ManifestTable.plannedFilesForRange(root, "doc_id", lo, hi).size
      // second stated column: an n_chars range census. The expected
      // planned count is recomputed by the oracle from the same slice
      // layout (doc_id // w), so wrong per-column bounds or a broken
      // overlap test on EITHER column breaks the hash.
      val (cMin, cMax) = docs.agg(min($"n_chars"), max($"n_chars"))
        .as[(Long, Long)].head()
      val cHi = cMin + (cMax - cMin) / 8
      val plannedChars =
        ManifestTable.plannedFilesForRange(root, "n_chars", cMin, cHi).size
      val charsSum = ManifestTable.readRange(s, root, "n_chars", cMin, cHi)
        .agg(coalesce(sum($"doc_id"), lit(0L))).as[Long].head()
      // string-keyed census: the same 2-slice window addressed through
      // the string shadow key — recorded sstat bounds must plan exactly
      // the slices the oracle re-derives, and the residual-filtered
      // read must sum the same ids
      val sLo = f"k$lo%09d"; val sHi = f"k$hi%09d"
      val plannedStr =
        ManifestTable.plannedFilesForStringRange(root, "skey", sLo, sHi).size
      val strSum = ManifestTable.readRangeString(s, root, "skey", sLo, sHi)
        .agg(coalesce(sum($"doc_id"), lit(0L))).as[Long].head()
      ManifestTable.readRange(s, root, "doc_id", lo, hi)
        .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"))
        .select(lit(8L).as("n_files"), lit(planned.toLong).as("n_planned"),
          $"n_rows", $"sum_chars",
          lit(plannedChars.toLong).as("n_planned_chars"),
          lit(charsSum).as("sum_ids_chars"),
          lit(plannedStr.toLong).as("n_planned_str"),
          lit(strSum).as("sum_ids_str"))
    }

  private val sinkManifestPrunedSql =
    """WITH w AS (SELECT (COUNT(*) + 7) // 8 AS w FROM documents),
      |cr AS (SELECT MIN(n_chars) AS clo,
      |  MIN(n_chars) + (MAX(n_chars) - MIN(n_chars)) // 8 AS chi FROM documents),
      |slices AS (SELECT doc_id // (SELECT w FROM w) AS slice,
      |  MIN(n_chars) AS smn, MAX(n_chars) AS smx FROM documents GROUP BY 1),
      |pc AS (SELECT COUNT(*) AS n_planned_chars FROM slices, cr
      |  WHERE smx >= clo AND smn <= chi),
      |sic AS (SELECT COALESCE(SUM(doc_id), 0) AS sum_ids_chars
      |  FROM documents, cr WHERE n_chars >= clo AND n_chars <= chi),
      |sslices AS (SELECT doc_id // (SELECT w FROM w) AS slice,
      |  MIN(printf('k%09d', doc_id)) AS smn,
      |  MAX(printf('k%09d', doc_id)) AS smx FROM documents GROUP BY 1),
      |ps AS (SELECT COUNT(*) AS n_planned_str FROM sslices, w
      |  WHERE smx >= printf('k%09d', w + 3) AND smn <= printf('k%09d', 2 * w + 5)),
      |sis AS (SELECT COALESCE(SUM(doc_id), 0) AS sum_ids_str
      |  FROM documents, w
      |  WHERE printf('k%09d', doc_id) >= printf('k%09d', w + 3)
      |    AND printf('k%09d', doc_id) <= printf('k%09d', 2 * w + 5))
      |SELECT CAST(8 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_planned,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST((SELECT n_planned_chars FROM pc) AS BIGINT) AS n_planned_chars,
      |  CAST((SELECT sum_ids_chars FROM sic) AS BIGINT) AS sum_ids_chars,
      |  CAST((SELECT n_planned_str FROM ps) AS BIGINT) AS n_planned_str,
      |  CAST((SELECT sum_ids_str FROM sis) AS BIGINT) AS sum_ids_str
      |FROM documents, w
      |WHERE doc_id >= w + 3 AND doc_id <= 2 * w + 5""".stripMargin

  /** Row-level DELETE on the manifest table proven end-to-end — the
    * GDPR/takedown primitive (Delta/Iceberg DELETE, copy-on-write):
    * the corpus lands as 4 stats-carrying doc_id slices, then
    * [[graft.sources.ManifestTable.deleteWhere]] removes the even
    * doc_ids of the upper half — a predicate that touches slices 2–3
    * and must leave slices 0–1's files (and their column stats)
    * byte-untouched. The emitted rows commit BOTH sides of the
    * contract: `post` is the read-back after the delete (a surviving
    * row lost or a dead row kept breaks it), and `pre` is TIME TRAVEL
    * to the pre-delete version (physical erasure is vacuum's job; the
    * old snapshot must still fold). In-code requires pin the
    * copy-on-write shape itself: exactly one new version, untouched
    * files still prunable, and a delete matching nothing committing
    * nothing. Scale shape: one predicate-pushed scan plans the
    * affected files, the rewrite touches only their rows, commit
    * metadata is O(live files). */
  private def sinkManifestDelete(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-del") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val preV = ManifestTable.latestVersion(root).get
      val dv = ManifestTable.deleteWhere(s, root,
        $"doc_id" >= 2 * w && $"doc_id" % 2 === 0, statCols = Seq("doc_id"))
      require(dv.contains(preV + 1), s"delete must commit exactly version ${preV + 1}")
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "delete rewrote (or dropped the stats of) a file it did not touch")
      require(ManifestTable.deleteWhere(s, root, $"doc_id" < 0).isEmpty,
        "a delete matching nothing must not commit a version")
      def aggOf(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .select(lit(phase).as("phase"), $"n_docs", $"sum_chars")
      aggOf(ManifestTable.read(s, root, Some(preV)), "pre")
        .unionAll(aggOf(ManifestTable.read(s, root), "post"))
        .orderBy($"phase")
    }

  private val sinkManifestDeleteSql =
    """WITH w AS (SELECT (COUNT(*) + 3) // 4 AS w FROM documents)
      |SELECT 'pre' AS phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents
      |UNION ALL
      |SELECT 'post', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents, w WHERE NOT (doc_id >= 2 * w AND doc_id % 2 = 0)
      |ORDER BY phase""".stripMargin

  /** MERGE-ON-READ DELETE via deletion vectors proven end-to-end —
    * the Delta DV / Iceberg v2 position-delete shape, the answer to
    * copy-on-write's write amplification (a 1-row GDPR delete on a
    * 1 GB file must not cost 1 GB of rewrite): the corpus lands as 4
    * stats-carrying doc_id slices, then
    * [[graft.sources.ManifestTable.deleteWhere]] with `dvFraction`
    * masks the sparse doc_id % 97 == 0 rows. In-code requires pin the
    * merge-on-read contract: the delete commits exactly ONE version
    * whose manifest carries ONLY `dv=` masks — zero `add=` (no data
    * file staged: committed bytes are O(matched rows), the write-
    * amplification proof) and zero `remove=` (no file rewritten, all
    * column stats survive verbatim); the metadata-only COUNT(*)
    * subtracts the mask cardinality; stats pruning still plans 1 file
    * for a 1-slice range. The emitted rows commit the read contract:
    * `post` is the masked read-back, `pre` is time travel to the
    * pre-delete snapshot — both hash-matched against DuckDB replaying
    * the predicate. Scale shape: the mask is a broadcast anti-join on
    * (file, row position) applied in-scan — no shuffle, no rewrite,
    * O(deleted) state. */
  private def sinkManifestDv(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-dv") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val preV = ManifestTable.latestVersion(root).get
      val v = ManifestTable.deleteWhere(s, root, $"doc_id" % 97 === 0,
        statCols = Seq("doc_id"), dvFraction = 0.10)
      require(v.contains(preV + 1), s"DV delete must commit exactly version ${preV + 1}")
      val lines = scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
          root, "_manifest", s"v${preV + 1}.manifest"))).asScala.toSeq
      require(lines.exists(_.startsWith("dv=")),
        "sparse delete must commit deletion-vector masks")
      require(!lines.exists(l => l.startsWith("add=") || l.startsWith("remove=")),
        "a DV delete must stage no data files and rewrite none — " +
          "committed bytes must be O(matched rows)")
      val expectGone = (0L until n).count(_ % 97 == 0)
      require(ManifestTable.countMeta(root).contains(n - expectGone),
        "metadata-only COUNT(*) must subtract the mask cardinality")
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "DV delete must leave every file's column stats prunable")
      def aggOf(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .select(lit(phase).as("phase"), $"n_docs", $"sum_chars")
      aggOf(ManifestTable.read(s, root, Some(preV)), "pre")
        .unionAll(aggOf(ManifestTable.read(s, root), "post"))
        .orderBy($"phase")
    }

  private val sinkManifestDvSql =
    """SELECT 'pre' AS phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents
      |UNION ALL
      |SELECT 'post', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents WHERE doc_id % 97 <> 0
      |ORDER BY phase""".stripMargin

  /** The DSv2 WRITE path proven end-to-end — the manifest table
    * written through STANDARD Spark APIs
    * (`df.write.format("graft-manifest")`): the corpus lands
    * range-partitioned in ONE atomic v2 commit whose per-file stats
    * were folded DURING the write (no extra pass), then a second
    * append and an overwrite exercise schema inference and the
    * truncate path. In-code requires pin the contract: write-side
    * stats prune a range plan to 1 of 4 files, the metadata-only
    * COUNT(*) is exact, overwrite is a forward `reset` commit that
    * still time-travels, and the DSv2 READ with a pushed filter plans
    * exactly the stats census. Emitted rows aggregate the final
    * snapshot + the pruned ranged read, hash-matched against DuckDB.
    * Scale shape: executors write straight into the staging dir
    * (zero driver data movement), the driver commits O(files)
    * metadata once. */
  private def sinkManifestDsv2Write(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-w") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      docs.repartitionByRange(4, $"doc_id")
        .write.format("graft-manifest")
        .option("writeSchema", "doc_id BIGINT, n_chars BIGINT")
        .mode("append").save(root)
      require(ManifestTable.latestVersion(root).contains(0L),
        "v2 batch write must land as ONE atomic commit")
      require(ManifestTable.countMeta(root).contains(n),
        "write-side rows= stats must make COUNT(*) metadata-only")
      val w = (n + 3) / 4
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, w / 2).size == 1,
        "write-side bounds must prune a 1-slice range to 1 of 4 files")
      // second append (schema inferred from the table), then the pruned
      // DSv2 read: pushed range filter plans the stats census only
      docs.filter($"doc_id" < 3).select($"doc_id" + n as "doc_id", $"n_chars")
        .coalesce(1)
        .write.format("graft-manifest").mode("append").save(root)
      val scan = s.read.format("graft-manifest")
        .schema(ManifestTable.read(s, root).schema).load(root)
        .filter($"doc_id" >= 0L && $"doc_id" < w)
      require(scan.rdd.getNumPartitions == 1,
        "pushed range filter must plan only the overlapping file")
      // materialize the ranged census NOW: the scan plans lazily against
      // the LATEST snapshot, and the overwrite below is about to reset it
      val (rangedN, rangedSum) = scan
        .agg(count(lit(1)), sum($"n_chars")).as[(Long, Long)].head()
      // overwrite = forward reset commit; the pre-overwrite snapshot
      // still time-travels
      docs.limit(0).write.format("graft-manifest").mode("overwrite").save(root)
      require(ManifestTable.snapshotFiles(root).isEmpty, "overwrite must reset")
      require(ManifestTable.read(s, root, Some(1L)).count() == n + 3,
        "pre-overwrite snapshot must still time-travel")
      ManifestTable.read(s, root, Some(1L))
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .select(lit("full").as("phase"), $"n_docs", $"sum_chars")
        .unionAll(Seq(("ranged", rangedN, rangedSum))
          .toDF("phase", "n_docs", "sum_chars"))
        .orderBy($"phase")
    }

  private val sinkManifestDsv2WriteSql =
    """WITH w AS (SELECT (COUNT(*) + 3) // 4 AS w FROM documents)
      |SELECT 'full' AS phase, CAST(COUNT(*) + 3 AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) +
      |    (SELECT SUM(n_chars) FROM documents WHERE doc_id < 3) AS BIGINT)
      |    AS sum_chars
      |FROM documents
      |UNION ALL
      |SELECT 'ranged', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents, w WHERE doc_id >= 0 AND doc_id < w
      |ORDER BY phase""".stripMargin

  /** Column RENAME via column mapping proven end-to-end — the Delta
    * column-mapping shape (metadata-only schema surgery): the corpus
    * lands as 4 stats-carrying doc_id slices, `renameColumn` turns
    * `doc_id` into `document_id` in ONE commit, and the in-code
    * requires pin the mapping contract: the live file set is
    * byte-identical across the rename (zero data movement), stats
    * pruning is STILL LIVE on the renamed column (bounds are keyed by
    * the untouched physical name), a post-rename append lands through
    * the logical→physical indirection, and time travel BEFORE the
    * rename presents the old name. Emitted pre/post aggregates
    * hash-match DuckDB replaying both snapshots. */
  private def sinkManifestRename(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-ren") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val preV = ManifestTable.latestVersion(root).get
      val filesBefore = ManifestTable.snapshotFiles(root).sorted
      val rv = ManifestTable.renameColumn(s, root, "doc_id", "document_id")
      require(rv == preV + 1, "rename must commit exactly one version")
      require(ManifestTable.snapshotFiles(root).sorted == filesBefore,
        "rename must be metadata-only: the live file set changed")
      require(ManifestTable.read(s, root).columns.toSeq ==
        Seq("document_id", "n_chars"), "rename did not surface in reads")
      // post-rename append through the logical name (3 shifted echo rows)
      ManifestTable.appendWithStats(s,
        docs.filter($"doc_id" < 3).select(
          ($"doc_id" + n).as("document_id"), $"n_chars").coalesce(1),
        root, "document_id")
      // stats pruning is live on the RENAMED column: a low range plans
      // exactly slice 0 (the appended file's ids start at n)
      require(ManifestTable.plannedFilesForRange(root, "document_id", 0, 10).size == 1,
        "stats pruning must survive the rename (physical-keyed bounds)")
      // time travel across the rename presents the OLD name
      val pre = ManifestTable.read(s, root, Some(preV))
      require(pre.columns.toSeq == Seq("doc_id", "n_chars"),
        "time travel must present the pre-rename schema")
      pre
        .agg(count(lit(1)).as("n_docs"), sum($"doc_id").as("sum_ids"))
        .select(lit("pre").as("phase"), $"n_docs", $"sum_ids")
        .unionAll(ManifestTable.read(s, root)
          .agg(count(lit(1)).as("n_docs"), sum($"document_id").as("sum_ids"))
          .select(lit("post").as("phase"), $"n_docs", $"sum_ids"))
        .orderBy($"phase")
    }

  private val sinkManifestRenameSql =
    """SELECT 'pre' AS phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids FROM documents
      |UNION ALL
      |SELECT 'post', CAST(COUNT(*) + 3 AS BIGINT),
      |  CAST(SUM(doc_id) + 3 + 3 * COUNT(*) AS BIGINT) FROM documents
      |ORDER BY phase""".stripMargin

  /** The manifest table as an incremental SOURCE — the Delta
    * change-data-feed shape, and the 14th driver-verified streaming
    * replay path. The events stream drains through foreachBatch into
    * the table exactly-once (txn markers, every batch delivered twice
    * — the proven sink side), and IN the same loop a downstream
    * consumer polls [[graft.sources.ManifestTable.readSince]] for the
    * rows added in (cursor, latest] and appends them to a MIRROR
    * table — the poll-the-feed-instead-of-rereading-the-table pattern
    * every downstream incremental pipeline runs. The emitted rollup
    * aggregates the MIRROR: it hash-matches the plain batch oracle
    * IFF the feed delivered every committed row exactly once — a
    * dropped interval, a double-consumed version, or a feed that
    * leaked the duplicate deliveries all break the hash. Feed cost is
    * O(versions polled) manifest lines, never O(history). */
  private def sinkManifestChangefeed(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-cdf") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val ev = Tables.events(s, dir)
        .select($"event_id", $"event_type", QueryDef.cents($"value").as("value_cents"))
      ev.repartition(8).write.mode("overwrite").parquet(s"$root/src")
      val table = s"$root/table"
      val mirror = s"$root/mirror"
      var cursor = -1L
      StreamReplay.drain("sink_manifest_changefeed", root)(s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(s"$root/src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          val first = ManifestTable.appendIdempotent(s, batch.toDF(), table, "ev", batchId)
          require(first.isDefined, s"batch $batchId skipped on first delivery")
          // the post-commit-crash retry: a no-op upstream…
          val dup = ManifestTable.appendIdempotent(s, batch.toDF(), table, "ev", batchId)
          require(dup.isEmpty, s"duplicate batch $batchId committed twice")
          // …and the consumer drains the feed up to the latest version
          val latest = ManifestTable.latestVersion(table).get
          if (latest > cursor) {
            ManifestTable.append(s,
              ManifestTable.readSince(s, table, cursor, Some(latest)), mirror)
            cursor = latest
          }
          // the duplicate delivery must have added NOTHING to the feed
          require(ManifestTable.addedFilesSince(table, cursor).isEmpty,
            s"feed not drained after batch $batchId")
          ()
        })
      ManifestTable.read(s, mirror)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"value_cents").as("sum_cents"))
        .orderBy($"event_type")
    }

  private val sinkManifestChangefeedSql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Incremental RE-CRAWL dedup driven by the change feed — the
    * composition a production corpus pipeline actually runs: a
    * staging manifest table receives four commits where every commit
    * after the first RE-DELIVERS the previous commit's documents
    * under fresh doc_ids (same text — the re-crawl shape), and after
    * each commit a consumer drains [[graft.sources.ManifestTable
    * .readSince]], keeps the first arrival per content hash within
    * the batch, ANTI-JOINS the remainder against the curated table's
    * hashes (a distributed join, never a collected set), and appends
    * only the novel docs to the curated manifest table. Correct IFF
    * the curated table ends as EXACTLY the original corpus: a broken
    * feed interval loses fresh docs (undercount), a broken anti-join
    * keeps re-crawled copies (overcount) — both break the hash, as
    * does the emitted dropped-count census. Scale shape: per commit
    * the consumer touches O(feed) rows + one hash equi-join against
    * the curated table; nothing rescans the staging history. */
  private def dedupChangefeedE2e(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-cdf-dedup") { root =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.sources.ManifestTable
      val staging = s"$root/staging"
      val curated = s"$root/curated"
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars", $"text")
      val n = docs.count()
      var cursor = -1L
      for (i <- 0 until 4) {
        val fresh = docs.filter($"doc_id" % 4 === i)
        val batch =
          if (i == 0) fresh
          else fresh.unionAll(docs.filter($"doc_id" % 4 === i - 1)
            .withColumn("doc_id", $"doc_id" + 10L * n)) // re-crawl: same text, new id
        ManifestTable.append(s, batch, staging)
        val latest = ManifestTable.latestVersion(staging).get
        val feed = ManifestTable.readSince(s, staging, cursor, Some(latest))
          .withColumn("h", md5($"text"))
        val firstInBatch = feed
          .withColumn("rk", row_number().over(
            Window.partitionBy($"h").orderBy($"doc_id")))
          .filter($"rk" === 1).drop("rk")
        val novel =
          if (ManifestTable.latestVersion(curated).isEmpty) firstInBatch
          else firstInBatch.join(
            ManifestTable.read(s, curated).select(md5($"text").as("h")).distinct(),
            Seq("h"), "left_anti")
        ManifestTable.append(s, novel.drop("h"), curated)
        cursor = latest
      }
      val dropped = ManifestTable.read(s, staging).count() -
        ManifestTable.read(s, curated).count()
      ManifestTable.read(s, curated)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .withColumn("n_dropped", lit(dropped))
        .orderBy($"source")
    }

  // Full delivery-ledger replay: originals arrive in batch doc_id%4,
  // re-crawled copies (same text, id+10n) one batch later. Keep the
  // FIRST delivery per text (batch, then id — the pipeline's in-batch
  // row_number + cross-batch anti-join order), so intra-corpus
  // duplicate texts (sf0.1 has 8 pairs) dedup exactly like re-crawls.
  private val dedupChangefeedE2eSql =
    """WITH n AS (SELECT COUNT(*) AS n FROM documents),
      |ledger AS (
      |  SELECT doc_id AS id, doc_id % 4 AS b, source, n_chars, text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10 * n AS id, doc_id % 4 + 1 AS b, source, n_chars, text
      |  FROM documents CROSS JOIN n WHERE doc_id % 4 < 3),
      |kept AS (
      |  SELECT * FROM ledger
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY b, id) = 1),
      |drp AS (SELECT (SELECT COUNT(*) FROM ledger) -
      |               (SELECT COUNT(*) FROM kept) AS n_dropped)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST((SELECT n_dropped FROM drp) AS BIGINT) AS n_dropped
      |FROM kept GROUP BY source ORDER BY source""".stripMargin

  /** GDPR erasure END-TO-END — the full right-to-be-forgotten
    * pipeline a training-data warehouse must run, composed from the
    * table format's own primitives and verified at the STORAGE layer:
    * [[graft.sources.ManifestTable.deleteWhere]] (copy-on-write
    * delete of one source's rows) → [[graft.sources.ManifestTable
    * .vacuum]] (history bounded to the post-delete version, grace 0 —
    * no concurrent writers here by construction) → PHYSICAL proof:
    * every parquet file left on disk is read DIRECTLY (bypassing the
    * manifest entirely) and must contain ZERO of the erased source's
    * rows, and time travel to any pre-delete version must be gone.
    * Logical deletion alone (Delta without VACUUM) does NOT satisfy
    * erasure — the deleted bytes live on in old files; this key gates
    * that the pipeline actually removes them. The emitted per-source
    * aggregate is over the post-erasure table and hash-matches the
    * oracle's filtered scan. */
  private def sinkManifestGdprE2e(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-gdpr") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.append(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w), root)
      val victim = "src7"
      val preV = ManifestTable.latestVersion(root).get
      require(ManifestTable.deleteWhere(s, root, $"source" === victim).isDefined,
        "nothing deleted — victim source missing from the corpus?")
      ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0)
      // physical erasure: read EVERY remaining data file directly off
      // disk — no manifest in the path — and the victim must be gone
      val diskFiles = Option(new java.io.File(root, "data").listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
      require(diskFiles.nonEmpty, "vacuum erased the whole table")
      val raw = s.read.parquet(diskFiles.toIndexedSeq: _*)
      require(raw.filter($"source" === victim).count() == 0,
        s"GDPR FAILURE: $victim rows physically present after delete+vacuum")
      // and history is bounded: the pre-delete snapshot no longer folds
      val preGone =
        try { ManifestTable.read(s, root, Some(preV)).count(); false }
        catch { case _: IllegalStateException => true }
      require(preGone, "pre-delete version still readable after vacuum")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestGdprE2eSql =
    """SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE source <> 'src7'
      |GROUP BY source ORDER BY source""".stripMargin

  /** Manifest-table SCHEMA EVOLUTION proven end-to-end — the
    * add-column commit (Delta mergeSchema shape): the lower half of
    * the corpus lands under the v1 schema (doc_id, n_chars), then
    * [[graft.sources.ManifestTable.appendEvolving]] lands the upper
    * half under the v2 schema (+ n_tokens) in ONE commit that also
    * records the new schema. In-code requires pin every contract the
    * feature exists for: the latest read presents all three columns
    * with the pre-evolution rows' n_tokens resolving to NULL (parquet
    * schema evolution, not a rewrite — old files are byte-untouched);
    * TIME TRAVEL to the pre-evolution version presents the OLD
    * two-column schema; stats on the new column start at the commit
    * that adds it (a beyond-max n_tokens range plans exactly the
    * stat-less v1 file, never skips it); and an incompatible batch
    * (type change on a shared column) is rejected before committing.
    * The emitted per-generation aggregate hash-matches the oracle IFF
    * NULL-backfill hit exactly the pre-evolution rows. Scale shape:
    * evolution is O(batch) — no rewrite of existing files, the schema
    * rides the log. */
  private def sinkManifestSchemaEvo(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-evo") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      val w = (n + 1) / 2
      ManifestTable.appendEvolving(s,
        docs.filter($"doc_id" < w).coalesce(1), root, "doc_id")
      val preV = ManifestTable.latestVersion(root).get
      val evolved = docs.filter($"doc_id" >= w)
        .withColumn("n_tokens", expr("n_chars div 5")).coalesce(1)
      val evoV = ManifestTable.appendEvolving(s, evolved, root, "doc_id", "n_tokens")
      require(evoV == preV + 1, "evolution must be ONE commit")
      // latest: three columns, legacy rows NULL-backfilled, nothing rewritten
      val latest = ManifestTable.read(s, root)
      require(latest.columns.sameElements(Array("doc_id", "n_chars", "n_tokens")),
        s"evolved read lost columns: ${latest.columns.mkString(",")}")
      // time travel: the pre-evolution snapshot presents the OLD schema
      val pre = ManifestTable.read(s, root, Some(preV))
      require(pre.columns.sameElements(Array("doc_id", "n_chars")),
        s"time travel leaked the evolved schema: ${pre.columns.mkString(",")}")
      // doc_id pruning still works across the evolution commit…
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "evolution broke file pruning on the original column")
      // …and the new column's stats exist ONLY from the evolution commit:
      // a beyond-max range plans exactly the stat-less pre-evolution file
      val maxTok = evolved.agg(max($"n_tokens")).as[Long].head()
      require(ManifestTable.plannedFilesForRange(
          root, "n_tokens", maxTok + 1, maxTok + 100).size == 1,
        "pre-evolution file (no n_tokens stats) must never be skipped")
      // an incompatible evolution (type change) must fail BEFORE committing
      val bad = try {
        ManifestTable.appendEvolving(s,
          docs.limit(1).withColumn("n_chars", $"n_chars".cast("string")), root)
        false
      } catch { case _: IllegalArgumentException => true }
      require(bad, "type-changing evolution was accepted")
      require(ManifestTable.latestVersion(root).contains(evoV),
        "rejected evolution advanced the log")
      latest
        .groupBy(when($"n_tokens".isNull, "v1").otherwise("v2").as("gen"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"),
          sum(coalesce($"n_tokens", lit(0L))).as("sum_tokens"))
        .orderBy($"gen")
    }

  private val sinkManifestSchemaEvoSql =
    """WITH w AS (SELECT (COUNT(*) + 1) // 2 AS w FROM documents)
      |SELECT CASE WHEN doc_id >= w THEN 'v2' ELSE 'v1' END AS gen,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(CASE WHEN doc_id >= w THEN n_chars // 5 ELSE 0 END) AS BIGINT)
      |    AS sum_tokens
      |FROM documents, w GROUP BY 1 ORDER BY 1""".stripMargin

  /** Z-ORDER clustering on the manifest table — WHY multi-dimensional
    * layout beats a linear sort (the Delta OPTIMIZE ZORDER rationale,
    * measured): the corpus lands TWICE, once laid out by the
    * interleaved-bits Z-value of (doc_id bucket, n_chars bucket) —
    * 16 single-cell files whose per-file bounds are tight in BOTH
    * dimensions — and once linearly by doc_id alone (16 files tight
    * in doc_id, but each spanning nearly the full n_chars range,
    * because the two columns are uncorrelated). A 2-D rectangle query
    * then plans via the SAME per-file min/max overlap test on both
    * tables: the Z layout prunes in both dimensions (≤4 of 16 files
    * for a 2×2-bucket rectangle), the linear layout prunes only in
    * doc_id (~8 of 16 — its n_chars bounds never exclude anything).
    * The emitted single row carries both censuses plus the rectangle
    * aggregate read THROUGH the planned Z files (a wrong file bound
    * breaks the sums); the oracle re-derives every bucket, Z-value,
    * per-cell bound, and overlap decision from the raw table. Scale
    * shape: each layout is ONE shuffle + ONE stats-carrying commit
    * (the IVF build path); planning is metadata-only. */
  private def sinkManifestZorder(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-zorder") { base =>
      import s.implicits._
      import graft.sources.ManifestTable
      val zroot = s"$base/z"; val lroot = s"$base/linear"
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val (n, cMin, cMax) = docs
        .agg(count(lit(1)), min($"n_chars"), max($"n_chars"))
        .as[(Long, Long, Long)].head()
      val w4 = (n + 3) / 4; val w16 = (n + 15) / 16; val rng = cMax - cMin + 1
      val bucketed = docs
        .withColumn("x", expr(s"doc_id div $w4"))
        .withColumn("y", expr(s"((n_chars - $cMin) * 4) div $rng"))
      val zRows = bucketed.withColumn("cell",
        expr("(x % 2) + 2 * (y % 2) + 4 * ((x div 2) % 2) + 8 * ((y div 2) % 2)"))
        .select($"cell", $"doc_id", $"n_chars")
      val linRows = bucketed.withColumn("cell", expr(s"doc_id div $w16"))
        .select($"cell", $"doc_id", $"n_chars")
      graft.operators.Similarity.buildIvfManifestIndex(s, zRows,
        (0L until 16L).toArray, zroot, sortCol = "doc_id",
        statCols = Seq("doc_id", "n_chars"))
      graft.operators.Similarity.buildIvfManifestIndex(s, linRows,
        (0L until 16L).toArray, lroot, sortCol = "doc_id",
        statCols = Seq("doc_id", "n_chars"))
      // the 2-D rectangle: doc_id buckets 1-2 × n_chars buckets 1-2
      val xLo = w4; val xHi = 3 * w4 - 1
      val yLo = cMin + (rng + 3) / 4; val yHi = cMin + (3 * rng - 1) / 4
      // ONE overlap computation per layout: the census counts and the
      // files the aggregate reads through must be the same set by
      // construction, not two copies of the predicate that can drift
      def plannedFiles(root: String): Seq[String] =
        ManifestTable.snapshotFilesWithStats(root).collect {
          case (f, st)
            if st.get("doc_id").forall { case (mn, mx) => mx >= xLo && mn <= xHi } &&
              st.get("n_chars").forall { case (mn, mx) => mx >= yLo && mn <= yHi } => f
        }
      def live(root: String): Long = ManifestTable.snapshotFiles(root).size.toLong
      val plannedZ = plannedFiles(zroot)
      val (pZ, pLin) = (plannedZ.size.toLong, plannedFiles(lroot).size.toLong)
      require(pZ < pLin,
        s"Z layout planned $pZ files vs linear $pLin — no 2-D pruning win")
      // the rectangle aggregate, read THROUGH the planned Z files only
      // (an all-pruned plan degrades to an empty frame, mirroring the
      // oracle's COUNT-over-nothing row, not a parquet path error)
      val rectSrc =
        if (plannedZ.nonEmpty) s.read.parquet(
          plannedZ.map(f => new java.io.File(s"$zroot/data", f).getPath): _*)
        else ManifestTable.read(s, zroot).filter(lit(false))
      rectSrc
        .filter($"doc_id" >= xLo && $"doc_id" <= xHi &&
          $"n_chars" >= yLo && $"n_chars" <= yHi)
        .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"))
        .select(lit(live(zroot)).as("n_live_z"), lit(pZ).as("n_planned_z"),
          lit(live(lroot)).as("n_live_linear"), lit(pLin).as("n_planned_linear"),
          $"n_rows", $"sum_chars")
    }

  private val sinkManifestZorderSql =
    """WITH p AS (SELECT COUNT(*) AS n, MIN(n_chars) AS cmin, MAX(n_chars) AS cmax
      |  FROM documents),
      |g AS (SELECT n, cmin, cmax, (n + 3) // 4 AS w4, (n + 15) // 16 AS w16,
      |  cmax - cmin + 1 AS rng FROM p),
      |d AS (SELECT doc_id, n_chars,
      |    doc_id // w4 AS x, ((n_chars - cmin) * 4) // rng AS y,
      |    doc_id // w16 AS lin
      |  FROM documents, g),
      |z AS (SELECT *,
      |    (x % 2) + 2 * (y % 2) + 4 * ((x // 2) % 2) + 8 * ((y // 2) % 2) AS zc
      |  FROM d),
      |rect AS (SELECT w4 AS xlo, 3 * w4 - 1 AS xhi,
      |    cmin + (rng + 3) // 4 AS ylo, cmin + (3 * rng - 1) // 4 AS yhi FROM g),
      |zstats AS (SELECT zc, MIN(doc_id) AS mnx, MAX(doc_id) AS mxx,
      |    MIN(n_chars) AS mny, MAX(n_chars) AS mxy FROM z GROUP BY 1),
      |lstats AS (SELECT lin, MIN(doc_id) AS mnx, MAX(doc_id) AS mxx,
      |    MIN(n_chars) AS mny, MAX(n_chars) AS mxy FROM z GROUP BY 1),
      |zp AS (SELECT COUNT(*) AS n_planned_z FROM zstats, rect
      |  WHERE mxx >= xlo AND mnx <= xhi AND mxy >= ylo AND mny <= yhi),
      |lp AS (SELECT COUNT(*) AS n_planned_linear FROM lstats, rect
      |  WHERE mxx >= xlo AND mnx <= xhi AND mxy >= ylo AND mny <= yhi),
      |zl AS (SELECT COUNT(*) AS n_live_z FROM zstats),
      |ll AS (SELECT COUNT(*) AS n_live_linear FROM lstats),
      |rq AS (SELECT COUNT(*) AS n_rows, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |  FROM z, rect
      |  WHERE doc_id >= xlo AND doc_id <= xhi AND n_chars >= ylo AND n_chars <= yhi)
      |SELECT CAST(n_live_z AS BIGINT) AS n_live_z,
      |  CAST(n_planned_z AS BIGINT) AS n_planned_z,
      |  CAST(n_live_linear AS BIGINT) AS n_live_linear,
      |  CAST(n_planned_linear AS BIGINT) AS n_planned_linear,
      |  CAST(n_rows AS BIGINT) AS n_rows, sum_chars
      |FROM zp, lp, zl, ll, rq""".stripMargin

  /** RESTORE on the manifest table proven end-to-end — the Delta
    * RESTORE lifecycle op, the undo every warehouse needs the day a
    * takedown predicate is fat-fingered: the corpus lands as 4
    * stats-carrying slices, a WRONG delete removes a third of it, and
    * [[graft.sources.ManifestTable.restore]] brings the pre-delete
    * snapshot back as ONE forward replacing commit — no data moves,
    * the bad version still folds for the auditor, untouched column
    * stats ride the restored entries verbatim (the range census
    * proves pruning survives), and the table keeps accepting appends
    * afterwards. In-code requires pin the protocol: exactly one new
    * commit, restore-to-current is a no-op that advances nothing, the
    * bad snapshot still time-travels. The emitted phases commit the
    * data contract: `bad` (the mistaken state), `restored` (must
    * equal the original corpus), `zfinal` (restore + a fresh append).
    * Scale shape: restore is metadata-only — O(target snapshot)
    * manifest lines, zero file copies, pinned-version optimistic
    * concurrency. */
  private def sinkManifestRestore(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-restore") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id", "n_chars")
      val goodV = ManifestTable.latestVersion(root).get
      val badV = ManifestTable.deleteWhere(s, root, $"doc_id" % 3 === 0,
        statCols = Seq("doc_id", "n_chars")).get
      def aggOf(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
          .select(lit(phase).as("phase"), $"n_docs", $"sum_chars")
      val bad = aggOf(ManifestTable.read(s, root), "bad")
      val rv = ManifestTable.restore(s, root, goodV)
      require(rv == badV + 1, "restore must be exactly ONE new commit")
      require(ManifestTable.restore(s, root, rv) == rv,
        "restore to the current version must be a no-op")
      require(ManifestTable.latestVersion(root).contains(rv),
        "no-op restore advanced the log")
      // restored entries verbatim ⇒ stats still prune: slice 0 alone
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "restore dropped the per-file stats")
      // forward-only log: the mistake is still auditable by time travel
      require(ManifestTable.read(s, root, Some(badV)).count() < n,
        "the bad version no longer folds")
      val restored = aggOf(ManifestTable.read(s, root), "restored")
      ManifestTable.appendWithStats(s,
        docs.filter($"doc_id" < 10).coalesce(1), root, "doc_id", "n_chars")
      val fin = aggOf(ManifestTable.read(s, root), "zfinal")
      bad.unionAll(restored).unionAll(fin).orderBy($"phase")
    }

  private val sinkManifestRestoreSql =
    """SELECT 'bad' AS phase, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 3 <> 0
      |UNION ALL
      |SELECT 'restored', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM documents
      |UNION ALL
      |SELECT 'zfinal', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT)
      |FROM (SELECT doc_id, n_chars FROM documents
      |      UNION ALL
      |      SELECT doc_id, n_chars FROM documents WHERE doc_id < 10) t
      |ORDER BY phase""".stripMargin

  /** Metadata-only aggregates on the manifest table — the
    * Iceberg/Delta trick where COUNT(*) / MIN / MAX never touch a data
    * file: every stats-carrying commit records the exact per-file row
    * count (`rows=`) and column bounds, so
    * [[graft.sources.ManifestTable.countMeta]] /
    * [[graft.sources.ManifestTable.rangeMeta]] fold the manifest and
    * answer in O(live files) — at 100 TB that is the difference
    * between a metadata lookup and a full scan. Copy-on-write keeps
    * the answers EXACT (not estimates): the key deletes rows mid-test
    * and the rewritten files carry fresh counts/bounds while untouched
    * entries survive verbatim. The None-fallback contract is pinned
    * in-code on a scratch table (one stats-less append ⇒ the
    * aggregate is unknowable ⇒ None, caller must scan). The emitted
    * row is built ENTIRELY from the metadata answers; the oracle
    * recomputes each from raw rows + the delete predicate. */
  private def sinkManifestCountMeta(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-countmeta") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id", "n_chars")
      ManifestTable.deleteWhere(s, root,
        $"doc_id" >= 2 * w && $"doc_id" % 2 === 0,
        statCols = Seq("doc_id", "n_chars"))
      val cnt = ManifestTable.countMeta(root).getOrElse(
        throw new IllegalStateException("countMeta undefined on a stats-only table"))
      val (idLo, idHi) = ManifestTable.rangeMeta(root, "doc_id").get
      val (chLo, chHi) = ManifestTable.rangeMeta(root, "n_chars").get
      // pin exactness against one real read (the zero-read proof — data
      // dir withheld — lives in the spec, where a read must still fail)
      require(cnt == ManifestTable.read(s, root).count(),
        "metadata row count drifted from the data")
      // fallback contract: one stats-less append ⇒ unknowable ⇒ None
      // (nested in the replay dir, so the harness releases it with root)
      val scratch = s"$root/scratch"
      ManifestTable.append(s, docs.limit(5), scratch)
      require(ManifestTable.countMeta(scratch).isEmpty,
        "countMeta invented a count for a stats-less commit")
      require(ManifestTable.rangeMeta(scratch, "doc_id").isEmpty,
        "rangeMeta invented bounds for a stats-less commit")
      s.range(1).select(lit(cnt).as("n_rows"),
        lit(idLo).as("min_id"), lit(idHi).as("max_id"),
        lit(chLo).as("min_chars"), lit(chHi).as("max_chars"))
    }

  private val sinkManifestCountMetaSql =
    """WITH w AS (SELECT (COUNT(*) + 3) // 4 AS w FROM documents),
      |s AS (SELECT doc_id, n_chars FROM documents, w
      |      WHERE NOT (doc_id >= 2 * w AND doc_id % 2 = 0))
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM s""".stripMargin

  /** Bloom-filter file skipping on the manifest table — the POINT
    * lookup min/max bounds cannot serve: the corpus is laid out by
    * QUALITY (8 n_chars buckets via
    * [[graft.sources.ManifestTable.appendWithBloom]]), so every file
    * spans nearly the full doc_id range and a doc_id range plan reads
    * all 8 — but the per-file Bloom filter (built on doc_id at append
    * time, riding the `add=` entry) sends a takedown-by-id lookup to
    * the ONE file that holds the document. In-code requires pin the
    * index contract: no false negatives (the lookup row always comes
    * back), planned ≤ present + 1 FP for each probe, absent keys plan
    * ≤ 1 file, and all probes together plan strictly fewer files than
    * one full scan. The emitted rows are the lookups themselves —
    * probe id, row count, chars — everything the oracle recomputes
    * from raw rows. Scale shape: build is one codegen'd pass + a
    * metadata-sized (file × word) aggregation; planning is a manifest
    * fold with zero data reads. */
  private def sinkManifestBloomSkip(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-bloom") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars")
      val n = docs.count()
      // quality layout in ONE pass + ONE commit (the compactClustered /
      // IVF-build shape — never a filter+write loop per bucket): range-
      // partition on n_chars, so each file spans ~the whole doc_id range
      // — the worst case for min/max bounds and the case blooms fix
      ManifestTable.appendWithBloom(s,
        docs.repartitionByRange(8, $"n_chars"), root, "doc_id", "n_chars")
      val probes = Seq(0L, n / 2, n - 1, n + 7777)
      val liveFiles = ManifestTable.snapshotFiles(root).size
      var plannedTotal = 0
      val rows = probes.map { p =>
        val planned = ManifestTable.plannedFilesForPoint(root, "doc_id", p).size
        plannedTotal += planned
        val hit = ManifestTable.readPoint(s, root, "doc_id", p)
          .agg(count(lit(1)).as("n"), coalesce(sum($"n_chars"), lit(0L)).as("c"))
          .as[(Long, Long)].head()
        val present = if (p < n) 1 else 0
        require(hit._1 == present,
          s"bloom lookup of doc $p returned ${hit._1} rows, expected $present " +
            "(a false NEGATIVE lost a row, or a residual filter is missing)")
        require(planned >= present && planned <= present + 1,
          s"doc $p planned $planned of $liveFiles files (present=$present) — " +
            "the bloom is not pruning (or FP rate blew its budget)")
        (p, hit._1, hit._2)
      }
      // the win over a full scan — meaningful once the layout has
      // enough files that probes cannot trivially cover them
      if (liveFiles > 4)
        require(plannedTotal < liveFiles,
          s"all probes together planned $plannedTotal files — no win over one full scan")
      rows.toDF("probe_id", "n_rows", "sum_chars").orderBy($"probe_id")
    }

  private val sinkManifestBloomSkipSql =
    """WITH p AS (SELECT COUNT(*) AS n FROM documents),
      |probes AS (SELECT CAST(0 AS BIGINT) AS probe_id
      |  UNION ALL SELECT n // 2 FROM p
      |  UNION ALL SELECT n - 1 FROM p
      |  UNION ALL SELECT n + 7777 FROM p)
      |SELECT probe_id, CAST(COUNT(d.doc_id) AS BIGINT) AS n_rows,
      |  CAST(COALESCE(SUM(d.n_chars), 0) AS BIGINT) AS sum_chars
      |FROM probes LEFT JOIN documents d ON d.doc_id = probes.probe_id
      |GROUP BY probe_id ORDER BY probe_id""".stripMargin

  /** Streaming MERGE exactly-once — the CDC-upsert pipeline a keyed
    * mirror table actually runs, composed from the proven primitives:
    * the events ledger replays as five event_id-ordered CDC batches,
    * each deduped to its last-per-user row (the in-batch MERGE rule)
    * and applied via [[graft.sources.ManifestTable.mergeInto]] with a
    * txn marker — and EVERY batch is delivered twice (the
    * foreachBatch post-commit-crash retry), whose second delivery
    * must be a committed-marker no-op. Correct IFF the final table is
    * exactly the ledger's last-per-user state: a double-applied
    * retry, a lost batch, a stale matched row, or broken in-batch
    * dedup all break the hash against the oracle's global
    * last-per-key window. In-code requires pin one commit per batch
    * (versions dense 0..4) and the no-op retries. Scale shape: per
    * batch one stats-prunable semi-join plan + O(affected+batch)
    * rewrite; nothing rescans history. */
  private def sinkManifestMergeStreaming(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-cdc-merge") { root =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.sources.ManifestTable
      val ev = Tables.events(s, dir)
        .select($"event_id", $"user_id", $"event_type",
          QueryDef.cents($"value").as("value_cents"))
      val n = ev.count()
      val w = (n + 4) / 5
      for (b <- 0L until 5L) {
        val batch = ev.filter($"event_id" >= b * w && $"event_id" < (b + 1) * w)
          .withColumn("rk", row_number().over(
            Window.partitionBy($"user_id").orderBy($"event_id".desc)))
          .filter($"rk" === 1).drop("rk")
        val v = ManifestTable.mergeInto(s, root, batch, "user_id",
          statCols = Seq("user_id"), txn = Some(("cdc", b)))
        require(v.contains(b), s"CDC batch $b must commit exactly version $b")
        // the post-commit-crash retry: same batch, same marker — no-op
        require(ManifestTable.mergeInto(s, root, batch, "user_id",
            statCols = Seq("user_id"), txn = Some(("cdc", b))).isEmpty,
          s"retried CDC batch $b applied twice")
      }
      ManifestTable.read(s, root)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_users"), sum($"value_cents").as("sum_cents"))
        .orderBy($"event_type")
    }

  private val sinkManifestMergeStreamingSql =
    """WITH lastev AS (
      |  SELECT user_id, event_type,
      |    CAST(ROUND(value*100) AS BIGINT) AS value_cents
      |  FROM events
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1)
      |SELECT event_type, COUNT(*) AS n_users,
      |  CAST(SUM(value_cents) AS BIGINT) AS sum_cents
      |FROM lastev GROUP BY event_type ORDER BY event_type""".stripMargin

  /** MERGE INTO on the manifest table proven end-to-end — the upsert
    * primitive (Delta MERGE, whole-row update-all + insert-all): the
    * corpus lands as 4 stats-carrying doc_id slices, then one
    * [[graft.sources.ManifestTable.mergeInto]] call applies a batch
    * whose updates hit ONLY the upper two slices (every doc_id
    * divisible by 3 there gets a rewritten source + n_chars) and whose
    * inserts are entirely fresh keys. In-code requires pin the shape
    * the key exists for: exactly ONE committed version; commit
    * metadata O(affected) — per-file `remove=` lines for the two
    * matched slices, never a `reset` or a live-file relist; the
    * untouched slices' column stats surviving verbatim (still
    * prunable); and the exactly-once streaming contract — a retried
    * merge carrying the same txn marker is a no-op. The emitted
    * per-source aggregate hash-matches the oracle's full-outer-join
    * merge, so a lost survivor, a stale matched row, or a dropped
    * insert all break the hash. Scale shape: one semi-join scan plans
    * the affected files, the rewrite touches only their rows + the
    * batch, commit metadata is O(affected + batch). */
  private def sinkManifestMerge(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-merge") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val updates = docs.filter($"doc_id" % 3 === 0 && $"doc_id" >= 2 * w)
        .select($"doc_id", lit("merged").as("source"), ($"n_chars" + 7L).as("n_chars"))
      val inserts = docs.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 10L * n).as("doc_id"), lit("fresh").as("source"),
          $"n_chars")
      val batch = updates.unionAll(inserts)
      val preV = ManifestTable.latestVersion(root).get
      val mv = ManifestTable.mergeInto(s, root, batch, "doc_id",
        statCols = Seq("doc_id"), txn = Some(("mrg", 1L)))
      require(mv.contains(preV + 1), "merge must land as exactly one commit")
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_manifest", s"v${preV + 1}.manifest"))
      require(!lines.contains("reset"), "merge wrote a replacing commit")
      val nRemoves = (0 until lines.size).count(i => lines.get(i).startsWith("remove="))
      require(nRemoves == 2,
        s"merge rewrote $nRemoves files; only the 2 upper slices hold matches")
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "merge rewrote (or dropped the stats of) a file it did not touch")
      require(ManifestTable.mergeInto(s, root, batch, "doc_id",
          statCols = Seq("doc_id"), txn = Some(("mrg", 1L))).isEmpty,
        "retried MERGE batch applied twice")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestMergeSql =
    """WITH nn AS (SELECT COUNT(*) AS n, (COUNT(*) + 3) // 4 AS w FROM documents),
      |t AS (SELECT doc_id, source, n_chars FROM documents),
      |b AS (
      |  SELECT doc_id, 'merged' AS source, n_chars + 7 AS n_chars
      |  FROM documents, nn WHERE doc_id % 3 = 0 AND doc_id >= 2 * w
      |  UNION ALL
      |  SELECT doc_id + 10 * n, 'fresh', n_chars
      |  FROM documents, nn WHERE doc_id % 5 = 0),
      |m AS (
      |  SELECT CASE WHEN b.doc_id IS NOT NULL THEN b.source ELSE t.source END AS source,
      |    CASE WHEN b.doc_id IS NOT NULL THEN b.n_chars ELSE t.n_chars END AS n_chars
      |  FROM t FULL OUTER JOIN b ON t.doc_id = b.doc_id)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** UPDATE ... SET ... WHERE proven end-to-end — the third DML verb
    * ([[graft.sources.ManifestTable.updateWhere]], Delta UPDATE,
    * copy-on-write): the corpus lands as 4 stats slices, one update
    * re-scores every doc_id % 3 == 0 of the upper half (n_chars +
    * 1000, source → 'rescored') — the predicate touches slices 2–3
    * only, so requires pin exactly 2 `remove=` lines, no reset, and
    * the untouched slices' stats surviving verbatim; an update
    * matching nothing commits nothing; with cdf the feed carries
    * matched-count preimage/postimage rows (census required in-key).
    * The emitted per-source aggregate hash-matches the oracle's CASE
    * replay. */
  private def sinkManifestUpdate(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-upd") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val nHit = docs.filter($"doc_id" % 3 === 0 && $"doc_id" >= 2 * w).count()
      val preV = ManifestTable.latestVersion(root).get
      val uv = ManifestTable.updateWhere(s, root,
        $"doc_id" % 3 === 0 && $"doc_id" >= 2 * w,
        Map("n_chars" -> ($"n_chars" + 1000L), "source" -> lit("rescored")),
        statCols = Seq("doc_id"), cdf = true)
      require(uv.contains(preV + 1), "update must land as exactly one commit")
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_manifest", s"v${preV + 1}.manifest"))
      require(!lines.contains("reset"), "update wrote a replacing commit")
      require((0 until lines.size).count(i => lines.get(i).startsWith("remove=")) == 2,
        "update rewrote files outside the 2 matched slices")
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1,
        "update rewrote (or dropped the stats of) a file it did not touch")
      require(ManifestTable.updateWhere(s, root, $"doc_id" < 0,
          Map("n_chars" -> lit(0L))).isEmpty,
        "an update matching nothing must not commit")
      val census = ManifestTable.readChanges(s, root, preV, uv)
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(census == Map("update_preimage" -> nHit, "update_postimage" -> nHit),
        s"cdf census mismatch: $census vs hits=$nHit")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestUpdateSql =
    """WITH nn AS (SELECT (COUNT(*) + 3) // 4 AS w FROM documents),
      |fin AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 AND doc_id >= 2 * w
      |           THEN 'rescored' ELSE source END AS source,
      |         CASE WHEN doc_id % 3 = 0 AND doc_id >= 2 * w
      |           THEN n_chars + 1000 ELSE n_chars END AS n_chars
      |  FROM documents, nn)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM fin GROUP BY source ORDER BY source""".stripMargin

  /** INCREMENTAL compaction proven end-to-end — the real OPTIMIZE
    * shape ([[graft.sources.ManifestTable.compactSmall]]): a streaming
    * sink's steady state is one healthy file plus a drip of small
    * ones, and maintenance must bin-pack ONLY the drip — O(small
    * files) data movement and commit metadata, never [[compact]]'s
    * O(table) reset rewrite. The corpus lands as 1 big file + 6 small
    * slices; one compactSmall packs exactly the six (per-file
    * `remove=` + packed `add=`, no reset), the big file's manifest
    * ENTRY — path, stats, bytes — survives verbatim (requires pin
    * entry equality, not just readability), both halves stay
    * range-prunable, and a second call finds nothing to pack and
    * commits NOTHING. The emitted aggregate hash-matches the plain
    * corpus oracle: compaction moved every row and lost none. */
  private def sinkManifestCompactSmall(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-pack") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val h = n / 2
      ManifestTable.appendWithStats(s,
        docs.filter($"doc_id" < h).coalesce(1), root, "doc_id")
      val w = (n - h + 5) / 6
      for (i <- 0L until 6L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= h + i * w && $"doc_id" < h + (i + 1) * w)
            .coalesce(1), root, "doc_id")
      val entriesBefore = ManifestTable.snapshotFilesWithStats(root)
      require(entriesBefore.size == 7, "expected 1 big + 6 small files")
      val bigRel = entriesBefore.head._1 // first commit's file
      val bigLen = new java.io.File(s"$root/data/$bigRel").length()
      val preV = ManifestTable.latestVersion(root).get
      val cv = ManifestTable.compactSmall(s, root, minBytes = bigLen,
        targetFiles = 1, statCols = Seq("doc_id"))
      require(cv.contains(preV + 1), "bin-pack must land as exactly one commit")
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_manifest", s"v${preV + 1}.manifest"))
      require(!lines.contains("reset"), "bin-pack wrote a replacing commit")
      require((0 until lines.size).count(i => lines.get(i).startsWith("remove=")) == 6,
        "bin-pack must remove exactly the 6 small files")
      val after = ManifestTable.snapshotFilesWithStats(root)
      require(after.size == 2, s"expected big + packed, got ${after.size}")
      require(after.exists { case (rel, stats) =>
          rel == bigRel && stats == entriesBefore.head._2 },
        "the healthy file's entry (path + stats) must survive verbatim")
      require(ManifestTable.plannedFilesForRange(root, "doc_id", 0, 1).size == 1 &&
          ManifestTable.plannedFilesForRange(root, "doc_id", n - 1, n - 1).size == 1,
        "both halves must stay range-prunable after the pack")
      require(ManifestTable.compactSmall(s, root, minBytes = bigLen).isEmpty,
        "a pack with nothing to pack must not advance the log")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestCompactSmallSql =
    """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** MERGE with a DELETE clause proven end-to-end — the FULL Delta
    * MERGE a CDC stream needs ([[graft.sources.ManifestTable
    * .mergeIntoCdc]]): one batch carries op ∈ {I, U, D} and ONE
    * commit applies all three clauses — matched D rows dropped
    * (lower slices), matched U rows replaced (upper slices),
    * unmatched I rows inserted, unmatched D rows silently no-op'd
    * (the upstream already deleted them). In-code requires pin the
    * shape: exactly one committed version, per-file removes (no
    * reset), a pure-unmatched-delete batch committing NOTHING, the
    * txn-marked retry a no-op, and the cdf feed carrying exactly the
    * typed change census (deletes included — what
    * `sink_manifest_cdf_propagate`'s consumer would need to drop an
    * emptied aggregate row). The emitted per-source aggregate
    * hash-matches the oracle's three-clause replay. */
  private def sinkManifestMergeCdc(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-cdc") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val w = (n + 3) / 4
      for (i <- 0L until 4L)
        ManifestTable.appendWithStats(s,
          docs.filter($"doc_id" >= i * w && $"doc_id" < (i + 1) * w).coalesce(1),
          root, "doc_id")
      val updates = docs.filter($"doc_id" % 3 === 0 && $"doc_id" >= 2 * w)
        .select($"doc_id", lit("merged").as("source"), ($"n_chars" + 7L).as("n_chars"),
          lit("U").as("op"))
      val inserts = docs.filter($"doc_id" % 5 === 0)
        .select(($"doc_id" + 10L * n).as("doc_id"), lit("fresh").as("source"),
          $"n_chars", lit("I").as("op"))
      val deletes = docs.filter($"doc_id" % 7 === 0 && $"doc_id" < 2 * w)
        .select($"doc_id", $"source", $"n_chars", lit("D").as("op"))
      val ghostDeletes = docs.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 20L * n).as("doc_id"), $"source", $"n_chars",
          lit("D").as("op"))
      val batch = updates.unionAll(inserts).unionAll(deletes).unionAll(ghostDeletes)
      val nU = updates.count(); val nI = inserts.count(); val nD = deletes.count()
      val preV = ManifestTable.latestVersion(root).get
      val mv = ManifestTable.mergeIntoCdc(s, root, batch, "doc_id",
        statCols = Seq("doc_id"), txn = Some(("cdc", 7L)), cdf = true)
      require(mv.contains(preV + 1), "CDC merge must land as exactly one commit")
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_manifest", s"v${preV + 1}.manifest"))
      require(!lines.contains("reset"), "CDC merge wrote a replacing commit")
      // a batch of ONLY unmatched deletes must not commit (no txn)
      require(ManifestTable.mergeIntoCdc(s, root,
          ghostDeletes.withColumn("doc_id", $"doc_id" + n), "doc_id").isEmpty,
        "unmatched-delete batch advanced the log")
      // the post-commit-crash retry: same txn marker, no-op
      require(ManifestTable.mergeIntoCdc(s, root, batch, "doc_id",
          statCols = Seq("doc_id"), txn = Some(("cdc", 7L)), cdf = true).isEmpty,
        "retried CDC batch applied twice")
      // the feed carries the exact typed census, deletes included
      val census = ManifestTable.readChanges(s, root, preV, mv)
        .groupBy($"_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      require(census == Map("update_preimage" -> nU, "update_postimage" -> nU,
          "insert" -> nI, "delete" -> nD),
        s"cdf census mismatch: $census vs U=$nU I=$nI D=$nD")
      ManifestTable.read(s, root)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
        .orderBy($"source")
    }

  private val sinkManifestMergeCdcSql =
    """WITH nn AS (SELECT COUNT(*) AS n, (COUNT(*) + 3) // 4 AS w FROM documents),
      |fin AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 AND doc_id >= 2 * w
      |           THEN 'merged' ELSE source END AS source,
      |         CASE WHEN doc_id % 3 = 0 AND doc_id >= 2 * w
      |           THEN n_chars + 7 ELSE n_chars END AS n_chars
      |  FROM documents, nn WHERE NOT (doc_id % 7 = 0 AND doc_id < 2 * w)
      |  UNION ALL
      |  SELECT 'fresh', n_chars FROM documents WHERE doc_id % 5 = 0)
      |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM fin GROUP BY source ORDER BY source""".stripMargin

  /** The ROW-LEVEL change feed (Delta CDF with `_change_type`) proven
    * end-to-end through every change kind the table format can emit:
    * v0 appends half the corpus (a pure append IS its own insert
    * feed — no change files written or needed), v1 is a cdf-enabled
    * MERGE whose batch half-updates/half-inserts (update_preimage +
    * update_postimage + insert rows written AT COMMIT TIME, O(batch +
    * matched) — read-time diffing would pay an anti-join per poll),
    * v2 a cdf-enabled GDPR DELETE (delete rows). One
    * [[graft.sources.ManifestTable.readChanges]] call over (−1, 2]
    * then serves all seven feed slices, and the emitted per-(version,
    * type) census hash-matches the oracle's replay of the same
    * arithmetic — a leaked survivor row in the feed, a missed
    * preimage, or a double-served retry all break the hash. In-code
    * requires pin the exactly-once contract (a retried txn-marked
    * MERGE adds nothing to the feed) and the O(affected) commit shape
    * (no reset, remove= lines only for matched slices). The
    * final_snapshot row ties feed and table together: the snapshot
    * must equal what the feed implies. */
  private def sinkManifestCdf(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-rowcdf") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      val n = docs.count()
      val h = n / 2
      val q = n / 4
      // v0: base corpus as 2 slices in ONE commit — the insert feed
      ManifestTable.append(s, docs.filter($"doc_id" < h).repartitionByRange(2, $"doc_id"), root)
      // v1: CDC upsert — [q, h) exist (updates, +1000 chars), [h, q+h) are fresh (inserts)
      val batch = docs.filter($"doc_id" >= q && $"doc_id" < q + h)
        .select($"doc_id", $"source", ($"n_chars" + 1000L).as("n_chars"))
      val mv = ManifestTable.mergeInto(s, root, batch, "doc_id",
        txn = Some(("cdc", 1L)), cdf = true)
      require(mv.contains(1L), "merge must commit exactly v1")
      // the post-commit-crash retry: no new version AND nothing in the feed
      require(ManifestTable.mergeInto(s, root, batch, "doc_id",
          txn = Some(("cdc", 1L)), cdf = true).isEmpty,
        "retried CDC batch applied twice")
      // v2: GDPR delete with change capture
      val dv = ManifestTable.deleteWhere(s, root, $"doc_id" % 3 === 0, cdf = true)
      require(dv.contains(2L), "delete must commit exactly v2")
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(root, "_manifest", "v2.manifest"))
      require(!lines.contains("reset"), "cdf delete wrote a replacing commit")
      require((0 until lines.size).exists(i => lines.get(i).startsWith("cdf=")),
        "cdf delete recorded no change files")
      val feed = ManifestTable.readChanges(s, root, -1L)
        .groupBy($"_commit_version".as("commit_version"),
          $"_change_type".as("change_type"))
        .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"))
      val fin = ManifestTable.read(s, root)
        .agg(count(lit(1)).as("n_rows"), sum($"n_chars").as("sum_chars"))
        .select(lit(99L).as("commit_version"),
          lit("final_snapshot").as("change_type"), $"n_rows", $"sum_chars")
      feed.unionByName(fin).orderBy($"commit_version", $"change_type")
    }

  private val sinkManifestCdfSql =
    """WITH p AS (SELECT COUNT(*) // 2 AS h, COUNT(*) // 4 AS q FROM documents),
      |upd AS (SELECT doc_id, n_chars FROM documents, p
      |  WHERE doc_id >= q AND doc_id < h),
      |cur AS (SELECT doc_id,
      |  CASE WHEN doc_id >= (SELECT q FROM p) THEN n_chars + 1000
      |       ELSE n_chars END AS n_chars
      |  FROM documents, p WHERE doc_id < q + h),
      |feed AS (
      |  SELECT CAST(0 AS BIGINT) AS commit_version, 'insert' AS change_type,
      |    COUNT(*) AS n_rows, SUM(n_chars) AS sum_chars
      |  FROM documents, p WHERE doc_id < h
      |  UNION ALL SELECT 1, 'insert', COUNT(*), SUM(n_chars) + 1000 * COUNT(*)
      |  FROM documents, p WHERE doc_id >= h AND doc_id < q + h
      |  UNION ALL SELECT 1, 'update_postimage', COUNT(*),
      |    SUM(n_chars) + 1000 * COUNT(*) FROM upd
      |  UNION ALL SELECT 1, 'update_preimage', COUNT(*), SUM(n_chars) FROM upd
      |  UNION ALL SELECT 2, 'delete', COUNT(*), SUM(n_chars)
      |  FROM cur WHERE doc_id % 3 = 0
      |  UNION ALL SELECT 99, 'final_snapshot', COUNT(*), SUM(n_chars)
      |  FROM cur WHERE doc_id % 3 != 0)
      |SELECT commit_version, change_type, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(sum_chars AS BIGINT) AS sum_chars
      |FROM feed ORDER BY commit_version, change_type""".stripMargin

  /** Incremental VIEW MAINTENANCE off the row-level change feed — the
    * production composition CDF exists for: an upstream corpus table
    * takes two appends, a cdf-enabled MERGE (quality re-score: every
    * doc_id % 5 == 0 gains 7 chars) and a cdf-enabled GDPR DELETE
    * (every doc_id % 3 == 0 erased), while a downstream per-source
    * aggregate table is maintained ONLY from
    * [[graft.sources.ManifestTable.readChanges]] deltas — each poll
    * folds the interval's rows with sign (+1 insert/update_postimage,
    * −1 delete/update_preimage), joins the tiny per-source delta
    * against the aggregate table, and upserts via
    * [[graft.sources.ManifestTable.mergeInto]]. The consumer NEVER
    * re-reads the upstream snapshot — O(changes) per poll, the whole
    * point — yet the emitted aggregate table hash-matches the oracle's
    * from-scratch recompute of the final upstream state. This is the
    * GDPR-propagation story completed: the upstream erasure reaches
    * the derived table through the feed, not through a rebuild. */
  private def sinkManifestCdfPropagate(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-cdf-ivm") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val up = s"$root/up"
      val agg = s"$root/agg"
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      var cursor = -1L
      def consume(): Unit = {
        val latest = ManifestTable.latestVersion(up).get
        if (latest <= cursor) return
        val sign = when($"_change_type".isin("insert", "update_postimage"), 1L)
          .otherwise(-1L)
        val delta = ManifestTable.readChanges(s, up, cursor, Some(latest))
          .groupBy($"source")
          .agg(sum(sign).as("dn"), sum(sign * $"n_chars").as("dchars"))
        val updated =
          if (ManifestTable.latestVersion(agg).isEmpty)
            delta.select($"source", $"dn".as("n_docs"), $"dchars".as("sum_chars"))
          else delta.join(ManifestTable.read(s, agg), Seq("source"), "left")
            .select($"source",
              (coalesce($"n_docs", lit(0L)) + $"dn").as("n_docs"),
              (coalesce($"sum_chars", lit(0L)) + $"dchars").as("sum_chars"))
        // a source erased to zero docs would need MERGE's delete clause
        // to leave the aggregate table; this scenario never empties one
        require(updated.filter($"n_docs" <= 0L).isEmpty,
          "a source emptied out — the aggregate row should be deleted, not zeroed")
        ManifestTable.mergeInto(s, agg, updated, "source")
        cursor = latest
      }
      ManifestTable.append(s, docs.filter($"doc_id" % 2 === 0), up); consume()
      ManifestTable.append(s, docs.filter($"doc_id" % 2 === 1), up); consume()
      ManifestTable.mergeInto(s, up,
        docs.filter($"doc_id" % 5 === 0)
          .select($"doc_id", $"source", ($"n_chars" + 7L).as("n_chars")),
        "doc_id", cdf = true); consume()
      ManifestTable.deleteWhere(s, up, $"doc_id" % 3 === 0, cdf = true); consume()
      ManifestTable.read(s, agg).orderBy($"source")
    }

  private val sinkManifestCdfPropagateSql =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN doc_id % 5 = 0 THEN n_chars + 7
      |           ELSE n_chars END) AS BIGINT) AS sum_chars
      |FROM documents WHERE doc_id % 3 != 0
      |GROUP BY source ORDER BY source""".stripMargin

  /** The row-level change feed as a CHECKPOINTED STREAM (16th
    * driver-verified streaming path — the streaming twin of
    * [[sinkManifestCdfPropagate]], Delta's `readChangeFeed`): the same
    * upstream history (two appends, a cdf MERGE re-score, a cdf GDPR
    * DELETE) is drained through
    * `readStream.format("graft-manifest").option("readChangeFeed",
    * true)` — offsets are versions, admission control forces one
    * commit per micro-batch, cdf commits stream their commit-time
    * change files (type baked in the file) while appends stream as
    * constant-'insert' rows — and each micro-batch folds its signed
    * delta into the derived per-source aggregate via mergeInto. The
    * emitted aggregate hash-matches the from-scratch oracle IFF every
    * change row arrived exactly once with the right type: a skipped
    * version, a double-served file, or a mistyped row all break the
    * hash. The in-code require pins that admission control actually
    * split the drain into per-commit batches. */
  private def sinkManifestCdfStream(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-cdf-stream") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val up = s"$root/up"
      val agg = s"$root/agg"
      val docs = Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
      ManifestTable.append(s, docs.filter($"doc_id" % 2 === 0), up)
      ManifestTable.append(s, docs.filter($"doc_id" % 2 === 1), up)
      ManifestTable.mergeInto(s, up,
        docs.filter($"doc_id" % 5 === 0)
          .select($"doc_id", $"source", ($"n_chars" + 7L).as("n_chars")),
        "doc_id", cdf = true)
      ManifestTable.deleteWhere(s, up, $"doc_id" % 3 === 0, cdf = true)
      var nBatches = 0
      StreamReplay.drain("sink_manifest_cdf_stream", root)(s.readStream.format("graft-manifest")
        .schema(docs.schema)
        .option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", 1)
        .load(up)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          if (!batch.isEmpty) {
            nBatches += 1
            val sign = when($"_change_type".isin("insert", "update_postimage"), 1L)
              .otherwise(-1L)
            val delta = batch.toDF()
              .groupBy($"source")
              .agg(sum(sign).as("dn"), sum(sign * $"n_chars").as("dchars"))
            val updated =
              if (ManifestTable.latestVersion(agg).isEmpty)
                delta.select($"source", $"dn".as("n_docs"), $"dchars".as("sum_chars"))
              else delta.join(ManifestTable.read(s, agg), Seq("source"), "left")
                .select($"source",
                  (coalesce($"n_docs", lit(0L)) + $"dn").as("n_docs"),
                  (coalesce($"sum_chars", lit(0L)) + $"dchars").as("sum_chars"))
            ManifestTable.mergeInto(s, agg, updated, "source"): Unit
          }
        })
      require(nBatches >= 4,
        s"admission control did not split the drain: $nBatches batches")
      ManifestTable.read(s, agg).orderBy($"source")
    }

  /** The manifest table consumed through the REAL Structured Streaming
    * SOURCE (15th driver-verified streaming path —
    * [[graft.sources.v2.ManifestStreamDataSource]], the engine-layer
    * completion of the change feed): events land in the table as five
    * batch commits, then `readStream.format("graft-manifest")` drains
    * it with offsets = manifest versions, admission-controlled at 2
    * versions per trigger (≥3 genuine micro-batches), each batch
    * mirrored into a second manifest table. The mirror's rollup
    * hash-matches the plain batch oracle IFF the offset contract
    * delivered every committed row exactly once — a skipped version,
    * a replanned interval, or a dropped partition all break the hash.
    * The in-code require pins that admission control actually split
    * the drain. Scale shape: each micro-batch plans O(interval)
    * manifest lines + its own files; the version watermark is the
    * only state. */
  private def sinkManifestStreamSource(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-manifest-src") { root =>
      import s.implicits._
      import graft.sources.ManifestTable
      val ev = Tables.events(s, dir)
        .select($"event_id", $"event_type", QueryDef.cents($"value").as("value_cents"))
      val table = s"$root/table"
      val mirror = s"$root/mirror"
      for (i <- 0L until 5L)
        ManifestTable.append(s, ev.filter($"event_id" % 5 === i), table)
      var nBatches = 0
      StreamReplay.drain("sink_manifest_stream_source", root)(s.readStream.format("graft-manifest")
        .schema(ev.schema)
        .option("maxVersionsPerTrigger", 2)
        .load(table)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) =>
          if (!batch.isEmpty) {
            nBatches += 1
            ManifestTable.append(s, batch.toDF(), mirror): Unit
          }
        })
      require(nBatches >= 3,
        s"admission control did not split the drain: $nBatches batches")
      ManifestTable.read(s, mirror)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"value_cents").as("sum_cents"))
        .orderBy($"event_type")
    }

  /** Lee-et-al-style duplicated-span statistics over 10-token windows. */
  private def dedupSubstring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.duplicateSpanStats(Tables.documents(s, dir), n = 10).orderBy($"doc_id")
  }

  private val dedupSubstringSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-9)) AS i FROM toks),
      |grams AS (SELECT doc_id, i AS pos,
      |  CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')), 1, 15) AS BIGINT) AS gh
      |  FROM pos),
      |dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
      |cnt AS (SELECT doc_id, COUNT(*) AS nd FROM grams JOIN dup USING (gh) GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id,
      |  CAST(GREATEST(len(string_split(text, ' ')) - 9, 0) AS BIGINT) AS n_spans,
      |  CAST(COALESCE(nd, 0) AS BIGINT) AS n_dup_spans,
      |  CASE WHEN len(string_split(text, ' ')) - 9 <= 0 THEN 0.0
      |    ELSE CAST((CAST(COALESCE(nd, 0) AS BIGINT) * 1000000000)
      |      // (len(string_split(text, ' ')) - 9) AS DOUBLE)/1e9 END AS dup_frac
      |FROM documents d LEFT JOIN cnt ON d.doc_id = cnt.doc_id
      |ORDER BY doc_id""".stripMargin

  /** The real Lee-et-al substring-dedup deliverable (r12 VERDICT #3):
    * [[dedupSubstring]] counts duplicated 10-token windows; this key
    * CHAINS adjacent duplicated windows per doc into MAXIMAL repeated
    * spans ≥ 50 tokens and emits the span removal ledger — the rows a
    * production pass feeds to the text cutter. Maximality is pinned by
    * a planted shared-passage spec (SubstringSpanSpec): one span per
    * doc, exactly the passage boundaries, never split or extended. */
  private def dedupSubstringSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    DedupOps.duplicateSpans(Tables.documents(s, dir), n = 10, minTokens = 50)
      .orderBy($"doc_id", $"span_start")
  }

  private val dedupSubstringSpansSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws)-9)) AS i FROM toks),
      |grams AS (SELECT doc_id, i AS pos,
      |  CAST('0x' || substring(md5(array_to_string(ws[i:i+9], ' ')), 1, 15) AS BIGINT) AS gh
      |  FROM pos),
      |dup AS (SELECT gh FROM grams GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
      |dpos AS (SELECT doc_id, pos FROM grams JOIN dup USING (gh)),
      |lagged AS (SELECT doc_id, pos,
      |    LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dpos),
      |isl AS (SELECT doc_id, pos,
      |    SUM(CASE WHEN prev IS NULL OR pos > prev + 10 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM lagged),
      |sp AS (SELECT doc_id, island,
      |    CAST(MIN(pos) AS BIGINT) AS span_start,
      |    CAST(MAX(pos) + 9 AS BIGINT) AS span_end,
      |    CAST(COUNT(*) AS BIGINT) AS n_windows
      |  FROM isl GROUP BY 1, 2)
      |SELECT doc_id, span_start, span_end,
      |  span_end - span_start + 1 AS span_tokens, n_windows
      |FROM sp WHERE span_end - span_start + 1 >= 50
      |ORDER BY doc_id, span_start""".stripMargin

  /** Gopher composite keep/drop with per-rule fail bitmask. */
  private def textGopherFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TA.gopherFilter(Tables.documents(s, dir)).orderBy($"doc_id")
  }

  private val textGopherFilterSql =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |m AS (SELECT doc_id, len(ws) AS n_tokens,
      |  CAST(len(list_filter(ws, x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE)
      |    / len(ws) AS stop_ratio,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws) AS mwl,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS punct,
      |  list_transform(range(1, len(ws)-1), i -> array_to_string(ws[i:i+2], ' ')) AS g3,
      |  CAST(list_max(list_transform(list_distinct(ws),
      |      x -> len(list_filter(ws, y -> y = x)))) AS DOUBLE) / len(ws) AS topword
      |  FROM t),
      |r AS (SELECT doc_id, n_tokens, stop_ratio, mwl, punct, topword,
      |  CASE WHEN len(g3) > 0
      |    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |    ELSE 0.0 END AS dup3
      |  FROM m)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
      |     + (CASE WHEN stop_ratio < 0.03 THEN 2 ELSE 0 END)
      |     + (CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 4 ELSE 0 END)
      |     + (CASE WHEN topword > 0.15 THEN 8 ELSE 0 END)
      |     + (CASE WHEN dup3 > 0.1 THEN 16 ELSE 0 END)
      |     + (CASE WHEN punct > 0.3 THEN 32 ELSE 0 END) AS BIGINT) AS fail_mask,
      |  ((CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
      |     + (CASE WHEN stop_ratio < 0.03 THEN 2 ELSE 0 END)
      |     + (CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 4 ELSE 0 END)
      |     + (CASE WHEN topword > 0.15 THEN 8 ELSE 0 END)
      |     + (CASE WHEN dup3 > 0.1 THEN 16 ELSE 0 END)
      |     + (CASE WHEN punct > 0.3 THEN 32 ELSE 0 END)) = 0 AS keep
      |FROM r ORDER BY doc_id""".stripMargin

  /** Gram matrix EᵀE over micro-quantized embeddings — one map-side
    * combinable aggregation; the shuffle carries one 32 KB buffer per
    * task (see functions.GramMatrix). */
  private def embGram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val gram = udaf(new graft.functions.GramMatrix(dim))
    Tables.embeddings(s, dir)
      .select(transform($"embedding",
        x => round(x.cast("double") * 1e6).cast("long")).as("qv"))
      .agg(gram($"qv").as("g"))
      .select(posexplode($"g").as(Seq("k", "g_c")))
      .select((($"k" cast "long") / lit(dim.toLong)).cast("long").as("i0"),
        pmod($"k", lit(dim)).cast("long").as("j0"), $"g_c")
      .select(($"i0" + 1L).as("i"), ($"j0" + 1L).as("j"), $"g_c")
      .orderBy($"i", $"j")
  }

  private val embGramSql =
    """WITH q AS (SELECT list_transform(embedding,
      |    x -> CAST(ROUND(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv
      |  FROM embeddings)
      |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
      |  CAST(SUM(qv[i]*qv[j]) AS BIGINT) AS g_c
      |FROM q, range(1, 65) r1(i), range(1, 65) r2(j)
      |GROUP BY i, j ORDER BY i, j""".stripMargin

  /** Triangle counting over the part co-purchase graph (parts appearing
    * in the same order, 10% order sample by key so edge density stays
    * bounded as sf grows). Edge list derives from ONE co-keyed
    * self-join and is localCheckpoint'd — it feeds three join legs.
    * Per-node counts keyed by the triangle's smallest vertex. */
  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir)
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_partkey")
    val edges = l.as("a").join(l.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
      .distinct()
      .localCheckpoint()
    edges.as("e1")
      .join(edges.as("e2"), col("e1.pb") === col("e2.pa"))
      .join(edges.as("e3"),
        col("e3.pa") === col("e1.pa") && col("e3.pb") === col("e2.pb"), "left_semi")
      .groupBy(col("e1.pa").as("part_a"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy($"part_a")
  }

  private val qTrianglesSql =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0),
      |pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM li a JOIN li b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      |SELECT e1.pa AS part_a, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM pairs e1 JOIN pairs e2 ON e1.pb = e2.pa
      |WHERE EXISTS (SELECT 1 FROM pairs e3
      |              WHERE e3.pa = e1.pa AND e3.pb = e2.pb)
      |GROUP BY e1.pa ORDER BY part_a""".stripMargin

  /** Per-domain quota sampling: keep the K lowest-hash docs per source
    * — the deterministic "cap each domain" curation step (stable under
    * reruns and growth, no global pass). */
  private def corpusCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("cap:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", h.as("h"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")))
      .filter($"rk" <= 10)
      .select($"doc_id", $"source", $"rk".cast("long").as("rk"))
      .orderBy($"source", $"rk")
  }

  private val corpusCapSql =
    """SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
      |FROM (SELECT doc_id, source,
      |        ROW_NUMBER() OVER (PARTITION BY source
      |          ORDER BY CAST('0x' || substring(md5('cap:' || doc_id::VARCHAR), 1, 15) AS BIGINT),
      |            doc_id) AS rk
      |      FROM documents) t
      |WHERE rk <= 10
      |ORDER BY source, rk""".stripMargin

  /** Gap sessionization via Spark's built-in `session_window` — the
    * third formulation of the same semantics (dual-Window lag+cumsum,
    * custom SessionizeExec, built-in session windows). Note the
    * boundary: session_window closes at exactly start+gap (end
    * exclusive), so the oracle's new-session predicate is `>=`. */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("first_event"), max($"event_id").as("last_event"))
      .select($"user_id",
        date_format($"sw.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events", $"first_event", $"last_event")
      .orderBy($"user_id", $"session_start")
  }

  private val qSessionWindowSql =
    """WITH x AS (
      | SELECT user_id, event_id, ts,
      |   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      | FROM events),
      |y AS (
      | SELECT user_id, event_id, ts,
      |   CAST(SUM(CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE
      |     THEN 1 ELSE 0 END)
      |     OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      | FROM x)
      |SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      | COUNT(*) AS n_events,
      | MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  /** Exact edit-distance verification of near-dup candidates, blocked
    * by length band (candidates must share `n_chars div 16`) so the
    * quadratic distance only runs inside small buckets — the standard
    * "block, then verify exactly" dedup step. Both engines implement
    * classic unit-cost Levenshtein. */
  private def dedupEditdist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Without the repartition the tiny block table broadcasts and the
    // single-row-group scan streams through ONE task — every
    // levenshtein on one core. Round-robin spread first: the O(len²)
    // distance work is the whole cost of this operator.
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"text", expr("n_chars div 16").as("blk"))
      .repartition(s.sparkContext.defaultParallelism)
    // Banded kernel: exact for dist ≤ 20 (all surviving rows), 21
    // sentinel otherwise — O(k·n) per pair instead of O(n·m), with an
    // early bail when a whole band row exceeds the bound.
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        graft.functions.Fns.bounded_levenshtein(col("a.text"), col("b.text"), 20)
          .cast("long").as("edit_dist"))
      .filter($"edit_dist" <= 20)
      .orderBy($"doc_a", $"doc_b")
  }

  private val dedupEditdistSql =
    """WITH b AS (SELECT doc_id, text, n_chars // 16 AS blk FROM documents)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, c.text) AS BIGINT) AS edit_dist
      |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
      |WHERE levenshtein(a.text, c.text) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** CDC change-set derivation between two deterministic snapshots of
    * orders (key-hash simulated inserts/updates/deletes). */
  private def qCdcDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir).select($"o_orderkey", $"o_totalprice")
    val snapA = base.filter($"o_orderkey" % 7 =!= 0)
    val snapB = base.filter($"o_orderkey" % 13 =!= 0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 11 === 0, $"o_totalprice" + 1.0).otherwise($"o_totalprice"))
    graft.operators.Cdc.snapshotDiff(snapA, snapB, "o_orderkey")
      .orderBy($"o_orderkey")
  }

  private val qCdcDiffSql =
    """WITH a AS (
      |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0),
      |b AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 1.0
      |      ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 13 <> 0)
      |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
      |  CASE WHEN a.o_orderkey IS NULL THEN 'insert'
      |       WHEN b.o_orderkey IS NULL THEN 'delete'
      |       ELSE 'update' END AS change_type
      |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
      |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
      |   OR a.o_totalprice <> b.o_totalprice
      |ORDER BY o_orderkey""".stripMargin

  /** MERGE/upsert landed as an oracle key: a deterministic CDC batch
    * (each customer's latest order, one-fifth of keys remapped past the
    * key space so the batch carries genuine inserts alongside updates)
    * is MERGEd into the customer snapshot by `Sinks.upsert` — matched
    * rows take the update row wholesale, unmatched targets survive,
    * unmatched updates insert. The oracle replays the same MERGE as a
    * windowed last-per-key + full-outer CASE. This turns the warehouse
    * copy-on-write write path (spec-only until r9) into a driver-gated
    * correctness row. Money lands as exact integer cents. */
  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val target = Tables.customer(s, dir).select(
      $"c_custkey".as("custkey"), $"c_name".as("name"),
      QueryDef.cents($"c_acctbal").as("bal_cents"))
    val latest = Tables.orders(s, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"o_custkey").orderBy($"o_orderkey".desc)))
      .filter($"rn" === 1)
    val updates = latest.select(
      when($"o_custkey" % 5 === 0, $"o_custkey" + 3000000L)
        .otherwise($"o_custkey").cast("long").as("custkey"),
      concat(lit("cdc-"), $"o_orderkey".cast("string")).as("name"),
      QueryDef.cents($"o_totalprice").as("bal_cents"))
    graft.sources.Sinks.upsert(target, updates, "custkey")
      .orderBy($"custkey")
  }

  private val qMergeUpsertSql =
    """WITH t AS (
      |  SELECT c_custkey AS custkey, c_name AS name,
      |    CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_cents FROM customer),
      |lat AS (
      |  SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |    SELECT o_custkey, o_orderkey, o_totalprice,
      |      ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
      |    FROM orders) r WHERE rn = 1),
      |u AS (
      |  SELECT CAST(CASE WHEN o_custkey % 5 = 0 THEN o_custkey + 3000000
      |    ELSE o_custkey END AS BIGINT) AS custkey,
      |    'cdc-' || CAST(o_orderkey AS VARCHAR) AS name,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS bal_cents FROM lat)
      |SELECT COALESCE(u.custkey, t.custkey) AS custkey,
      |  CASE WHEN u.custkey IS NOT NULL THEN u.name ELSE t.name END AS name,
      |  CASE WHEN u.custkey IS NOT NULL THEN u.bal_cents
      |    ELSE t.bal_cents END AS bal_cents
      |FROM t FULL OUTER JOIN u ON t.custkey = u.custkey
      |ORDER BY custkey""".stripMargin

  /** Schema evolution: legacy rows (no event_type) union current rows
    * via unionByName(allowMissingColumns) — missing columns become
    * NULL, exactly like parquet mergeSchema across old/new files. */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.queries.QueryDef.{dbl, dec}
    val ev = Tables.events(s, dir)
    val legacy = ev.filter($"event_id" % 2 === 0)
      .select($"event_id", $"user_id", $"value")
    val current = ev.filter($"event_id" % 2 =!= 0)
      .select($"event_id", $"user_id", $"value", $"event_type")
    legacy.unionByName(current, allowMissingColumns = true)
      .groupBy(coalesce($"event_type", lit("unknown")).as("etype"))
      .agg(count(lit(1)).as("n"), dbl(sum(dec($"value"))).as("sum_value"))
      .orderBy($"etype")
  }

  private val qSchemaEvolutionSql =
    """WITH u AS (
      |  SELECT event_id, user_id, value, NULL AS event_type
      |  FROM events WHERE event_id % 2 = 0
      |  UNION ALL
      |  SELECT event_id, user_id, value, event_type
      |  FROM events WHERE event_id % 2 <> 0)
      |SELECT COALESCE(event_type, 'unknown') AS etype, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM u GROUP BY etype ORDER BY etype""".stripMargin

  /** Incremental aggregation: persistable daily partials (count +
    * exact integer cents) re-aggregated to monthly — the partial-sums
    * pattern every incremental pipeline runs instead of rescanning raw
    * history. The oracle computes the monthly answer directly from the
    * raw events, proving partial-merge == full recompute. */
  private def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.queries.QueryDef.cents
    val daily = Tables.events(s, dir)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(cents($"value")).as("v_c"))
    daily
      .groupBy(substring($"day", 1, 7).as("month"), $"event_type")
      .agg(sum($"n").as("n"), (sum($"v_c").cast("double") / 100.0).as("sum_value"))
      .orderBy($"month", $"event_type")
  }

  private val qIncrementalAggSql =
    """SELECT strftime(ts, '%Y-%m') AS month, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
      |FROM events GROUP BY month, event_type
      |ORDER BY month, event_type""".stripMargin

  /** Product-quantization codes (the PQ half of IVF-PQ, Jégou et al.
    * 2011): 8 subspaces × 8 dims, 4 centroids per subspace (first-4
    * deterministic init, as ann_ivf), nearest by exact integer squared
    * L2 on micro-quantized values — codes are 8 small ints per vector
    * (64-dim float32 → 8 bytes, a 32× compression). The centroid table
    * is tiny and broadcast; assignment is in-scan argmin. */
  private[queries] def quantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quant = transform($"embedding", x => round(x.cast("double") * 1e6).cast("long"))
    Tables.embeddings(s, dir).select($"vec_id", quant.as("qv"))
  }

  /** Subspace codebook (4 centroids × 8 subspaces, first-4 init) with
    * the squared-L2 column factored out for reuse by codes and LUTs. */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantized(s, dir).filter($"vec_id" < 4)
      .select($"vec_id".cast("int").as("cid"), $"qv".as("cv"))
      .crossJoin(s.range(8).select($"id".cast("int").as("sub")))
  }

  /** Exact int² L2 between a vector's `sub` slice and a centroid's. */
  private[queries] def subDist: org.apache.spark.sql.Column =
    aggregate(
      zip_with(slice(col("qv"), col("sub") * 8 + 1, lit(8)),
        slice(col("cv"), col("sub") * 8 + 1, lit(8)),
        (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** (vec_id, sub, code, d2): nearest codebook entry per subspace. */
  private[queries] def pqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantized(s, dir).crossJoin(broadcast(pqCodebook(s, dir)))
      .select($"vec_id", $"sub", $"cid", subDist.as("d2"))
      .groupBy($"vec_id", $"sub")
      .agg(min(struct($"d2", $"cid")).as("best"))
      .select($"vec_id", $"sub".cast("long").as("sub"),
        $"best.cid".cast("long").as("code"), $"best.d2".as("d2"))
  }

  private def embPqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pqCodes(s, dir).orderBy($"vec_id", $"sub")
  }

  /** ADC lookup table for the probe set: per (query, subspace,
    * codebook entry) exact int² distance — 320 rows, broadcast by the
    * ann_pq_adc consumer. */
  private[queries] def pqLut(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    quantized(s, dir).filter($"vec_id" < 10)
      .crossJoin(broadcast(pqCodebook(s, dir)))
      .select($"vec_id".as("query_id"), $"sub".cast("long").as("sub"),
        $"cid".cast("long").as("cid"), subDist.as("d2q"))
  }

  private val embPqCodesSql =
    """WITH q AS (SELECT vec_id, list_transform(embedding,
      |    x -> CAST(ROUND(CAST(x AS DOUBLE)*1000000.0) AS BIGINT)) AS qv
      |  FROM embeddings),
      |cents AS (
      |  SELECT c.vec_id AS cid, c.qv AS cv, s.sub
      |  FROM q c, (SELECT unnest(range(0, 8)) AS sub) s
      |  WHERE c.vec_id < 4),
      |scored AS (
      |  SELECT q.vec_id, cents.sub, cents.cid,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> (qv[CAST(sub*8+i AS INTEGER)] - cv[CAST(sub*8+i AS INTEGER)])
      |         * (qv[CAST(sub*8+i AS INTEGER)] - cv[CAST(sub*8+i AS INTEGER)]))) AS d2
      |  FROM q CROSS JOIN cents),
      |r AS (
      |  SELECT vec_id, sub, cid, d2,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rk
      |  FROM scored)
      |SELECT vec_id, CAST(sub AS BIGINT) AS sub, CAST(cid AS BIGINT) AS code,
      |  CAST(d2 AS BIGINT) AS d2
      |FROM r WHERE rk = 1 ORDER BY vec_id, sub""".stripMargin

  /** Typed cogroup — the MapReduce reduce-side join generalized: both
    * inputs arrive grouped by key in one task, and arbitrary Scala
    * logic folds the two iterators. Here: per-customer order count,
    * total cents, and a flag for customers with orders but no high
    * value one — logic that would need two joins + conditional aggs
    * relationally. One shuffle per side, co-partitioned by the key.
    * The oracle re-derives the same answer with SQL aggregates. */
  private def qCogroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
      .select($"c_custkey", $"c_name").as[(Long, String)]
    val ords = Tables.orders(s, dir)
      .select($"o_custkey", round($"o_totalprice" * 100).cast("long")).as[(Long, Long)]
    cust.groupByKey(_._1).cogroup(ords.groupByKey(_._1)) { (k, cs, os) =>
      val name = cs.map(_._2).toSeq.headOption
      name match {
        case None => Iterator.empty // orders with no customer row: drop
        case Some(n) =>
          val cents = os.map(_._2).toArray
          Iterator((k, n, cents.length.toLong, cents.sum,
            cents.nonEmpty && !cents.exists(_ > 20000000L)))
      }
    }.toDF("c_custkey", "c_name", "n_orders", "total_cents", "small_spender")
      .select($"c_custkey", $"c_name", $"n_orders",
        ($"total_cents".cast("double") / 100.0).as("total_spent"), $"small_spender")
      .orderBy($"c_custkey")
  }

  private val qCogroupSql =
    """SELECT c_custkey, c_name,
      |  CAST(COUNT(o_custkey) AS BIGINT) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)), 0) AS DOUBLE)/100.0
      |    AS total_spent,
      |  COUNT(o_custkey) > 0 AND
      |    COUNT(CASE WHEN CAST(ROUND(o_totalprice*100) AS BIGINT) > 20000000 THEN 1 END) = 0
      |    AS small_spender
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY c_custkey""".stripMargin

  /** Correlated LATERAL subquery through the pure-SQL surface
    * (spark.sql over temp views): top order per customer. Catalyst
    * decorrelates the per-row subquery into a join — proving the SQL
    * front door, not just the DataFrame API, drives this engine. */
  private def qLateral(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT c_custkey, o_orderkey, total
        |FROM customer_v c,
        |LATERAL (SELECT o_orderkey,
        |           CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS total
        |         FROM orders_v
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin)
  }

  private val qLateralSql =
    """SELECT c_custkey, o_orderkey, total
      |FROM customer c,
      |LATERAL (SELECT o_orderkey,
      |           CAST(CAST(ROUND(o_totalprice*100) AS BIGINT) AS DOUBLE)/100.0 AS total
      |         FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
      |ORDER BY c_custkey""".stripMargin

  /** ROLLUP with grouping_id(): the subtotal-level marker downstream
    * BI layers key on (0 = leaf, 1 = nation subtotal, 3 = grand
    * total) — same bitmask convention in Spark and DuckDB. */
  private def qGroupingId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .rollup($"n_name", $"c_mktsegment")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
      .select(coalesce($"n_name", lit("ALL")).as("nat"),
        coalesce($"c_mktsegment", lit("ALL")).as("seg"), $"gid", $"n")
      .orderBy($"gid", $"nat", $"seg")
  }

  private val qGroupingIdSql =
    """SELECT COALESCE(n_name, 'ALL') AS nat, COALESCE(c_mktsegment, 'ALL') AS seg,
      |  CAST(GROUPING(n_name, c_mktsegment) AS BIGINT) AS gid,
      |  COUNT(*) AS n
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (n_name, c_mktsegment)
      |ORDER BY gid, nat, seg""".stripMargin

  /** Per-domain token-budget cut: walk each source in deterministic
    * hash order accumulating token counts, keep docs while the running
    * total fits the budget — the data-mixing step that caps each
    * domain's token contribution (not doc count: long docs use more
    * budget). One shuffle (the window partition). */
  private def corpusTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("tb:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
      .cast("long")
    Tables.documents(s, dir)
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("tok"), h.as("h"))
      .withColumn("cum", sum($"tok").over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum" <= 1500)
      .select($"doc_id", $"source", $"tok", $"cum")
      .orderBy($"source", $"cum")
  }

  private val corpusTokenBudgetSql =
    """SELECT doc_id, source, tok, cum FROM (
      |  SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    CAST(SUM(len(string_split(text, ' '))) OVER (PARTITION BY source
      |      ORDER BY CAST('0x' || substring(md5('tb:' || doc_id::VARCHAR), 1, 15) AS BIGINT),
      |        doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM documents) t
      |WHERE cum <= 1500
      |ORDER BY source, cum""".stripMargin

  /** Exact-arithmetic 3σ outlier flags: the z-score test cross-
    * multiplied — (n·v − Σv)² > 9(nΣv² − (Σv)²) — computed end-to-end
    * in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), INCLUDING the moment
    * sums themselves: both exact to 10³⁸, so the engines agree
    * bit-for-bit (no sqrt, no float variance, no silent int64 wrap in
    * the Σv² aggregation at large n). Moments broadcast back; the flag
    * is evaluated in-scan. */
  private def eventsZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.queries.QueryDef.cents
    import org.apache.spark.sql.types.DecimalType
    val big = (c: org.apache.spark.sql.Column) => c.cast(DecimalType(38, 0))
    val ev = Tables.events(s, dir).select($"event_id", $"event_type", cents($"value").as("v_c"))
    val m = ev.groupBy($"event_type".as("et"))
      .agg(count(lit(1)).as("n"), sum(big($"v_c")).as("s1"), sum(big($"v_c") * big($"v_c")).as("s2"))
    val dev = big($"n") * big($"v_c") - $"s1"
    ev.join(broadcast(m), $"event_type" === $"et")
      .filter(dev > 0 && dev * dev > big(lit(9L)) * (big($"n") * $"s2" - $"s1" * $"s1"))
      .select($"event_id", $"event_type", ($"v_c".cast("double") / 100.0).as("value"))
      .orderBy($"event_id")
  }

  private val eventsZscoreSql =
    """WITH e AS (SELECT event_id, event_type,
      |    CAST(ROUND(value*100) AS BIGINT) AS v_c FROM events),
      |m AS (SELECT event_type AS et, COUNT(*) AS n, SUM(v_c) AS s1,
      |    SUM(v_c*v_c) AS s2 FROM e GROUP BY 1)
      |SELECT event_id, event_type, CAST(v_c AS DOUBLE)/100.0 AS value
      |FROM e JOIN m ON event_type = et
      |WHERE (n*v_c - s1) > 0
      |  AND CAST(n*v_c - s1 AS HUGEINT) * CAST(n*v_c - s1 AS HUGEINT)
      |    > 9 * (CAST(n AS HUGEINT)*CAST(s2 AS HUGEINT) - CAST(s1 AS HUGEINT)*CAST(s1 AS HUGEINT))
      |ORDER BY event_id""".stripMargin

  /** The full curation DAG in one plan: Gopher quality gate → exact
    * dedup (min-doc_id survivor per text) → per-domain token budget.
    * Each stage is the already-verified operator; composing them here
    * proves the stages chain without materialization between (one
    * Catalyst plan, stage boundaries only at the dedup groupBy and the
    * budget window). */
  private def corpusCurateE2e(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val kept = TA.gopherFilter(docs).filter($"keep").select($"doc_id")
    val surv = docs.join(kept, "doc_id")
      .groupBy($"text").agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val h = conv(substring(md5(concat(lit("cur:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
      .cast("long")
    docs.join(surv, "doc_id")
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("tok"), h.as("h"))
      .withColumn("cum", sum($"tok").over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum" <= 1500)
      .select($"doc_id", $"source", $"tok", $"cum")
      .orderBy($"source", $"cum")
  }

  private val corpusCurateE2eSql =
    """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
      |m AS (SELECT doc_id, len(ws) AS n_tokens,
      |  CAST(len(list_filter(ws, x -> list_contains(['the','a','and','of','to'], x))) AS DOUBLE)
      |    / len(ws) AS stop_ratio,
      |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(ws) AS mwl,
      |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) / length(text) AS punct,
      |  list_transform(range(1, len(ws)-1), i -> array_to_string(ws[i:i+2], ' ')) AS g3,
      |  CAST(list_max(list_transform(list_distinct(ws),
      |      x -> len(list_filter(ws, y -> y = x)))) AS DOUBLE) / len(ws) AS topword
      |  FROM t),
      |r AS (SELECT doc_id, n_tokens, stop_ratio, mwl, punct, topword,
      |  CASE WHEN len(g3) > 0
      |    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
      |    ELSE 0.0 END AS dup3
      |  FROM m),
      |keepers AS (SELECT doc_id FROM r
      |  WHERE NOT (n_tokens < 20) AND NOT (stop_ratio < 0.03)
      |    AND NOT (mwl < 3.0 OR mwl > 10.0) AND NOT (topword > 0.15)
      |    AND NOT (dup3 > 0.1) AND NOT (punct > 0.3)),
      |surv AS (
      |  SELECT MIN(d.doc_id) AS doc_id
      |  FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
      |  GROUP BY d.text),
      |sd AS (
      |  SELECT d.doc_id, d.source,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok
      |  FROM documents d JOIN surv s ON d.doc_id = s.doc_id),
      |b AS (
      |  SELECT doc_id, source, tok,
      |    CAST(SUM(tok) OVER (PARTITION BY source
      |      ORDER BY CAST('0x' || substring(md5('cur:' || doc_id::VARCHAR), 1, 15) AS BIGINT),
      |        doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM sd)
      |SELECT doc_id, source, tok, cum FROM b WHERE cum <= 1500
      |ORDER BY source, cum""".stripMargin

  /** Target-mixture rebalancing: downsample domains so the kept corpus
    * matches target token shares (40/30/20/10 across 4 domain groups)
    * as closely as integer arithmetic allows, without upsampling. The
    * feasible budget base is B = min_d(tokens_d·10⁴ ÷ share_d) (the
    * binding domain keeps everything); each domain then keeps docs in
    * deterministic hash order while its running token sum fits
    * share_d·B ÷ 10⁴. All-integer (positive operands ⇒ Spark `div` ==
    * DuckDB `//`), so the cut line is engine-exact.
    *
    * Scale shape: domain totals are one map-side-combinable aggregate
    * broadcast back; the cut is the corpus_token_budget running-sum
    * window — one shuffle on the domain key, with AQE/salting the
    * answer if one domain dominates (the window order is a hash, so a
    * range-partitioned two-phase cumsum also applies at extreme skew). */
  private def corpusMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 15), 16, 10)
      .cast("long")
    val share = expr("element_at(array(40L, 30L, 20L, 10L), cast(substring(source, 4) as int) % 4 + 1)")
    val d = Tables.documents(s, dir)
      .select($"doc_id", $"source", share.as("share"),
        size(split($"text", " ")).cast("long").as("tok"), h.as("h"))
    val tot = d.groupBy($"source", $"share").agg(sum($"tok").as("toks"))
    val base = tot.agg(min(expr("(toks * 10000) div share")).as("b"))
    val budgets = tot.crossJoin(broadcast(base))
      .select($"source", expr("(share * b) div 10000").as("budget"))
    d.withColumn("cum", sum($"tok").over(
        Window.partitionBy($"source").orderBy($"h", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(budgets), "source")
      .filter($"cum" <= $"budget")
      .select($"doc_id", $"source", $"tok", $"cum")
      .orderBy($"source", $"cum")
  }

  private val corpusMixSql =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    ([40, 30, 20, 10])[CAST(substring(source, 4) AS INTEGER) % 4 + 1] AS share,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    CAST('0x' || substring(md5('mix:' || doc_id::VARCHAR), 1, 15) AS BIGINT) AS h
      |  FROM documents),
      |tot AS (SELECT source, share, CAST(SUM(tok) AS BIGINT) AS toks FROM d GROUP BY source, share),
      |base AS (SELECT MIN((toks * 10000) // share) AS b FROM tot),
      |bud AS (SELECT source, (share * b) // 10000 AS budget FROM tot CROSS JOIN base),
      |c AS (
      |  SELECT doc_id, source, tok,
      |    CAST(SUM(tok) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM d)
      |SELECT doc_id, source, tok, cum
      |FROM c JOIN bud USING (source) WHERE cum <= budget
      |ORDER BY source, cum""".stripMargin

  /** CCNet-style corpus partition (Wenzek et al. 2020): split each
    * language's documents into head/middle/tail thirds by a language-
    * model-style fluency score, the standard pretraining-mix lever
    * (keep head+middle, drop or downweight tail). The score is an
    * EXACT-integer stand-in for LM perplexity: per-doc mean inverse
    * word frequency, score_micro = floor(1e6·Σ_w(N div c(w)) / n_words)
    * — common-word docs score low (head), rare-word docs high (tail) —
    * computed with the split-division identity
    * (q div d)·1e6 + ((q mod d)·1e6) div d so every step stays in
    * BIGINT (exact for corpora ≤ ~9e12 tokens; beyond that the sums
    * move to DECIMAL(38), same plan). No libm anywhere, so the tertile
    * boundaries cannot drift a doc across buckets between engines
    * (the text_perplexity ±1-nano caveat does not apply here).
    *
    * Tertile cuts are VALUE thresholds, not row ranks: the per-lang
    * score histogram (one map-combinable agg, model-sized) gets a
    * cumulative count, t1/t2 = min score reaching n/3 and 2n/3, and
    * docs bucket by comparing to the broadcast thresholds — no
    * per-language total ordering of the corpus, which is what makes
    * this NTILE-free formulation survive a 100 TB language. Ties stay
    * in one bucket by construction (deterministic both engines). */
  private def corpusPplBuckets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
    val c1 = tok.groupBy($"w").agg(count(lit(1)).as("c1"))
    val ntok = tok.agg(count(lit(1)).as("n_tok"))
    val perDoc = tok.join(c1, "w").crossJoin(broadcast(ntok))
      .withColumn("rar", expr("n_tok div c1"))
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_words"), sum($"rar").as("rsum"))
      .withColumn("score_micro", expr(
        "(rsum div n_words) * 1000000L + ((rsum % n_words) * 1000000L) div n_words"))
    val cum = perDoc.groupBy($"lang", $"score_micro").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(
        Window.partitionBy($"lang").orderBy($"score_micro")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nl", sum($"cnt").over(Window.partitionBy($"lang")))
    val th = cum.groupBy($"lang").agg(
      min(when($"cum" * 3 >= $"nl", $"score_micro")).as("t1"),
      min(when($"cum" * 3 >= $"nl" * 2, $"score_micro")).as("t2"))
    perDoc.join(broadcast(th), "lang")
      .withColumn("bucket_id",
        when($"score_micro" <= $"t1", 1L)
          .when($"score_micro" <= $"t2", 2L).otherwise(3L))
      .groupBy($"lang", $"bucket_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_words"),
        min($"score_micro").as("min_score_micro"),
        max($"score_micro").as("max_score_micro"))
      .withColumn("bucket",
        expr("element_at(array('head','middle','tail'), cast(bucket_id as int))"))
      .select($"lang", $"bucket_id", $"bucket", $"n_docs", $"n_words",
        $"min_score_micro", $"max_score_micro")
      .orderBy($"lang", $"bucket_id")
  }

  private val corpusPplBucketsSql =
    """WITH tok AS (SELECT doc_id, lang, w FROM (
      |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |    FROM documents) t WHERE length(w) > 0),
      |c1 AS (SELECT w, COUNT(*) AS c1 FROM tok GROUP BY w),
      |n AS (SELECT COUNT(*) AS n_tok FROM tok),
      |pd0 AS (SELECT doc_id, lang, COUNT(*) AS n_words,
      |    CAST(SUM(n_tok // c1) AS BIGINT) AS rsum
      |  FROM tok JOIN c1 USING (w) CROSS JOIN n
      |  GROUP BY doc_id, lang),
      |pd AS (SELECT doc_id, lang, n_words,
      |    (rsum // n_words) * 1000000
      |      + ((rsum % n_words) * 1000000) // n_words AS score_micro
      |  FROM pd0),
      |cum AS (SELECT lang, score_micro,
      |    SUM(cnt) OVER (PARTITION BY lang ORDER BY score_micro
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY lang) AS nl
      |  FROM (SELECT lang, score_micro, COUNT(*) AS cnt
      |        FROM pd GROUP BY 1, 2) h),
      |th AS (SELECT lang,
      |    MIN(CASE WHEN cum * 3 >= nl THEN score_micro END) AS t1,
      |    MIN(CASE WHEN cum * 3 >= 2 * nl THEN score_micro END) AS t2
      |  FROM cum GROUP BY lang)
      |SELECT p.lang,
      |  CAST(CASE WHEN score_micro <= t1 THEN 1
      |    WHEN score_micro <= t2 THEN 2 ELSE 3 END AS BIGINT) AS bucket_id,
      |  CASE WHEN score_micro <= t1 THEN 'head'
      |    WHEN score_micro <= t2 THEN 'middle' ELSE 'tail' END AS bucket,
      |  COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS n_words,
      |  MIN(score_micro) AS min_score_micro,
      |  MAX(score_micro) AS max_score_micro
      |FROM pd p JOIN th ON p.lang = th.lang
      |GROUP BY 1, 2, 3 ORDER BY p.lang, bucket_id""".stripMargin

  /** Second driver-verified streaming row (after ctr_streaming_replay):
    * the events table replayed through the stateful
    * flatMapGroupsWithState sessionizer (interval-merge semantics,
    * event-time timeouts), hash-compared against a batch SQL
    * re-derivation of 30-minute-gap sessions.
    *
    * Replay harness = THREE AvailableNow runs against ONE checkpoint
    * and ONE parquet sink — which makes this also an exactly-once
    * RESTART test, not just a drain test:
    *   run 1: the real events (watermark starts at 0, so nothing can
    *          finalize mid-run except what later batches allow);
    *   run 2: a far-future sentinel appended to the source dir — its
    *          batch runs with the run-1 watermark and advances it;
    *   run 3: a second sentinel — its batch runs with the run-2
    *          watermark (sentinel − 30 min), so every real session's
    *          event-time timer has passed and fires. Two sentinels are
    *          needed because a watermark computed at the END of batch
    *          N only gates batch N+1 (same pattern as the
    *          StreamBatchConsistencySpec memory-stream proof).
    * Session bounds are at millisecond precision (the state kernel
    * works on Timestamp.getTime), so the oracle chains gaps over
    * epoch_ns // 1000000 — identical grouping arithmetic in both
    * engines, no float, no libm. */
  /** Watermark LATE-DATA semantics driver-verified: run 1 streams the
    * on-time slice (event_id % 5 != 0) plus a far-future sentinel that
    * drags the watermark past every real window; run 2 (same
    * checkpoint — the watermark survives restart) streams ONLY the
    * held-back slice, now entirely behind the watermark, which append
    * mode must DROP while flushing the closed windows exactly once.
    * The oracle is the plain batch aggregate over the on-time slice —
    * the hash matches iff (a) every closed window emitted exactly
    * once and (b) not one late row leaked into a count. sum_value is
    * deliberately not emitted (per-window double sums are partition-
    * order dependent; counts are exact). */
  private def hourlyLateReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-late-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      val ev = Tables.events(s, dir).select($"event_id", $"ts", $"event_type", $"value")
      val maxTs = ev.agg(max($"ts")).head.getTimestamp(0)
      val far = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
      val onTime = ev.filter($"event_id" % 5 =!= 0).select($"ts", $"event_type", $"value")
        .unionByName(Seq((far, "zz", 0.0)).toDF("ts", "event_type", "value"))
      val late = ev.filter($"event_id" % 5 === 0).select($"ts", $"event_type", $"value")
      onTime.write.mode("overwrite").parquet(s"$root/src")
      def drain(): Unit = StreamReplay.drain("hourly_late_replay", root)(
        EventStream.windowedCounts(
            s.readStream.schema(onTime.schema).parquet(s"$root/src"))
          .select(date_format($"window.start", "yyyy-MM-dd HH:00:00").as("hour"),
            $"event_type", $"n")
          .writeStream.format("parquet").option("path", s"$root/out")
          .outputMode("append"))
      drain()
      late.write.mode("append").parquet(s"$root/src")
      drain()
      s.read.parquet(s"$root/out")
        .filter($"event_type" =!= "zz")
        .orderBy($"hour", $"event_type")
    }

  private val hourlyLateReplaySql =
    """SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type, COUNT(*) AS n
      |FROM events WHERE event_id % 5 <> 0
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Fifth driver-verified streaming path: the CUSTOM-STATE windowed
    * top-k (flatMapGroupsWithState + event-time timeout — exact
    * per-window counts held in state, emitted exactly once when the
    * watermark closes the window). Replayed through a file source
    * with the same three-drain sentinel protocol as the sessionizer
    * (the watermark advances one batch behind the data), then
    * hash-compared against the plain batch window/top-3 SQL. */
  private def topkStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-topk-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "topk_streaming_replay", root, "zz_sentinel")(d =>
        EventStream.streamingTopK(s, d, windowMinutes = 60, k = 3).toDF())
        .filter($"dim" =!= "zz_sentinel")
        .select(unix_millis($"window_start").as("wstart_ms"), $"dim",
          $"n", $"rk".cast("long").as("rk"))
        .orderBy($"wstart_ms", $"rk")
    }

  private val topkStreamingReplaySql =
    """WITH c AS (SELECT (epoch_ns(ts)//1000000)//3600000*3600000 AS wstart_ms,
      |    event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
      |r AS (SELECT wstart_ms, event_type AS dim, n,
      |    ROW_NUMBER() OVER (PARTITION BY wstart_ms ORDER BY n DESC, event_type) AS rk
      |    FROM c)
      |SELECT wstart_ms, dim, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk
      |FROM r WHERE rk <= 3 ORDER BY wstart_ms, rk""".stripMargin

  private def sessionizeStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-sess-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "sessionize_streaming_replay", root, "x")(d =>
        EventStream.sessionize(s, d, gapMinutes = 30).toDF())
        .filter($"user_id" >= 0)
        .select($"user_id",
          unix_millis($"session_start").as("start_ms"),
          unix_millis($"session_end").as("end_ms"),
          $"n_events".cast("long").as("n_events"))
        .orderBy($"user_id", $"start_ms")
    }

  private val sessionizeStreamingReplaySql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ms FROM events),
      |x AS (
      |  SELECT user_id, event_id, ms,
      |    CASE WHEN LAG(ms) OVER w IS NULL OR ms > LAG(ms) OVER w + 1800000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
      |y AS (
      |  SELECT user_id, ms,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x)
      |SELECT user_id, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
      |  CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM y GROUP BY user_id, sid
      |ORDER BY user_id, start_ms""".stripMargin

  /** Cohort retention: users bucketed by first-activity week (weeks
    * indexed from Monday 1970-01-05 — pure integer date math, no
    * engine-specific week-start semantics), then distinct active users
    * per (cohort, week-offset) — the product-analytics retention
    * triangle. Scale shape: the distinct collapses raw event volume to
    * user-weeks with map-side partial aggregation before its shuffle;
    * the cohort comes from a min-window over user_id (one more
    * user-keyed exchange of user-week pairs) rather than a
    * self-aggregate + join, which would cost a third full exchange
    * plus a user-dim-sized join; the final aggregate moves only
    * (cohort, offset, user) triples. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = floor(datediff(to_date($"ts"), to_date(lit("1970-01-05"))) / 7).cast("long")
    val ev = Tables.events(s, dir).select($"user_id", wk.as("wk")).distinct()
    val cohort = min($"wk").over(Window.partitionBy($"user_id"))
    ev.withColumn("cohort_wk", cohort)
      .groupBy($"cohort_wk", ($"wk" - $"cohort_wk").as("wk_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_wk", $"wk_offset")
  }

  private val qRetentionSql =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(FLOOR(datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk
      |  FROM events),
      |c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id)
      |SELECT c.cohort_wk, ev.wk - c.cohort_wk AS wk_offset,
      |  COUNT(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN c ON ev.user_id = c.user_id
      |GROUP BY c.cohort_wk, wk_offset
      |ORDER BY cohort_wk, wk_offset""".stripMargin

  /** Single-pass data profiling (the ANALYZE/data-quality op): per
    * column null count, exact distinct count, min and max — computed
    * in ONE aggregate over the table (multiple distinct aggregates
    * plan as one Expand + partial aggs, still a single scan), then
    * melted to a row per column. Doubles surface through the exact
    * DECIMAL(18,2) path so the stringified min/max are bit-identical
    * on both engines. At 100 TB this is the always-run pre-flight
    * step; the melt is driver-free (explode of a 3-struct array on a
    * 1-row aggregate). */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.queries.QueryDef.dec
    val a = Tables.events(s, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(when($"user_id".isNull, 1L).otherwise(0L)).as("nn_uid"),
      countDistinct($"user_id").as("nd_uid"),
      min($"user_id").cast("string").as("mn_uid"),
      max($"user_id").cast("string").as("mx_uid"),
      sum(when($"event_type".isNull, 1L).otherwise(0L)).as("nn_et"),
      countDistinct($"event_type").as("nd_et"),
      min($"event_type").as("mn_et"),
      max($"event_type").as("mx_et"),
      sum(when($"value".isNull, 1L).otherwise(0L)).as("nn_v"),
      countDistinct($"value").as("nd_v"),
      dec(min($"value")).cast("string").as("mn_v"),
      dec(max($"value")).cast("string").as("mx_v"))
    a.select($"n_rows", explode(array(
        struct(lit("user_id").as("col_name"), $"nn_uid".as("n_nulls"),
          $"nd_uid".as("n_distinct"), $"mn_uid".as("min_v"), $"mx_uid".as("max_v")),
        struct(lit("event_type").as("col_name"), $"nn_et".as("n_nulls"),
          $"nd_et".as("n_distinct"), $"mn_et".as("min_v"), $"mx_et".as("max_v")),
        struct(lit("value").as("col_name"), $"nn_v".as("n_nulls"),
          $"nd_v".as("n_distinct"), $"mn_v".as("min_v"), $"mx_v".as("max_v")))).as("p"))
      .select($"p.col_name", $"n_rows", $"p.n_nulls", $"p.n_distinct",
        $"p.min_v", $"p.max_v")
      .orderBy($"col_name")
  }

  private val qProfileSql =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_rows,
      |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_uid,
      |    COUNT(DISTINCT user_id) AS nd_uid,
      |    CAST(MIN(user_id) AS VARCHAR) AS mn_uid, CAST(MAX(user_id) AS VARCHAR) AS mx_uid,
      |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_et,
      |    COUNT(DISTINCT event_type) AS nd_et,
      |    MIN(event_type) AS mn_et, MAX(event_type) AS mx_et,
      |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_v,
      |    COUNT(DISTINCT value) AS nd_v,
      |    CAST(CAST(MIN(value) AS DECIMAL(18,2)) AS VARCHAR) AS mn_v,
      |    CAST(CAST(MAX(value) AS DECIMAL(18,2)) AS VARCHAR) AS mx_v
      |  FROM events)
      |SELECT 'user_id' AS col_name, n_rows, nn_uid AS n_nulls, nd_uid AS n_distinct,
      |  mn_uid AS min_v, mx_uid AS max_v FROM a
      |UNION ALL SELECT 'event_type', n_rows, nn_et, nd_et, mn_et, mx_et FROM a
      |UNION ALL SELECT 'value', n_rows, nn_v, nd_v, mn_v, mx_v FROM a
      |ORDER BY col_name""".stripMargin

  /** Point-in-time (leakage-safe) feature enrichment — the feature-
    * store primitive: each purchase (label row) carries the latest
    * at-or-before feature row per stream (views, clicks) for its user.
    * Two chained AsOf joins — each ONE shuffle + ONE sort on user_id
    * regardless of fan-in (`operators/AsOf.scala`), never a
    * per-label correlated scan — then node-sized equi-joins attach the
    * matched rows' values. Feature ages are exact millis.
    *
    * Oracle replays the operator's union-window trick verbatim
    * (right side sorts before the label on ts ties ⇒ at-or-before
    * inclusive; ties broken by largest event_id). */
  private def qFeatureStorePit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    def stream(t: String) = ev.filter($"event_type" === t)
      .select($"event_id", $"user_id", $"ts", $"value")
    val labels = stream("purchase")
    val views = stream("view")
    val clicks = stream("click")
    val withView = graft.operators.AsOf.join(
        labels, views, key = "user_id", leftTs = "ts", rightTs = "ts",
        rightId = "event_id", matchCol = "view_eid")
      .join(views.select($"event_id".as("view_eid"), $"ts".as("view_ts"),
        $"value".as("view_value")), Seq("view_eid"), "left")
    graft.operators.AsOf.join(
        withView, clicks, key = "user_id", leftTs = "ts", rightTs = "ts",
        rightId = "event_id", matchCol = "click_eid")
      .join(clicks.select($"event_id".as("click_eid"), $"ts".as("click_ts"),
        $"value".as("click_value")), Seq("click_eid"), "left")
      .select($"event_id", $"user_id",
        QueryDef.dbl(QueryDef.dec($"value")).as("label_value"),
        QueryDef.dbl(QueryDef.dec($"view_value")).as("f_view_value"),
        (unix_millis($"ts") - unix_millis($"view_ts")).as("f_view_age_ms"),
        QueryDef.dbl(QueryDef.dec($"click_value")).as("f_click_value"),
        (unix_millis($"ts") - unix_millis($"click_ts")).as("f_click_age_ms"))
      .orderBy($"event_id")
  }

  private def pitCte(t: String, p: String) =
    s"""${p}u AS (
       |  SELECT user_id, ts, 0 AS side, event_id AS rid, NULL::BIGINT AS label_eid
       |  FROM events WHERE event_type = '$t'
       |  UNION ALL
       |  SELECT user_id, ts, 1, NULL, event_id FROM events WHERE event_type = 'purchase'),
       |${p}m AS (
       |  SELECT label_eid,
       |    LAST_VALUE(rid IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY ts, side, rid ROWS UNBOUNDED PRECEDING) AS ${p}_eid
       |  FROM ${p}u QUALIFY side = 1)""".stripMargin

  private val qFeatureStorePitSql =
    s"""WITH ${pitCte("view", "v")},
       |${pitCte("click", "c")}
       |SELECT l.event_id, l.user_id,
       |  CAST(CAST(l.value AS DECIMAL(18,2)) AS DOUBLE) AS label_value,
       |  CAST(CAST(fv.value AS DECIMAL(18,2)) AS DOUBLE) AS f_view_value,
       |  epoch_ms(l.ts) - epoch_ms(fv.ts) AS f_view_age_ms,
       |  CAST(CAST(fc.value AS DECIMAL(18,2)) AS DOUBLE) AS f_click_value,
       |  epoch_ms(l.ts) - epoch_ms(fc.ts) AS f_click_age_ms
       |FROM events l
       |JOIN vm ON vm.label_eid = l.event_id
       |JOIN cm ON cm.label_eid = l.event_id
       |LEFT JOIN events fv ON fv.event_id = vm.v_eid
       |LEFT JOIN events fc ON fc.event_id = cm.c_eid
       |WHERE l.event_type = 'purchase'
       |ORDER BY l.event_id""".stripMargin

  /** MATCH_RECOGNIZE-style CEP: per user, every `view` anchors a match
    * attempt — first `click` strictly after it, first `purchase`
    * strictly after that click, whole span ≤ 7 d, and NO `error`
    * event strictly inside the span (the negation constraint that
    * separates CEP from funnel counting — `q_funnel3` counts stage
    * conversion; this emits concrete match instances). Emitted rows
    * carry the three event ids + the span.
    *
    * Scale shape: one shuffle on user_id builds the per-user sorted
    * event array (bounded by per-user activity, the same state a
    * streaming CEP operator would key); each anchored attempt is
    * in-row array arithmetic (array_min over filtered structs), no
    * further shuffle. Mins are (ms, event_id)-lexicographic on both
    * engines, so ties can never diverge. */
  private def eventsCepMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spanMs = 604800000L // 7 days
    val e = Tables.events(s, dir)
      .select($"user_id", $"event_id", $"event_type", unix_millis($"ts").as("ms"))
    val byUser = e.groupBy($"user_id")
      .agg(collect_list(struct($"ms", $"event_id", $"event_type")).as("evs"))
    byUser
      .select($"user_id", explode(expr(
        "filter(evs, x -> x.event_type = 'view')")).as("v"), $"evs")
      .withColumn("c", expr(
        "array_min(transform(filter(evs, x -> x.event_type = 'click' AND x.ms > v.ms), x -> struct(x.ms, x.event_id)))"))
      .withColumn("p", expr(
        "array_min(transform(filter(evs, x -> x.event_type = 'purchase' AND x.ms > c.ms), x -> struct(x.ms, x.event_id)))"))
      .filter($"p".isNotNull && ($"p.ms" - $"v.ms") <= spanMs)
      .filter(expr(
        "NOT exists(evs, x -> x.event_type = 'error' AND x.ms > v.ms AND x.ms < p.ms)"))
      .select($"user_id", $"v.event_id".as("v_eid"), $"c.event_id".as("c_eid"),
        $"p.event_id".as("p_eid"), ($"p.ms" - $"v.ms").as("span_ms"))
      .orderBy($"user_id", $"v_eid")
  }

  private val eventsCepMatchSql =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events),
      |v AS (SELECT user_id, event_id AS v_eid, ms AS vms FROM e WHERE event_type = 'view'),
      |c AS (SELECT v.user_id, v.v_eid, v.vms,
      |    MIN(e.ms) AS cms
      |  FROM v JOIN e ON e.user_id = v.user_id
      |    AND e.event_type = 'click' AND e.ms > v.vms
      |  GROUP BY 1, 2, 3),
      |c2 AS (SELECT c.user_id, c.v_eid, c.vms, c.cms, MIN(e.event_id) AS c_eid
      |  FROM c JOIN e ON e.user_id = c.user_id
      |    AND e.event_type = 'click' AND e.ms = c.cms
      |  GROUP BY 1, 2, 3, 4),
      |p AS (SELECT c2.user_id, c2.v_eid, c2.vms, c2.cms, c2.c_eid,
      |    MIN(e.ms) AS pms
      |  FROM c2 JOIN e ON e.user_id = c2.user_id
      |    AND e.event_type = 'purchase' AND e.ms > c2.cms
      |  GROUP BY 1, 2, 3, 4, 5),
      |p2 AS (SELECT p.user_id, p.v_eid, p.vms, p.cms, p.c_eid, p.pms,
      |    MIN(e.event_id) AS p_eid
      |  FROM p JOIN e ON e.user_id = p.user_id
      |    AND e.event_type = 'purchase' AND e.ms = p.pms
      |  GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT user_id, v_eid, c_eid, p_eid, pms - vms AS span_ms
      |FROM p2
      |WHERE pms - vms <= 604800000
      |  AND NOT EXISTS (SELECT 1 FROM e
      |    WHERE e.user_id = p2.user_id AND e.event_type = 'error'
      |      AND e.ms > p2.vms AND e.ms < p2.pms)
      |ORDER BY user_id, v_eid""".stripMargin

  /** Streaming KMV distinct sketch replay: the events table replayed
    * as a file stream through `EventStream.streamingKmvDistinct`
    * (bottom-64 sketch per (hour window, event_type) in the state
    * store, emitted at watermark close), with sentinel appends pushing
    * the watermark so every window finalizes. The oracle recomputes
    * each window's sketch FROM SCRATCH in SQL — the streaming state's
    * incremental inserts must land on exactly the 64 smallest distinct
    * hashes, so state-update bugs (lost inserts, merge drift) fail the
    * hash compare, not just a row count. */
  private def kmvStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-kmv-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "kmv_streaming_replay", root, "zz_sentinel")(d =>
        EventStream.streamingKmvDistinct(s, d, windowMinutes = 60).toDF())
        .filter($"event_type" =!= "zz_sentinel")
        .select(unix_millis($"window_start").as("wstart_ms"), $"event_type",
          $"n_rows", $"n_est")
        .orderBy($"wstart_ms", $"event_type")
    }

  /** Streaming CEP replay — the ninth driver-verified streaming path:
    * `events_cep_match`'s three-step pattern with negation runs as
    * per-user flatMapGroupsWithState (7-day event tail in state, each
    * view's match emitted EXACTLY ONCE when the watermark passes
    * view_ts + 7 d), replayed via the file source + three-drain
    * sentinel protocol and hash-compared against the SAME DuckDB
    * oracle as the batch key. Hash equality proves the stateful
    * stream computes the identical first-click/first-purchase/
    * no-error-inside matches the batch array formulation does —
    * state-tail eviction bugs or premature finalization change the
    * match set and fail the compare. */
  private def cepStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-cep-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "cep_streaming_replay", root, "zz_sentinel")(d =>
        EventStream.streamingCep(s, d).toDF())
        .select($"user_id", $"v_eid", $"c_eid", $"p_eid", $"span_ms")
        .orderBy($"user_id", $"v_eid")
    }

  /** Streaming EWMA anomaly replay — the TENTH driver-verified
    * streaming path: q_ewma_anomaly's exact integer recurrence runs as
    * per-event_type state (`EventStream.streamingEwma` — open-day
    * partials + one (lastDay, ewma) pair per key, days finalized in
    * order as the watermark passes them), replayed via the file source
    * + sentinel protocol and hash-compared against a per-type
    * recursive-CTE oracle. A day emitted twice, out of order, or with
    * a stale smoothed level changes the recurrence trajectory and
    * fails the hash. */
  private def ewmaStreamingReplay(s: SparkSession, dir: String): DataFrame =
    StreamReplay.run(s, "graft-ewma-replay") { root =>
      import s.implicits._
      import graft.streaming.EventStream
      StreamReplay.events(s, dir, "ewma_streaming_replay", root, "zz_sentinel")(d =>
        EventStream.streamingEwma(s, d).toDF())
        .filter($"event_type" =!= "zz_sentinel")
        .select($"event_type", $"day", $"rev_cents", $"ewma_cents", $"is_anomaly")
        .orderBy($"event_type", $"day")
    }

  private val ewmaStreamingReplaySql =
    """WITH RECURSIVE rev AS (
      |  SELECT event_type,
      |    (epoch_ns(ts)//1000000)//86400000 AS day,
      |    SUM(CAST(ROUND(value*100) AS BIGINT)) AS v
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, day, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM rev),
      |ew(event_type, i, sn) AS (
      |  SELECT event_type, 1, CAST(v AS HUGEINT) FROM r WHERE i = 1
      |  UNION ALL
      |  SELECT r.event_type, r.i, (2 * r.v + 8 * ew.sn) // 10
      |  FROM ew JOIN r ON r.event_type = ew.event_type AND r.i = ew.i + 1)
      |SELECT r.event_type, r.day, CAST(r.v AS BIGINT) AS rev_cents,
      |  CAST(ew.sn AS BIGINT) AS ewma_cents,
      |  CASE WHEN prev.sn IS NULL THEN FALSE
      |       WHEN 10 * r.v > 13 * prev.sn OR 10 * r.v < 7 * prev.sn THEN TRUE
      |       ELSE FALSE END AS is_anomaly
      |FROM r
      |JOIN ew ON ew.event_type = r.event_type AND ew.i = r.i
      |LEFT JOIN ew prev ON prev.event_type = r.event_type AND prev.i = r.i - 1
      |ORDER BY r.event_type, r.day""".stripMargin

  private val kmvStreamingReplaySql =
    """WITH e AS (SELECT (epoch_ns(ts)//1000000)//3600000*3600000 AS wstart_ms,
      |    event_type,
      |    CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      |  FROM events),
      |cnt AS (SELECT wstart_ms, event_type, COUNT(*) AS n_rows FROM e GROUP BY 1, 2),
      |d AS (SELECT DISTINCT wstart_ms, event_type, h FROM e),
      |r AS (SELECT wstart_ms, event_type, h,
      |    ROW_NUMBER() OVER (PARTITION BY wstart_ms, event_type ORDER BY h) AS rn
      |  FROM d),
      |sk AS (SELECT wstart_ms, event_type,
      |    COUNT(CASE WHEN rn <= 64 THEN 1 END) AS n_kept,
      |    MAX(CASE WHEN rn = 64 THEN h END) AS h64
      |  FROM r GROUP BY 1, 2)
      |SELECT c.wstart_ms, c.event_type, CAST(c.n_rows AS BIGINT) AS n_rows,
      |  CAST(CASE WHEN s.n_kept < 64 THEN s.n_kept
      |    ELSE (63::HUGEINT * (1::HUGEINT << 60)) // s.h64 END AS BIGINT) AS n_est
      |FROM cnt c JOIN sk s USING (wstart_ms, event_type)
      |ORDER BY wstart_ms, event_type""".stripMargin

  // ------------------------------------------------------ events_seq_pairs

  /** Sequential co-occurrence mining: for every ordered event-type pair
    * (a → b), the number of users who performed a followed by b within
    * one hour (support), plus nano support ratio over all active users.
    * The gapped generalization of q_markov's adjacent-transition matrix
    * — "eventually follows within a window", not "immediately follows".
    *
    * Scale shape: the oracle's naive form is a per-user event×event
    * self-join (quadratic in events per user). The Spark plan instead
    * runs a keyed range window (`RANGE BETWEEN 3.6e6 PRECEDING AND 1
    * PRECEDING` per user) carrying a collect_set of the ≤|event types|
    * distinct prior types — linear pass, window state bounded by the
    * type alphabet, one shuffle keyed by user_id. Same-ms pairs are
    * excluded on both sides (strict `b.ms − a.ms ≥ 1`), so the result
    * never depends on an intra-millisecond tiebreak. */
  private def eventsSeqPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val w = Window.partitionBy($"user_id").orderBy($"ms")
      .rangeBetween(-3600000L, -1L)
    val pairs = ev
      .withColumn("prior", collect_set($"event_type").over(w))
      .select($"user_id", explode($"prior").as("type_a"),
        $"event_type".as("type_b"))
      .distinct()
    val tot = ev.agg(countDistinct($"user_id").as("nu"))
    pairs.groupBy($"type_a", $"type_b")
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select($"type_a", $"type_b", $"n_users",
        expr("(n_users * 1000000000L) div nu").as("support_nano"))
      .orderBy($"type_a", $"type_b")
  }

  private val eventsSeqPairsSql =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      |pairs AS (
      |  SELECT DISTINCT a.user_id, a.event_type AS type_a, b.event_type AS type_b
      |  FROM e a JOIN e b ON a.user_id = b.user_id
      |    AND b.ms - a.ms BETWEEN 1 AND 3600000),
      |tot AS (SELECT COUNT(DISTINCT user_id) AS nu FROM e)
      |SELECT type_a, type_b, COUNT(*) AS n_users,
      |  CAST((COUNT(*) * 1000000000) // nu AS BIGINT) AS support_nano
      |FROM pairs CROSS JOIN tot
      |GROUP BY type_a, type_b, nu
      |ORDER BY type_a, type_b""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "events_seq_pairs" -> QueryDef(eventsSeqPairs, Some(eventsSeqPairsSql)),
    "kmv_streaming_replay" -> QueryDef(kmvStreamingReplay, Some(kmvStreamingReplaySql)),
    "ewma_streaming_replay" -> QueryDef(ewmaStreamingReplay, Some(ewmaStreamingReplaySql)),
    "events_cep_match" -> QueryDef(eventsCepMatch, Some(eventsCepMatchSql)),
    "cep_streaming_replay" -> QueryDef(cepStreamingReplay, Some(eventsCepMatchSql)),
    "q_feature_store_pit" -> QueryDef(qFeatureStorePit, Some(qFeatureStorePitSql)),
    "q_profile" -> QueryDef(qProfile, Some(qProfileSql)),
    "q_retention" -> QueryDef(qRetention, Some(qRetentionSql)),
    "sessionize_streaming_replay" ->
      QueryDef(sessionizeStreamingReplay, Some(sessionizeStreamingReplaySql)),
    "hourly_late_replay" -> QueryDef(hourlyLateReplay, Some(hourlyLateReplaySql)),
    "topk_streaming_replay" -> QueryDef(topkStreamingReplay, Some(topkStreamingReplaySql)),
    "corpus_mix" -> QueryDef(corpusMix, Some(corpusMixSql)),
    "corpus_ppl_buckets" -> QueryDef(corpusPplBuckets, Some(corpusPplBucketsSql)),
    "corpus_curate_e2e" -> QueryDef(corpusCurateE2e, Some(corpusCurateE2eSql)),
    "corpus_token_budget" -> QueryDef(corpusTokenBudget, Some(corpusTokenBudgetSql)),
    "events_zscore" -> QueryDef(eventsZscore, Some(eventsZscoreSql)),
    "q_grouping_id" -> QueryDef(qGroupingId, Some(qGroupingIdSql)),
    "q_lateral" -> QueryDef(qLateral, Some(qLateralSql)),
    "q_cogroup" -> QueryDef(qCogroup, Some(qCogroupSql)),
    "q_schema_evolution" -> QueryDef(qSchemaEvolution, Some(qSchemaEvolutionSql)),
    "sink_manifest_roundtrip" -> QueryDef(sinkManifestRoundtrip, Some(sinkManifestRoundtripSql)),
    "sink_manifest_streaming" -> QueryDef(sinkManifestStreaming, Some(sinkManifestStreamingSql)),
    "sink_manifest_pruned" -> QueryDef(sinkManifestPruned, Some(sinkManifestPrunedSql)),
    "sink_manifest_delete" -> QueryDef(sinkManifestDelete, Some(sinkManifestDeleteSql)),
    "sink_manifest_dv" -> QueryDef(sinkManifestDv, Some(sinkManifestDvSql)),
    "sink_manifest_rename" -> QueryDef(sinkManifestRename, Some(sinkManifestRenameSql)),
    "sink_manifest_dsv2_write" ->
      QueryDef(sinkManifestDsv2Write, Some(sinkManifestDsv2WriteSql)),
    "sink_manifest_changefeed" ->
      QueryDef(sinkManifestChangefeed, Some(sinkManifestChangefeedSql)),
    "sink_manifest_stream_source" ->
      QueryDef(sinkManifestStreamSource, Some(sinkManifestChangefeedSql)),
    "sink_manifest_gdpr_e2e" ->
      QueryDef(sinkManifestGdprE2e, Some(sinkManifestGdprE2eSql)),
    "sink_manifest_merge" ->
      QueryDef(sinkManifestMerge, Some(sinkManifestMergeSql)),
    "sink_manifest_merge_cdc" ->
      QueryDef(sinkManifestMergeCdc, Some(sinkManifestMergeCdcSql)),
    "sink_manifest_compact_small" ->
      QueryDef(sinkManifestCompactSmall, Some(sinkManifestCompactSmallSql)),
    "sink_manifest_update" ->
      QueryDef(sinkManifestUpdate, Some(sinkManifestUpdateSql)),
    "sink_manifest_cdf" ->
      QueryDef(sinkManifestCdf, Some(sinkManifestCdfSql)),
    "sink_manifest_cdf_propagate" ->
      QueryDef(sinkManifestCdfPropagate, Some(sinkManifestCdfPropagateSql)),
    "sink_manifest_cdf_stream" ->
      QueryDef(sinkManifestCdfStream, Some(sinkManifestCdfPropagateSql)),
    "sink_manifest_schema_evo" ->
      QueryDef(sinkManifestSchemaEvo, Some(sinkManifestSchemaEvoSql)),
    "sink_manifest_merge_streaming" ->
      QueryDef(sinkManifestMergeStreaming, Some(sinkManifestMergeStreamingSql)),
    "sink_manifest_zorder" ->
      QueryDef(sinkManifestZorder, Some(sinkManifestZorderSql)),
    "sink_manifest_restore" ->
      QueryDef(sinkManifestRestore, Some(sinkManifestRestoreSql)),
    "sink_manifest_count_meta" ->
      QueryDef(sinkManifestCountMeta, Some(sinkManifestCountMetaSql)),
    "sink_manifest_bloom_skip" ->
      QueryDef(sinkManifestBloomSkip, Some(sinkManifestBloomSkipSql)),
    "dedup_changefeed_e2e" ->
      QueryDef(dedupChangefeedE2e, Some(dedupChangefeedE2eSql)),
    "q_incremental_agg" -> QueryDef(qIncrementalAgg, Some(qIncrementalAggSql)),
    "emb_pq_codes" -> QueryDef(embPqCodes, Some(embPqCodesSql)),
    "dedup_editdist" -> QueryDef(dedupEditdist, Some(dedupEditdistSql)),
    "q_cdc_diff" -> QueryDef(qCdcDiff, Some(qCdcDiffSql)),
    "q_merge_upsert" -> QueryDef(qMergeUpsert, Some(qMergeUpsertSql)),
    "q_session_window" -> QueryDef(qSessionWindow, Some(qSessionWindowSql)),
    "dedup_substring" -> QueryDef(dedupSubstring, Some(dedupSubstringSql)),
    "dedup_substring_spans" -> QueryDef(dedupSubstringSpans, Some(dedupSubstringSpansSql)),
    "text_gopher_filter" -> QueryDef(textGopherFilter, Some(textGopherFilterSql)),
    "emb_gram" -> QueryDef(embGram, Some(embGramSql)),
    "q_triangles" -> QueryDef(qTriangles, Some(qTrianglesSql)),
    "corpus_cap" -> QueryDef(corpusCap, Some(corpusCapSql))
  )
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable
import java.nio.file.Files

/** Round-15 engine layer: the ROW-LEVEL change feed
  * ([[ManifestTable.readChanges]] + the `cdf=` commit action) — the
  * Delta CDF contract. Pins the properties the feed exists for:
  * change rows written AT COMMIT TIME by cdf-enabled DELETE/MERGE
  * (typed insert / update_preimage / update_postimage / delete),
  * pure appends served as inserts with no change files at all,
  * loud refusal where the feed would lie (row-removing commits
  * without change data, replacing rewrites), exactly-once under
  * txn-marked retries, and vacuum sparing exactly the change files
  * a surviving manifest still names. */
class ManifestCdfSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def feed(dir: String, since: Long = -1L): Seq[(Long, String, Int, String)] =
    ManifestTable.readChanges(spark, dir, since)
      .select($"_commit_version", $"_change_type", $"id", $"v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSeq.sorted

  test("pure appends are served as typed inserts, one _commit_version per commit") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    ManifestTable.append(spark, Seq((3, "c")).toDF("id", "v"), dir)
    assert(feed(dir) == Seq((0L, "insert", 1, "a"), (0L, "insert", 2, "b"),
      (1L, "insert", 3, "c")))
    // no change files were written for appends — the adds ARE the feed
    val lines = Files.readAllLines(
      java.nio.file.Paths.get(dir, "_manifest", "v0.manifest"))
    assert(!(0 until lines.size).exists(i => lines.get(i).startsWith("cdf=")))
    // interval scoping: (0, 1] sees only the second commit
    assert(feed(dir, since = 0L) == Seq((1L, "insert", 3, "c")))
  }

  test("cdf-enabled MERGE records exact preimage/postimage/insert rows") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "old1"), (2, "old2"), (3, "keep")).toDF("id", "v"), dir)
    val mv = ManifestTable.mergeInto(spark, dir,
      Seq((1, "new1"), (2, "new2"), (9, "fresh")).toDF("id", "v"), "id", cdf = true)
    assert(mv.contains(1L))
    assert(feed(dir, since = 0L) == Seq(
      (1L, "insert", 9, "fresh"),
      (1L, "update_postimage", 1, "new1"), (1L, "update_postimage", 2, "new2"),
      (1L, "update_preimage", 1, "old1"), (1L, "update_preimage", 2, "old2")))
    // the rewritten survivor (3, keep) is NOT a row change
    assert(!feed(dir, since = 0L).exists(_._3 == 3))
    // and the snapshot agrees with what the feed implies
    assert(ManifestTable.read(spark, dir).count() == 4)
  }

  test("insert-only MERGE into an empty/unmatched table feeds pure inserts") {
    val dir = tempDir("graft-cdf-spec")
    val mv = ManifestTable.mergeInto(spark, dir,
      Seq((7, "x")).toDF("id", "v"), "id", cdf = true)
    assert(mv.contains(0L))
    assert(feed(dir) == Seq((0L, "insert", 7, "x")))
  }

  test("cdf-enabled DELETE records exactly the deleted rows") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, (1 to 6).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    val dv = ManifestTable.deleteWhere(spark, dir, $"id" % 2 === 0, cdf = true)
    assert(dv.contains(1L))
    assert(feed(dir, since = 0L) == Seq((1L, "delete", 2, "r2"),
      (1L, "delete", 4, "r4"), (1L, "delete", 6, "r6")))
    assert(ManifestTable.read(spark, dir).count() == 3)
  }

  test("a row-removing commit WITHOUT change data refuses to feed") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, (1 to 4).map(i => (i, "x")).toDF("id", "v"), dir)
    ManifestTable.deleteWhere(spark, dir, $"id" === 1) // cdf = false
    val e = intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, -1L).collect()
    }
    assert(e.getMessage.contains("without change data"))
    // but an interval that stops BEFORE the blind delete still serves
    assert(ManifestTable.readChanges(spark, dir, -1L, Some(0L)).count() == 4)
  }

  test("a replacing rewrite (compact) in the interval refuses to feed") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, (1 to 4).map(i => (i, "x")).toDF("id", "v"), dir)
    ManifestTable.compact(spark, dir)
    val e = intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, -1L).collect()
    }
    assert(e.getMessage.contains("re-read the snapshot"))
  }

  test("retried txn-marked MERGE adds nothing to the feed") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a")).toDF("id", "v"), dir)
    val batch = Seq((1, "a2")).toDF("id", "v")
    assert(ManifestTable.mergeInto(spark, dir, batch, "id",
      txn = Some(("w", 5L)), cdf = true).isDefined)
    val before = feed(dir)
    assert(ManifestTable.mergeInto(spark, dir, batch, "id",
      txn = Some(("w", 5L)), cdf = true).isEmpty)
    assert(feed(dir) == before)
  }

  test("empty interval returns an empty frame in the feed schema") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a")).toDF("id", "v"), dir)
    val empty = ManifestTable.readChanges(spark, dir, 0L)
    assert(empty.columns.toSeq ==
      Seq("id", "v", "_change_type", "_commit_version"))
    assert(empty.count() == 0)
  }

  test("updateWhere: every SET RHS reads the OLD row (swap is a real swap)") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark,
      Seq((1, 10L, 20L), (2, 30L, 40L)).toDF("id", "a", "b"), dir)
    val uv = ManifestTable.updateWhere(spark, dir, $"id" === 1,
      Map("a" -> col("b"), "b" -> col("a")), cdf = true)
    assert(uv.contains(1L))
    val back = ManifestTable.read(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(back == Set((1, 20L, 10L), (2, 30L, 40L)),
      "SET a=b, b=a must swap, not chain")
    val changes = ManifestTable.readChanges(spark, dir, 0L)
      .select($"_commit_version", $"_change_type", $"id", $"a", $"b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted
    assert(changes == Seq((1L, "update_postimage", 1, 20L, 10L),
      (1L, "update_preimage", 1, 10L, 20L)))
  }

  test("updateWhere: NULL predicate leaves the row unchanged; unknown SET column refuses") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark,
      Seq((1, "x"), (2, null.asInstanceOf[String])).toDF("id", "v"), dir)
    // v === "x" is NULL for the null row: only id 1 updates
    ManifestTable.updateWhere(spark, dir, $"v" === "x", Map("v" -> lit("y")))
    val back = ManifestTable.read(spark, dir)
      .collect().map(r => (r.getInt(0), Option(r.getString(1)))).toSet
    assert(back == Set((1, Some("y")), (2, None)))
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, dir, $"id" === 1, Map("nope" -> lit(1)))
    }
    // matching nothing commits nothing
    assert(ManifestTable.updateWhere(spark, dir, $"id" > 99, Map("v" -> lit("z"))).isEmpty)
    assert(ManifestTable.latestVersion(dir).contains(1L))
  }

  test("compactSmall packs only sub-threshold files; the feed refuses across it") {
    val dir = tempDir("graft-cdf-spec")
    // one healthy file, three tiny ones
    ManifestTable.append(spark,
      (0 until 5000).map(i => (i, s"row-$i-with-some-padding")).toDF("id", "v")
        .coalesce(1), dir)
    (0 until 3).foreach(k =>
      ManifestTable.append(spark, Seq((9000 + k, "small")).toDF("id", "v"), dir))
    val bigRel = ManifestTable.snapshotFiles(dir).head
    val bigLen = new java.io.File(s"$dir/data/$bigRel").length()
    val cv = ManifestTable.compactSmall(spark, dir, minBytes = bigLen)
    assert(cv.contains(4L))
    val files = ManifestTable.snapshotFiles(dir)
    assert(files.size == 2 && files.contains(bigRel))
    assert(ManifestTable.read(spark, dir).count() == 5003)
    // fewer than 2 qualifying files: nothing to pack, nothing commits
    assert(ManifestTable.compactSmall(spark, dir, minBytes = bigLen).isEmpty)
    assert(ManifestTable.latestVersion(dir).contains(4L))
    // a remove-carrying rewrite is not expressible as a row feed
    intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, -1L).collect()
    }
    // but the interval BEFORE the pack still serves
    assert(ManifestTable.readChanges(spark, dir, -1L, Some(3L)).count() == 5003)
  }

  test("mergeIntoCdc: all three clauses in one commit, unmatched D is a no-op") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"), dir)
    val batch = Seq(
      (2, "b2", "U"),   // matched update
      (9, "fresh", "I"), // unmatched insert
      (3, "x", "D"),    // matched delete
      (77, "x", "D")    // unmatched delete: silent no-op
    ).toDF("id", "v", "op")
    val mv = ManifestTable.mergeIntoCdc(spark, dir, batch, "id", cdf = true)
    assert(mv.contains(1L))
    val back = ManifestTable.read(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(back == Set((1, "a"), (2, "b2"), (4, "d"), (9, "fresh")))
    assert(feed(dir, since = 0L) == Seq(
      (1L, "delete", 3, "c"),
      (1L, "insert", 9, "fresh"),
      (1L, "update_postimage", 2, "b2"), (1L, "update_preimage", 2, "b")))
  }

  test("mergeIntoCdc: one key in two clauses is an error, nothing commits") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a")).toDF("id", "v"), dir)
    val bad = Seq((1, "a2", "U"), (1, "x", "D")).toDF("id", "v", "op")
    intercept[Exception] {
      ManifestTable.mergeIntoCdc(spark, dir, bad, "id")
    }
    assert(ManifestTable.latestVersion(dir).contains(0L))
    assert(ManifestTable.read(spark, dir).count() == 1)
  }

  test("mergeIntoCdc: no-effect batch commits nothing, txn marker still records") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a")).toDF("id", "v"), dir)
    val ghosts = Seq((50, "x", "D"), (51, "x", "D")).toDF("id", "v", "op")
    assert(ManifestTable.mergeIntoCdc(spark, dir, ghosts, "id").isEmpty)
    assert(ManifestTable.latestVersion(dir).contains(0L))
    // with a txn marker the empty apply must still be made idempotent
    val v = ManifestTable.mergeIntoCdc(spark, dir, ghosts, "id",
      txn = Some(("w", 3L)))
    assert(v.contains(1L))
    assert(ManifestTable.mergeIntoCdc(spark, dir, ghosts, "id",
      txn = Some(("w", 3L))).isEmpty)
    assert(ManifestTable.read(spark, dir).count() == 1)
  }

  test("timestamp time travel: latest version at-or-before, non-monotonic mtimes repaired") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a")).toDF("id", "v"), dir) // v0
    ManifestTable.append(spark, Seq((2, "b")).toDF("id", "v"), dir) // v1
    ManifestTable.append(spark, Seq((3, "c")).toDF("id", "v"), dir) // v2
    val mf = (v: Long) => new java.io.File(s"$dir/_manifest/v$v.manifest")
    assert(mf(0).setLastModified(100000L))
    assert(mf(1).setLastModified(200000L))
    // clock skew: v2 stamped BEFORE v1 — must be lifted to v1 + 1 ms
    assert(mf(2).setLastModified(150000L))
    assert(ManifestTable.versionAtTimestamp(dir, 100000L) == 0L)
    assert(ManifestTable.versionAtTimestamp(dir, 199999L) == 0L)
    assert(ManifestTable.versionAtTimestamp(dir, 200000L) == 1L)
    // 150000 < v1's time: the SKEWED v2 must not win at 150000
    assert(ManifestTable.versionAtTimestamp(dir, 150000L) == 0L)
    assert(ManifestTable.versionAtTimestamp(dir, 200001L) == 2L)
    assert(ManifestTable.versionAtTimestamp(dir, Long.MaxValue) == 2L)
    assert(ManifestTable.readAsOf(spark, dir, 200000L).count() == 2)
    val e = intercept[IllegalStateException] {
      ManifestTable.versionAtTimestamp(dir, 99999L)
    }
    assert(e.getMessage.contains("predates"))
  }

  test("CDF x schema evolution: change files on either side of the evolution NULL-backfill") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir) // v0
    ManifestTable.deleteWhere(spark, dir, $"id" === 1, cdf = true)            // v1: pre-evolution cdf
    ManifestTable.appendEvolving(spark,
      Seq((3, "c", 30L)).toDF("id", "v", "extra"), dir)                       // v2: evolve
    ManifestTable.deleteWhere(spark, dir, $"id" === 3, cdf = true)            // v3: post-evolution cdf
    val ch = ManifestTable.readChanges(spark, dir, -1L)
      .select($"_commit_version", $"_change_type", $"id",
        $"v", $"extra")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
      .toSeq.sorted
    // pre-evolution rows (v0 inserts, v1's delete) read `extra` as NULL
    // through the pinned feed schema; v3's delete carries the value
    assert(ch == Seq(
      (0L, "insert", 1, "a", None), (0L, "insert", 2, "b", None),
      (1L, "delete", 1, "a", None),
      (2L, "insert", 3, "c", Some(30L)),
      (3L, "delete", 3, "c", Some(30L))))
    // time-travel feed: an interval ENDING before the evolution has no
    // `extra` column at all
    assert(!ManifestTable.readChanges(spark, dir, -1L, Some(1L))
      .columns.contains("extra"))
  }

  test("updateWhere x schema evolution: a pre-evolution file updates without losing the new column") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), dir)
    ManifestTable.appendEvolving(spark,
      Seq((3, "c", 30L)).toDF("id", "v", "extra"), dir)
    // the matched row lives in the PRE-evolution file; the rewrite must
    // keep the recorded schema (extra = NULL), not parquet-sample it away
    val uv = ManifestTable.updateWhere(spark, dir, $"id" === 1,
      Map("v" -> org.apache.spark.sql.functions.lit("a2")))
    assert(uv.isDefined)
    val back = ManifestTable.read(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    assert(back == Set((1, "a2", None), (2, "b", None), (3, "c", Some(30L))))
    // and updating the EVOLVED column works on the new file
    ManifestTable.updateWhere(spark, dir, $"id" === 3,
      Map("extra" -> ($"extra" * 2L)))
    assert(ManifestTable.read(spark, dir).filter($"id" === 3)
      .select($"extra").as[Long].head() == 60L)
  }

  test("mergeIntoCdc: a disjoint-range delete-only batch against a key-statted table plans nothing") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.appendWithStats(spark,
      (0L until 20L).map(i => (i, s"r$i")).toDF("k", "v").coalesce(1), dir, "k")
    // D keys far outside the recorded [0, 19] range: the stats pruning
    // must empty the plan and the call must not commit
    val ghosts = Seq((100L, "x", "D"), (101L, "x", "D")).toDF("k", "v", "op")
    assert(ManifestTable.mergeIntoCdc(spark, dir, ghosts, "k").isEmpty)
    assert(ManifestTable.latestVersion(dir).contains(0L))
  }

  test("history (DESCRIBE HISTORY): writer-stamped ops, action census, legacy fallback") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, (1 to 6).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    ManifestTable.deleteWhere(spark, dir, $"id" === 1, cdf = true)
    ManifestTable.updateWhere(spark, dir, $"id" === 2, Map("v" -> lit("u")))
    ManifestTable.mergeInto(spark, dir, Seq((9, "m")).toDF("id", "v"), "id",
      txn = Some(("w", 1L)))
    ManifestTable.compactSmall(spark, dir, minBytes = Long.MaxValue)
    ManifestTable.compact(spark, dir)
    ManifestTable.restore(spark, dir, 2L)
    val h = ManifestTable.history(dir)
    assert(h.map(_.version) == Seq(6L, 5L, 4L, 3L, 2L, 1L, 0L), "newest first")
    assert(h.map(_.op) == Seq("RESTORE(v2)", "COMPACT", "OPTIMIZE",
      "MERGE", "UPDATE", "DELETE", "APPEND"))
    val del = h.find(_.version == 1L).get
    assert(del.removes >= 1 && del.changeFiles >= 1 && !del.reset)
    assert(h.find(_.version == 3L).get.txns == Seq("w:1"))
    assert(h.find(_.version == 5L).get.reset)
    assert(h.head.schemaChange || h.head.reset) // restore re-pins via reset
    // limit pages from the newest
    assert(ManifestTable.history(dir, limit = 2).map(_.version) == Seq(6L, 5L))
    // a hand-written (op-less) commit classifies from its shape
    val mdir = new java.io.File(dir, "_manifest")
    Files.write(new java.io.File(mdir, "v7.manifest").toPath,
      "version=7\nadd=txn-x/part-legacy.parquet\n".getBytes)
    assert(ManifestTable.history(dir).head.op == "APPEND")
  }

  test("vacuum spares change files named by surviving manifests, sweeps dropped ones") {
    val dir = tempDir("graft-cdf-spec")
    ManifestTable.append(spark, (1 to 6).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    ManifestTable.deleteWhere(spark, dir, $"id" === 1, cdf = true) // v1: dropped below
    ManifestTable.deleteWhere(spark, dir, $"id" === 2, cdf = true) // v2: survives
    val cdfRelOf = (v: Long) => {
      val lines = Files.readAllLines(
        java.nio.file.Paths.get(dir, "_manifest", s"v$v.manifest"))
      (0 until lines.size).map(lines.get(_)).filter(_.startsWith("cdf="))
        .map(_.stripPrefix("cdf="))
    }
    val (dropped, kept) = (cdfRelOf(1L), cdfRelOf(2L))
    assert(dropped.nonEmpty && kept.nonEmpty)
    // keep only v2: v1's manifest (and so its change files) leave history
    ManifestTable.vacuum(dir, keepVersions = 1, minAgeMs = 0L)
    def onDisk(rel: String) = new java.io.File(s"$dir/data/$rel").isFile
    assert(dropped.forall(!onDisk(_)), "dropped history's change files must be swept")
    assert(kept.forall(onDisk), "surviving manifests' change files must stay")
    // and the feed over the surviving interval still serves
    assert(feed(dir, since = 1L) == Seq((2L, "delete", 2, "r2")))
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Round-16 engine layer: COLUMN MAPPING — rename/drop as metadata-
  * only commits (the Delta column-mapping shape). Pins: rename moves
  * zero bytes and keeps physical-keyed stats pruning live; time
  * travel presents the name as of the version; drop hides the column
  * without touching files; a re-added column maps to a FRESH physical
  * name so dropped values never resurrect; DML, compaction, CDF and
  * RESTORE all compose with an active mapping. */
class ManifestColumnMapSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seeded(): String = {
    val dir = tempDir("graft-colmap-spec")
    for (i <- 0 until 4)
      ManifestTable.appendWithStats(spark,
        (i * 25 until (i + 1) * 25).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v").coalesce(1), dir, "id")
    dir
  }

  test("rename is metadata-only: zero data movement, stats pruning survives") {
    val dir = seeded()
    val filesBefore = ManifestTable.snapshotFiles(dir).sorted
    val v = ManifestTable.renameColumn(spark, dir, "id", "doc_id")
    assert(v == 4L)
    // METADATA-ONLY: the live file set is byte-identical
    assert(ManifestTable.snapshotFiles(dir).sorted == filesBefore)
    // reads present the new logical name with the same values
    val back = ManifestTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("doc_id", "v"))
    assert(back.agg(sum($"doc_id")).as[Long].head() == (0L until 100L).sum)
    // stats pruning is LIVE on the renamed column (physical-keyed)
    assert(ManifestTable.plannedFilesForRange(dir, "doc_id", 0, 10).size == 1)
    assert(ManifestTable.readRange(spark, dir, "doc_id", 30, 40)
      .count() == 11L)
    // time travel BEFORE the rename presents the old name
    assert(ManifestTable.read(spark, dir, Some(3L)).columns.toSeq == Seq("id", "v"))
  }

  test("append, delete and merge compose with an active mapping") {
    val dir = seeded()
    ManifestTable.renameColumn(spark, dir, "id", "doc_id")
    // plain append: batch arrives in LOGICAL names
    ManifestTable.append(spark,
      Seq((100L, "v100")).toDF("doc_id", "v"), dir)
    assert(ManifestTable.read(spark, dir).count() == 101L)
    // merge keyed by the renamed column still stats-prunes (physical key)
    ManifestTable.mergeInto(spark, dir,
      Seq((50L, "patched")).toDF("doc_id", "v"), "doc_id")
    val back = ManifestTable.read(spark, dir)
    assert(back.filter($"doc_id" === 50L).select($"v").as[String].head() == "patched")
    // delete through the logical predicate
    ManifestTable.deleteWhere(spark, dir, $"doc_id" >= 100L)
    assert(ManifestTable.read(spark, dir).count() == 100L)
    // compaction keeps the physical layout consistent
    ManifestTable.compact(spark, dir)
    val after = ManifestTable.read(spark, dir)
    assert(after.columns.toSeq == Seq("doc_id", "v"))
    assert(after.count() == 100L)
    assert(after.filter($"doc_id" === 50L).select($"v").as[String].head() == "patched")
  }

  test("drop hides the column; a re-added namesake cannot resurrect old values") {
    val dir = tempDir("graft-colmap-spec")
    ManifestTable.append(spark,
      (0L until 10L).map(i => (i, s"secret$i", i * 2)).toDF("id", "pii", "n"), dir)
    ManifestTable.dropColumn(spark, dir, "pii")
    val dropped = ManifestTable.read(spark, dir)
    assert(dropped.columns.toSeq == Seq("id", "n"))
    // re-add a column with the SAME logical name
    ManifestTable.appendEvolving(spark,
      Seq((100L, "fresh", 7L)).toDF("id", "pii", "n").selectExpr("id", "n", "pii"), dir)
    val back = ManifestTable.read(spark, dir)
    assert(back.columns.sorted.toSeq == Seq("id", "n", "pii"))
    // old rows read NULL — the dropped physical bytes never resurface
    assert(back.filter($"id" < 10L && $"pii".isNotNull).count() == 0L,
      "dropped column values resurrected through a re-added namesake")
    assert(back.filter($"id" === 100L).select($"pii").as[String].head() == "fresh")
    // time travel to the pre-drop version still shows the original
    assert(ManifestTable.read(spark, dir, Some(0L))
      .filter($"id" === 3L).select($"pii").as[String].head() == "secret3")
  }

  test("RESTORE across the mapping reinstates the old column names") {
    val dir = seeded()
    ManifestTable.renameColumn(spark, dir, "id", "doc_id") // v4
    ManifestTable.restore(spark, dir, 3L) // back to pre-mapping
    val back = ManifestTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("id", "v"))
    assert(back.count() == 100L)
    // and restoring forward to the renamed version brings the mapping back
    ManifestTable.restore(spark, dir, 4L)
    assert(ManifestTable.read(spark, dir).columns.toSeq == Seq("doc_id", "v"))
  }

  test("colmap survives checkpointed folds and feeds changes in logical names") {
    val dir = seeded()
    ManifestTable.renameColumn(spark, dir, "id", "doc_id")
    val since = ManifestTable.latestVersion(dir).get
    for (i <- 0 until ManifestTable.CheckpointInterval)
      ManifestTable.append(spark,
        Seq((1000L + i, "pad")).toDF("doc_id", "v").coalesce(1), dir)
    assert(new java.io.File(dir, "_manifest").listFiles()
      .exists(_.getName.endsWith(".checkpoint")))
    assert(ManifestTable.read(spark, dir).columns.toSeq == Seq("doc_id", "v"))
    // the row feed serves post-rename commits in LOGICAL names
    val feed = ManifestTable.readChanges(spark, dir, since)
    assert(feed.columns.contains("doc_id") && !feed.columns.contains("id"))
    assert(feed.filter($"_change_type" === "insert").count() ==
      ManifestTable.CheckpointInterval.toLong)
  }
}

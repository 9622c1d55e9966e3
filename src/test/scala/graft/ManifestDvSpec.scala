package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Round-16 engine layer: MERGE-ON-READ deletion vectors — the Delta
  * DV / Iceberg v2 position-delete shape. Pins:
  *  - a narrow delete on a large file commits an O(matched rows)
  *    `dv=` mask, ZERO data files staged (no write amplification);
  *  - readers (snapshot, time travel, range/point reads, countMeta)
  *    anti-apply masks exactly;
  *  - DML correctness on a DV'd table: survivors rewrites, MERGE, and
  *    UPDATE never resurrect masked rows;
  *  - cumulative masks (a second DV delete folds the first's
  *    positions in);
  *  - OPTIMIZE materializes masks away and RESTORE carries them;
  *  - CDF still serves the deleted rows when requested, and a DV
  *    commit without change data is refused by the feeds.
  */
class ManifestDvSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** All action lines of manifest v (minus the version header). */
  private def manifestLines(dir: String, v: Long): Seq[String] =
    Files.readAllLines(Paths.get(dir, "_manifest", s"v$v.manifest"))
      .asScala.toSeq.tail

  /** Seed one 1000-row stats-carrying file; returns the table dir. */
  private def seeded(): String = {
    val dir = tempDir("graft-dv-spec")
    ManifestTable.appendWithStats(spark,
      (0L until 1000L).map(i => (i, s"row$i")).toDF("id", "v").coalesce(1),
      dir, "id")
    dir
  }

  test("1-row delete below the threshold commits a dv mask, not a rewrite") {
    val dir = seeded()
    val v = ManifestTable.deleteWhere(spark, dir, $"id" === 437L,
      dvFraction = 0.01)
    assert(v.contains(1L))
    val lines = manifestLines(dir, 1L)
    assert(lines.exists(_.startsWith("dv=")), s"no dv action in $lines")
    assert(!lines.exists(_.startsWith("remove=")), "DV delete must not rewrite")
    assert(!lines.exists(_.startsWith("add=")), "DV delete must stage no files")
    // the mask is O(matched): exactly one position
    val dv = lines.find(_.startsWith("dv=")).get
    assert(dv.endsWith("|437"), s"unexpected mask body: $dv")
    // reads anti-apply
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 999L)
    assert(back.filter($"id" === 437L).count() == 0L)
    // metadata-only COUNT(*) subtracts the mask cardinality
    assert(ManifestTable.countMeta(dir).contains(999L))
    // time travel to the pre-delete snapshot still sees the row
    assert(ManifestTable.read(spark, dir, Some(0L)).count() == 1000L)
    assert(ManifestTable.snapshotDeletionVectors(dir) == Map(
      ManifestTable.snapshotFiles(dir).head -> Seq(437L)))
  }

  test("a wide delete above the threshold still rewrites (copy-on-write)") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" < 500L, dvFraction = 0.01)
    val lines = manifestLines(dir, 1L)
    assert(lines.exists(_.startsWith("remove=")) && !lines.exists(_.startsWith("dv=")))
    assert(ManifestTable.read(spark, dir).count() == 500L)
  }

  test("dv masks accumulate: the second delete folds prior positions in") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 3L, dvFraction = 0.01)
    ManifestTable.deleteWhere(spark, dir, $"id".isin(4L, 5L), dvFraction = 0.01)
    val dv = manifestLines(dir, 2L).find(_.startsWith("dv=")).get
    assert(dv.endsWith("|3-5"), s"cumulative run-encoded mask expected: $dv")
    assert(ManifestTable.read(spark, dir).count() == 997L)
    assert(ManifestTable.countMeta(dir).contains(997L))
    // a masked row cannot re-match: deleting id=3 again is a no-op
    assert(ManifestTable.deleteWhere(spark, dir, $"id" === 3L,
      dvFraction = 0.01).isEmpty)
  }

  test("range/point reads and a rewriting delete respect live masks") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 10L, dvFraction = 0.01)
    assert(ManifestTable.readRange(spark, dir, "id", 0L, 20L)
      .as[(Long, String)].collect().map(_._1).sorted.toSeq ==
      ((0L to 20L).filterNot(_ == 10L)))
    // a copy-on-write delete on the DV'd file must not resurrect id=10
    ManifestTable.deleteWhere(spark, dir, $"id" >= 500L) // dvFraction=0: rewrite
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 499L)
    assert(back.filter($"id" === 10L).count() == 0L)
    // the rewrite dropped the mask with the file
    assert(ManifestTable.snapshotDeletionVectors(dir).isEmpty)
  }

  test("merge into a DV'd table never resurrects masked rows") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 7L, dvFraction = 0.01)
    ManifestTable.mergeInto(spark, dir,
      Seq((3L, "updated"), (2000L, "fresh")).toDF("id", "v"), "id")
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 1000L) // 999 live + 1 insert
    assert(back.filter($"id" === 7L).count() == 0L)
    assert(back.filter($"id" === 3L).select("v").as[String].head() == "updated")
    // update on the DV'd table
    ManifestTable.updateWhere(spark, dir, $"id" === 5L,
      Map("v" -> lit("patched")))
    val back2 = ManifestTable.read(spark, dir)
    assert(back2.filter($"id" === 5L).select("v").as[String].head() == "patched")
    assert(back2.filter($"id" === 7L).count() == 0L)
    assert(back2.count() == 1000L)
  }

  test("OPTIMIZE materializes the mask away; RESTORE carries it") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 1L, dvFraction = 0.01)
    // a single large DV'd file still qualifies for compactSmall: the
    // mask needs materializing even though the file is not small
    val v = ManifestTable.compactSmall(spark, dir, minBytes = 1L)
    assert(v.contains(2L))
    assert(ManifestTable.snapshotDeletionVectors(dir).isEmpty)
    assert(ManifestTable.read(spark, dir).count() == 999L)
    assert(manifestLines(dir, 2L).exists(_.startsWith("remove=")))
    // restore to the masked version: the mask rides the replacing commit
    ManifestTable.restore(spark, dir, 1L)
    assert(ManifestTable.snapshotDeletionVectors(dir).nonEmpty)
    assert(ManifestTable.read(spark, dir).count() == 999L)
    assert(ManifestTable.read(spark, dir).filter($"id" === 1L).count() == 0L)
  }

  test("checkpointed folds round-trip dv actions") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 42L, dvFraction = 0.01)
    // push past the checkpoint interval so a fold starts from a
    // checkpoint that must carry the dv line
    (0 until ManifestTable.CheckpointInterval).foreach { i =>
      ManifestTable.append(spark,
        Seq((10000L + i, "pad")).toDF("id", "v").coalesce(1), dir)
    }
    val ckpts = new java.io.File(dir, "_manifest").listFiles()
      .filter(_.getName.endsWith(".checkpoint"))
    assert(ckpts.nonEmpty)
    assert(ManifestTable.snapshotDeletionVectors(dir).values.flatten.toSeq == Seq(42L))
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 999L + ManifestTable.CheckpointInterval)
    assert(back.filter($"id" === 42L).count() == 0L)
  }

  test("cdf delete over a DV commit serves the deleted rows; cdf-less dv commits are refused by feeds") {
    val dir = seeded()
    ManifestTable.deleteWhere(spark, dir, $"id" === 9L,
      cdf = true, dvFraction = 0.01)
    val changes = ManifestTable.readChanges(spark, dir, 0L)
    assert(changes.filter($"_change_type" === "delete")
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // cdf-less DV delete: the feed must refuse, not silently skip rows
    ManifestTable.deleteWhere(spark, dir, $"id" === 11L, dvFraction = 0.01)
    val e = intercept[IllegalStateException] {
      ManifestTable.readChanges(spark, dir, 1L).collect()
    }
    assert(e.getMessage.contains("row-removing"))
    val e2 = intercept[IllegalStateException] {
      ManifestTable.addedFilesSince(dir, 1L)
    }
    assert(e2.getMessage.contains("row-removing"))
  }

  test("position codec: ranges encode/decode exactly") {
    assert(ManifestTable.encodePositions(Seq(0L, 1L, 2L, 7L, 9L, 10L)) == "0-2,7,9-10")
    assert(ManifestTable.decodePositions("0-2,7,9-10") == Seq(0L, 1L, 2L, 7L, 9L, 10L))
    assert(ManifestTable.encodePositions(Seq(5L, 3L, 4L, 3L)) == "3-5")
    intercept[IllegalArgumentException] { ManifestTable.encodePositions(Nil) }
  }
}

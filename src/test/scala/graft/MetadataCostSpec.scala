package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Round-16 engine layer: the METADATA-READ budget. Every log fold is
  * O(checkpoint + interval) file reads — remote LIST + GETs on an
  * object store — so the folds-per-operation count IS a scale metric.
  * This spec pins the budget for the hot paths after the snapshot-
  * threading refactor (one fold per operation for reads), so a future
  * change can't quietly multiply metadata round-trips the local FS
  * would never surface. */
class MetadataCostSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def folds[T](f: => T): (T, Long) = {
    val before = ManifestTable.foldCount.get()
    val r = f
    (r, ManifestTable.foldCount.get() - before)
  }

  test("snapshot read costs ONE fold — plain, mapped, and DV'd tables alike") {
    val dir = tempDir("graft-meta-cost")
    ManifestTable.appendWithStats(spark,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir, "id")
    val (_, plainFolds) = folds { ManifestTable.read(spark, dir).count() }
    assert(plainFolds == 1L, s"plain read cost $plainFolds folds, budget 1")
    // activate BOTH mapping and deletion vectors — the accessor-heavy shape
    ManifestTable.renameColumn(spark, dir, "id", "doc_id")
    ManifestTable.deleteWhere(spark, dir, $"doc_id" === 7L, dvFraction = 0.1)
    val (n, richFolds) = folds { ManifestTable.read(spark, dir).count() }
    assert(n == 99L)
    assert(richFolds == 1L,
      s"mapped+DV read cost $richFolds folds, budget 1 — an accessor re-folded")
  }

  test("metadata-only aggregates and time travel stay one fold") {
    val dir = tempDir("graft-meta-cost")
    ManifestTable.appendWithStats(spark,
      (0L until 50L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir, "id")
    ManifestTable.appendWithStats(spark,
      (50L until 90L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir, "id")
    val (c, cf) = folds { ManifestTable.countMeta(dir) }
    assert(c.contains(90L) && cf == 1L, s"countMeta cost $cf folds")
    val (_, tf) = folds { ManifestTable.read(spark, dir, Some(0L)).count() }
    assert(tf == 1L, s"time-travel read cost $tf folds")
  }

  test("a keyed merge stays within its fold budget") {
    val dir = tempDir("graft-meta-cost")
    for (i <- 0 until 4)
      ManifestTable.appendWithStats(spark,
        (i * 25 until (i + 1) * 25).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v").coalesce(1), dir, "id")
    val (_, mf) = folds {
      ManifestTable.mergeInto(spark, dir,
        Seq((3L, "up"), (500L, "new")).toDF("id", "v"), "id",
        statCols = Seq("id"))
    }
    // one planning fold + staging mapping resolve + commit idempotence
    // re-reads — a small constant, pinned so it can only shrink
    assert(mf <= 5L, s"merge cost $mf folds, budget 5")
  }

  test("a DV delete stays within its fold budget") {
    val dir = tempDir("graft-meta-cost")
    ManifestTable.appendWithStats(spark,
      (0L until 200L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir, "id")
    val (_, df) = folds {
      ManifestTable.deleteWhere(spark, dir, $"id" === 3L, dvFraction = 0.1)
    }
    // census scan (1) + idempotence/commit re-reads; the budget is
    // "a small constant", pinned so it can only shrink
    assert(df <= 4L, s"DV delete cost $df folds, budget 4")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{BloomIndex, ManifestTable}
import java.nio.file.Files

/** Round-16 edges: RESTORE × schema evolution × concurrency, the
  * metadata-only aggregates' zero-read and fallback contracts, and
  * the Bloom file-skipping index's two-sided hash + no-false-negative
  * guarantees. */
class Round16EdgeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------------------------------------------------- restore

  test("restore across a schema evolution presents the target's schema") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendEvolving(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), dir)
    val v0 = ManifestTable.latestVersion(dir).get
    ManifestTable.appendEvolving(spark,
      Seq((3L, "c", 30L)).toDF("k", "v", "extra").coalesce(1), dir)
    val rv = ManifestTable.restore(spark, dir, v0)
    val back = ManifestTable.read(spark, dir)
    // the later evolution's schema= action must NOT leak through the
    // reset: the restored snapshot is two-column
    assert(back.columns.sameElements(Array("k", "v")),
      s"restored schema leaked the evolution: ${back.columns.mkString(",")}")
    assert(back.count() == 2)
    // and the evolved version still time-travels with ITS schema
    assert(ManifestTable.read(spark, dir, Some(rv - 1)).columns.length == 3)
  }

  test("restore re-infers the schema when the target predates all schema records") {
    val dir = tempDir("graft-r16-spec")
    // v0: PLAIN append — no schema= action recorded
    ManifestTable.append(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), dir)
    ManifestTable.appendEvolving(spark,
      Seq((2L, "b", 20L)).toDF("k", "v", "extra").coalesce(1), dir)
    ManifestTable.restore(spark, dir, 0L)
    val back = ManifestTable.read(spark, dir)
    assert(back.columns.sameElements(Array("k", "v")),
      s"un-recorded target schema not re-inferred: ${back.columns.mkString(",")}")
  }

  test("restore to a zero-file pre-evolution target is ambiguous and throws") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), dir)
    // stats-carrying delete: zero-row staged parts are dropped, so the
    // snapshot is genuinely zero-FILE (not one empty parquet)
    assert(ManifestTable.deleteWhere(spark, dir, lit(true), Seq("k")).isDefined)
    val emptyV = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.snapshotFiles(dir, Some(emptyV)).isEmpty)
    ManifestTable.appendEvolving(spark,
      Seq((2L, "b", 20L)).toDF("k", "v", "extra").coalesce(1), dir)
    intercept[IllegalStateException](ManifestTable.restore(spark, dir, emptyV))
  }

  test("restore retries past a stolen version and still lands the target state") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), dir)
    val v0 = ManifestTable.latestVersion(dir).get
    ManifestTable.append(spark, Seq((2L, "b")).toDF("k", "v").coalesce(1), dir)
    // a racer steals the next version with a pure append
    val racer = ManifestTable.snapshotFiles(dir).head
    Files.write(new java.io.File(dir, "_manifest/v2.manifest").toPath,
      s"version=2\nadd=$racer\n".getBytes("UTF-8"))
    val rv = ManifestTable.restore(spark, dir, v0)
    assert(rv == 3L, s"restore must re-pin past the stolen version, got v$rv")
    assert(ManifestTable.read(spark, dir).count() == 1)
  }

  test("txn idempotence markers survive a restore (a replayed batch stays a no-op)") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("k", "v").coalesce(1), dir)
    val v0 = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.appendIdempotent(spark,
      Seq((2L, "b")).toDF("k", "v").coalesce(1), dir, "w", 7L).isDefined)
    ManifestTable.restore(spark, dir, v0)
    // the batch's rows are restored away, but its marker must hold:
    // Delta's rule — the writer re-delivers under a FRESH batch id
    assert(ManifestTable.appendIdempotent(spark,
      Seq((2L, "b")).toDF("k", "v").coalesce(1), dir, "w", 7L).isEmpty,
      "restore erased the txn marker — a replayed batch would double-apply")
    assert(ManifestTable.read(spark, dir).count() == 1)
  }

  test("restored entries keep stats verbatim: pruning and metadata aggregates survive") {
    val dir = tempDir("graft-r16-spec")
    for (i <- 0 until 3)
      ManifestTable.appendWithStats(spark,
        (i * 10 until i * 10 + 10).map(x => (x.toLong, x * 2L)).toDF("k", "c")
          .coalesce(1), dir, "k", "c")
    val v = ManifestTable.latestVersion(dir).get
    assert(ManifestTable.deleteWhere(spark, dir, $"k" < 100).isDefined)
    ManifestTable.restore(spark, dir, v)
    assert(ManifestTable.plannedFilesForRange(dir, "k", 21, 22).size == 1)
    assert(ManifestTable.countMeta(dir).contains(30L))
    assert(ManifestTable.rangeMeta(dir, "c").contains((0L, 58L)))
  }

  // ----------------------------------------- metadata-only aggregates

  test("countMeta/rangeMeta answer with ZERO data reads (data dir withheld)") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendWithStats(spark,
      (0 until 20).map(i => (i.toLong, i * 3L)).toDF("k", "c")
        .repartitionByRange(4, $"k"), dir, "k", "c")
    // wreck every data file; the metadata answers must not notice
    val data = new java.io.File(dir, "data")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(data).foreach(f => Files.write(f.toPath, Array[Byte](0, 1, 2)))
    assert(ManifestTable.countMeta(dir).contains(20L))
    assert(ManifestTable.rangeMeta(dir, "k").contains((0L, 19L)))
    assert(ManifestTable.rangeMeta(dir, "c").contains((0L, 57L)))
    // …while an actual read now fails — proof the answers came from
    // the manifest alone
    intercept[Throwable](ManifestTable.read(spark, dir).count())
  }

  test("metadata aggregates stay EXACT through delete and merge rewrites") {
    val dir = tempDir("graft-r16-spec")
    for (i <- 0 until 4)
      ManifestTable.appendWithStats(spark,
        (i * 10 until i * 10 + 10).map(x => (x.toLong, s"v$x")).toDF("k", "v")
          .coalesce(1), dir, "k")
    ManifestTable.deleteWhere(spark, dir, $"k" % 5 === 0, statCols = Seq("k"))
    assert(ManifestTable.countMeta(dir).contains(32L))
    assert(ManifestTable.rangeMeta(dir, "k").contains((1L, 39L)))
    ManifestTable.mergeInto(spark, dir,
      Seq((7L, "upd"), (100L, "ins")).toDF("k", "v"), "k", statCols = Seq("k"))
    assert(ManifestTable.countMeta(dir).contains(33L))
    assert(ManifestTable.rangeMeta(dir, "k").contains((1L, 100L)))
    assert(ManifestTable.countMeta(dir).get ==
      ManifestTable.read(spark, dir).count())
  }

  test("one stats-less commit makes the aggregates unknowable → None, a stats rewrite restores them") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendWithStats(spark,
      (0 until 10).map(i => (i.toLong, s"x$i")).toDF("k", "v").coalesce(1), dir, "k")
    ManifestTable.append(spark,
      Seq((99L, "plain")).toDF("k", "v").coalesce(1), dir)
    assert(ManifestTable.countMeta(dir).isEmpty)
    assert(ManifestTable.rangeMeta(dir, "k").isEmpty)
    // OPTIMIZE brings the metadata aggregates back
    ManifestTable.compactClustered(spark, dir, targetFiles = 2, statCols = Seq("k"))
    assert(ManifestTable.countMeta(dir).contains(11L))
    assert(ManifestTable.rangeMeta(dir, "k").contains((0L, 99L)))
  }

  test("rangeMeta is None on a zero-file snapshot (no rows have no extrema)") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendWithStats(spark,
      Seq((1L, "a")).toDF("k", "v").coalesce(1), dir, "k")
    assert(ManifestTable.deleteWhere(spark, dir, lit(true), Seq("k")).isDefined)
    assert(ManifestTable.rangeMeta(dir, "k").isEmpty)
    assert(ManifestTable.countMeta(dir).contains(0L))
  }

  // --------------------------------------------------- bloom index

  test("bloom positions: the Scala mirror and the Column expression agree bit-for-bit") {
    val m = 4096
    val vals = (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L) ++
      (1 to 200).map(i => i * 0x9E3779B97F4AL + i)).distinct
    val fromCol = vals.toDF("v")
      .select($"v", BloomIndex.positionsCol($"v", m).as("pos"))
      .as[(Long, Seq[Int])].collect().toMap
    vals.foreach { v =>
      assert(BloomIndex.positions(v, m).toSeq == fromCol(v),
        s"hash drift between build and query side for $v")
    }
  }

  test("bloom: no false negatives — every present key plans its file; absent keys mostly skip") {
    val dir = tempDir("graft-r16-spec")
    val rows = (0 until 400).map(i => (i.toLong * 7, s"r$i"))
    ManifestTable.appendWithBloom(spark,
      rows.toDF("k", "v").repartition(4), dir, "k")
    // every present key's file says maybe — checked against each
    // file's ACTUAL contents (one read per file, driver-side probes)
    val blooms = ManifestTable.snapshotFilesWithBloom(dir)
    assert(blooms.size == 4 && blooms.forall(_._2.contains("k")))
    blooms.foreach { case (rel, bm) =>
      val (m, _, hex) = bm("k")
      spark.read.parquet(s"$dir/data/$rel").select($"k").as[Long].collect()
        .foreach(k => assert(BloomIndex.maybeContains(hex, m, k),
          s"false negative: $k is in $rel but its bloom says no"))
    }
    // and the planner agrees end-to-end for a sample
    Seq(0L, 7L * 399, 7L * 200).foreach { k =>
      assert(ManifestTable.readPoint(spark, dir, "k", k).count() == 1)
    }
    // absent keys: planned files are (almost always) zero; the bound
    // is deterministic for this fixed data + hash
    val fpPlans = (0 until 500).map(i => 1000000L + i * 13)
      .map(v => ManifestTable.plannedFilesForPoint(dir, "k", v).size).sum
    assert(fpPlans <= 4, s"absent probes planned $fpPlans files — FP rate blown")
  }

  test("a copy-on-write rewrite drops the bloom: the rewritten file is never skipped") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendWithBloom(spark,
      (0 until 100).map(i => (i.toLong, s"r$i")).toDF("k", "v")
        .repartitionByRange(2, $"k"), dir, "k")
    assert(ManifestTable.deleteWhere(spark, dir, $"k" === 10L).isDefined)
    val blooms = ManifestTable.snapshotFilesWithBloom(dir)
    assert(blooms.exists(_._2.isEmpty), "rewritten survivor should carry no bloom")
    assert(blooms.exists(_._2.nonEmpty), "untouched file lost its bloom")
    // a key that lived in the REWRITTEN file is still found: the
    // bloom-less file is always planned
    assert(ManifestTable.readPoint(spark, dir, "k", 11L).count() == 1)
  }

  test("bloom build: NULL keys set no bits and an all-NULL file is never skipped") {
    val dir = tempDir("graft-r16-spec")
    ManifestTable.appendWithBloom(spark,
      spark.range(1).select(lit(null).cast("long").as("k"), lit("n").as("v"))
        .coalesce(1), dir, "k")
    ManifestTable.appendWithBloom(spark,
      Seq((5L, "x")).toDF("k", "v").coalesce(1), dir, "k")
    // the all-NULL file carries NO bloom segment → never skipped
    val blooms = ManifestTable.snapshotFilesWithBloom(dir)
    assert(blooms.count(_._2.isEmpty) == 1 && blooms.count(_._2.nonEmpty) == 1)
    assert(ManifestTable.read(spark, dir).count() == 2)
    assert(ManifestTable.readPoint(spark, dir, "k", 5L).count() == 1)
    // every point lookup plans the NULL file too (unknown never skips)
    assert(ManifestTable.plannedFilesForPoint(dir, "k", 12345L).nonEmpty)
  }

  test("appendWithBloom validates the column: unsupported type or absent fails before staging commits") {
    val dir = tempDir("graft-r16-spec")
    // doubles have no equality-lookup semantics worth a bloom
    intercept[IllegalArgumentException](ManifestTable.appendWithBloom(spark,
      Seq((1.5, 1L)).toDF("d", "k"), dir, "d"))
    intercept[IllegalArgumentException](ManifestTable.appendWithBloom(spark,
      Seq(("a", 1L)).toDF("s", "k"), dir, "nope"))
    assert(ManifestTable.latestVersion(dir).isEmpty,
      "a rejected bloom append advanced the log")
  }

  test("sizeFor scales with distinct count and stays a power of two") {
    assert(BloomIndex.sizeFor(0) == 1024)
    assert(BloomIndex.sizeFor(10) == 1024)
    assert(BloomIndex.sizeFor(1000) == 32768)
    val m = BloomIndex.sizeFor(100000)
    assert((m & (m - 1)) == 0 && m >= 100000 * 32 / 2)
  }

  test("STRING-keyed bloom: URL-shaped point lookups skip files, no false negatives") {
    val dir = tempDir("graft-r16-spec")
    // 4 files of high-cardinality string keys (the crawl-URL shape
    // min/max bounds cannot prune: hashes scatter across every range)
    for (i <- 0 until 4)
      ManifestTable.appendWithBloom(spark,
        (0 until 200).map { j =>
          val id = i * 200 + j
          (s"https://host-${id % 97}.example/doc/$id", id.toLong)
        }.toDF("url", "n").coalesce(1), dir, "url")
    // every PRESENT key is found (no false negatives, the contract)
    for (probe <- Seq(0, 199, 200, 799)) {
      val u = s"https://host-${probe % 97}.example/doc/$probe"
      val got = ManifestTable.readPointString(spark, dir, "url", u)
      assert(got.count() == 1L, s"bloom false negative for $u")
      // and the planned census contains the holding file
      assert(ManifestTable.plannedFilesForPointString(dir, "url", u).nonEmpty)
    }
    // an absent key prunes most files (~1e-4 fp per file; 4 files →
    // overwhelmingly 0 planned) and returns an EMPTY frame either way
    val absentPlanned = (0 until 20).map(k =>
      ManifestTable.plannedFilesForPointString(dir, "url",
        s"https://nowhere.example/miss/$k").size).sum
    assert(absentPlanned <= 2, s"string bloom barely prunes: $absentPlanned/80")
    assert(ManifestTable.readPointString(spark, dir, "url",
      "https://nowhere.example/miss/0").count() == 0L)
    // build/query hash agreement ALSO holds for raw string probes
    val m = 1024
    val pos = BloomIndex.positions("https://a.example/x", m)
    assert(pos.length == 4 && pos.forall(p => p >= 0 && p < m))
    // long-keyed blooms keep working through the same dispatch
    val dir2 = tempDir("graft-r16-spec")
    ManifestTable.appendWithBloom(spark,
      (0L until 100L).map(i => (i * 7919L, i)).toDF("k", "n").coalesce(1),
      dir2, "k")
    assert(ManifestTable.readPoint(spark, dir2, "k", 7919L).count() == 1L)
    assert(ManifestTable.plannedFilesForPoint(dir2, "k", 13L).isEmpty ||
      ManifestTable.readPoint(spark, dir2, "k", 13L).count() == 0L)
  }
}

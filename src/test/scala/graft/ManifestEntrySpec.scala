package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ManifestTable

/** The manifest's `add=` entry format (`graft.sources.ManifestEntry`):
  * unknown segments are ignored by every reader and survive
  * checkpoints and RESTORE byte for byte (the forward-extensibility
  * promise); a corrupt known segment fails its reader loudly, naming
  * the entry; and the segment syntax is written down in one file. */
class ManifestEntrySpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def logLines(dir: String, name: String): Seq[String] =
    Files.readAllLines(Paths.get(dir, "_manifest", name)).asScala.toSeq

  /** A one-file, 8-row table whose entry records rows, `k` bounds and
    * a `k` bloom; returns that entry's `add=` line. */
  private def bloomTable(dir: String): String = {
    ManifestTable.appendWithBloom(spark,
      (0L until 8L).map(i => (i, s"v$i")).toDF("k", "v").coalesce(1), dir, "k", "k")
    logLines(dir, "v0.manifest").filter(_.startsWith("add=")).head
  }

  test("unknown entry segments are ignored by every reader and kept verbatim by checkpoint and restore") {
    val dir = tempDir("graft-entry-spec")
    val add = bloomTable(dir)
    val cut = add.indexOf('|')
    val rel = add.substring("add=".length, cut)
    // unknown segments before the known ones and at the end
    val odd = s"${add.take(cut)}|zz=1${add.drop(cut)}|yy=a:b"
    val v = ManifestTable.commitActions(dir, Seq("reset", odd), None).get
    assert(ManifestTable.snapshotFiles(dir) == Seq(rel))
    assert(ManifestTable.countMeta(dir).contains(8L))
    assert(ManifestTable.plannedFilesForRange(dir, "k", 0L, 3L) == Seq(rel))
    assert(ManifestTable.plannedFilesForRange(dir, "k", 100L, 200L).isEmpty)
    assert(ManifestTable.plannedFilesForPoint(dir, "k", 5L) == Seq(rel))
    assert((1000L until 1016L).exists(k =>
        ManifestTable.plannedFilesForPoint(dir, "k", k).isEmpty),
      "the bloom next to the unknown segments stopped pruning")
    assert(ManifestTable.read(spark, dir).count() == 8L)
    // a checkpoint writes the folded entry back byte for byte
    while (ManifestTable.latestVersion(dir).get < ManifestTable.CheckpointInterval)
      ManifestTable.commitActions(dir, Seq("op=MARK"), None)
    assert(logLines(dir, s"v${ManifestTable.CheckpointInterval}.checkpoint").contains(odd))
    // so does a RESTORE past a replacing rewrite
    ManifestTable.compact(spark, dir)
    val r = ManifestTable.restore(spark, dir, v)
    assert(logLines(dir, s"v$r.manifest").contains(odd))
    assert(ManifestTable.snapshotFiles(dir) == Seq(rel))
    assert(ManifestTable.countMeta(dir).contains(8L))
  }

  test("a corrupt stat, sstat or bloom segment fails its reader loudly, naming the entry") {
    val dir = tempDir("graft-entry-spec")
    val add = bloomTable(dir)
    val rel = add.substring("add=".length, add.indexOf('|'))
    def corrupt(segment: String)(reads: (() => Any)*): Unit = {
      ManifestTable.commitActions(dir, Seq("reset", s"add=$rel|rows=8|$segment"), None)
      reads.foreach { r =>
        val e = intercept[IllegalStateException](r())
        assert(e.getMessage.contains("corrupt") && e.getMessage.contains(s"$rel|rows=8|$segment"),
          e.getMessage)
      }
      // a reader that never consults the segment is unaffected
      assert(ManifestTable.snapshotFiles(dir) == Seq(rel))
    }
    corrupt("stat=k:0")(
      () => ManifestTable.snapshotFilesWithStats(dir),
      () => ManifestTable.plannedFilesForRange(dir, "k", 0L, 3L))
    corrupt("sstat=v:00")(
      () => ManifestTable.snapshotFilesWithStringStats(dir),
      () => ManifestTable.plannedFilesForStringRange(dir, "v", "a", "z"))
    corrupt("bloom=k:64:4")(
      () => ManifestTable.snapshotFilesWithBloom(dir),
      () => ManifestTable.plannedFilesForPoint(dir, "k", 3L))
  }

  test("the entry segment syntax is written in ManifestEntry alone") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"missing source dir $root")
    val segmentLiteral = "\"(rows|stat|sstat|bloom)=".r
    val files: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val offenders = for {
      f <- files
      if f.getFileName.toString != "ManifestEntry.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if segmentLiteral.findFirstIn(line).isDefined ||
        (f.getFileName.toString == "ManifestTable.scala" && line.contains("takeWhile(_ != '|')"))
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"entry segments parsed or written outside ManifestEntry:\n${offenders.mkString("\n")}")
  }
}

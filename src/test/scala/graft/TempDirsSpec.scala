package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.scalatest.{Args, Reporter}
import org.scalatest.events.Event
import org.scalatest.funsuite.AnyFunSuite

/** `TempDirs` is the specs' one source of temp dirs: it deletes what a
  * suite made once the suite has run, and a source lint keeps the spec
  * files from making their own, which nothing would delete. */
class TempDirsSpec extends AnyFunSuite {

  test("a suite's temp dirs and files are deleted, recursively, after it runs") {
    var made = Seq.empty[File]
    val suite = new AnyFunSuite with TempDirs {
      test("makes a nested tree and a temp file") {
        val d = tempDir("graft-tempdirs-spec")
        Files.createDirectories(Paths.get(d, "a", "b"))
        Files.writeString(Paths.get(d, "a", "b", "f.txt"), "x")
        val f = tempFile("graft-tempdirs-spec", ".txt").toFile
        made = Seq(new File(d), f, f.getParentFile)
        assert(made.forall(_.exists()))
      }
    }
    val quiet = new Reporter { def apply(e: Event): Unit = () }
    assert(suite.run(None, Args(quiet)).succeeds())
    assert(made.size == 3)
    made.foreach(f => assert(!f.exists(), s"$f left on disk"))
  }

  test("raw temp dirs and files live only in TempDirs") {
    val root = Paths.get("src/test/scala")
    val fixture = root.resolve("graft/TempDirs.scala")
    val files = SpecLint.scalaFiles(root)
    assert(files.contains(fixture) && files.size > 70)
    val call = """\.createTemp(?:Directory|File)\(""".r
    val offenders = for {
      f <- files if f != fixture
      (line, i) <- SpecLint.code(f).split("\n").zipWithIndex
      if call.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"temp dirs made outside TempDirs (use tempDir/tempFile):\n${offenders.mkString("\n")}")
  }
}

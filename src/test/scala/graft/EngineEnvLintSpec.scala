package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine packages and the session factory must not read the
  * environment or system properties: `Verify` and `Bench` measure what
  * the code says, and an env knob there silently changes the plan or
  * the oracle a run is checked against. Settings belong in the mains
  * (`Bench`, `Verify`, `tools.*`) or in explicit parameters. This lint
  * scans the sources, so a removed knob cannot come back unnoticed. */
class EngineEnvLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val enginePackages =
    Seq("queries", "operators", "functions", "plans", "sources", "streaming")
  private val envRead = """sys\.env|System\.getenv|sys\.props""".r

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no env or system-property reads in the engine packages or GraftSession") {
    val dirs = enginePackages.map(root.resolve)
    dirs.foreach(d => assert(Files.isDirectory(d), s"missing source dir $d"))
    val files = dirs.flatMap(scalaFiles) :+ root.resolve("GraftSession.scala")
    val offenders = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if envRead.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"env/property reads in engine code:\n${offenders.mkString("\n")}")
  }
}

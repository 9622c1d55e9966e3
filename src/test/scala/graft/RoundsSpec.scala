package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Rounds

/** The round driver (`graft.operators.Rounds`) owns every per-round pin
  * of graft's iterative loops: it pins each new state, runs the loop's
  * stop rule and frees the state it replaces. These specs pin that
  * release on real queries, and a source lint keeps raw pins and
  * direct `CheckpointBlocks` releases from growing back. */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Persistent RDDs registered while `body` runs, and its result. */
  private def pinsLeftBy[T](body: => T): (Set[Int], T) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = body
    (sc.getPersistentRDDs.keySet.toSet -- before, out)
  }

  test("Rounds.run frees every superseded round and stops on its rule") {
    val (pins, res) = pinsLeftBy {
      val init = spark.range(100).toDF("v").localCheckpoint()
      Rounds.run(init, 10, Rounds.unchanged(100L)(_.count())) { (st, _) =>
        st.select((col("v") / 2).cast("long").as("v")).distinct()
      }
    }
    // 100 → 50 → 25 → 13 → 7 → 4 → 2 → 1 → 1: converged in round 8
    assert(res.rounds == 8 && res.converged)
    assert(res.state.collect().map(_.getLong(0)).toSeq == Seq(0L))
    // the initial pin and rounds 1-7 are released; the final state stays
    assert(pins.size == 1, s"expected only the final state pinned, got $pins")
    val capped = Rounds.run(spark.range(5).toDF("v"), 3) { (st, r) =>
      st.withColumn("v", col("v") + r)
    }
    assert(capped.rounds == 3 && !capped.converged)
    assert(capped.state.agg(sum("v")).head().getLong(0) == 10L + 5L * 6L)
  }

  // q_kcore, graph_bfs and graph_sssp each run several rounds at
  // sf0.001. A query must leave its edge list and its final state
  // pinned, not one pin per round; the ContextCleaner may collect the
  // edge list early (the result plan no longer references it), so the
  // bound is an upper one.
  for (key <- Seq("q_kcore", "graph_bfs", "graph_sssp"))
    test(s"$key leaves a constant number of pins, not one per round") {
      val (pins, df) = pinsLeftBy(SparkEntry.queries(key)(spark, TestSpark.sf))
      assert(pins.size <= 2,
        s"$key left ${pins.size} persistent RDDs registered: ${pins.toSeq.sorted}")
      // the released rounds are not needed to answer
      assert(df.collect().nonEmpty)
    }

  private val root = Paths.get("src/main/scala")
  private val roundsFile = root.resolve("graft/operators/Rounds.scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }

  /** Source text without block and line comments. */
  private def code(f: Path): String =
    new String(Files.readAllBytes(f), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  /** Raw `.localCheckpoint(` calls in `src/main/scala/graft` outside
    * the round driver. A ratchet: lower it when a pin moves onto a
    * shared policy, never raise it. */
  private val MaxRawPins = 64

  test("raw localCheckpoint calls outside Rounds stay within the ratchet") {
    val counts = for {
      f <- scalaFiles(root.resolve("graft")) if f != roundsFile
      n = "\\.localCheckpoint\\(".r.findAllMatchIn(code(f)).size if n > 0
    } yield f -> n
    val total = counts.map(_._2).sum
    assert(total <= MaxRawPins,
      s"$total raw localCheckpoint calls (ratchet $MaxRawPins):\n" +
        counts.map { case (f, n) => s"$f: $n" }.mkString("\n"))
  }

  test("CheckpointBlocks releases go through Rounds only") {
    val offenders = scalaFiles(root).filter { f =>
      f != roundsFile && !f.endsWith("CheckpointBlocks.scala") &&
        code(f).contains("CheckpointBlocks")
    }
    assert(offenders.isEmpty, s"CheckpointBlocks used outside Rounds: $offenders")
    assert(code(roundsFile).contains("CheckpointBlocks.unpersist("))
  }
}

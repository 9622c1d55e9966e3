package graft

import java.io.File
import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.StreamReplay

/** `StreamReplay` is the one harness of the replay and manifest keys:
  * it owns their temp dir, their memory-sink view and their
  * `AvailableNow` drains. These specs pin its release on the failure
  * paths, and a source lint keeps the query files from growing their
  * own copies of the machinery back. */
class StreamReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Runs `body` under `StreamReplay.run`, expecting it to throw; returns
    * the replay dir and the exception. */
  private def failingRun(body: String => DataFrame): (String, Throwable) = {
    var root: String = null
    val e = intercept[Throwable] {
      StreamReplay.run(spark, "graft-spec-replay") { r => root = r; body(r) }
    }
    assert(root != null, "the body never ran")
    (root, e)
  }

  private def assertReleased(root: String): Unit = {
    assert(!new File(root).exists(), s"replay dir $root left on disk")
    assert(spark.streams.active.isEmpty,
      s"active streams left: ${spark.streams.active.map(_.name).mkString(",")}")
    assert(!spark.catalog.tableExists(StreamReplay.view(root)),
      s"temp view ${StreamReplay.view(root)} left registered")
  }

  private def source(root: String): DataFrame = {
    spark.range(20).toDF("v").repartition(4).write.parquet(s"$root/src")
    spark.readStream.schema("v LONG").parquet(s"$root/src")
  }

  test("a body that throws after a memory-sink drain leaves no dir, stream or view") {
    val (root, e) = failingRun { root =>
      val out = StreamReplay.toMemory("spec", root)(source(root))
      assert(out.count() == 20 && spark.catalog.tableExists(StreamReplay.view(root)))
      throw new IllegalStateException("key failed after its drain")
    }
    assert(e.getMessage == "key failed after its drain")
    assertReleased(root)
  }

  test("a failing stream is stopped and fails the key") {
    val (root, e) = failingRun { root =>
      StreamReplay.drain("spec", root)(source(root).writeStream
        .foreachBatch { (_: Dataset[Row], _: Long) => throw new RuntimeException("boom") })
      spark.emptyDataFrame
    }
    assert(e.getMessage.contains("boom"), e.getMessage)
    assertReleased(root)
  }

  test("a stalled stream is stopped and fails the key as stalled") {
    val (root, e) = failingRun { root =>
      StreamReplay.drain("spec_key", root, timeoutMs = 200L)(source(root).writeStream
        .foreachBatch { (_: Dataset[Row], _: Long) => Thread.sleep(3000L) })
      spark.emptyDataFrame
    }
    assert(e.getMessage == "spec_key: stream stalled")
    assertReleased(root)
  }

  test("a result is pinned before its dir and view are released") {
    var root: String = null
    val res = StreamReplay.run(spark, "graft-spec-replay") { r =>
      root = r
      StreamReplay.toMemory("spec", r)(source(r)).orderBy("v")
    }
    assertReleased(root)
    assert(res.collect().map(_.getLong(0)).toSeq == (0L until 20L))
  }

  private val queries = Paths.get("src/main/scala/graft/queries")
  private val harness = queries.resolve("StreamReplay.scala")

  test("temp dirs, AvailableNow triggers and awaits live only in StreamReplay") {
    val files = SpecLint.scalaFiles(queries)
    assert(files.contains(harness))
    val offenders = for {
      f <- files if f != harness
      (line, i) <- SpecLint.code(f).split("\n").zipWithIndex
      word <- Seq("createTempDirectory", "Trigger.AvailableNow", "awaitTermination")
      if line.contains(word)
    } yield s"$f:${i + 1}: $word"
    assert(offenders.isEmpty,
      s"replay machinery outside StreamReplay:\n${offenders.mkString("\n")}")
  }
}

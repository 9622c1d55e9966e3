package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.ManifestTable

/** Round-16 engine layer: the DSv2 WRITE side of graft-manifest —
  * the manifest table writable through standard Spark APIs. Pins:
  * batch append/overwrite land as atomic manifest commits with
  * stats folded during the write (pruning works with zero extra
  * passes); a fresh dir needs `writeSchema`; the streaming sink is
  * exactly-once per epoch via txn markers (a replayed epoch commits
  * nothing); writes compose with column mapping. */
class ManifestWriteSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("batch write to a NEW dir (writeSchema) commits atomically with stats") {
    val dir = tempDir("graft-w-spec")
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4)
      .write.format("graft-manifest")
      .option("writeSchema", "id BIGINT, v STRING")
      .mode("append").save(dir)
    assert(ManifestTable.latestVersion(dir).contains(0L))
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 100L)
    assert(back.agg(sum($"id")).as[Long].head() == (0L until 100L).sum)
    // stats folded during the write: metadata COUNT(*) and long bounds live
    assert(ManifestTable.countMeta(dir).contains(100L))
    assert(ManifestTable.rangeMeta(dir, "id").contains((0L, 99L)))
    // string bounds too
    assert(ManifestTable.readRangeString(spark, dir, "v", "v1", "v1").count() == 1L)
  }

  test("append to an existing table infers the schema; overwrite resets") {
    val dir = tempDir("graft-w-spec")
    ManifestTable.appendWithStats(spark,
      (0L until 50L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1), dir, "id")
    // no writeSchema needed: inferSchema resolves from the table
    (50L until 80L).map(i => (i, s"b$i")).toDF("id", "v")
      .write.format("graft-manifest").mode("append").save(dir)
    assert(ManifestTable.read(spark, dir).count() == 80L)
    // mode(overwrite) → SupportsTruncate → replacing reset commit
    (0L until 10L).map(i => (i, s"c$i")).toDF("id", "v")
      .write.format("graft-manifest").mode("overwrite").save(dir)
    val back = ManifestTable.read(spark, dir)
    assert(back.count() == 10L)
    assert(back.filter($"v".startsWith("c")).count() == 10L)
    // old versions still time-travel (the reset is a forward commit)
    assert(ManifestTable.read(spark, dir, Some(1L)).count() == 80L)
  }

  test("DSv2-written stats prune range plans and the v2 batch read composes") {
    val dir = tempDir("graft-w-spec")
    // 4 disjoint id slices via repartitionByRange: each part file gets
    // tight bounds from the write itself
    (0L until 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartitionByRange(4, $"id")
      .write.format("graft-manifest")
      .option("writeSchema", "id BIGINT, v STRING")
      .mode("append").save(dir)
    val planned = ManifestTable.plannedFilesForRange(dir, "id", 0L, 10L)
    assert(planned.size == 1,
      s"write-side stats must prune: planned ${planned.size} of 4")
    // and the DSv2 READ prunes on the same stats through pushed filters
    val scan = spark.read.format("graft-manifest")
      .schema(ManifestTable.read(spark, dir).schema).load(dir)
      .filter($"id" >= 0L && $"id" <= 10L)
    assert(scan.rdd.getNumPartitions == 1)
    assert(scan.count() == 11L)
  }

  test("streaming sink is exactly-once per epoch (replayed epoch commits nothing)") {
    val dir = tempDir("graft-w-spec")
    val src = tempDir("graft-w-spec")
    (0L until 60L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(6).write.parquet(s"$src/in")
    val q = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$src/in")
      .writeStream.format("graft-manifest")
      .option("writeSchema", "id BIGINT, v STRING")
      .option("checkpointLocation", s"$src/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(dir)
    assert(q.awaitTermination(300000), "stream stalled")
    val back = ManifestTable.read(spark, dir)
    assert(back.select($"id").as[Long].collect().sorted.sameElements(0L until 60L))
    // multiple epochs landed, each with its txn marker
    val versions = ManifestTable.latestVersion(dir).get + 1
    assert(versions >= 2, s"expected multi-epoch commits, got $versions")
    // a RESTARTED drain from the same checkpoint re-commits nothing
    val before = ManifestTable.latestVersion(dir)
    val q2 = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
      .option("maxFilesPerTrigger", 2)
      .parquet(s"$src/in")
      .writeStream.format("graft-manifest")
      .option("checkpointLocation", s"$src/ckpt")
      .trigger(Trigger.AvailableNow())
      .start(dir)
    assert(q2.awaitTermination(300000))
    assert(ManifestTable.latestVersion(dir) == before,
      "checkpoint replay must not re-commit")
    assert(ManifestTable.read(spark, dir).count() == 60L)
    // and a direct epoch replay through the commit API is a marker no-op
    val qid = "dsv2-test-q"
    assert(ManifestTable.commitActions(dir, Seq("op=APPEND"), Some((qid, 7L))).nonEmpty)
    assert(ManifestTable.commitActions(dir, Seq("op=APPEND"), Some((qid, 7L))).isEmpty)
  }

  test("writes compose with column mapping (physical names on disk)") {
    val dir = tempDir("graft-w-spec")
    ManifestTable.appendWithStats(spark,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1), dir, "id")
    ManifestTable.renameColumn(spark, dir, "id", "doc_id")
    // DSv2 write arrives in LOGICAL names; bytes land physical
    Seq((100L, "new")).toDF("doc_id", "v")
      .write.format("graft-manifest").mode("append").save(dir)
    val back = ManifestTable.read(spark, dir)
    assert(back.columns.toSeq == Seq("doc_id", "v"))
    assert(back.count() == 21L)
    assert(back.filter($"doc_id" === 100L).count() == 1L)
    // pruning still live across both write paths
    assert(ManifestTable.readRange(spark, dir, "doc_id", 100L, 200L).count() == 1L)
  }

  test("zero-row tasks stage nothing; unsupported types refuse clearly") {
    val dir = tempDir("graft-w-spec")
    (0L until 5L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(8) // most tasks empty
      .write.format("graft-manifest")
      .option("writeSchema", "id BIGINT, v STRING")
      .mode("append").save(dir)
    assert(ManifestTable.read(spark, dir).count() == 5L)
    assert(ManifestTable.countMeta(dir).contains(5L))
    val e = intercept[Exception] {
      Seq((1L, Array(1.0f, 2.0f))).toDF("id", "emb")
        .write.format("graft-manifest")
        .option("writeSchema", "id BIGINT, emb ARRAY<FLOAT>")
        .mode("append").save(tempDir("graft-w-spec"))
    }
    assert(e.getMessage.contains("does not support") ||
      Option(e.getCause).exists(_.getMessage.contains("does not support")))
  }
}

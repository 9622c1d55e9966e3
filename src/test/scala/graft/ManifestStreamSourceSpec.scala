package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.ManifestTable

/** Round-14: the manifest table as a Structured Streaming SOURCE
  * (graft-manifest DataSourceV2 MicroBatchStream). Pins the offset
  * contract (versions), admission control, AvailableNow draining,
  * exactly-once across multi-batch plans, null round-trips, and the
  * replacing-commit refusal. */
class ManifestStreamSourceSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drain(table: String, mirror: String,
                    maxVersionsPerTrigger: Int): Seq[Long] = {
    val schema = ManifestTable.read(spark, table).schema
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("graft-manifest")
      .schema(schema)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .load(table)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       id: Long) =>
        batches += b.count()
        ManifestTable.append(spark, b.toDF(), mirror): Unit
      }
      .option("checkpointLocation", tempDir("graft-ms-spec-ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000), "stream stalled")
    batches.toSeq
  }

  test("AvailableNow drain reads exactly the committed rows, in version order, multi-batch") {
    val dir = tempDir("graft-ms-spec")
    for (i <- 0 until 5)
      ManifestTable.append(spark,
        (i * 10 until i * 10 + 10).map(j => (j.toLong, s"v$j")).toDF("id", "v"), dir)
    val mirror = tempDir("graft-ms-spec")
    val batches = drain(dir, mirror, maxVersionsPerTrigger = 2)
    // 5 versions at ≤2 per trigger: at least 3 non-trivial batches
    assert(batches.count(_ > 0) >= 3, s"admission control ignored: $batches")
    val got = ManifestTable.read(spark, mirror).select($"id").as[Long].collect().sorted
    assert(got.sameElements(0L until 50L), s"lost/duplicated rows: ${got.length}")
  }

  test("a second drain from the same checkpoint re-reads NOTHING (offset contract)") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val mirror = tempDir("graft-ms-spec")
    val ckpt = s"${tempDir("graft-ms-spec")}/ckpt"
    def run(): Long = {
      var n = 0L
      val q = spark.readStream.format("graft-manifest")
        .schema(ManifestTable.read(spark, dir).schema)
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         _: Long) => n += b.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000)); n
    }
    assert(run() == 1L)
    assert(run() == 0L, "restarted stream re-read already-committed versions")
    // new commits after the restart ARE picked up from the watermark
    ManifestTable.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    assert(run() == 1L)
  }

  test("nulls and all supported column types round-trip") {
    val dir = tempDir("graft-ms-spec")
    val df = Seq(
      (1L, Some("x"), Some(1.5), Some(7), Some(true)),
      (2L, None: Option[String], None: Option[Double], None: Option[Int], None: Option[Boolean]))
      .toDF("id", "s", "d", "i", "b")
    ManifestTable.append(spark, df, dir)
    val mirror = tempDir("graft-ms-spec")
    drain(dir, mirror, 10)
    val back = ManifestTable.read(spark, mirror).orderBy($"id").collect()
    assert(back.length == 2)
    assert(back(0).getLong(0) == 1L && back(0).getString(1) == "x" &&
      back(0).getDouble(2) == 1.5 && back(0).getInt(3) == 7 && back(0).getBoolean(4))
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && back(1).isNullAt(3) &&
      back(1).isNullAt(4))
  }

  test("a replacing commit in an unread interval fails the stream with a clear error") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, (0 until 10).map(i => (i, "a")).toDF("id", "v"), dir)
    ManifestTable.compact(spark, dir) // v1 = reset commit, never consumed
    val q = spark.readStream.format("graft-manifest")
      .schema(ManifestTable.read(spark, dir).schema)
      .load(dir)
      .writeStream.format("noop")
      .option("checkpointLocation", s"${tempDir("graft-ms-spec")}/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination(300000): Unit
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(failed).exists(_.contains("row-removing commit")),
      s"wrong failure: ${messages(failed).mkString(" | ")}")
  }

  test("batch read serves the snapshot; versionAsOf time-travels; compaction transparent") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, (0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "v"), dir)
    ManifestTable.append(spark, (10 until 15).map(i => (i.toLong, s"b$i")).toDF("id", "v"), dir)
    val schema = ManifestTable.read(spark, dir).schema
    def batchRead(opts: Map[String, String]) = {
      var r = spark.read.format("graft-manifest").schema(schema)
      opts.foreach { case (k, vv) => r = r.option(k, vv) }
      r.load(dir)
    }
    val full = batchRead(Map.empty).select($"id").as[Long].collect().sorted
    assert(full.sameElements(0L until 15L))
    val v0 = batchRead(Map("versionAsOf" -> "0")).select($"id").as[Long].collect().sorted
    assert(v0.sameElements(0L until 10L), "versionAsOf ignored")
    // a replacing commit changes files, not the snapshot the batch reads
    ManifestTable.compact(spark, dir)
    assert(batchRead(Map.empty).count() == 15)
    // and the source composes with ordinary DataFrame ops
    assert(batchRead(Map.empty).filter($"id" >= 10).count() == 5)
  }

  test("timestampAsOf time-travels the batch read through the repaired clock") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val t0 = ManifestTable.history(dir).head.timestampMs
    Thread.sleep(1100) // local-FS mtime resolution: force distinct commit times
    ManifestTable.append(spark, Seq((2L, "b")).toDF("id", "v"), dir)
    val schema = ManifestTable.read(spark, dir).schema
    val asOf = spark.read.format("graft-manifest").schema(schema)
      .option("timestampAsOf", t0.toString).load(dir)
    assert(asOf.count() == 1L, "timestampAsOf must pin the v0 snapshot")
    assert(spark.read.format("graft-manifest").schema(schema).load(dir)
      .count() == 2L)
    // the scan's explain carries the pushed-filter evidence
    val scan = spark.read.format("graft-manifest").schema(schema).load(dir)
      .filter($"id" >= 2L)
    assert(scan.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "pushed filters must surface in the physical plan description")
  }

  test("filter pushdown prunes the batch plan to the stats census") {
    val dir = tempDir("graft-ms-spec")
    // 4 disjoint stats slices of 25 ids each
    for (i <- 0 until 4)
      ManifestTable.appendWithStats(spark,
        (i * 25 until (i + 1) * 25).map(j => (j.toLong, s"v$j"))
          .toDF("id", "v").coalesce(1), dir, "id")
    val schema = ManifestTable.read(spark, dir).schema
    def scan = spark.read.format("graft-manifest").schema(schema).load(dir)
    // a 1-slice range plans EXACTLY the files ManifestTable.readRange plans
    val ranged = scan.filter($"id" >= 30L && $"id" <= 40L)
    val census = ManifestTable.plannedFilesForRange(dir, "id", 30L, 40L)
    assert(census.size == 1)
    assert(ranged.rdd.getNumPartitions == census.size,
      "pushed range predicate did not prune the planned partitions")
    assert(ranged.select($"id").as[Long].collect().sorted.sameElements(30L to 40L))
    // an impossible range plans zero partitions and returns nothing
    val none = scan.filter($"id" > 1000L)
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
    // equality on a string column: no stats to prune by (all files
    // plan) but the reader-side evaluation still returns exact rows
    val eq = scan.filter($"v" === "v37")
    assert(eq.rdd.getNumPartitions == 4)
    assert(eq.select($"id").as[Long].collect().toSeq == Seq(37L))
  }

  test("maxRowsPerTrigger splits ONE fat commit across micro-batches") {
    val dir = tempDir("graft-ms-spec")
    // one commit, 6 stats-carrying files of 20 rows each
    ManifestTable.appendWithStats(spark,
      (0L until 120L).map(i => (i, s"v$i")).toDF("id", "v").repartition(6),
      dir, "id")
    assert(ManifestTable.latestVersion(dir).contains(0L))
    val mirror = tempDir("graft-ms-spec")
    val schema = ManifestTable.read(spark, dir).schema
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ckpt = s"${tempDir("graft-ms-spec")}/ckpt"
    def drainRows(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .schema(schema)
        .option("maxRowsPerTrigger", 40)
        .load(dir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         id: Long) =>
          batches += b.count()
          ManifestTable.append(spark, b.toDF(), mirror): Unit
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "stream stalled")
    }
    drainRows()
    // 120 rows at ≤40 per trigger: ≥3 admitted batches, none over 40
    val real = batches.filter(_ > 0)
    assert(real.size >= 3, s"fat commit was not split: $batches")
    assert(real.forall(_ <= 40), s"a batch exceeded the row budget: $batches")
    val got = ManifestTable.read(spark, mirror).select($"id").as[Long].collect().sorted
    assert(got.sameElements(0L until 120L), s"lost/duplicated rows: ${got.length}")
    // resuming from the (version, part) checkpoint re-reads nothing
    batches.clear()
    drainRows()
    assert(batches.forall(_ == 0), s"checkpoint resume re-read rows: $batches")
  }

  test("column pruning is physical: scalar columns of a table holding arrays read fine") {
    val dir = tempDir("graft-ms-spec")
    // a disk-backed ANN-index shape: ids + cells + embedding arrays
    ManifestTable.append(spark,
      (0L until 20L).map(i => (i, i % 4, Array.fill(8)(i.toFloat)))
        .toDF("vec_id", "cell", "embedding"), dir)
    val schema = ManifestTable.read(spark, dir).schema
    // selecting only scalars must succeed — the array column is pruned
    // BEFORE the reader ever sees it (projection pushdown); selecting
    // the array column itself is out of the reader's type scope
    val got = spark.read.format("graft-manifest").schema(schema).load(dir)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().sorted
    assert(got.sameElements((0L until 20L).map(i => (i, i % 4))))
    val agg = spark.read.format("graft-manifest").schema(schema).load(dir)
      .groupBy($"cell").count().as[(Long, Long)].collect().sorted
    assert(agg.sameElements(Seq((0L, 5L), (1L, 5L), (2L, 5L), (3L, 5L))))
    // streaming: Spark does not push column pruning into streaming V2
    // scans — there the user-declared .schema() IS the projection, and
    // the footer-derived parquet projection honors a schema narrower
    // than the file (the array column never decodes)
    val narrow = org.apache.spark.sql.types.StructType(
      schema.fields.filter(_.name != "embedding"))
    val mirror = tempDir("graft-ms-spec")
    var n = 0L
    val q = spark.readStream.format("graft-manifest").schema(narrow).load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) => n += b.count(); () }
      .option("checkpointLocation", s"$mirror/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000))
    assert(n == 20L, s"schema-projected streaming read lost rows: $n")
  }

  test("missing schema is rejected with a clear message") {
    val e = intercept[Exception] {
      spark.readStream.format("graft-manifest").load(tempDir("graft-ms-spec"))
    }
    assert(e.getMessage.contains("explicit .schema"))
  }

  test("an evolved table reads through the source: pre-evolution files NULL-backfill the new column") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.appendEvolving(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1), dir)
    ManifestTable.appendEvolving(spark,
      Seq((3L, "c", 30L)).toDF("k", "v", "extra").coalesce(1), dir)
    val schema = ManifestTable.tableSchema(dir).get
    val got = spark.read.format("graft-manifest").schema(schema).load(dir)
    assert(got.count() == 3)
    assert(got.filter($"extra".isNull).count() == 2,
      "pre-evolution rows must NULL-backfill, not fail the scan")
    assert(got.filter($"extra" === 30L).count() == 1)
    // a projection of ONLY the evolved column still reads the old
    // files (all-null) — the pruned-scan shape of the same rule
    assert(got.select($"extra").filter($"extra".isNull).count() == 2)
  }

  test("readChangeFeed streams typed change rows equal to batch readChanges") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    ManifestTable.mergeInto(spark,  dir,
      Seq((2L, "b2"), (9L, "fresh")).toDF("id", "v"), "id", cdf = true)
    ManifestTable.deleteWhere(spark, dir, $"id" === 3L, cdf = true)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, String)]
    var nBatches = 0
    val q = spark.readStream.format("graft-manifest")
      .schema(ManifestTable.read(spark, dir).schema)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", 1)
      .load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        if (!b.isEmpty) {
          nBatches += 1
          rows ++= b.collect().map(r => (r.getLong(0), r.getString(1),
            r.getLong(r.fieldIndex("_commit_version")),
            r.getString(r.fieldIndex("_change_type"))))
        }
        ()
      }
      .option("checkpointLocation", s"${tempDir("graft-ms-spec")}/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(300000), "stream stalled")
    assert(nBatches == 3, s"admission control should split per commit: $nBatches")
    val expected = ManifestTable.readChanges(spark, dir, -1L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(r.fieldIndex("_commit_version")),
        r.getString(r.fieldIndex("_change_type")))).toSeq
    assert(rows.sorted == expected.sorted)
    // the exact typed set, spelled out
    assert(rows.sorted == Seq(
      (1L, "a", 0L, "insert"), (2L, "b", 0L, "insert"), (3L, "c", 0L, "insert"),
      (2L, "b", 1L, "update_preimage"), (2L, "b2", 1L, "update_postimage"),
      (9L, "fresh", 1L, "insert"),
      (3L, "c", 2L, "delete")).sorted)
  }

  test("readChangeFeed fails the stream on a cdf-less row-removing commit") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    ManifestTable.deleteWhere(spark, dir, $"id" === 1L) // cdf = false
    val q = spark.readStream.format("graft-manifest")
      .schema(ManifestTable.read(spark, dir).schema)
      .option("readChangeFeed", "true")
      .load(dir)
      .writeStream
      .foreachBatch { (_: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) => () }
      .option("checkpointLocation", s"${tempDir("graft-ms-spec")}/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("without change data") ||
      Option(e.getCause).exists(_.getMessage.contains("without change data")))
  }

  test("readChangeFeed refuses the batch path (readChanges is the batch API)") {
    val dir = tempDir("graft-ms-spec")
    ManifestTable.append(spark, Seq((1L, "a")).toDF("id", "v"), dir)
    val e = intercept[Exception] {
      spark.read.format("graft-manifest")
        .schema(ManifestTable.read(spark, dir).schema)
        .option("readChangeFeed", "true")
        .load(dir).collect()
    }
    assert(e.getMessage.contains("streaming option") ||
      Option(e.getCause).exists(_.getMessage.contains("streaming option")))
  }
}

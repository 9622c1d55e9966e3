package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming-state audit (r8 VERDICT next #7): drive the
  * sessionize stateful stream over the real events table in MANY
  * micro-batches (one file per trigger) and record, per batch, the
  * trigger duration and the state store's row/byte footprint — the
  * numbers that say whether a 7-day-state stream survives at 100 TB
  * (state must track live keys, not history; batch time must not grow
  * with total input).
  *
  *   SPARK_GRAFT_SF_DIR=benchdata/sf1 sbt "runMain graft.tools.StreamAudit"
  *   — optional arg `ewma` audits the streaming EWMA monitor instead
  *   of the sessionizer.
  */
object StreamAudit {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("sessionize")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "16").toInt
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-stream-audit").toString
    // the source copy and the checkpoint go with the run, also when it fails
    try audit(spark, mode, dir, chunks, root)
    finally graft.queries.StreamReplay.deleteRec(new java.io.File(root))
    spark.stop()
  }

  private def audit(spark: SparkSession, mode: String, dir: String, chunks: Int,
      root: String): Unit = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    // one batch per file, CHRONOLOGICAL: range-partition by ts so
    // part-00000 holds the earliest span and FileStreamSource (which
    // orders same-mtime files by path) replays time in order — the
    // watermark then advances monotonically and state_rows reads as
    // "concurrent open sessions inside the gap window", the number a
    // 7-day production stream actually holds. A round-robin
    // repartition instead lets batch 0 advance the watermark to the
    // end of time and late-drops the remaining batches.
    if (!mode.startsWith("lshindex")) {
      ev.repartitionByRange(chunks, $"ts").sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(s"$root/src")
      // the write's parallel tasks finish in random order, so the
      // range files must be re-stamped or the file source replays them
      // out of chronological order and late-drops whole ranges
      graft.queries.StreamReplay.stampChronological(s"$root/src")
    }

    @volatile var peakStateRows = 0L
    @volatile var peakStateBytes = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(-1L)
        val st = p.stateOperators.headOption
        val rows = st.map(_.numRowsTotal).getOrElse(0L)
        val bytes = st.map(_.memoryUsedBytes).getOrElse(0L)
        peakStateRows = math.max(peakStateRows, rows)
        peakStateBytes = math.max(peakStateBytes, bytes)
        println(f"STREAMAUDIT batch=${p.batchId}%3d in_rows=${p.numInputRows}%9d " +
          f"state_rows=$rows%9d state_mb=${bytes / 1e6}%8.2f trigger_ms=$dur%7d")
      }
    }
    spark.streams.addListener(listener)

    // lshindex / lshindex_nottl: audit the streaming LSH bucket index
    // (r12 VERDICT #7) — same chronological-replay discipline, but the
    // source is the banded signature table with one doc-minute per
    // doc_id. The _nottl variant runs the identical stream with an
    // effectively-infinite horizon: the state_rows curves of the two
    // runs are the with/without-TTL comparison PERFORMANCE.md records.
    val lshMode = mode.startsWith("lshindex")
    if (lshMode) {
      val epochMs = 1767225600000L
      graft.queries.Dedup.banded48(spark, dir)
        .withColumn("ts", expr(s"timestamp_millis(${epochMs}L + doc_id * 60000L)"))
        .repartitionByRange(chunks, $"ts").sortWithinPartitions($"ts")
        .write.mode("overwrite").parquet(s"$root/src")
      graft.queries.StreamReplay.stampChronological(s"$root/src")
    }
    val bandSchema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("band", org.apache.spark.sql.types.LongType)
      .add("bkey", org.apache.spark.sql.types.LongType)
      .add("ts", org.apache.spark.sql.types.TimestampType)

    val t0 = System.nanoTime()
    val src = spark.readStream
      .schema(if (lshMode) bandSchema else ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/src")
    val audited =
      if (lshMode) {
        val horizonMs =
          if (mode == "lshindex_nottl") Long.MaxValue / 4 else 120L * 60000L
        graft.streaming.EventStream.streamingLshIndex(spark,
          src.as[graft.streaming.EventStream.BandRow], horizonMs).toDF()
      } else src.as[graft.streaming.EventStream.Event]
        .transform { d =>
          if (mode == "ewma") graft.streaming.EventStream.streamingEwma(spark, d).toDF()
          else graft.streaming.EventStream.sessionize(spark, d, gapMinutes = 30).toDF()
        }
    graft.queries.StreamReplay.drain(s"StreamAudit $mode", root, timeoutMs = 600000L)(
      audited.writeStream.format("noop").outputMode("append"))
    // listener events are async: give the bus a moment before summarizing
    Thread.sleep(1500)
    println(f"STREAMAUDIT_SUMMARY mode=$mode sf=$dir chunks=$chunks " +
      f"wall_s=${(System.nanoTime() - t0) / 1e9}%.1f " +
      f"peak_state_rows=$peakStateRows peak_state_mb=${peakStateBytes / 1e6}%.2f")
  }
}

package graft.queries

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.sources.Tables
import graft.streaming.EventStream

/** The one harness of graft's replay keys: the streaming replays and
  * the manifest-table keys materialize real data to a temp dir, drain
  * `AvailableNow` streams over it and read the result back.
  *  - [[run]] owns the temp dir and the memory-sink view: it pins the
  *    key's result rows into block storage (eager localCheckpoint — the
  *    returned frame no longer references the sink or the dir), then
  *    drops the view and deletes the dir, also when the key throws.
  *    Bench loops run each key 4×; without the release every run left
  *    a dir on disk and a view in the session catalog. Replay results are
  *    small end-of-stream tables, so the pin is a few blocks the
  *    ContextCleaner reclaims with the frame.
  *  - [[drain]] runs one stream to completion and stops it on any
  *    failure, so no query outlives the key that started it.
  *  - [[events]] is the sentinel protocol of the event-time keys. */
object StreamReplay {

  /** `body(root)` pinned, with `root` a fresh temp dir named `prefix…`. */
  def run(s: SparkSession, prefix: String)(body: String => DataFrame): DataFrame = {
    val root = Files.createTempDirectory(prefix).toString
    try body(root).localCheckpoint()
    finally {
      try s.catalog.dropTempView(view(root)) catch { case NonFatal(_) => false }
      deleteRec(new File(root))
    }
  }

  /** The memory-sink view of the replay in `root`, dropped by [[run]]. */
  def view(root: String): String =
    "replay_" + new File(root).getName.replaceAll("\\W", "_")

  /** Drains `writer` as one `AvailableNow` run checkpointed in
    * `$root/ckpt`. A run still going after `timeoutMs` fails the key
    * `name` as stalled; the query is stopped whatever the outcome. */
  def drain[T](name: String, root: String, timeoutMs: Long = 300000L)(
      writer: DataStreamWriter[T]): Unit = {
    val q = writer.option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new IllegalStateException(s"$name: stream stalled")
    } finally q.stop()
  }

  /** Drains `df` into the memory sink [[view]] and returns that table. */
  def toMemory(name: String, root: String, mode: String = "append")(
      df: DataFrame): DataFrame = {
    drain(name, root)(
      df.writeStream.format("memory").queryName(view(root)).outputMode(mode))
    df.sparkSession.table(view(root))
  }

  /** The sentinel protocol of the event-time replay keys: the events
    * table is written to `$root/src` and drained through `op` into the
    * parquet sink `$root/out`; then two sentinel events (event_id −1
    * at max(ts) + 30 d, then −2 sixty seconds later; user_id −1,
    * value 0, type `sentinelType`) are appended, with a drain after
    * each. Append mode emits a window or session only once the
    * watermark passes it, and a watermark computed at the END of
    * batch N only gates batch N+1 — so the first sentinel's batch
    * advances the watermark past every real event and the second's
    * runs under it, firing every event-time timer. All three drains
    * share one checkpoint and one sink, which makes the key an
    * exactly-once restart test as well. Returns the sink. */
  def events(s: SparkSession, dir: String, name: String, root: String,
      sentinelType: String)(op: Dataset[EventStream.Event] => DataFrame): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    val maxMs = ev.agg(max($"ts")).head.getTimestamp(0).getTime
    def drainAll(): Unit = drain(name, root)(
      op(s.readStream.schema(ev.schema).parquet(s"$root/src").as[EventStream.Event])
        .writeStream.format("parquet").option("path", s"$root/out")
        .outputMode("append"))
    ev.write.mode("overwrite").parquet(s"$root/src")
    drainAll()
    val far = 30L * 24 * 3600 * 1000
    for ((id, offsetMs) <- Seq(-1L -> far, -2L -> (far + 60000))) {
      Seq((id, new java.sql.Timestamp(maxMs + offsetMs), -1L, sentinelType, 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.mode("append").parquet(s"$root/src")
      drainAll()
    }
    s.read.parquet(s"$root/out")
  }

  /** Deletes `f` and, for a dir, everything under it. */
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  /** Force a range-partitioned replay dir to ACTUALLY stream in range
    * order: FileStreamSource picks files oldest-modification-first, and
    * the parallel tasks of one parquet write finish in random order —
    * so part-00007 can carry an earlier mtime than part-00000, the
    * watermark jumps to the end of event time on an early batch, and
    * every earlier-range file is silently LATE-DROPPED (found in r13:
    * the TTL'd LSH index lost 10 of 14 buckets this way). Stamping
    * strictly ascending mtimes in part-file path order makes the
    * chronological replay deterministic. */
  def stampChronological(dirPath: String): Unit = {
    val parts = Option(new File(dirPath).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = (System.currentTimeMillis() / 1000L - parts.length) * 1000L
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + i * 1000L): Unit
    }
  }
}

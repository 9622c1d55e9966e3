package graft.sources.v2

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import graft.sources.{ManifestEntry, ManifestTable}

/** DSv2 WRITE side of the `graft-manifest` source — the manifest
  * table writable through the STANDARD Spark APIs:
  *
  *  - `df.write.format("graft-manifest").mode("append").save(dir)` —
  *    executors write parquet part files straight into a fresh
  *    `data/txn-<uuid>/` staging dir (invisible until committed, the
  *    protocol's crash-safety rule), each writer tracking its own
  *    `rows=` count and per-column min/max; the DRIVER then folds the
  *    per-task stats into `add=` actions and publishes ONE atomic
  *    manifest commit. `mode("overwrite")` maps to SupportsTruncate →
  *    a `reset`+adds replacing commit.
  *  - `df.writeStream.format("graft-manifest")...start(dir)` — the
  *    exactly-once streaming sink: every epoch commits with a
  *    `txn=<queryId>:<epochId>` marker, so a retried epoch is a
  *    no-op (the appendIdempotent contract) and its orphaned staged
  *    files are vacuum's to sweep.
  *
  * Stats ride the commit exactly like [[ManifestTable.appendWithStats]]
  * — `rows=` always; `stat=` bounds for long/int columns; truncated
  * `sstat=` bounds for strings — so DSv2-written tables prune
  * range/point/MERGE plans with zero extra passes (the bounds fall
  * out of the write itself). On a COLUMN-MAPPED table the writer
  * stores physical names, resolved once at plan time. */
private[v2] object ManifestWrite {

  /** Parquet message type for the supported scalar schema, using the
    * PHYSICAL field names. All fields optional (nullable). */
  def messageType(schema: StructType, physName: String => String): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val p: PrimitiveType = f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(physName(f.name))
        case IntegerType => Types.optional(PrimitiveTypeName.INT32).named(physName(f.name))
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE).named(physName(f.name))
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN).named(physName(f.name))
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(physName(f.name))
        case dt => throw new UnsupportedOperationException(
          s"graft-manifest write does not support $dt (column ${f.name})")
      }
      b.addField(p: Type)
    }
    b.named("spark_schema")
  }
}

/** One committed part file: its data-relative path and the add=
  * action (stats already folded in), or None for a zero-row task. */
private[v2] final case class ManifestWriteMessage(addAction: Option[String], rel: String)
    extends WriterCommitMessage

final class ManifestWriteBuilder(schema: StructType, dir: String,
                                 queryId: String,
                                 hadoopConf: SerializableHadoopConf)
    extends WriteBuilder with SupportsTruncate {
  private var replace = false
  override def truncate(): WriteBuilder = { replace = true; this }
  override def build(): Write = new Write {
    private val txnDir = s"txn-${UUID.randomUUID()}"
    private val factory =
      new ManifestWriterFactory(schema.json, dir, txnDir, hadoopConf,
        // resolve the column mapping ONCE at plan time; executors get
        // a plain (logical -> physical) list
        ManifestTable.columnMapping(dir).getOrElse(Nil))

    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        factory
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val adds = messages.collect {
          case ManifestWriteMessage(Some(a), _) => a
        }.sorted.toSeq
        val op = if (replace) "REPLACE" else "APPEND"
        val actions = (if (replace) Seq("reset") else Nil) ++ adds :+ s"op=$op"
        ManifestTable.commitActions(dir, actions, None): Unit
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        ManifestTable.dropStagedDir(dir, txnDir)
    }

    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
        factory
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
        val adds = messages.collect {
          case ManifestWriteMessage(Some(a), _) => a
        }.sorted.toSeq
        // exactly-once: the txn marker makes a RETRIED epoch a no-op
        // (its staged files stay orphaned until vacuum)
        val actions = (if (replace) Seq("reset") else Nil) ++ adds :+ "op=APPEND"
        ManifestTable.commitActions(dir, actions,
          Some((s"dsv2-$queryId", epochId))): Unit
      }
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
        ManifestTable.dropStagedDir(dir, txnDir)
    }
  }
}

/** Serializable executor-side writer factory: one parquet part file
  * per task under the write's shared staging txn dir. */
final class ManifestWriterFactory(schemaJson: String, dir: String,
                                  txnDir: String,
                                  hadoopConf: SerializableHadoopConf,
                                  mapping: Seq[(String, String)])
    extends DataWriterFactory with StreamingDataWriterFactory {
  private def writer(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ManifestDataWriter(
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      dir, txnDir, f"part-$partitionId%05d-$taskId", hadoopConf,
      mapping.toMap)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    writer(partitionId, taskId)
}

/** Writes one parquet part file through the public parquet-hadoop
  * Group API, tracking `rows=` + per-column min/max inline — stats
  * cost nothing at read time because they are folded during the
  * write itself. */
final class ManifestDataWriter(schema: StructType, dir: String,
                               txnDir: String, fileStem: String,
                               hadoopConf: SerializableHadoopConf,
                               mapping: Map[String, String])
    extends DataWriter[InternalRow] {
  private def phys(n: String): String = mapping.getOrElse(n, n)
  private val rel = s"$txnDir/$fileStem.parquet"
  private val filePath = new Path(new Path(new Path(dir), "data"), rel)
  private val msgType = ManifestWrite.messageType(schema, phys)
  private val conf = {
    val c = new org.apache.hadoop.conf.Configuration(hadoopConf.value)
    GroupWriteSupport.setSchema(msgType, c)
    c
  }
  private val writer = ExampleParquetWriter.builder(filePath)
    .withConf(conf).withType(msgType).build()

  private var rows = 0L
  private val loMin = new Array[Long](schema.length)
  private val loMax = new Array[Long](schema.length)
  private val sMin = new Array[String](schema.length)
  private val sMax = new Array[String](schema.length)
  private val seen = new Array[Boolean](schema.length)

  override def write(row: InternalRow): Unit = {
    val g = new SimpleGroup(msgType)
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        schema(i).dataType match {
          case LongType =>
            val v = row.getLong(i); g.add(i, v); trackLong(i, v)
          case IntegerType =>
            val v = row.getInt(i); g.add(i, v); trackLong(i, v.toLong)
          case DoubleType => g.add(i, row.getDouble(i))
          case BooleanType => g.add(i, row.getBoolean(i))
          case StringType =>
            val v = row.getUTF8String(i).toString; g.add(i, v); trackString(i, v)
          case dt => throw new UnsupportedOperationException(s"unsupported $dt")
        }
      }
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  private def trackLong(i: Int, v: Long): Unit = {
    if (!seen(i)) { loMin(i) = v; loMax(i) = v; seen(i) = true }
    else {
      if (v < loMin(i)) loMin(i) = v
      if (v > loMax(i)) loMax(i) = v
    }
  }
  private def trackString(i: Int, v: String): Unit = {
    if (!seen(i)) { sMin(i) = v; sMax(i) = v; seen(i) = true }
    else {
      if (ManifestTable.utf8Lex(v.getBytes("UTF-8"), sMin(i).getBytes("UTF-8")) < 0)
        sMin(i) = v
      if (ManifestTable.utf8Lex(v.getBytes("UTF-8"), sMax(i).getBytes("UTF-8")) > 0)
        sMax(i) = v
    }
  }

  override def commit(): WriterCommitMessage = {
    writer.close()
    if (rows == 0L) {
      // zero-row task: drop the empty file, commit nothing for it
      filePath.getFileSystem(conf).delete(filePath, false)
      return ManifestWriteMessage(None, rel)
    }
    val bounds = schema.fields.toSeq.zipWithIndex.collect {
      case (f, i) if seen(i) && (f.dataType == LongType || f.dataType == IntegerType) =>
        phys(f.name) -> ManifestEntry.LongBounds(loMin(i), loMax(i))
      case (f, i) if seen(i) && f.dataType == StringType =>
        phys(f.name) -> ManifestEntry.StringBounds(sMin(i), sMax(i))
    }
    ManifestWriteMessage(Some("add=" + ManifestEntry.render(rel, rows, bounds)), rel)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => }
    try filePath.getFileSystem(conf).delete(filePath, false): Unit
    catch { case _: Throwable => }
  }

  override def close(): Unit = ()
}

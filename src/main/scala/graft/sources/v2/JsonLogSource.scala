package graft.sources.v2

import java.util.{Map => JMap}

import com.fasterxml.jackson.core.{JsonFactory, JsonFactoryBuilder, JsonParser, JsonToken}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 batch source for the reference's noisy JSON log format
  * (SURVEY.md §2-G; semantics of `ClickThru.java:97-98` — anything
  * before the first '{' on a line is garbage to strip, unparseable
  * lines are dropped rather than fatal).
  *
  * `spark.read.format("graft-jsonlog").schema(s).load(path)`
  *
  * Line model: a line is the bytes up to a '\n' (or EOF); a '\r' is an
  * ordinary byte, so a CRLF line keeps its '\r' (outside the JSON
  * object, where it is never read) and a bare '\r' ends nothing. The
  * payload starts at the line's first '{' byte — 0x7B never occurs
  * inside a UTF-8 multi-byte sequence, so no decode is needed to find
  * it — and Jackson parses it straight from the read buffer. A payload
  * that is not well-formed UTF-8 is decoded to a String first (invalid
  * sequences become U+FFFD) and parsed from that, so such a line keeps
  * its row.
  *
  * Row rule: a line yields a row iff its payload parses and at least
  * one DECLARED field parses non-null under its declared type (a
  * `"x":"abc"` for a LongType field counts as null). Otherwise it is a
  * poison line and is dropped. The rule always looks at the whole
  * declared schema, so `count()`, a one-column read and a full read
  * see the same rows. Values: strings via Jackson's `getValueAsString`
  * (numbers and booleans keep their text; objects and arrays are
  * null), longs only from integer tokens, doubles from any number,
  * booleans from `true`/`false`.
  *
  * What makes it an ENGINE component rather than a parse helper:
  *  - **Column pruning is physical**: `SupportsPushDownRequiredColumns`
  *    narrows the Jackson parse to the requested fields — unrequested
  *    fields are token-skipped, never materialized (a 2-column read of
  *    a 40-field log parses 2 fields; the other declared fields are
  *    only token-checked for the row rule).
  *  - **Filter pushdown is physical**: `IsNotNull` / string & long
  *    `EqualTo` evaluate inside the reader right after the parse, so
  *    non-matching rows never surface into the scan output.
  *  - **Line-aligned byte-range splits**: files split at
  *    `maxSplitBytes` (default 128 MB) boundaries, TextInputFormat-
  *    style — a reader skips its leading partial line (unless at
  *    offset 0) and reads through its trailing line end, so a 1 TB
  *    log file becomes ~8000 independent partitions instead of one.
  */
class JsonLogDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-jsonlog"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-jsonlog requires an explicit .schema(...) — log lines carry no self-describing schema")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new JsonLogTable(schema, opts.get("path"),
      Option(opts.get("maxSplitBytes")).map(_.toLong).getOrElse(128L * 1024 * 1024))
  }
}

final class JsonLogTable(schema: StructType, path: String, maxSplitBytes: Long)
    extends Table with SupportsRead {
  require(path != null, "graft-jsonlog requires a path")
  override def name(): String = s"graft-jsonlog($path)"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new JsonLogScanBuilder(schema, path, maxSplitBytes)
}

final class JsonLogScanBuilder(fullSchema: StructType, path: String, maxSplitBytes: Long)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve declared field order; Catalyst may request any order
    required = StructType(fullSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** Accept the filters the reader can evaluate during the parse. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition {
      case IsNotNull(a) => fullSchema.fieldNames.contains(a)
      case EqualTo(a, _: String) =>
        fullSchema.fields.exists(f => f.name == a && f.dataType == StringType)
      case EqualTo(a, _: Long) =>
        fullSchema.fields.exists(f => f.name == a && f.dataType == LongType)
      case _ => false
    }
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new JsonLogScan(fullSchema, required, pushed, path, maxSplitBytes)
}

final case class JsonLogInputPartition(file: String, start: Long, end: Long)
  extends InputPartition

final class JsonLogScan(fullSchema: StructType, required: StructType,
                        val pushed: Array[Filter], path: String, maxSplitBytes: Long)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-jsonlog $path ReadSchema: ${required.simpleString} " +
      s"PushedFilters: [${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val fs = new Path(path).getFileSystem(new Configuration())
    val files = {
      val st = fs.getFileStatus(new Path(path))
      // Hadoop hidden-file convention: _SUCCESS markers and .crc
      // checksum siblings in a written directory are metadata, not log
      // lines — the same exclusion FileInputFormat applies.
      if (st.isDirectory)
        fs.listStatus(new Path(path)).filter(f => f.isFile && {
          val n = f.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }).toSeq
      else Seq(st)
    }
    files.flatMap { f =>
      // line-aligned range splits: reader at offset s>0 skips its first
      // partial line; each reader reads THROUGH the line spanning `end`
      (0L until math.max(f.getLen, 1L) by maxSplitBytes).map { s =>
        JsonLogInputPartition(f.getPath.toString, s,
          math.min(s + maxSplitBytes, f.getLen))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the reader must PARSE filter-referenced fields even when Catalyst
    // pruned them from the output (a fully-pushed filter's column is no
    // longer read downstream) — parsed fields ⊇ read schema, and the
    // emitted row projects back down to the read schema
    val filterRefs = pushed.flatMap(_.references).toSet
    val parsed = fullSchema.fieldNames.map(n =>
      required.fieldNames.contains(n) || filterRefs.contains(n))
    val outIdx = required.fieldNames.map(fullSchema.fieldIndex)
    val schema = fullSchema
    val filters = pushed
    (partition: InputPartition) =>
      new JsonLogPartitionReader(partition.asInstanceOf[JsonLogInputPartition],
        schema, parsed, outIdx, filters)
  }
}

/** Streams one byte-range of one file: finds line boundaries in a
  * reusable byte buffer, strips the pre-'{' noise, Jackson-parses the
  * payload straight from those bytes, materializes ONLY the `parsed`
  * fields of the declared `schema` (read columns ∪ pushed-filter
  * columns), applies the pushed filters, and emits rows projected to
  * `outIdx` (the read schema). */
final class JsonLogPartitionReader(part: JsonLogInputPartition, schema: StructType,
                                   parsed: Array[Boolean], outIdx: Array[Int],
                                   filters: Array[Filter])
    extends PartitionReader[InternalRow] {

  private val in = {
    val path = new Path(part.file)
    val s = path.getFileSystem(JsonLogPartitionReader.hadoopConf).open(path)
    s.seek(part.start)
    s
  }
  // bytes [lo, hi) of `buf` are read but not yet consumed; `pos` is the
  // file offset of buf(lo), i.e. of the next line's first byte
  private var buf = new Array[Byte](
    JsonLogPartitionReader.initialBufferBytes(part.end - part.start))
  private var lo, hi = 0
  private var eof = false
  private var pos = part.start
  private var lineStart, lineEnd = 0 // the current line: buf[lineStart, lineEnd), no '\n'

  // the payload is UTF-8 by definition: no per-line BOM / UTF-16/32 sniff
  private val jsonFactory =
    new JsonFactoryBuilder().disable(JsonFactory.Feature.CHARSET_DETECTION).build()
  private val types = schema.fields.map(_.dataType)
  private val fieldIndex = { // a java map: no Option per field lookup
    val m = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.foreach { case (n, i) => m.put(n, i) }
    m
  }
  private val vals = new Array[Any](schema.length)
  private val checks: Array[Array[Any] => Boolean] = filters.map {
    case IsNotNull(a) =>
      val i = schema.fieldIndex(a); (v: Array[Any]) => v(i) != null
    case EqualTo(a, s: String) =>
      val i = schema.fieldIndex(a); val u = UTF8String.fromString(s)
      (v: Array[Any]) => u == v(i)
    case EqualTo(a, l: Long) =>
      val i = schema.fieldIndex(a); (v: Array[Any]) => v(i) == l
    case _ => (_: Array[Any]) => true
  }
  private var current: InternalRow = _

  // a reader not at offset 0 starts mid-line: its first (partial) line
  // belongs to the previous split — skip it
  if (part.start > 0) nextLine()

  /** Advance to the next line, false at EOF. A line STARTING at or
    * before `end` belongs to this split (we read through its terminator
    * even past `end`); a line starting after `end` belongs to the next
    * split. Only '\n' ends a line; a '\r' before it stays in the line. */
  private def nextLine(): Boolean = {
    if (pos > part.end) return false
    var i = lo
    while (true) {
      while (i < hi && buf(i) != '\n') i += 1
      if (i < hi || (eof && lo < hi)) {
        lineStart = lo
        lineEnd = i
        lo = math.min(i + 1, hi)
        pos += i + 1 - lineStart
        return true
      }
      if (eof) return false
      // the line runs past the buffered bytes: slide it to the front,
      // double the buffer when it already fills it, and read more
      if (lo > 0) {
        System.arraycopy(buf, lo, buf, 0, hi - lo)
        i -= lo; hi -= lo; lo = 0
      }
      if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.read(buf, hi, buf.length - hi)
      if (n < 0) eof = true else hi += n
    }
    false
  }

  override def next(): Boolean = {
    while (nextLine()) {
      val row = parseLine()
      if (row != null) { current = row; return true }
    }
    false
  }

  /** The current line as a row; null (drop) on a missing '{', a
    * malformed payload, a poison line or a failed pushed filter. */
  private def parseLine(): InternalRow = {
    var brace = lineStart
    while (brace < lineEnd && buf(brace) != '{') brace += 1
    if (brace == lineEnd) return null
    val len = lineEnd - brace
    val ok = try {
      // a payload that is not well-formed UTF-8 is parsed from its
      // decoded String: the decode replaces each bad sequence with
      // U+FFFD, where Jackson's byte decoder throws on some and reads
      // overlong forms and code points past U+10FFFF as other characters
      if (JsonLogPartitionReader.wellFormedUtf8(buf, brace, lineEnd))
        parseFields(jsonFactory.createParser(buf, brace, len))
      else parseFields(jsonFactory.createParser(
        new String(buf, brace, len, java.nio.charset.StandardCharsets.UTF_8)))
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => false
    }
    if (!ok || !checks.forall(_(vals))) return null
    val out = new Array[Any](outIdx.length)
    var k = 0
    while (k < out.length) { out(k) = vals(outIdx(k)); k += 1 }
    new GenericInternalRow(out)
  }

  /** Walk one JSON object into `vals`; false for a poison line, one on
    * which no DECLARED field parses non-null. Declared fields that are
    * not parsed are still token-checked against their type (never
    * materialized), so the row set does not depend on the projection. */
  private def parseFields(p: JsonParser): Boolean = {
    java.util.Arrays.fill(vals.asInstanceOf[Array[AnyRef]], null)
    var any = false
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val ix = fieldIndex.get(p.currentName())
        val t = p.nextToken()
        if (ix != null) {
          val i = ix.intValue
          if (parsed(i)) {
            val v = JsonLogPartitionReader.value(types(i), t, p)
            vals(i) = v
            if (v != null) any = true
          } else if (JsonLogPartitionReader.nonNull(types(i), t, p)) any = true
        }
        p.skipChildren() // nested values are never materialized
      }
    } finally p.close()
    any
  }

  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

object JsonLogPartitionReader {

  /** One Hadoop configuration per JVM: building one loads and parses
    * the default XML resources, milliseconds that a small split would
    * pay on every task. */
  private lazy val hadoopConf = new Configuration()

  /** A reader's line buffer starts at its split's size, clamped to
    * [64 B, 64 KiB], and doubles whenever a line outgrows it. */
  private[graft] def initialBufferBytes(splitBytes: Long): Int =
    math.max(64L, math.min(splitBytes, 64L * 1024)).toInt

  /** One field's value under its declared type, the parser at its token `t`. */
  private def value(dt: DataType, t: JsonToken, p: JsonParser): Any = dt match {
    case StringType => if (t == JsonToken.VALUE_NULL) null else UTF8String.fromString(p.getValueAsString)
    case LongType => if (t == JsonToken.VALUE_NUMBER_INT) p.getLongValue else null
    case DoubleType => if (t.isNumeric) p.getDoubleValue else null
    case BooleanType => if (t.isBoolean) p.getBooleanValue else null
    case _ => null
  }

  /** `value(dt, t, p) != null`, without building the value. A long is
    * still read: one out of range drops the line, as a full read does. */
  private def nonNull(dt: DataType, t: JsonToken, p: JsonParser): Boolean = dt match {
    // getValueAsString is null exactly for null and container tokens
    case StringType => t.isScalarValue && t != JsonToken.VALUE_NULL
    case LongType => t == JsonToken.VALUE_NUMBER_INT && { p.getLongValue; true }
    case DoubleType => t.isNumeric
    case BooleanType => t.isBoolean
    case _ => false
  }

  /** Whether b[from, to) is well-formed UTF-8 (Unicode Table 3-7): no
    * stray continuation byte, overlong form, surrogate, code point past
    * U+10FFFF or truncated sequence — exactly what a UTF-8 decode would
    * replace with U+FFFD. */
  private def wellFormedUtf8(b: Array[Byte], from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val n = if (c >= 0xC2 && c <= 0xDF) 1 else if (c >= 0xE0 && c <= 0xEF) 2
          else if (c >= 0xF0 && c <= 0xF4) 3 else return false
        if (i + n >= to) return false
        val c1 = b(i + 1) & 0xFF
        val min = if (c == 0xE0) 0xA0 else if (c == 0xF0) 0x90 else 0x80
        val max = if (c == 0xED) 0x9F else if (c == 0xF4) 0x8F else 0xBF
        if (c1 < min || c1 > max) return false
        var k = 2
        while (k <= n) { if ((b(i + k) & 0xC0) != 0x80) return false; k += 1 }
        i += n + 1
      }
    }
    true
  }
}

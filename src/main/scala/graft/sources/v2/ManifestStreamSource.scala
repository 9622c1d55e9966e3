package graft.sources.v2

import java.util.{Map => JMap}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.ManifestTable

/** Java-serializable carrier for the session's Hadoop configuration —
  * the driver plans with the session conf, and the executor-side
  * parquet readers must open files against THE SAME filesystem
  * settings (credentials, fs.* impls, IO tunables), not a blank
  * `new Configuration()` that silently works only on the local FS.
  * (Spark's own SerializableConfiguration is private[spark].) */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** The manifest table as a REAL Structured Streaming SOURCE — the
  * engine-layer half of the change feed (Delta's streaming-source
  * shape): `spark.readStream.format("graft-manifest").schema(s)
  * .load(tableDir)`.
  *
  * Offsets ARE manifest versions: a micro-batch (start, end] plans
  * exactly the data files that the interval's commits added
  * (`ManifestTable.commitFeedFiles` per commit — an O(versions
  * polled) log read, never O(history)), one input partition per
  * added file, read executor-side with the parquet-hadoop column
  * reader. Exactly-once falls out of the offset contract: Spark
  * checkpoints the version watermark, and replanning any (start, end]
  * yields the same files.
  *
  *  - **Admission control**: `maxVersionsPerTrigger` bounds how many
  *    commits a micro-batch may drain (the Delta `maxFilesPerTrigger`
  *    analog) — a backlogged table streams in bounded batches instead
  *    of one giant catch-up batch.
  *  - **Trigger.AvailableNow**: the target version is pinned at
  *    prepare time, so a drain processes everything committed before
  *    the query started and stops — even while writers keep
  *    committing.
  *  - A ROW-REMOVING commit (compact's `reset`, deleteWhere/mergeInto
  *    `remove=`) inside an unread interval fails the stream with a
  *    clear error: the delta is not expressible as appended rows, and
  *    silently re-reading the snapshot would double-count — the
  *    consumer must restart from a fresh snapshot (exactly Delta's
  *    semantics without `ignoreChanges`).
  *  - **`readChangeFeed=true`** (Delta's streaming CDF): rows arrive
  *    tagged `_change_type`/`_commit_version` — cdf-enabled
  *    DELETE/MERGE commits stream their commit-time change files
  *    (type baked in the file), pure appends stream as constant
  *    'insert' rows, and a row-removing commit written WITHOUT change
  *    data still fails the stream. Downstream incremental view
  *    maintenance then rides a checkpointed stream instead of a
  *    hand-rolled cursor.
  *
  * Column types supported: long/int/double/boolean/string (the
  * manifest sink's own write surface). Schema must be supplied
  * explicitly — the log carries no self-describing schema. */
class ManifestStreamDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-manifest"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // the WRITE path arrives here without a user schema (DataFrame/
    // DataStreamWriter have no .schema API): resolve from the
    // existing table — the recorded logical schema, else a live-file
    // read through the session — or from a `writeSchema` DDL option
    // for a brand-new table dir
    val path = options.get("path")
    Option(options.get("writeSchema")).map(StructType.fromDDL) match {
      case Some(st) => return st
      case None =>
    }
    if (path != null && ManifestTable.latestVersion(path).isDefined)
      return ManifestTable.tableSchema(path).getOrElse(
        ManifestTable.read(
          org.apache.spark.sql.SparkSession.active, path).schema)
    throw new IllegalArgumentException(
      "graft-manifest requires an explicit .schema(...) for reads; for a " +
        "write to a NEW table dir pass .option(\"writeSchema\", \"<ddl>\")")
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ManifestStreamTable(schema, opts.get("path"),
      Option(opts.get("maxVersionsPerTrigger")).map(_.toLong).getOrElse(Long.MaxValue),
      // time travel: versionAsOf by number, or timestampAsOf by epoch
      // millis (Delta's other axis — resolved through the repaired
      // non-decreasing commit clock)
      Option(opts.get("versionAsOf")).map(_.toLong).orElse(
        Option(opts.get("timestampAsOf")).map(ts =>
          ManifestTable.versionAtTimestamp(opts.get("path"), ts.toLong))),
      opts.getBoolean("readChangeFeed", false),
      Option(opts.get("maxRowsPerTrigger")).map(_.toLong))
  }
}

/** Pushed-filter support shared by the scan builder (file pruning
  * against manifest stats) and the executor-side reader (row-level
  * evaluation). Accepted filters are ALWAYS also residual — Spark
  * re-applies them post-scan — so both layers are pure skipping
  * optimizations: dropping is only allowed when DEFINITELY false,
  * and any uncertainty keeps the file/row. */
private[v2] object ManifestFilters {
  import org.apache.spark.sql.sources._

  def supported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, _) => scalar(c, schema)
    case GreaterThan(c, _) => scalar(c, schema)
    case GreaterThanOrEqual(c, _) => scalar(c, schema)
    case LessThan(c, _) => scalar(c, schema)
    case LessThanOrEqual(c, _) => scalar(c, schema)
    case In(c, _) => scalar(c, schema)
    case IsNotNull(c) => scalar(c, schema)
    case IsNull(c) => scalar(c, schema)
    case _ => false
  }

  private def scalar(c: String, schema: StructType): Boolean =
    schema.fields.exists(f => f.name == c && (f.dataType match {
      case LongType | IntegerType | DoubleType | BooleanType | StringType => true
      case _ => false
    }))

  /** May a file whose manifest records `stats` (long col → (min, max))
    * hold rows passing every pushed filter? Unknown columns/types
    * never prune. */
  def mayOverlap(filters: Array[Filter], stats: Map[String, (Long, Long)]): Boolean =
    filters.forall {
      case EqualTo(c, v) => longOf(v).forall(x =>
        stats.get(c).forall { case (mn, mx) => x >= mn && x <= mx })
      case GreaterThan(c, v) => longOf(v).forall(x =>
        stats.get(c).forall { case (_, mx) => mx > x })
      case GreaterThanOrEqual(c, v) => longOf(v).forall(x =>
        stats.get(c).forall { case (_, mx) => mx >= x })
      case LessThan(c, v) => longOf(v).forall(x =>
        stats.get(c).forall { case (mn, _) => mn < x })
      case LessThanOrEqual(c, v) => longOf(v).forall(x =>
        stats.get(c).forall { case (mn, _) => mn <= x })
      case In(c, vs) =>
        val xs = vs.toSeq.flatMap(longOf)
        xs.size != vs.length || // a non-integral value: cannot prune
          stats.get(c).forall { case (mn, mx) => xs.exists(x => x >= mn && x <= mx) }
      case _ => true
    }

  private def longOf(v: Any): Option[Long] = v match {
    case x: Long => Some(x)
    case x: Int => Some(x.toLong)
    case x: Short => Some(x.toLong)
    case x: Byte => Some(x.toLong)
    case _ => None
  }

  /** Row-level evaluation against a decoded InternalRow: false ONLY
    * when the row definitely fails the filter (SQL semantics: a NULL
    * comparison is not-true, so the row drops — except IsNull). An
    * unresolvable column or value type keeps the row. */
  def eval(filters: Array[Filter], row: InternalRow, schema: StructType): Boolean =
    filters.forall(f => one(f, row, schema))

  private def one(f: Filter, row: InternalRow, schema: StructType): Boolean = {
    def v(c: String): (Boolean, Any) = { // (resolvable, value-or-null)
      val i = schema.fieldNames.indexOf(c)
      if (i < 0) (false, null)
      else if (row.isNullAt(i)) (true, null)
      else (true, schema(i).dataType match {
        case LongType => row.getLong(i)
        case IntegerType => row.getInt(i)
        case DoubleType => row.getDouble(i)
        case BooleanType => row.getBoolean(i)
        case StringType => row.getUTF8String(i).toString
        case _ => null
      })
    }
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Number) => Some(java.lang.Long.compare(x, y.longValue))
      case (x: Int, y: Number) => Some(java.lang.Long.compare(x.toLong, y.longValue))
      case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue))
      case (x: String, y: String) => Some(x.compareTo(y))
      case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
      case _ => None
    }
    f match {
      case EqualTo(c, x) =>
        val (ok, a) = v(c); !ok || (a != null && cmp(a, x).forall(_ == 0))
      case GreaterThan(c, x) =>
        val (ok, a) = v(c); !ok || (a != null && cmp(a, x).forall(_ > 0))
      case GreaterThanOrEqual(c, x) =>
        val (ok, a) = v(c); !ok || (a != null && cmp(a, x).forall(_ >= 0))
      case LessThan(c, x) =>
        val (ok, a) = v(c); !ok || (a != null && cmp(a, x).forall(_ < 0))
      case LessThanOrEqual(c, x) =>
        val (ok, a) = v(c); !ok || (a != null && cmp(a, x).forall(_ <= 0))
      case In(c, xs) =>
        val (ok, a) = v(c)
        !ok || (a != null && xs.exists(x => cmp(a, x) match {
          case Some(0) => true
          case None => true // incomparable value: uncertain, keep
          case _ => false
        }))
      case IsNotNull(c) => val (ok, a) = v(c); !ok || a != null
      case IsNull(c) => val (ok, a) = v(c); !ok || a == null
      case _ => true
    }
  }
}

final class ManifestStreamTable(tableSchema: StructType, dir: String,
                                maxVersionsPerTrigger: Long,
                                versionAsOf: Option[Long],
                                changeFeed: Boolean = false,
                                maxRowsPerTrigger: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(dir != null, "graft-manifest requires a path")
  require(maxVersionsPerTrigger > 0, "maxVersionsPerTrigger must be positive")
  require(maxRowsPerTrigger.forall(_ > 0), "maxRowsPerTrigger must be positive")
  override def name(): String = s"graft-manifest($dir)"
  // change-feed mode serves the user's table schema PLUS the two CDF
  // meta columns (the Delta readChangeFeed contract)
  private val servedSchema: StructType =
    if (!changeFeed) tableSchema
    else tableSchema
      .add(StructField("_change_type", StringType, nullable = true))
      .add(StructField("_commit_version", LongType, nullable = true))
  override def schema(): StructType = servedSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(!changeFeed, "readChangeFeed is a read option; the feed is not writable")
    new ManifestWriteBuilder(info.schema(), dir, info.queryId(),
      new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with SupportsPushDownFilters {
      // captured driver-side where the session is in scope; shipped to
      // executors so readers resolve paths on the session's filesystem
      private val hadoopConf = new SerializableHadoopConf(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
      // physical column pruning: the pruned schema reaches the parquet
      // reader as a projection (ReadSupport.PARQUET_READ_SCHEMA), so
      // unrequested columns are never materialized — which also means
      // a table holding unsupported-typed columns (embedding arrays)
      // reads fine as long as the QUERY touches only scalars
      private var required: StructType = servedSchema
      override def pruneColumns(r: StructType): Unit =
        required = StructType(servedSchema.fields.filter(f =>
          r.fieldNames.contains(f.name)))
      // FILTER pushdown: supported comparisons are accepted (evaluated
      // row-level in the executor-side reader — see
      // ManifestFilters.eval) AND consulted at PLAN time against the
      // manifest's own per-file column stats, so a range predicate
      // through spark.read.format("graft-manifest") plans only the
      // overlapping files — the same census ManifestTable.readRange
      // computes, now reachable from plain DataFrame filters. Accepted
      // filters are still returned as residual, so Spark re-applies
      // them post-scan: file pruning + row skipping stay a pure
      // optimization, never a correctness dependency.
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters.filter(ManifestFilters.supported(_, servedSchema))
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        private val pushedAtBuild = pushed
        // .explain shows this line: the pushed predicates and (for
        // batch) the stats-pruned planned-file census — the reader's
        // evidence that pushdown actually reached the plan
        override def description(): String = {
          val f = if (pushedAtBuild.isEmpty) "[]"
          else pushedAtBuild.mkString("[", ", ", "]")
          s"graft-manifest $dir PushedFilters: $f"
        }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ManifestMicroBatchStream(required, dir, maxVersionsPerTrigger,
            maxRowsPerTrigger, hadoopConf, changeFeed, pushedAtBuild)
        // batch read = the SNAPSHOT (latest, or `versionAsOf` time
        // travel) — the same manifest fold ManifestTable.read plans,
        // served through the same executor-side reader as the stream
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            require(!changeFeed,
              "readChangeFeed is a streaming option; batch change reads go " +
                "through ManifestTable.readChanges")
            val statted = ManifestTable.snapshotFilesWithStats(dir, versionAsOf)
            statted
              .filter { case (_, stats) =>
                ManifestFilters.mayOverlap(pushedAtBuild, stats) }
              .map { case (rel, _) => ManifestFilePartition(
                ManifestStreamSource.dataFilePath(dir, rel)): InputPartition }
              .toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new ManifestReaderFactory(required.json, hadoopConf, pushedAtBuild)
        }
      }
    }
}

private[v2] object ManifestStreamSource {
  /** Hadoop-Path resolution of a committed data file — not string
    * concatenation, so scheme-qualified table dirs (s3a://, hdfs://)
    * resolve on the filesystem the conf names. */
  def dataFilePath(dir: String, rel: String): String =
    new Path(new Path(dir, "data"), rel).toString
}

/** Offset = highest manifest version FULLY consumed (-1 = nothing
  * yet), plus `part` files of version `version + 1` already consumed —
  * the sub-version cursor that lets rows-based admission split ONE fat
  * commit across micro-batches (Delta's (version, index) offset
  * shape). part=0 serializes to the legacy `{"version":N}` JSON, so
  * pre-split checkpoints resume unchanged. */
final case class ManifestOffset(version: Long, part: Long = 0L) extends Offset {
  override def json(): String =
    if (part == 0L) s"""{"version":$version}"""
    else s"""{"version":$version,"part":$part}"""
}

final class ManifestMicroBatchStream(schema: StructType, dir: String,
                                     maxVersionsPerTrigger: Long,
                                     maxRowsPerTrigger: Option[Long],
                                     hadoopConf: SerializableHadoopConf,
                                     changeFeed: Boolean = false,
                                     filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // pinned by prepareForTriggerAvailableNow: an AvailableNow drain
  // stops here even while writers keep committing
  @volatile private var availableNowTarget: Option[Long] = None

  private def currentLatest: Long = ManifestTable.latestVersion(dir).getOrElse(-1L)

  override def initialOffset(): Offset = ManifestOffset(-1L)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentLatest)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is the entry point")

  /** One commit's feed files in plan order, or None when the commit
    * cannot feed (row-removing without change data) — admission then
    * admits the whole commit and lets planInputPartitions raise the
    * clear error instead of stalling the stream silently. */
  private def commitFiles(v: Long): Option[Seq[(String, Option[Long], Boolean)]] =
    try Some(ManifestTable.commitFeedFiles(dir, v, changeFeed))
    catch { case _: IllegalStateException => None }

  /** Version/rows-bounded admission. Rows accounting uses the
    * manifest's own per-file `rows=` stats; a file committed without
    * one conservatively consumes the whole remaining budget (it still
    * admits — a batch always makes progress — but nothing rides after
    * it). With no `maxRowsPerTrigger` the legacy whole-version stride
    * applies. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ManifestOffset]
    val target = availableNowTarget.getOrElse(currentLatest)
    maxRowsPerTrigger match {
      case None =>
        if (from.part == 0L) {
          // saturating stride: from + maxVersionsPerTrigger overflows
          // for the unbounded default, and an overflowed offset would
          // be COMMITTED
          val step = math.min(maxVersionsPerTrigger,
            math.max(0L, target - from.version))
          ManifestOffset(from.version + step)
        } else {
          // a rows-admitted partial version from an earlier run: first
          // finish that version, then resume whole-version strides
          ManifestOffset(math.min(target, from.version + 1L))
        }
      case Some(budget) =>
        var v = from.version
        var part = from.part
        var spent = 0L
        var admitted = false
        var versions = 0L
        var stop = false
        while (!stop && v < target && versions < maxVersionsPerTrigger) {
          commitFiles(v + 1) match {
            case None =>
              // unfeedable commit: admit it whole (plan will raise)
              if (!admitted) { v += 1; part = 0L; admitted = true }
              stop = true
            case Some(files) =>
              var i = part
              while (!stop && i < files.length) {
                val rows = math.max(files(i.toInt)._2.getOrElse(Long.MaxValue), 0L)
                val next = // saturating add
                  if (spent + rows < spent) Long.MaxValue else spent + rows
                if (admitted && next > budget) stop = true
                else {
                  spent = next
                  admitted = true
                  i += 1
                  if (spent >= budget) stop = true
                }
              }
              if (i >= files.length) { v += 1; part = 0L; versions += 1 }
              else part = i
          }
        }
        ManifestOffset(v, part)
    }
  }

  override def reportLatestOffset(): Offset = ManifestOffset(currentLatest)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ManifestOffset]
    val to = end.asInstanceOf[ManifestOffset]
    if (to.version < from.version ||
      (to.version == from.version && to.part <= from.part)) return Array.empty
    // throws on a replacing commit in the interval — the stream FAILS
    // rather than silently double-reading a rewritten snapshot
    val parts = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
    var v = from.version
    var skip = from.part
    while (v < to.version || (v == to.version && to.part > 0L)) {
      val commitV = v + 1L
      val files = ManifestTable.commitFeedFiles(dir, commitV, changeFeed)
      val until =
        if (v == to.version && to.part > 0L) to.part.toInt else files.length
      (skip.toInt until until).foreach { i =>
        val (rel, _, isCdf) = files(i)
        // CHANGE-FEED mode (Delta streaming readChangeFeed): cdf files
        // carry their own _change_type column (read from the file),
        // pure-append files stream as constant-'insert' rows
        parts += (if (changeFeed)
          ManifestFilePartition(ManifestStreamSource.dataFilePath(dir, rel),
            if (isCdf) null else "insert", commitV)
        else
          ManifestFilePartition(ManifestStreamSource.dataFilePath(dir, rel)))
      }
      if (v == to.version && to.part > 0L) return parts.toArray
      skip = 0L
      v += 1
    }
    parts.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(schema.json, hadoopConf, filters)

  override def deserializeOffset(json: String): Offset = {
    val whole = """\{"version":(-?\d+)\}""".r
    val split = """\{"version":(-?\d+),"part":(\d+)\}""".r
    json match {
      case whole(v) => ManifestOffset(v.toLong)
      case split(v, p) => ManifestOffset(v.toLong, p.toLong)
      case _ => throw new IllegalArgumentException(s"bad manifest offset: $json")
    }
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One committed data file. `changeType`: null = not a change-feed
  * partition OR the file bakes its own `_change_type` column (cdf
  * files); "insert" = pure-append file served with a constant type.
  * `commitVersion` feeds `_commit_version` (-1 outside feed mode). */
final case class ManifestFilePartition(file: String,
                                       changeType: String = null,
                                       commitVersion: Long = -1L)
    extends InputPartition

final class ManifestReaderFactory(schemaJson: String,
                                  hadoopConf: SerializableHadoopConf,
                                  filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ManifestFilePartition]
    new ManifestPartitionReader(p.file,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      hadoopConf.value, p.changeType, p.commitVersion, filters)
  }
}

/** Executor-side parquet read of one committed data file through the
  * public parquet-hadoop Group API, converted to InternalRows of the
  * (possibly column-pruned) schema. The pruned schema is pushed into
  * the reader as a parquet projection, so unrequested columns are
  * skipped at the column-chunk level, never decoded. */
final class ManifestPartitionReader(file: String, schema: StructType,
                                    conf: Configuration,
                                    constChangeType: String = null,
                                    commitVersion: Long = -1L,
                                    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {
  /** GroupReadSupport that projects to the requested column names
    * INSIDE init(), where the file schema is already in hand — the
    * projection keeps the file's exact types and required/optional
    * repetitions (hand-built fields would have to guess Spark's
    * nullability encoding), and the footer is read exactly once.
    * Requested columns ABSENT from the file resolve to NULL rows-wide
    * (recorded in [[presentFields]]) — the same parquet schema-
    * evolution rule as ManifestTable.read, so a table evolved by
    * appendEvolving streams its pre-evolution files instead of dying
    * on them (a pruned projection may legitimately request ONLY
    * evolved columns against an old file: every row is null). The
    * flip side — a typo'd .schema(...) surfaces as an all-NULL
    * column, exactly as it would reading the same files through
    * spark.read.schema(...).parquet — is the standard parquet
    * contract, not an error this layer can distinguish from
    * evolution. */
  private final class ProjectingReadSupport(wanted: Set[String])
      extends GroupReadSupport {
    override def init(context: org.apache.parquet.hadoop.api.InitContext)
        : org.apache.parquet.hadoop.api.ReadSupport.ReadContext = {
      val fileSchema = context.getFileSchema
      val kept = new java.util.ArrayList[org.apache.parquet.schema.Type]()
      fileSchema.getFields.forEach(f =>
        if (wanted.contains(f.getName)) kept.add(f): Unit)
      val have = new scala.collection.mutable.HashSet[String]
      kept.forEach(f => have.add(f.getName): Unit)
      presentFields = have.toSet
      new org.apache.parquet.hadoop.api.ReadSupport.ReadContext(
        new org.apache.parquet.schema.MessageType("spark_schema", kept))
    }
  }

  // set by init() (which runs during reader build, before any get()):
  // the requested fields this file actually carries — the rest
  // NULL-backfill per row
  @volatile private var presentFields: Set[String] = Set.empty

  private val reader: ParquetReader[Group] =
    ParquetReader.builder(new ProjectingReadSupport(schema.fieldNames.toSet),
        new Path(file))
      .withConf(conf).build()
  private var current: Group = _
  private var currentRow: InternalRow = _

  /** Decode-then-evaluate: pushed filters run HERE, executor-side,
    * right after each row decodes — rows that definitely fail a
    * pushed predicate never leave the reader (they are also re-checked
    * by Spark's residual filter, so this is pure skipping, never a
    * correctness dependency). */
  override def next(): Boolean = {
    current = reader.read()
    while (current != null) {
      currentRow = decode()
      if (filters.isEmpty ||
        ManifestFilters.eval(filters, currentRow, schema)) return true
      current = reader.read()
    }
    false
  }

  override def get(): InternalRow = currentRow

  private def decode(): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      // change-feed meta columns: _commit_version is always partition
      // metadata; _change_type is a constant for pure-append files and
      // a REAL baked column in cdf files (falls through to the file
      // read below when no constant was assigned)
      if (f.name == "_commit_version" && commitVersion >= 0L)
        row.setLong(i, commitVersion)
      else if (f.name == "_change_type" && constChangeType != null)
        row.update(i, UTF8String.fromString(constChangeType))
      else if (!presentFields.contains(f.name) ||
          current.getFieldRepetitionCount(f.name) == 0) row.setNullAt(i)
      else f.dataType match {
        case LongType => row.setLong(i, current.getLong(f.name, 0))
        case IntegerType => row.setInt(i, current.getInteger(f.name, 0))
        case DoubleType => row.setDouble(i, current.getDouble(f.name, 0))
        case BooleanType => row.setBoolean(i, current.getBoolean(f.name, 0))
        case StringType =>
          row.update(i, UTF8String.fromString(current.getString(f.name, 0)))
        case dt => throw new UnsupportedOperationException(
          s"graft-manifest streaming read does not support $dt (column ${f.name})")
      }
      i += 1
    }
    row
  }

  override def close(): Unit = reader.close()
}

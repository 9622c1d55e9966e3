package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Typed access to the test corpus (TESTDATA.md): one parquet per table.
  *
  * All operators take a table directory so the same code runs at any
  * scale factor — and, on a real cluster, against any warehouse path.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads a table, normalizing any TIMESTAMP_NTZ column to TIMESTAMP.
    * The generator emits parquet timestamp[us] without a timezone, which
    * Spark 4 surfaces as TIMESTAMP_NTZ — a type unix_millis() rejects and
    * that collects as LocalDateTime. The session tz is pinned to UTC, so
    * the cast is value-preserving and epoch math agrees with DuckDB's
    * naive-timestamp epoch_ms(). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalized(read(spark, s"$dir/$name.parquet")._1)

  private def normalized(raw: DataFrame): DataFrame =
    raw.schema.fields.collect { case f if f.dataType == TimestampNTZType => f.name }
      .foldLeft(raw)((df, c) => df.withColumn(c, col(c).cast(TimestampType)))

  /** One table's parquet schema and row count, valid only for the exact
    * file set (path, size and mtime of each file) it was resolved from:
    * a table rewritten at the same path resolves again. */
  private final class Resolved(val files: Set[(String, Long, Long)], val schema: StructType) {
    @volatile private var n = -1L
    /** Footer-metadata count, run once per file set (two racing first
      * reads may both run it; they agree). */
    def rows(df: DataFrame): Long = { if (n < 0) n = df.count(); n }
  }

  /** Session settings that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.fieldId.read.enabled", "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema", "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled")

  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[String]), Resolved]()

  /** The files the read's relation listed, with size and mtime. */
  private def fileSet(df: DataFrame): Set[(String, Long, Long)] =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }.getOrElse(sys.error(s"not a file relation: ${df.queryExecution.analyzed}"))

  /** Reads a parquet table with its schema resolved once per file set.
    * Parquet schema inference is a Spark job that re-reads a footer, and
    * it would run while the caller builds its plan. A known table is read
    * with its resolved schema, which starts no job, and the file set that
    * read lists decides whether the entry still holds; only a new or
    * rewritten table runs the inference. */
  private def read(spark: SparkSession, path: String): (DataFrame, Resolved) = {
    val key = (path, InferenceConfs.map(k => spark.conf.getOption(k).orNull))
    Option(resolved.get(key))
      .map(r => (spark.read.schema(r.schema).parquet(path), r))
      .filter { case (df, r) => fileSet(df) == r.files }
      .getOrElse {
        val df = spark.read.parquet(path)
        val r = new Resolved(fileSet(df), df.schema)
        resolved.put(key, r)
        (df, r)
      }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  /** events.ts is parquet TIMESTAMP(NANOS) which Spark has no native
    * type for — sessions set spark.sql.legacy.parquet.nanosAsLong and
    * we FLOOR-divide to micros here. Floor (not truncate-toward-zero:
    * `div` alone would round pre-epoch values the wrong way) matches
    * DuckDB's ns→µs cast exactly, so oracle timestamps agree for any
    * epoch sign. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)"))
      case TimestampNTZType =>
        // parquet timestamp[us] without tz → Spark TIMESTAMP_NTZ, which
        // unix_millis() rejects and which collects as LocalDateTime. The
        // session tz is pinned to UTC, so this cast is value-preserving and
        // epoch math agrees with DuckDB's naive-timestamp epoch_ms().
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  /** Floor a scan's parallelism at cluster width. Scan splits are
    * sized by BYTES (maxPartitionBytes), but text and vector columns
    * compress so hard that one 12 MB split can hold 200k documents —
    * and every downstream tokenize/explode/cosine then runs on one
    * core (the r9 sf10 sweep measured exactly that). The row-pass
    * shuffle is negligible next to the CPU work it parallelizes, and
    * on a real 100 TB table the scan already has thousands of splits,
    * making this a no-op.
    *
    * Row-gated: below ~50k rows a single task finishes in tens of ms
    * and the exchange would COST more than it saves (the r9 sf0.1
    * headline bench measured a ~2.5 s total tax from an unconditional
    * spread — text_tfidf alone 0.88→1.9 s). Rows, not bytes: float
    * vectors compress ~15× harder than text, so any byte cutoff that
    * spreads 200k documents (12 MB) skips 200k embeddings (3.5 MB).
    * The row count is parquet-footer metadata — the gate job reads no
    * data — and is kept with the table's schema, per file set. */
  private[graft] val SpreadMinRows: Long = 50000L

  private def spread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (raw, r) = read(spark, s"$dir/$name.parquet")
    val df = normalized(raw)
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par || r.rows(raw) < SpreadMinRows) df
    else df.repartition(par)
  }

  def documents(spark: SparkSession, dir: String): DataFrame = spread(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = spread(spark, dir, "embeddings")
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers beyond parquet, and the write paths that matter at 100 TB
  * (SURVEY.md §2-G): hive-style partitioned layout for partition
  * pruning, and bucketed tables for shuffle-free co-located joins.
  */
object Sinks {

  // ---- readers ----

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema).option("header", header.toString).csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  // ---- writers ----

  /** Hive-style partitioned parquet: queries filtering on `cols` prune
    * entire directories at planning time. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** ORC round-trip (columnar alternative; same pushdown/pruning via
    * the native vectorized reader). */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Copy-on-write upsert (MERGE semantics without a table format):
    * rows from `updates` replace target rows with the same key;
    * unmatched update rows are inserted. Returns the merged frame —
    * the caller writes it where/how it wants (partition-overwrite at
    * scale so only touched partitions rewrite). One shuffle on the key
    * (or zero if both sides are bucketed on it). */
  def upsert(target: DataFrame, updates: DataFrame, key: String): DataFrame = {
    require(target.columns.sameElements(updates.columns),
      s"schemas differ: ${target.columns.toSeq} vs ${updates.columns.toSeq}")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit, raise_error, when}
    // one projection for the rename (not a Project per column), plus a
    // presence flag: matched rows take the update row WHOLESALE — an
    // explicit NULL in an update must land, not fall back to the stale
    // target value (per-column coalesce would blend the two rows)
    val u = updates.toDF(updates.columns.toIndexedSeq.map("_u_" + _): _*)
      .withColumn("_u__present", lit(true))
      // MERGE semantics: multiple update rows for one key is an error,
      // raised distributedly at execution time (no driver-side action)
      .withColumn("_u__n", count(lit(1)).over(Window.partitionBy(col(s"_u_$key"))))
      .withColumn("_u__present",
        when(col("_u__n") > 1,
          raise_error(lit(s"upsert: multiple update rows for one $key")))
          .otherwise(col("_u__present")))
    target.join(u, col(key) === col(s"_u_$key"), "full_outer")
      .select(target.columns.toIndexedSeq.map { c =>
        when(col("_u__present"), col(s"_u_$c")).otherwise(col(c)).as(c)
      }: _*)
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ~targetMB files (the perpetual maintenance job of any streaming
    * ingest at scale — thousands of tiny files kill scan planning). */
  def compact(spark: SparkSession, path: String, outPath: String,
              targetMB: Int = 128): Unit = {
    val df = spark.read.parquet(path)
    val target = targetMB * 1024L * 1024L
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // ceiling division: a directory in (target, 2*target) must become
    // two files of ~target, not one double-sized file
    val parts = math.max(1, ((bytes + target - 1) / target).toInt)
    df.repartition(parts).write.mode("overwrite").parquet(outPath)
  }

  /** Bucketed + sorted table: joins/aggregations on `key` between
    * tables bucketed the same way need NO shuffle and NO sort — the
    * layout cost is paid once at write time. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .option("path", path)
      .format("parquet")
      .saveAsTable(table)
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Sinks, Tables}

class SourcesSinksSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("csv and json-lines round-trip the documents table") {
    val docs = Tables.documents(spark, TestSpark.sf).select("doc_id", "lang", "n_chars")
    val d1 = tempDir("graft-sink"); val d2 = tempDir("graft-sink")
    docs.write.mode("overwrite").option("header", "true").csv(d1)
    docs.write.mode("overwrite").json(d2)
    val csvBack = Sinks.readCsv(spark, d1, docs.schema)
    val jsonBack = Sinks.readJsonLines(spark, d2, docs.schema)
    assert(csvBack.exceptAll(docs).count() == 0 && docs.exceptAll(csvBack).count() == 0)
    assert(jsonBack.exceptAll(docs).count() == 0 && docs.exceptAll(jsonBack).count() == 0)
  }

  test("orc round-trips with predicate pushdown in the scan") {
    val docs = Tables.documents(spark, TestSpark.sf).select("doc_id", "lang", "n_chars")
    val dir = tempDir("graft-sink")
    Sinks.writeOrc(docs, dir)
    val back = Sinks.readOrc(spark, dir)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    val plan = Sinks.readOrc(spark, dir).filter(col("n_chars") > 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"), plan)
  }

  test("upsert: updates replace matches wholesale, unmatched insert, rest untouched") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    val updates = Seq((2L, "B2", 99.0), (9L, "new", 1.0)).toDF("id", "name", "v")
    val merged = Sinks.upsert(target, updates, "id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(merged == Map(
      1L -> ("a", 10.0), 2L -> ("B2", 99.0), 3L -> ("c", 30.0), 9L -> ("new", 1.0)))
    intercept[IllegalArgumentException] {
      Sinks.upsert(target, updates.select("id", "name"), "id")
    }
    // an explicit NULL in an update row must LAND (MERGE semantics),
    // not fall back to the stale target value
    val nullUpd = Seq((2L, Option.empty[String], 5.0)).toDF("id", "name", "v")
    val withNull = Sinks.upsert(target, nullUpd, "id")
      .collect().map(r => r.getLong(0) -> (Option(r.getString(1)), r.getDouble(2))).toMap
    assert(withNull(2L) == (None, 5.0), s"null update did not land: ${withNull(2L)}")
    // MERGE rejects multiple update rows for one key
    val dup = Seq((2L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "name", "v")
    val ex = intercept[Exception] { Sinks.upsert(target, dup, "id").collect() }
    assert(ex.getMessage != null)
  }

  test("compact rewrites many small files into few") {
    val src = tempDir("graft-sink"); val dst = tempDir("graft-sink")
    val docs = Tables.documents(spark, TestSpark.sf)
    docs.repartition(40).write.mode("overwrite").parquet(src)
    assert(new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet")) >= 40)
    Sinks.compact(spark, src, dst, targetMB = 128)
    assert(new java.io.File(dst).listFiles().count(_.getName.endsWith(".parquet")) <= 2)
    val back = spark.read.parquet(dst)
    assert(back.count() == docs.count())
  }

  test("partitioned write prunes partitions at scan time") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val dir = tempDir("graft-sink")
    Sinks.writePartitioned(docs, dir, Seq("lang"))
    val scan = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = scan.queryExecution.executedPlan.toString
    // partition filter must appear as PartitionFilters, not a data filter
    assert(plan.contains("PartitionFilters") && plan.contains("lang"), plan)
    assert(scan.count() ==
      Tables.documents(spark, TestSpark.sf).filter(col("lang") === "en").count())
  }

  test("bucketed tables join without a shuffle") {
    val wh = tempDir("graft-sink")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cust = Tables.customer(spark, TestSpark.sf)
      val ord = Tables.orders(spark, TestSpark.sf)
        .withColumnRenamed("o_custkey", "c_custkey")
      Sinks.writeBucketed(cust, "b_cust", s"$wh/b_cust", "c_custkey", 8)
      Sinks.writeBucketed(ord, "b_ord", s"$wh/b_ord", "c_custkey", 8)
      val joined = spark.table("b_cust").join(spark.table("b_ord"), "c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == Tables.orders(spark, TestSpark.sf)
        .join(Tables.customer(spark, TestSpark.sf),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS b_cust")
      spark.sql("DROP TABLE IF EXISTS b_ord")
    }
  }
}

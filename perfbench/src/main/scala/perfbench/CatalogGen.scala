package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator for the ten tables the headline queries read, in the
  * shape TESTDATA.md describes (TPC-H-like star schema plus `events`,
  * `documents` and `embeddings`): same column names, types and value
  * domains, every value a hash of (seed, table, column, row). One parquet
  * file per table, timestamps stored without a zone, as the reference
  * tables are. `scale` 0.01 gives 60k lineitem rows. */
object CatalogGen {

  private val words = Seq("a", "the", "spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key", "query", "scan", "batch")

  def generate(spark: SparkSession, dir: String, seed: Long, scale: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * scale))
    var salt = 0
    /** A fresh 64-bit hash column per call: (seed, call site, row id). */
    def h(): Column = { salt += 1; xxhash64(lit(seed), lit(salt), col("id")) }
    def pick(k: Long): Column = pmod(h(), lit(k))
    def unif(lo: Double, hi: Double, dp: Int): Column =
      round(lit(lo) + pmod(h(), lit(1000003L)).cast("double") / 1000003.0 * (hi - lo), dp)
    def choice(xs: Seq[String]): Column = element_at(array(xs.map(lit): _*), (pick(xs.size) + 1).cast("int"))
    def day(from: String, span: Int): Column =
      expr(s"timestamp_ntz'$from 00:00:00'") + make_dt_interval(pick(span).cast("int"))
    def rows(k: Long) = spark.range(k)
    // tables are written concurrently: a cold generation is bound by
    // code generation on the driver, not by the executors
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val writes = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    def write(df: DataFrame, t: String): Unit = writes += pool.submit(new Runnable {
      def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    })

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUser = n(15000); val nDoc = n(50000); val nEmb = n(50000)

    write(rows(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")), "region")
    write(rows(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    write(rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(25).cast("int").as("c_nationkey"), unif(-999.99, 9999.99, 2).as("c_acctbal"),
      choice(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "customer")
    write(rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(25).cast("int").as("s_nationkey"), unif(-999.99, 9999.99, 2).as("s_acctbal")), "supplier")
    write(rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", choice(Seq("blue", "old", "red", "small", "new", "large", "hot", "cold")),
        choice(Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"))).as("p_name"),
      concat(lit("Brand#"), (pick(25) + 1).cast("string")).as("p_brand"),
      choice(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (pick(50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice")), "part")
    write(rows(nOrd).select(col("id").as("o_orderkey"), pick(nCust).as("o_custkey"),
      choice(Seq("F", "O", "P")).as("o_orderstatus"), unif(1000.0, 500000.0, 2).as("o_totalprice"),
      day("1995-01-01", 2405).as("o_orderdate"),
      choice(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "orders")
    write(rows(nLine).select(pick(nOrd).as("l_orderkey"), pick(nPart).as("l_partkey"),
      pick(nSupp).as("l_suppkey"), (pick(7) + 1).cast("int").as("l_linenumber"),
      (pick(50) + 1).cast("double").as("l_quantity"), unif(900.0, 105000.0, 2).as("l_extendedprice"),
      (pick(11).cast("double") / 100.0).as("l_discount"), (pick(9).cast("double") / 100.0).as("l_tax"),
      choice(Seq("A", "N", "R")).as("l_returnflag"), choice(Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 2499).as("l_shipdate")), "lineitem")
    write(rows(nEv).select(col("id").as("event_id"),
      (expr("timestamp_ntz'2024-01-01 00:00:00'") +
        make_dt_interval(lit(0), lit(0), lit(0), (pmod(h(), lit(2592000000000L)).cast("double") / 1e6)
          .cast(DecimalType(18, 6)))).as("ts"),
      pick(nUser).as("user_id"),
      choice(Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - pmod(h(), lit(1000003L)).cast("double") / 1000003.0) * 50.0, 2).as("value"),
      concat(lit("{\"k\": "), pick(100).cast("string"), lit("}")).as("props")), "events")
    // documents: 10-100 words from the 30-word vocabulary; one in twenty
    // is a copy of an earlier document with a trailing "dup" token
    val body = concat_ws(" ", transform(sequence(lit(1), (pick(91) + 10).cast("int")),
      i => element_at(array(words.map(lit): _*),
        (pmod(xxhash64(lit(seed), lit(-1), col("id"), i), lit(words.size.toLong)) + 1).cast("int"))))
    val base = rows(nDoc).select(col("id"), body.as("text0"), pick(20).as("src"),
      choice(Seq("en", "en", "en", "de", "fr", "es", "zh")).as("lang"), pick(20).as("dupOf"))
    val docs = base.as("d").join(base.select(col("id").as("oid"), col("text0").as("otext")).as("o"),
        col("o.oid") === greatest(col("d.id") - col("d.dupOf") - 1, lit(0L)), "left")
      .select(col("d.id").as("doc_id"),
        when(pmod(col("d.id"), lit(20L)) === 19L && col("d.id") > 20L, concat(col("otext"), lit(" dup")))
          .otherwise(col("text0")).as("text"),
        col("lang"), concat(lit("src"), col("src").cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .orderBy("doc_id")
    write(docs, "documents")
    // embeddings: 64-dim unit vectors around one of ten label centroids
    val raw = transform(sequence(lit(1), lit(64)), i =>
      (pmod(xxhash64(lit(seed), lit(-2), col("id"), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0) +
        (pmod(xxhash64(lit(seed), lit(-3), col("label"), i), lit(2000001L)).cast("double") / 1000000.0 - 1.0))
    write(rows(nEmb).withColumn("label", pick(10).cast("int")).withColumn("raw", raw)
      .withColumnRenamed("id", "vec_id")
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
      .select(col("vec_id"), transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"),
        col("label")), "embeddings")
    try writes.foreach(_.get()) finally pool.shutdown()
  }
}

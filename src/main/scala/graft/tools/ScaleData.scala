package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Deterministic scale-up generator: replicates a TESTDATA.md scale
  * factor K× with key-shifted copies so the output is a larger corpus
  * with the SAME referential integrity and the SAME per-key join
  * fan-out as the source.
  *
  * Plain row duplication would be wrong for benchmarking: duplicating
  * both sides of lineitem⋈orders K× inflates the join output K²× and
  * every "scale-up" timing would measure an artifact. Instead each key
  * domain (orderkey, custkey, partkey, suppkey, doc_id, vec_id,
  * event_id, user_id) is shifted by `copy * stride` with stride =
  * max(key)+1 computed from the source — copy i is a disjoint,
  * structurally identical shard. Shared dimensions (region, nation)
  * stay fixed, as they would in a real warehouse.
  *
  * Documents get a per-copy suffix token and embeddings a per-copy
  * first-component nudge so cross-copy rows are NEAR-duplicates, not
  * exact ones — the realistic regime for dedup/ANN benchmarks (a web
  * corpus is near-dup-heavy) without collapsing distinct-counts.
  *
  * Usage: ScaleData <srcSfDir> <dstDir> <factor>
  * The driver's parquet stays untouched; output lives under the repo's
  * (gitignored) benchdata/.
  */
object ScaleData {

  /** max(key)+1 over the authoritative table for a key domain. */
  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val Array(src, dst, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1, "factor must be >= 1")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    import spark.implicits._

    def table(n: String) = spark.read.parquet(s"$src/$n.parquet")
    val copies = broadcast((0 until factor).toDF("_copy"))

    // one stride per key domain, from the table that owns the key
    val kOrder = stride(table("orders"), "o_orderkey")
    val kCust  = stride(table("customer"), "c_custkey")
    val kPart  = stride(table("part"), "p_partkey")
    val kSupp  = stride(table("supplier"), "s_suppkey")
    val kDoc   = stride(table("documents"), "doc_id")
    val kVec   = stride(table("embeddings"), "vec_id")
    val ev     = table("events")
    val kEvent = stride(ev, "event_id")
    val kUser  = stride(ev, "user_id")

    /** Replicate `n` K×, shifting each (column -> stride) key. */
    def shifted(n: String, keys: (String, Long)*): DataFrame = {
      val df = table(n).crossJoin(copies)
      keys.foldLeft(df) { case (d, (c, s)) =>
        d.withColumn(c, col(c) + $"_copy" * s)
      }
    }

    def write(df: DataFrame, n: String): Unit = {
      df.drop("_copy").write.mode("overwrite").parquet(s"$dst/$n.parquet")
      System.err.println(s"[scale] wrote $n")
    }

    write(table("region").crossJoin(broadcast(Seq(0).toDF("_copy"))), "region")
    write(table("nation").crossJoin(broadcast(Seq(0).toDF("_copy"))), "nation")
    write(shifted("customer", "c_custkey" -> kCust), "customer")
    write(shifted("supplier", "s_suppkey" -> kSupp), "supplier")
    write(shifted("part", "p_partkey" -> kPart), "part")
    write(shifted("orders", "o_orderkey" -> kOrder, "o_custkey" -> kCust), "orders")
    write(shifted("lineitem",
      "l_orderkey" -> kOrder, "l_partkey" -> kPart, "l_suppkey" -> kSupp), "lineitem")
    write(shifted("events", "event_id" -> kEvent, "user_id" -> kUser), "events")

    // near-dup (not exact-dup) replication for the text/vector corpus
    val docs = shifted("documents", "doc_id" -> kDoc)
      .withColumn("text",
        when($"_copy" === 0, $"text")
          .otherwise(concat($"text", lit(" c"), $"_copy".cast("string"))))
      .withColumn("n_chars", length($"text").cast("long"))
    write(docs, "documents")

    val embCol: Column = transform($"embedding",
      (x, i) => when(i === 0, x + ($"_copy" * lit(1e-3)).cast("float")).otherwise(x))
    write(shifted("embeddings", "vec_id" -> kVec).withColumn("embedding", embCol),
      "embeddings")

    spark.stop()
  }
}

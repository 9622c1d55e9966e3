package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal
import graft.sources.Tables

class MultimodalSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("manifest + batched decode produce exact byte statistics") {
    import spark.implicits._
    val docs = Seq((1L, "AB"), (2L, "abc")).toDF("doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, Multimodal.manifest(spark, docs))
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).n_bytes == 2 && feats(1L).head_byte == 65 && feats(1L).byte_sum == 65 + 66)
    assert(feats(2L).n_bytes == 3 && feats(2L).head_byte == 97 && feats(2L).byte_sum == 97 + 98 + 99)
  }

  test("decode sees batches bounded by batchSize") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, "x" * i.toInt)).toDF("doc_id", "text").repartition(2)
    var maxBatch = 0
    val dec = new Multimodal.Decoder {
      override def batchSize: Int = 16
      def decode(b: Seq[Multimodal.Asset]): Seq[Multimodal.Features] = {
        maxBatch = math.max(maxBatch, b.size) // driver-side in local mode? no — use assert via size
        Multimodal.ByteStatsDecoder.decode(b)
      }
    }
    val out = Multimodal.extractFeatures(spark, Multimodal.manifest(spark, docs), dec).collect()
    assert(out.length == 200)
    // batch bound is structural (grouped(batchSize)) — verify totals instead
    assert(out.map(_.n_bytes).sum == (1L to 200L).sum)
  }

  test("full corpus features match source byte lengths") {
    import spark.implicits._
    val docs = Tables.documents(spark, TestSpark.sf)
    val feats = Multimodal.extractFeatures(spark, Multimodal.manifest(spark, docs))
    val joined = feats.toDF().join(docs, "doc_id")
      .filter($"n_bytes" =!= org.apache.spark.sql.functions.octet_length($"text"))
    assert(joined.count() == 0)
  }

  test("frameSample: every-Nth frame, offsets and sums cover the blob exactly") {
    import spark.implicits._
    val text = "a" * 150 // 3 frames of 64: [64, 64, 22]
    val docs = Seq((7L, text)).toDF("doc_id", "text")
    val fr = Multimodal.frameSample(spark, Multimodal.manifest(spark, docs),
      frameSize = 64, everyN = 2).collect().sortBy(_.frame_idx)
    assert(fr.map(f => (f.frame_idx, f.frame_off)).toSeq == Seq((0L, 0L), (2L, 128L)))
    assert(fr(0).frame_sum == 64L * 'a')
    assert(fr(1).frame_sum == 22L * 'a')
    // everyN=1 covers all bytes
    val all = Multimodal.frameSample(spark, Multimodal.manifest(spark, docs), 64, 1).collect()
    assert(all.map(_.frame_sum).sum == 150L * 'a')
  }

  test("HeaderImageDecoder parses real PNG/BMP headers and feeds resizePlan") {
    import spark.implicits._
    def be(v: Int) =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def pngHeader(w: Int, h: Int): Array[Byte] =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        be(13) ++ "IHDR".getBytes("US-ASCII") ++ be(w) ++ be(h) ++
        Array[Byte](8, 6, 0, 0, 0) // bit depth, color type, ...
    def bmpHeader(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](54)
      b(0) = 'B'; b(1) = 'M'
      def le(v: Int, off: Int): Unit = {
        b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
        b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
      }
      le(w, 18); le(h, 22)
      b
    }
    val assets = Seq(
      Multimodal.Asset(1L, "image/png", pngHeader(640, 480)),
      Multimodal.Asset(2L, "image/bmp", bmpHeader(100, -50)), // top-down BMP
      Multimodal.Asset(3L, "text/plain", "not an image".getBytes("UTF-8"))).toDS()
    val feats = Multimodal.extractFeatures(spark, assets, Multimodal.HeaderImageDecoder)
    val m = feats.collect().map(f => f.doc_id -> f).toMap
    assert(m(1L).head_byte == 640L && m(1L).byte_sum == 480L, "PNG IHDR dims")
    assert(m(2L).head_byte == 100L && m(2L).byte_sum == 50L, "BMP dims, |height|")
    assert(m(3L).head_byte == -1L && m(3L).byte_sum == -1L, "non-image sentinel")
    val plan = Multimodal.resizePlan(feats.toDF().filter($"head_byte" > 0), maxDim = 64L)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))).toMap
    assert(plan(1L) == (64L, 48L))
    assert(plan(2L) == (64L, 32L))
  }

  test("blockHash60: planted half-bright blob sets exactly the first-half bits") {
    // 120 bytes: first 60 are 0xFF, rest 0x00 -> blocks 0-29 above mean
    val blob = Array.fill(60)(0xff.toByte) ++ Array.fill(60)(0x00.toByte)
    val h = Multimodal.blockHash60(blob)
    assert(h == (1L << 30) - 1, f"got $h%x")
    // empty and uniform blobs hash to 0 (no block exceeds the mean)
    assert(Multimodal.blockHash60(Array.empty[Byte]) == 0L)
    assert(Multimodal.blockHash60(Array.fill(100)(0x7f.toByte)) == 0L)
    // near-dup invariance: flipping one byte moves few bits
    val tweaked = blob.clone(); tweaked(3) = 0x00.toByte
    val d = java.lang.Long.bitCount(h ^ Multimodal.blockHash60(tweaked))
    assert(d <= 2, s"hamming $d after a 1-byte edit")
  }

  test("blockhashPairs finds planted near-identical structured blobs, skips distinct ones") {
    import spark.implicits._
    // structured "images": a bright-dark gradient and a tiny perturbation
    // of it (1 byte) vs a reversed gradient (far in Hamming space)
    val grad = Array.tabulate(600)(i => (i * 255 / 599).toByte)
    val tweaked = grad.clone(); tweaked(10) = 0xff.toByte
    val reversed = grad.reverse
    val sigs = Seq(
      (1L, Multimodal.blockHash60(grad)),
      (2L, Multimodal.blockHash60(tweaked)),
      (3L, Multimodal.blockHash60(reversed)))
      .toDF("doc_id", "bh")
    val got = Multimodal.blockhashPairs(sigs, maxDist = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("HeaderImageDecoder parses GIF logical screens and JPEG SOF frames") {
    import spark.implicits._
    def gifHeader(w: Int, h: Int): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++
        Array(w.toByte, (w >>> 8).toByte, h.toByte, (h >>> 8).toByte, 0, 0, 0).map(_.toByte)
    // SOI, APP0 (JFIF, 16 bytes), DQT (dummy), then SOF0 with h/w
    def jpegHeader(w: Int, h: Int): Array[Byte] = {
      def seg(marker: Int, payload: Array[Byte]): Array[Byte] =
        Array(0xff.toByte, marker.toByte,
          ((payload.length + 2) >>> 8).toByte, ((payload.length + 2) & 0xff).toByte) ++ payload
      Array(0xff.toByte, 0xd8.toByte) ++
        seg(0xe0, "JFIF".getBytes("US-ASCII") ++ new Array[Byte](10)) ++
        seg(0xdb, new Array[Byte](65)) ++
        seg(0xc0, Array[Byte](8,
          (h >>> 8).toByte, h.toByte, (w >>> 8).toByte, w.toByte, 3))
    }
    val assets = Seq(
      Multimodal.Asset(1L, "image/gif", gifHeader(320, 200)),
      Multimodal.Asset(2L, "image/jpeg", jpegHeader(1024, 768)),
      Multimodal.Asset(3L, "image/jpeg", Array(0xff, 0xd8, 0xff).map(_.toByte)) // truncated
    ).toDS()
    val m = Multimodal.extractFeatures(spark, assets, Multimodal.HeaderImageDecoder)
      .collect().map(f => f.doc_id -> f).toMap
    assert(m(1L).head_byte == 320L && m(1L).byte_sum == 200L, "GIF dims")
    assert(m(2L).head_byte == 1024L && m(2L).byte_sum == 768L, "JPEG SOF dims")
    assert(m(3L).head_byte == -1L && m(3L).byte_sum == -1L, "truncated JPEG sentinel")
  }

  test("HeaderImageDecoder parses all three WebP container variants") {
    import spark.implicits._
    def riff(chunk: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0) ++
        "WEBP".getBytes("US-ASCII") ++ chunk.getBytes("US-ASCII") ++
        Array[Byte](0, 0, 0, 0) ++ payload
    // VP8 lossy: 3-byte frame tag, 9D 01 2A sync, 14-bit LE w then h
    def vp8(w: Int, h: Int) = riff("VP8 ", Array[Byte](0, 0, 0) ++
      Array(0x9d, 0x01, 0x2a, w, w >>> 8, h, h >>> 8).map(_.toByte))
    // VP8L lossless: 0x2F sig, then (w-1 | (h-1)<<14) bit-packed LE
    def vp8l(w: Int, h: Int) = {
      val bits = (w - 1).toLong | ((h - 1).toLong << 14)
      riff("VP8L", Array(0x2f, bits, bits >>> 8, bits >>> 16, bits >>> 24)
        .map(_.toByte) ++ new Array[Byte](5)) // pad past the 30-byte floor
    }
    // VP8X extended: flags + reserved, then 24-bit LE canvas w-1 / h-1
    def vp8x(w: Int, h: Int) = riff("VP8X", Array(0, 0, 0, 0,
      w - 1, (w - 1) >>> 8, (w - 1) >>> 16,
      h - 1, (h - 1) >>> 8, (h - 1) >>> 16).map(_.toByte))
    val assets = Seq(
      Multimodal.Asset(1L, "image/webp", vp8(640, 360)),
      Multimodal.Asset(2L, "image/webp", vp8l(16384, 1)), // 14-bit max width
      Multimodal.Asset(3L, "image/webp", vp8x(70000, 2)), // >16-bit canvas
      Multimodal.Asset(4L, "image/webp", riff("VP8 ", new Array[Byte](10))) // bad sync
    ).toDS()
    val m = Multimodal.extractFeatures(spark, assets, Multimodal.HeaderImageDecoder)
      .collect().map(f => f.doc_id -> (f.head_byte, f.byte_sum)).toMap
    assert(m(1L) == (640L, 360L), s"VP8 lossy dims: ${m(1L)}")
    assert(m(2L) == (16384L, 1L), s"VP8L packed dims: ${m(2L)}")
    assert(m(3L) == (70000L, 2L), s"VP8X 24-bit canvas: ${m(3L)}")
    assert(m(4L) == (-1L, -1L), "missing keyframe sync -> sentinel")
  }

  test("resizePlan: aspect-preserving integer scale, no-op below maxDim") {
    import spark.implicits._
    val feats = Seq(
      Multimodal.Features(1L, 0L, 640L, 480L), // head_byte=w, byte_sum=h
      Multimodal.Features(2L, 0L, 20L, 10L),
      Multimodal.Features(3L, 0L, 1L, 1000L) // extreme aspect: clamp to 1
    ).toDF()
    val out = Multimodal.resizePlan(feats, maxDim = 32L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("out_w"), r.getAs[Long]("out_h"))).toMap
    assert(out(1L) == (32L, 24L))
    assert(out(2L) == (20L, 10L))
    assert(out(3L) == (1L, 32L), s"zero-dim plan must clamp: ${out(3L)}")
  }

  test("mm_phash_pairs recovers exactly the planted clusters (recall 1.0)") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id").as[Long].collect()
    // intra-cluster Hamming <= 2 by construction, so pigeonhole banding
    // at maxDist=3 must find every within-cluster pair
    val expected = docs.groupBy(_ / 5).values
      .map(c => c.length.toLong * (c.length - 1) / 2).sum
    val pairs = SparkEntry.queries("mm_phash_pairs")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length.toLong == expected, s"${pairs.length} vs $expected")
    assert(pairs.forall { case (a, b, h) => a / 5 == b / 5 && h <= 2 })
  }

  test("frameEnergy: squared deviation from the 128 midpoint, per 64-byte frame") {
    import spark.implicits._
    val docs = Seq((1L, "AB")).toDF("doc_id", "text")
    val fe = Multimodal.frameEnergy(spark, Multimodal.manifest(spark, docs), 64).collect()
    // 'A'=65 → (−63)²=3969, 'B'=66 → (−62)²=3844
    assert(fe.toSeq == Seq(Multimodal.FrameEnergy(1L, 0L, 3969L + 3844L)), fe.mkString)
  }

  test("mm_vad_segments: above-mean frames merge into contiguous spans") {
    import spark.implicits._
    // loud = ' ' (d²=9216/byte), quiet = '|' (d²=16/byte):
    // frames [loud, quiet, loud, 10-byte quiet tail] → energies
    // 589824, 1024, 589824, 160; mean 295208 → actives f0 and f2,
    // NON-adjacent, so two single-frame segments.
    val dir = tempDir("vadspec")
    Seq((7L, " " * 64 + "|" * 64 + " " * 64 + "|" * 10))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_vad_segments")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (7L, 1L, 0L, 0L, 1L, 589824L),
      (7L, 2L, 2L, 2L, 1L, 589824L)), got.toString)
  }

  test("mm_audio_peaks: planted loud bands give the hand-computed constellation hash") {
    import spark.implicits._
    // frame 1: 8 spaces in band 3 (' ' d²=9216 → 73728), rest 'a'
    // (961·8=7688): peak p=3, tot=127544, q=73728·15÷127545=8.
    // frame 2: loud band 5 → p=5, q=8. One Δ=1 pair:
    // hash = ((3·16+8)·8+5)·2 = 906.
    val f1 = "a" * 24 + " " * 8 + "a" * 32
    val f2 = "a" * 40 + " " * 8 + "a" * 16
    val dir = tempDir("peaksspec")
    Seq((1L, f1 + f2)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_audio_peaks")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((1L, 2L, 1L, 906L)), got.toString)
  }

  test("mm_audio_match: duplicate assets share their whole constellation; others none") {
    import spark.implicits._
    // docs 1,2 = same 5-frame signal alternating loud bands 1/2
    // (4 distinct hashes: 388, 642, 387, 645); doc 3 = uniform bytes
    // (peak band 0, hashes {16,17}) — no overlap with 1/2.
    def frame(band: Int) = "a" * (band * 8) + " " * 8 + "a" * (64 - band * 8 - 8)
    val sig = frame(1) + frame(2) + frame(1) + frame(2) + frame(1)
    val dir = tempDir("matchspec")
    Seq((1L, sig), (2L, sig), (3L, "b" * 320))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_audio_match")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 4L)), got.toString)
  }

  test("jpegDims accepts a blob truncated exactly after the SOF width bytes") {
    // SOI + SOF0 segment whose last byte is the final width byte
    val sof = Array(0xff, 0xd8, 0xff, 0xc0, 0x00, 0x07,
      0x08, 0x01, 0x00, 0x02, 0x00).map(_.toByte) // h=256, w=512; ends at width
    val got = Multimodal.HeaderImageDecoder
      .decode(Seq(Multimodal.Asset(1L, "image/jpeg", sof))).head
    assert(got.head_byte == 512L && got.byte_sum == 256L, s"$got")
  }

  test("mm_shot_boundaries: a single loud frame among quiet ones flags its two transitions") {
    import spark.implicits._
    // frames: 4 quiet ('|') + 1 loud (' ') + 1 quiet. Deltas (5 of
    // them): [0,0,0,588800,588800]; mean 235520 — the two transition
    // deltas are >=2x mean, the zero deltas are not.
    val text = "|" * 256 + " " * 64 + "|" * 64
    val dir = tempDir("shotspec")
    Seq((9L, text)).toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_shot_boundaries")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (9L, 4L, 588800L, 5L),
      (9L, 5L, 588800L, 5L)), got.toString)
  }
}

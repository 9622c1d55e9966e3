package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, conv, expr, floor, lit, md5, substring, when}
import graft.sources.Tables
import graft.operators.{Flac, Jpeg, Multimodal => MM}

/** SURVEY.md §2-F: the multimodal decode path, hash-verified at the
  * byte level. The oracles iterate the UTF-8 BYTES of the encoded
  * blob (via hex-pair extraction — DuckDB can't index blobs
  * directly), so they agree with the byte-level decoder on ANY
  * corpus, ASCII or not — the r5 code-point/byte caveat is gone. */
object Multimodal {

  private def mmFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = MM.manifest(s, Tables.documents(s, dir))
    MM.extractFeatures(s, assets).toDF().orderBy($"doc_id")
  }

  private val mmFeaturesSql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n FROM documents)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
      |  CAST(CASE WHEN n > 0 THEN CAST('0x' || substring(hx, 1, 2) AS INT)
      |    ELSE -1 END AS BIGINT) AS head_byte,
      |  CAST(COALESCE(list_sum(list_transform(range(1, n + 1),
      |    i -> CAST('0x' || substring(hx, 2*i - 1, 2) AS INT))), 0) AS BIGINT) AS byte_sum
      |FROM h ORDER BY doc_id""".stripMargin

  /** Typed asset manifest: blob + metadata struct, flattened for the
    * oracle. At scale this is the modality-partitioned table every
    * decode job prunes against. */
  private def mmManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir)
      .select($"doc_id",
        lit("text/plain").as("modality"),
        $"text".cast("binary").as("blob"),
        struct($"source", $"lang", $"n_chars").as("meta"))
      .select($"doc_id", $"modality",
        octet_length($"blob").cast("long").as("n_bytes"),
        $"meta.source".as("source"), $"meta.lang".as("lang"))
      .orderBy($"doc_id")
  }

  private val mmManifestSql =
    """SELECT doc_id, 'text/plain' AS modality,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | source, lang
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame sampling (64-byte frames, every 2nd kept): the 1→N video
    * expansion path, hash-verified byte-exactly (hex-pair oracle, like
    * mm_features). */
  private def mmFrameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = MM.manifest(s, Tables.documents(s, dir))
    MM.frameSample(s, assets, frameSize = 64, everyN = 2)
      .toDF().orderBy($"doc_id", $"frame_idx")
  }

  private val mmFrameSampleSql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |f AS (SELECT doc_id, hx, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS frame_idx FROM h)
      |SELECT doc_id, frame_idx, frame_idx * 64 AS frame_off,
      |  CAST(list_sum(list_transform(
      |    range(frame_idx*64 + 1, LEAST(frame_idx*64 + 64, n) + 1),
      |    i -> CAST('0x' || substring(hx, 2*i - 1, 2) AS INT))) AS BIGINT) AS frame_sum
      |FROM f WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Binary-content dedup: group assets by md5 of the BLOB (not the
    * decoded text — the path real image/audio dedup takes), keep the
    * min doc_id. The oracle hashes the same bytes (DuckDB md5 of a
    * VARCHAR digests its UTF-8 encoding — byte-identical to the
    * blob-side md5 on any corpus). At 100 TB the digest is
    * computed in-scan and only the 16-byte key + doc_id shuffle —
    * blobs never move. */
  private def mmHashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    Tables.documents(s, dir)
      .select($"doc_id", $"text".cast("binary").as("blob"))
      .select($"doc_id", md5($"blob").as("blob_md5"),
        octet_length($"blob").cast("long").as("n_bytes"))
      .groupBy($"blob_md5", $"n_bytes")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .select($"blob_md5", $"n_bytes", $"keep_id", $"copies")
      .orderBy($"keep_id")
  }

  private val mmHashDedupSql =
    """SELECT md5(text) AS blob_md5,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | MIN(doc_id) AS keep_id, COUNT(*) AS copies
      |FROM documents
      |GROUP BY md5(text), octet_length(encode(text))
      |ORDER BY keep_id""".stripMargin

  /** Perceptual-style 60-bit blockhash per asset (byte-level stand-in
    * for an image phash — see operators.Multimodal.blockHash60),
    * hash-verified bit-for-bit by a hex-pair byte oracle. */
  private def mmBlockhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    MM.manifest(s, Tables.documents(s, dir))
      .map(a => (a.doc_id, MM.blockHash60(a.blob), a.blob.length.toLong))
      .toDF("doc_id", "blockhash", "n_bytes")
      .orderBy($"doc_id")
  }

  private val mmBlockhashSql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n FROM documents),
      |by AS (SELECT doc_id, n, hx, unnest(range(1, n + 1)) AS i FROM h WHERE n > 0),
      |bb AS (SELECT doc_id, n, ((i - 1) * 60) // n AS blk,
      |    CAST('0x' || substring(hx, 2*i - 1, 2) AS INT) AS v FROM by),
      |bs AS (SELECT doc_id, blk, SUM(v) AS s, COUNT(*) AS c, MAX(n) AS n
      |    FROM bb GROUP BY 1, 2),
      |tt AS (SELECT doc_id, SUM(s) AS total FROM bs GROUP BY 1),
      |bits AS (SELECT bs.doc_id,
      |    SUM(CASE WHEN s * n > total * c
      |      THEN (1::BIGINT << CAST(blk AS INT)) ELSE 0 END) AS bh
      |    FROM bs JOIN tt ON bs.doc_id = tt.doc_id GROUP BY 1)
      |SELECT d.doc_id AS doc_id, CAST(COALESCE(bh, 0) AS BIGINT) AS blockhash,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |FROM documents d LEFT JOIN bits ON d.doc_id = bits.doc_id
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ media round trips
  //
  // Each key below synthesizes one media blob per document from a
  // formula over its fields, encodes it with a from-scratch writer in
  // operators.Multimodal (or Jpeg / Flac), decodes it back through the
  // matching reader inside the scan stage, and aggregates the decoded
  // samples. The oracle never sees a byte: it re-derives every sample
  // from the same formula and replays the aggregate relationally, so
  // one wrong byte anywhere in encode → container walk → decode breaks
  // the hash. Per-doc work is bounded, blobs never shuffle, and only
  // fixed-width rows leave the scan. The keys come in three families —
  // image luma, audio band-energy peaks, video shot cuts — and each
  // family has one Spark harness and one oracle template; a key
  // supplies only its formulas and its round trip.

  private def roundTripFailed(id: Long): Nothing =
    throw new IllegalStateException(s"media round trip failed for doc $id")

  /** Packed 0xRRGGBB gray: BT.601 luma of (v, v, v) is exactly v. */
  private def gray(v: Int): Int = (v << 16) | (v << 8) | v

  /** Image family: per doc a `w`×`h` image whose pixel i = y·w + x has
    * gray value `pv`, round-tripped by `lum(id, w, h)`; emits the exact
    * luma sum and the 60-block perceptual hash
    * ([[MM.blockHash60Samples]]) of the decoded samples. `w` and `h`
    * are SQL expressions over `documents` that both sides evaluate;
    * `pv` (over `doc_id`, `w` and `i`) is the oracle's copy of the pixel
    * formula the round trip draws. */
  private def lumaKey(w: String, h: String, pv: String)(
      lum: (Long, Int, Int) => Option[Array[Long]]): QueryDef = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id".cast("long"), expr(w).cast("int"), expr(h).cast("int"))
        .as[(Long, Int, Int)]
        .map { case (id, width, height) =>
          val l = lum(id, width, height).getOrElse(roundTripFailed(id))
          (id, width.toLong, height.toLong, l.sum, MM.blockHash60Samples(l))
        }
        .toDF("doc_id", "w", "h", "luma_sum", "blockhash")
        .orderBy($"doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id,
       |    CAST($w AS BIGINT) AS w,
       |    CAST($h AS BIGINT) AS h FROM documents),
       |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
       |pv AS (SELECT doc_id, w, h, i, $pv AS v FROM px),
       |bs AS (SELECT doc_id, (i * 60) // (w * h) AS blk,
       |    SUM(v) AS s, COUNT(*) AS c FROM pv GROUP BY 1, 2),
       |tt AS (SELECT doc_id, SUM(s) AS total, SUM(c) AS n FROM bs GROUP BY 1),
       |bits AS (SELECT bs.doc_id,
       |    SUM(CASE WHEN s * n > total * c
       |      THEN (1::BIGINT << CAST(blk AS INT)) ELSE 0 END) AS bh
       |  FROM bs JOIN tt USING (doc_id) GROUP BY 1)
       |SELECT d.doc_id, d.w, d.h, CAST(tt.total AS BIGINT) AS luma_sum,
       |  CAST(COALESCE(bits.bh, 0) AS BIGINT) AS blockhash
       |FROM d JOIN tt USING (doc_id) LEFT JOIN bits USING (doc_id)
       |ORDER BY doc_id""".stripMargin))

  /** BMP ([[MM.bmpLuminance]]): pixel-array offset, 4-byte row
    * padding, BGR order, bottom-up rows — the actual bits of the
    * uncompressed container. */
  private val mmBmpLuma = lumaKey("n_chars % 24 + 4", "doc_id * 11 % 20 + 3",
      "(doc_id * 31 + i) % 256") { (id, w, h) =>
    MM.bmpLuminance(MM.bmpImage(w, h, (x, y) => gray(((id * 31 + y.toLong * w + x) % 256).toInt)))
  }

  /** PNG ([[MM.pngLuminance]]), the dominant lossless web format: the
    * encoder applies scanline filter (y + doc_id) % 5 per row, so all
    * five de-filter branches run across the corpus; odd docs are RGBA
    * with opaque alpha, even docs RGB. The decode is the complete
    * pipeline: chunk walk over split IDATs, zlib inflate, de-filter. */
  private val mmPngLuma = lumaKey("n_chars % 24 + 4", "doc_id * 13 % 20 + 3",
      "(doc_id * 37 + i) % 256") { (id, w, h) =>
    MM.pngLuminance(MM.pngImage(w, h, (x, y) => gray(((id * 37 + y.toLong * w + x) % 256).toInt),
      alpha = id % 2 == 1, filterSeed = (id % 5).toInt))
  }

  /** GIF89a ([[MM.gifLuminance]]), the first container with a
    * compression codec of our own (variable-width LZW; PNG leans on JDK
    * zlib): odd docs interlaced (the decoder must reorder the 4-pass
    * rows), every third doc carries a comment extension (the decoder
    * must walk sub-blocks). One wrong bit in LZW pack → unpack,
    * interlace order or palette lookup breaks the hash. */
  private val mmGifLuma = lumaKey("n_chars % 21 + 4", "doc_id * 11 % 17 + 3",
      "(doc_id * 53 + i) % 256") { (id, w, h) =>
    MM.gifLuminance(MM.gifImage(w, h, (x, y) => ((id * 53 + y.toLong * w + x) % 256).toInt,
      interlaced = id % 2 == 1, comment = id % 3 == 0))
  }

  /** The two JPEG keys: a LOSSY codec with an EXACT oracle. Pixels are
    * constant per 8×8 cell, value (id·seed + cellRow·nbx + cellCol) %
    * 256, where the FDCT is DC-only (DC = 8·(v−128)) and the DC quant
    * step of 8 makes the round trip bit-exact, while the decoder stays
    * a fully general implementation (gradient content is
    * cross-validated against ImageIO both directions in
    * JpegDecodeSpec). Docs rotate the three encoder profiles —
    * grayscale, 4:4:4, 4:2:0 — so the 1-, 3- and 6-block MCU walks all
    * run. `hMul` varies the height law per key. */
  private def jpegLumaKey(seed: Long, hMul: Long, progressive: Boolean): QueryDef =
    lumaKey("n_chars % 24 + 4", s"doc_id * $hMul % 20 + 3",
        s"(doc_id * $seed + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8)) % 256") {
      (id, w, h) =>
        val nbx = (w + 7) / 8
        Jpeg.luminance(Jpeg.encode(w, h,
          (x, y) => gray(((id * seed + (y / 8).toLong * nbx + (x / 8)) % 256).toInt),
          gray = id % 3 == 0, subsample420 = id % 3 == 1, progressive = progressive))
    }

  /** Baseline JFIF ([[Jpeg]]): FDCT, quantization, Annex-K Huffman and
    * byte stuffing, decoded through the marker walk, DQT/DHT parse, MCU
    * interleave, Huffman decode, dequant, IDCT and YCbCr→RGB. */
  private val mmJpegLuma = jpegLumaKey(seed = 41L, hMul = 17L, progressive = false)
    .copy(bench = true)

  /** Progressive (SOF2) JPEG: an interleaved DC scan plus per-component
    * full-band AC scans, decoded through the multi-scan coefficient
    * accumulation (T.81 Annex G: scan sequencing, EOB0 codes,
    * non-interleaved component grids, reconstruction at EOI). The
    * successive-approximation refinement arms are cross-validated
    * against ImageIO's progressive writer in JpegDecodeSpec; no exact
    * oracle exists for foreign quant tables. */
  private val mmJpegProgLuma = jpegLumaKey(seed = 47L, hMul = 19L, progressive = true)

  /** Audio family: per doc `decode(id, n_chars)` renders a signal to a
    * container and returns the decoded (sample rate, mono samples); the
    * harness frames them with [[MM.sampleBandEnergy]] (64-sample frames,
    * 8 bands) and emits per frame the peak band (lowest on ties), its
    * energy and the frame total. `head` is the oracle's copy of the
    * signal: CTEs ending in `mix(doc_id, rate, i, s)`, one row per
    * decoded mono sample. */
  private def peaksKey(head: String)(
      decode: (Long, Long) => Option[(Int, Array[Int])]): QueryDef = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id".cast("long"), $"n_chars".cast("long"))
        .as[(Long, Long)]
        .flatMap { case (id, nChars) =>
          val (rate, mono) = decode(id, nChars).getOrElse(roundTripFailed(id))
          MM.sampleBandEnergy(mono, frameSize = 64, nBands = 8)
            .iterator.zipWithIndex.map { case (bands, f) =>
              val peak = bands.zipWithIndex.maxBy { case (e, b) => (e, -b) }
              (id, rate.toLong, f.toLong, peak._2.toLong, peak._1, bands.sum)
            }
        }
        .toDF("doc_id", "sample_rate", "frame_idx", "peak_band", "max_energy",
          "tot_energy")
        .orderBy($"doc_id", $"frame_idx")
    },
    Some(head + """,
      |be AS (SELECT doc_id, rate, i // 64 AS frame_idx, (i % 64) // 8 AS band,
      |    SUM(s * s) AS energy
      |  FROM mix GROUP BY 1, 2, 3, 4),
      |pk AS (SELECT doc_id, rate, frame_idx, band, energy,
      |    SUM(energy) OVER (PARTITION BY doc_id, frame_idx) AS tot,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id, frame_idx
      |      ORDER BY energy DESC, band) AS rk
      |  FROM be)
      |SELECT doc_id, CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(band AS BIGINT) AS peak_band,
      |  CAST(energy AS BIGINT) AS max_energy,
      |  CAST(tot AS BIGINT) AS tot_energy
      |FROM pk WHERE rk = 1
      |ORDER BY doc_id, frame_idx""".stripMargin))

  /** WAV/PCM16 ([[MM.wavSamples]], r12 VERDICT #6): a square wave whose
    * half-period, amplitude, length and rate are doc-derived; odd docs
    * stereo (ch2 = ch1/2, so the mono mixdown is a nontrivial exact
    * integer), every third doc carries an odd-length LIST chunk between
    * fmt and data (word-aligned chunk walking, not offset arithmetic). */
  private val mmWavPeaks = peaksKey(
    """WITH d AS (SELECT doc_id,
      |    CAST(doc_id % 13 + 4 AS BIGINT) AS p,
      |    CAST(200 + n_chars % 800 AS BIGINT) AS amp,
      |    CAST(64 * (doc_id % 6 + 2) AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS rate
      |  FROM documents),
      |sm AS (SELECT doc_id, rate, unnest(range(0, n)) AS i, p, amp FROM d),
      |mono AS (SELECT doc_id, rate, i,
      |    CASE WHEN (i // p) % 2 = 0 THEN amp ELSE -amp END AS s0
      |  FROM sm),
      |mix AS (SELECT doc_id, rate, i,
      |    CASE WHEN doc_id % 2 = 1 THEN (s0 + (s0 // 2)) // 2 ELSE s0 END AS s
      |  FROM mono)""".stripMargin) { (id, nChars) =>
    val p = (id % 13 + 4).toInt          // half-period in samples
    val amp = (200 + nChars % 800).toInt // peak amplitude
    val n = (64 * (id % 6 + 2)).toInt    // whole frames only
    val rate = (8000 + (id % 5) * 1000).toInt
    val mono = Array.tabulate(n)(i => if ((i / p) % 2 == 0) amp else -amp)
    val ch = if (id % 2 == 1) 2 else 1
    val pcm = Array.tabulate(ch * n) { j =>
      val v = mono(j / ch); (if (j % ch == 0) v else v / 2).toShort
    }
    MM.wavSamples(MM.wavPcm16(rate, ch, pcm, junkChunk = id % 3 == 0))
      .collect { case (r, `ch`, 1, s) => (r, s) }
  }

  /** G.711 μ-law through the same RIFF walk (fmt tag 7, a REAL codec
    * behind the container): the square wave's amplitudes are exact
    * μ-law fixed points (128·m + 1980, the e=4 quantizer rungs, where
    * decode∘encode is the identity), so the oracle recomputes every
    * decoded sample from the formula. Odd docs stereo with a second
    * fixed-point amplitude; every third doc carries the LIST chunk. The
    * G.711 tables are cross-validated against javax.sound's ULAW codec
    * in AudioCodecSpec. */
  private val mmUlawPeaks = peaksKey(
    """WITH d AS (SELECT doc_id,
      |    CAST(doc_id % 11 + 3 AS BIGINT) AS p,
      |    CAST(1980 + 128 * (n_chars % 16) AS BIGINT) AS amp1,
      |    CAST(1980 + 128 * ((n_chars + 5) % 16) AS BIGINT) AS amp2,
      |    CAST(64 * (doc_id % 5 + 2) AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS rate
      |  FROM documents),
      |sm AS (SELECT doc_id, rate, unnest(range(0, n)) AS i, p, amp1, amp2
      |  FROM d),
      |mix AS (SELECT doc_id, rate, i,
      |    (CASE WHEN (i // p) % 2 = 0 THEN 1 ELSE -1 END) *
      |    (CASE WHEN doc_id % 2 = 1 THEN (amp1 + amp2) // 2 ELSE amp1 END) AS s
      |  FROM sm)""".stripMargin) { (id, nChars) =>
    val p = (id % 11 + 3).toInt
    val amp1 = (1980 + 128 * (nChars % 16)).toInt // exact μ-law rung
    val amp2 = (1980 + 128 * ((nChars + 5) % 16)).toInt
    val n = (64 * (id % 5 + 2)).toInt
    val rate = (8000 + (id % 3) * 4000).toInt
    val ch = if (id % 2 == 1) 2 else 1
    val pcm = Array.tabulate(ch * n) { j =>
      (if ((j / ch / p) % 2 == 0) 1 else -1) * (if (j % ch == 0) amp1 else amp2)
    }
    MM.wavSamples(MM.wavUlaw(rate, ch, pcm, junkChunk = id % 3 == 0))
      .collect { case (r, `ch`, 7, s) => (r, s) }
  }

  /** IMA/DVI ADPCM through the WAV container (fmt tag 0x11): the
    * PREDICTIVE codec, stateful where μ-law is a table. Each 65-sample
    * block's amplitude is constant, which makes the lossy codec EXACT —
    * the block header stores the first sample verbatim and nibble 0 at
    * step 7 decodes to +0 — so the oracle recomputes every decoded
    * sample as amp(i div 65), and one wrong nibble, step-table entry or
    * block boundary breaks the hash. General-signal behavior is
    * property-pinned in AudioCodecSpec. */
  private val mmAdpcmPeaks = peaksKey(
    """WITH d AS (SELECT doc_id, n_chars,
      |    CAST(doc_id % 4 + 2 AS BIGINT) AS nb
      |  FROM documents),
      |sm AS (SELECT doc_id, n_chars, unnest(range(0, nb * 65)) AS i FROM d),
      |mix AS (SELECT doc_id, 8000 AS rate, i,
      |    ((n_chars + 37 * (i // 65) + doc_id) % 32001) - 16000 AS s
      |  FROM sm)""".stripMargin) { (id, nChars) =>
    val spb = 65
    val amps = Array.tabulate((id % 4 + 2).toInt)(b =>
      (((nChars + 37L * b + id) % 32001L) - 16000L).toInt)
    val samples = Array.tabulate(amps.length * spb)(i => amps(i / spb))
    MM.wavSamples(MM.wavImaAdpcm(8000, samples, spb))
      .collect { case (r, _, 0x11, s) if s.length == samples.length => (r, s) }
  }

  /** LOSSLESS FLAC ([[Flac]]: Rice coding, fixed predictors, stereo
    * decorrelation). Losslessness makes the oracle exact for ANY integer
    * signal, so the signal is deliberately rich: each 64-sample stretch
    * rotates constant / ramp / square, landing in the CONSTANT / FIXED /
    * FIXED-or-VERBATIM subframe types; odd docs are stereo through a
    * rotating decorrelation mode (independent / left-side / right-side
    * / mid-side — the side channel exercises 17-bit subframes), and
    * block size 256 splits every doc into several CRC'd frames with a
    * ragged tail. */
  private val mmFlacPeaks = peaksKey(
    """WITH d AS (SELECT doc_id,
      |    CAST(doc_id % 13 + 4 AS BIGINT) AS p,
      |    CAST(200 + n_chars % 800 AS BIGINT) AS amp,
      |    CAST(64 * (doc_id % 6 + 2) AS BIGINT) AS n,
      |    CAST(8000 + (doc_id % 5) * 1000 AS BIGINT) AS rate
      |  FROM documents),
      |sm AS (SELECT doc_id, rate, unnest(range(0, n)) AS i, p, amp FROM d),
      |mono AS (SELECT doc_id, rate, i,
      |    CASE (i // 64) % 3
      |      WHEN 0 THEN amp
      |      WHEN 1 THEN amp - 5 * (i % 64)
      |      ELSE CASE WHEN (i // p) % 2 = 0 THEN amp ELSE -amp END
      |    END AS s0
      |  FROM sm),
      |mix AS (SELECT doc_id, rate, i,
      |    CASE WHEN doc_id % 2 = 1 THEN (s0 + (s0 // 2 - 50)) // 2 ELSE s0 END AS s
      |  FROM mono)""".stripMargin) { (id, nChars) =>
    val p = (id % 13 + 4).toInt
    val amp = (200 + nChars % 800).toInt
    val n = (64 * (id % 6 + 2)).toInt
    val rate = (8000 + (id % 5) * 1000).toInt
    val mono = Array.tabulate(n) { i =>
      (i / 64) % 3 match {
        case 0 => amp
        case 1 => amp - 5 * (i % 64)
        case _ => if ((i / p) % 2 == 0) amp else -amp
      }
    }
    val stereo = id % 2 == 1
    val chans = if (stereo) Array(mono, mono.map(_ / 2 - 50)) else Array(mono)
    // odd ids are 1/3/5/7 mod 8 — map them onto all four stereo modes
    val mode = if (!stereo) -1 else ((id % 8) / 2).toInt match {
      case 0 => -1; case 1 => 8; case 2 => 9; case _ => 10
    }
    Flac.decode(Flac.encode(rate, chans, blockSize = 256, chMode = mode)).collect {
      case (`rate`, out) if out.length == chans.length =>
        (rate, if (stereo) Array.tabulate(n)(i => (out(0)(i) + out(1)(i)) / 2) else out(0))
    }
  }

  /** A video clip's geometry from its doc: `w`×`h` frames, `n` of them,
    * with ONE planted cut (brightness +128) from frame `c` on. */
  private final case class Clip(id: Long, w: Int, h: Int, n: Int, c: Int)

  private def clip(id: Long, nChars: Long): Clip = {
    val n = (id % 5 + 6).toInt
    Clip(id, (nChars % 9 + 4).toInt, (id % 7 + 3).toInt, n, (2 + (id * 7) % (n - 3)).toInt)
  }

  /** The Motion-JPEG frames of `k`, cut at frame `cut`: constant 8×8
    * cells with base values in 0..99 (no mod-wrap inside a clip), + the
    * frame index, + 128 from `cut` on, through the baseline JPEG
    * encoder in the doc's profile (grayscale / 4:2:0 / 4:4:4 by
    * id % 3). Constant cells keep the round trip bit-exact, so
    * within-shot deltas are EXACTLY w·h (the +1 drift) against 129·w·h
    * at the cut. */
  private def mjpegClip(k: Clip, cut: Int): Seq[Array[Byte]] = {
    val nbx = (k.w + 7) / 8
    (0 until k.n).map { f =>
      Jpeg.encode(k.w, k.h, (x, y) =>
        gray(((k.id * 31 + (y / 8).toLong * nbx + (x / 8)) % 100).toInt + f +
          (if (f >= cut) 128 else 0)),
        gray = k.id % 3 == 0, subsample420 = k.id % 3 == 1)
    }
  }

  /** The oracle's per-pixel law of [[mjpegClip]], for `pv`. */
  private val MjpegPixel =
    """(doc_id * 31 + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8)) % 100
      |      + f + CASE WHEN f >= c THEN 128 ELSE 0 END""".stripMargin

  /** Video family: per doc the [[clip]] is rendered and decoded back by
    * `decode` to (w, h, one luma array per frame); the harness emits
    * per frame after the first its luma sum and pixel-level L1 delta
    * against the previous frame, with `is_cut` = delta above the
    * 64·w·h threshold (within-shot deltas ≈ w·h to 2·w·h from the +1
    * phase drift, cut deltas ≈ 129·w·h — exact integer margins,
    * spec-pinned). `pv` is the oracle's copy of the pixel formula, over
    * `doc_id`, `w`, `c`, frame `f` and pixel `i`. */
  private def shotsKey(pv: String)(
      decode: Clip => Option[(Int, Int, Array[Array[Long]])]): QueryDef = QueryDef(
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id".cast("long"), $"n_chars".cast("long"))
        .as[(Long, Long)]
        .flatMap { case (id, nChars) =>
          val k = clip(id, nChars)
          val (gw, gh, frames) = decode(k).getOrElse(roundTripFailed(id))
          require(gw == k.w && gh == k.h && frames.length == k.n,
            s"video decode shape mismatch for doc $id")
          (1 until k.n).iterator.map { f =>
            val cur = frames(f); val prev = frames(f - 1)
            var delta = 0L; var sum = 0L; var i = 0
            while (i < cur.length) {
              delta += math.abs(cur(i) - prev(i)); sum += cur(i); i += 1
            }
            (id, f.toLong, sum, delta, delta > 64L * k.w * k.h)
          }
        }
        .toDF("doc_id", "frame_idx", "luma_sum", "delta_l1", "is_cut")
        .orderBy($"doc_id", $"frame_idx")
    },
    Some(s"""WITH d AS (SELECT doc_id,
       |    CAST(n_chars % 9 + 4 AS BIGINT) AS w,
       |    CAST(doc_id % 7 + 3 AS BIGINT) AS h,
       |    CAST(doc_id % 5 + 6 AS BIGINT) AS n,
       |    CAST(2 + (doc_id * 7) % (doc_id % 5 + 3) AS BIGINT) AS c
       |  FROM documents),
       |px AS (SELECT doc_id, w, h, n, c, unnest(range(0, w * h)) AS i FROM d),
       |fr AS (SELECT doc_id, w, h, c, i, unnest(range(0, n)) AS f FROM px),
       |pv AS (SELECT doc_id, w, h, f, i,
       |    $pv AS v
       |  FROM fr),
       |agg AS (SELECT doc_id, w, h, f, SUM(v) AS luma_sum
       |  FROM pv GROUP BY 1, 2, 3, 4),
       |dl AS (SELECT cur.doc_id, cur.f AS frame_idx,
       |    SUM(ABS(cur.v - prv.v)) AS delta
       |  FROM pv cur JOIN pv prv
       |    ON prv.doc_id = cur.doc_id AND prv.i = cur.i AND prv.f = cur.f - 1
       |  GROUP BY 1, 2)
       |SELECT g.doc_id, CAST(dl.frame_idx AS BIGINT) AS frame_idx,
       |  CAST(g.luma_sum AS BIGINT) AS luma_sum,
       |  CAST(dl.delta AS BIGINT) AS delta_l1,
       |  dl.delta > 64 * g.w * g.h AS is_cut
       |FROM dl JOIN agg g ON g.doc_id = dl.doc_id AND g.f = dl.frame_idx
       |ORDER BY g.doc_id, frame_idx""".stripMargin))

  /** Raw AVI ([[MM.aviFrameLuma]]): the LIST hdrl/strl/movi tree with
    * raw 24-bpp DIB frames in BMP raster layout, every third doc
    * carrying an odd-length JUNK chunk (word-aligned tree walking). */
  private val mmAviShots = shotsKey(
    """CASE WHEN f < c THEN (doc_id * 31 + f + i) % 120
      |         ELSE 128 + (doc_id * 31 + f + i) % 120 END""".stripMargin) { k =>
    MM.aviFrameLuma(MM.aviRawVideo(k.w, k.h, k.n, (f, x, y) => {
      val base = ((k.id * 31 + f + y.toLong * k.w + x) % 120).toInt
      gray(if (f < k.c) base else 128 + base)
    }, junk = k.id % 3 == 0))
  }

  /** Motion-JPEG in AVI ([[MM.aviMjpegFrameLuma]]), the layout capture
    * pipelines emit: MJPG fourcc, '00dc' compressed chunks with
    * word-aligned odd JPEG sizes, every third doc a JUNK chunk, decoded
    * through BOTH layers we own — the RIFF tree walk AND the full T.81
    * Huffman/IDCT pipeline per frame. */
  private val mmMjpegShots = shotsKey(MjpegPixel) { k =>
    MM.aviMjpegFrameLuma(MM.aviMjpegVideo(k.w, k.h, mjpegClip(k, k.c), junk = k.id % 3 == 0))
  }

  /** [[mmMjpegShots]] with the RIFF/AVI layer swapped for the ISO-BMFF
    * (MP4) sample table — identical frames, JPEG layer and cut
    * detector, so the oracle is the same: the two container walks are
    * interchangeable in front of the codec stack (the same video dedups
    * identically however it was wrapped). Chunking, co64 and the audio
    * track rotate per doc as in [[mmMp4Manifest]]. */
  private val mmMp4Shots = shotsKey(MjpegPixel) { k =>
    MM.mp4MjpegFrameLuma(MM.mp4MjpegVideo(k.w, k.h, mjpegClip(k, k.c), timescale = 90000,
      sampleDelta = 3000, samplesPerChunk = (k.id % 3 + 1).toInt,
      co64 = k.id % 4 == 0, audioTrack = k.id % 3 == 0))
  }

  /** FRAGMENTED MP4 (fMP4, the DASH/HLS segment layout of crawled
    * streaming video), the third container in front of the one codec
    * stack, so again the same oracle: the sample table lives in
    * per-fragment moof/traf/trun boxes (empty stbl, trex defaults,
    * moof-relative data offsets). Fragment size rotates 2/3/4 frames;
    * per-sample trun durations carry the 2×-last-sample run. The
    * require pins that the fragmented walk resolves the sample table
    * (sizes + durations) of the frames — content equality, since byte
    * offsets differ between the layouts. */
  private val mmMp4FragShots = shotsKey(MjpegPixel) { k =>
    val jpegs = mjpegClip(k, k.c)
    val frag = MM.mp4FragmentedMjpeg(k.w, k.h, jpegs, timescale = 90000,
      sampleDelta = 3000, framesPerFragment = (k.id % 3 + 2).toInt)
    val v = MM.mp4Walk(frag).flatMap(_.tracks.find(_.handler == "vide"))
      .getOrElse(roundTripFailed(k.id))
    require(v.samples.map(x => (x._2, x._3)).toSeq ==
        jpegs.zipWithIndex.map { case (j, i) =>
          (j.length, if (i == k.n - 1) 6000L else 3000L) },
      s"fragmented sample table disagrees with the frames for doc ${k.id}")
    MM.mp4MjpegFrameLuma(frag)
  }

  /** ISO-BMFF (MP4) SAMPLE-TABLE decode, proven at the metadata layer
    * the format exists for: per doc the uncut [[mjpegClip]] goes into a
    * real MP4 (ftyp + chunked mdat + full moov tree) — frames-per-chunk
    * rotates 1/2/3 (multi-sample stsc runs), every fourth doc stores
    * 64-bit co64 offsets, every third carries an interleaved audio
    * track the walk must not confuse with video, and stts is genuinely
    * run-length (last sample 2× duration). [[MM.mp4Walk]] then
    * re-derives track count, dims, timescale, duration (Σ stts) and
    * sample count from the box tree alone, and the decoded first-frame
    * luma proves stsc×stco×stsz resolved to the right mdat bytes (an
    * off-by-one chunk join decodes garbage or nothing). */
  private def mmMp4Manifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val k = clip(id, nChars)
        val n = k.n
        val delta = (3000 + (id % 4) * 750).toInt
        val mp4 = MM.mp4MjpegVideo(k.w, k.h, mjpegClip(k, cut = n), timescale = 90000,
          sampleDelta = delta, samplesPerChunk = (id % 3 + 1).toInt,
          co64 = id % 4 == 0, audioTrack = id % 3 == 0)
        val info = MM.mp4Walk(mp4).getOrElse(
          throw new IllegalStateException(s"mp4 walk failed for doc $id"))
        val v = info.tracks.find(_.handler == "vide").getOrElse(
          throw new IllegalStateException(s"no video track for doc $id"))
        require(v.fourcc == "jpeg" && v.timescale == 90000L,
          s"video entry mismatch for doc $id")
        require(v.samples.length == n && v.duration == (n + 1).toLong * delta,
          s"sample table mismatch for doc $id")
        require(v.samples.map(_._3).sum == v.duration,
          s"stts expansion disagrees with mdhd duration for doc $id")
        // decode frame 0 THROUGH the resolved byte range: the join is
        // wrong unless these bytes are exactly the first JPEG
        val (o0, l0, _) = v.samples(0)
        val luma0 = Jpeg.luminanceWithDims(
          java.util.Arrays.copyOfRange(mp4, o0.toInt, o0.toInt + l0)) match {
          case Some((fw, fh, l)) if fw == k.w && fh == k.h => l.sum
          case _ => throw new IllegalStateException(s"frame 0 undecodable for doc $id")
        }
        (id, info.tracks.length.toLong, v.width.toLong, v.height.toLong,
          n.toLong, v.duration, ((n + 1).toLong * delta * 1000) / 90000, luma0)
      }
      .toDF("doc_id", "n_tracks", "width", "height", "n_samples",
        "duration_ticks", "duration_ms", "luma0")
      .orderBy($"doc_id")
  }

  private val mmMp4ManifestSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 9 + 4 AS BIGINT) AS w,
      |    CAST(doc_id % 7 + 3 AS BIGINT) AS h,
      |    CAST(doc_id % 5 + 6 AS BIGINT) AS n,
      |    CAST(3000 + (doc_id % 4) * 750 AS BIGINT) AS delta
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      |l0 AS (SELECT doc_id,
      |    SUM((doc_id * 31 + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8)) % 100)
      |      AS luma0
      |  FROM px GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(CASE WHEN d.doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
      |  d.w AS width, d.h AS height, d.n AS n_samples,
      |  CAST((d.n + 1) * d.delta AS BIGINT) AS duration_ticks,
      |  CAST((d.n + 1) * d.delta * 1000 // 90000 AS BIGINT) AS duration_ms,
      |  CAST(l0.luma0 AS BIGINT) AS luma0
      |FROM d JOIN l0 USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** Resize planning off REAL header-decoded dimensions: a
    * deterministic BMP header is synthesized per doc (w, h derived
    * from doc fields), [[graft.operators.Multimodal.HeaderImageDecoder]]
    * parses the actual bytes back, and resizePlan emits the
    * aspect-preserving integer target (maxDim 256; w ≤ 900 so both
    * the shrink and the no-op branches are exercised). The oracle
    * recomputes (w, h) from the same doc fields and replays the
    * integer CASE arithmetic — a one-byte drift in the header build
    * or the parse walk would shift dims and break the hash. */
  private def mmResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = Tables.documents(s, dir)
      .select($"doc_id".cast("long"),
        ($"n_chars" % 900 + 1).cast("int").as("w"),
        ($"doc_id" * 7 % 700 + 1).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) => MM.Asset(id, "image/bmp", MM.bmpHeader(w, h)) }
    val feats = MM.extractFeatures(s, assets, MM.HeaderImageDecoder)
    MM.resizePlan(feats.toDF(), maxDim = 256L).orderBy($"doc_id")
  }

  private val mmResizeSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 900 + 1 AS BIGINT) AS w,
      |    CAST((doc_id * 7) % 700 + 1 AS BIGINT) AS h FROM documents)
      |SELECT doc_id, w, h,
      |  CASE WHEN GREATEST(w, h) <= 256 THEN w
      |    ELSE GREATEST(1, (w * 256 + GREATEST(w, h) // 2) // GREATEST(w, h))
      |  END AS out_w,
      |  CASE WHEN GREATEST(w, h) <= 256 THEN h
      |    ELSE GREATEST(1, (h * 256 + GREATEST(w, h) // 2) // GREATEST(w, h))
      |  END AS out_h
      |FROM d ORDER BY doc_id""".stripMargin

  /** Perceptual-hash near-dup pair join over PLANTED signatures: the
    * corpus has no real images, so 60-bit "phash" signatures are
    * synthesized deterministically with known cluster structure —
    * 5-doc clusters share an md5-derived base hash and each non-root
    * member flips one known bit, so intra-cluster Hamming ≤ 2 and
    * cross-cluster ≈ 30. [[graft.operators.Multimodal.blockhashPairs]]
    * (the REAL pigeonhole-banded operator: maxDist+1 bands, a pair
    * within distance d must agree exactly on ≥ 1 band) then recovers
    * exactly the planted pairs. The oracle replays signature
    * synthesis, banding, and the Hamming filter bit-for-bit.
    *
    * Scale shape: the operator's join is an EQUI-join on (band, bits)
    * — 4 fixed-width rows per image shuffle, never blobs; candidate
    * fan-out is band-bucket-bounded, the same LSH-style candidate
    * generation as dedup_minhash_banded but in Hamming space. */
  private def mmPhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = Tables.documents(s, dir)
      .select($"doc_id",
        conv(substring(md5(concat(lit("ph:"), floor($"doc_id" / 5))), 1, 15), 16, 10)
          .cast("long").as("base"),
        when($"doc_id" % 5 === 0, lit(0L))
          .otherwise(org.apache.spark.sql.functions.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST((doc_id * 13) % 60 AS INT))"))
          .as("flip"))
      .select($"doc_id", $"base".bitwiseXOR($"flip").as("bh"))
    MM.blockhashPairs(sigs, maxDist = 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private val mmPhashPairsSql =
    """WITH sig AS (SELECT doc_id,
      |    xor(CAST('0x' || substring(md5('ph:' || CAST(doc_id // 5 AS VARCHAR)), 1, 15) AS BIGINT),
      |        CASE WHEN doc_id % 5 = 0 THEN 0
      |             ELSE (1::BIGINT << CAST((doc_id * 13) % 60 AS INT)) END) AS bh
      |  FROM documents),
      |banded AS (SELECT doc_id, bh, band,
      |    (bh >> CAST(band * 15 AS INT)) & 32767 AS bits
      |  FROM (SELECT doc_id, bh, unnest(range(0, 4)) AS band FROM sig) t)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.bh, b.bh)) AS BIGINT) AS hamming
      |FROM banded a JOIN banded b
      |  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.bh, b.bh)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ mm_vad_segments

  /** Energy-threshold activity segmentation (the VAD shape: detect
    * active spans in a PCM stream, emit one row per contiguous span).
    * The blob's bytes stand in for 8-bit PCM samples; a real audio
    * pipeline would swap the byte-energy kernel for decoded samples —
    * the Spark-side plumbing (in-scan framing, per-doc keyed windows,
    * islands-and-gaps merge) is the real thing.
    *
    * A frame is active iff its energy ≥ the document mean, tested as
    * the exact integer cross-multiplication energy·n_frames ≥ Σenergy
    * (no division anywhere). Consecutive active frames merge via the
    * frame_idx − row_number islands trick. Every window is keyed by
    * doc_id, so parallelism follows the corpus. */
  private def mmVadSegments(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, max, min, row_number, sum}
    val fe = MM.frameEnergy(s, MM.manifest(s, Tables.documents(s, dir)),
      frameSize = 64).toDF()
    val docW = Window.partitionBy(col("doc_id"))
    val seq = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val active = fe
      .withColumn("nf", count(lit(1)).over(docW))
      .withColumn("tot", sum(col("energy")).over(docW))
      .filter(col("energy") * col("nf") >= col("tot"))
    active
      .withColumn("grp", col("frame_idx") - row_number().over(seq))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("energy_sum"))
      .withColumn("seg_idx", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))).cast("long"))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("energy_sum"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }

  private val mmVadSegmentsSql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |f AS (SELECT doc_id, hx, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS frame_idx FROM h),
      |fe AS (SELECT doc_id, frame_idx,
      |  CAST(list_sum(list_transform(
      |    range(frame_idx*64 + 1, LEAST(frame_idx*64 + 64, n) + 1),
      |    i -> (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128)
      |       * (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128)))
      |    AS BIGINT) AS energy
      |  FROM f),
      |act AS (SELECT doc_id, frame_idx, energy,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS nf,
      |    SUM(energy) OVER (PARTITION BY doc_id) AS tot
      |  FROM fe),
      |g AS (SELECT doc_id, frame_idx, energy,
      |    frame_idx - ROW_NUMBER() OVER
      |      (PARTITION BY doc_id ORDER BY frame_idx) AS grp
      |  FROM act WHERE energy * nf >= tot),
      |segs AS (SELECT doc_id, MIN(frame_idx) AS start_frame,
      |    MAX(frame_idx) AS end_frame, COUNT(*) AS n_frames,
      |    CAST(SUM(energy) AS BIGINT) AS energy_sum
      |  FROM g GROUP BY doc_id, grp)
      |SELECT doc_id,
      |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start_frame) AS seg_idx,
      |  start_frame, end_frame, n_frames, energy_sum
      |FROM segs
      |ORDER BY doc_id, seg_idx""".stripMargin

  // ------------------------------------------------- mm_audio_peaks / match

  /** Shared constellation-fingerprint derivation (Wang 2003 / the
    * Shazam shape on byte blobs): 64-byte frames → 8 band energies
    * (in-scan, blobs never shuffle) → per-frame peak band p (argmax,
    * tie → lower band) + peak-strength quantum q = (maxv·15) div
    * (tot+1) ∈ [0,15] → anchor-pair hashes over Δ ∈ {1,2} frames,
    * hash = ((p·16+q)·8+p_Δ)·2+(Δ−1) — a 4096-value space. Distinct
    * (doc, hash) rows; every downstream consumer is keyed on the
    * fixed-width hash, exactly like the winnowing fingerprints. */
  private def audioFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{array_max, expr, lead}
    val fb = MM.frameBandEnergy(s, MM.manifest(s, Tables.documents(s, dir)),
      frameSize = 64, nBands = 8).toDF()
    val pk = fb.select($"doc_id", $"frame_idx",
        array_max($"bands").as("maxv"),
        (expr("array_position(bands, array_max(bands))") - 1L).cast("long").as("p"),
        expr("aggregate(bands, 0L, (acc, x) -> acc + x)").as("tot"))
      .select($"doc_id", $"frame_idx", $"p",
        expr("(maxv * 15) div (tot + 1)").as("q"))
    val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
    val withLead = pk
      .withColumn("p1", lead($"p", 1).over(w))
      .withColumn("p2", lead($"p", 2).over(w))
    val h1 = withLead.filter($"p1".isNotNull)
      .select($"doc_id", ((($"p" * 16 + $"q") * 8 + $"p1") * 2).as("hash"))
    val h2 = withLead.filter($"p2".isNotNull)
      .select($"doc_id", ((($"p" * 16 + $"q") * 8 + $"p2") * 2 + 1).as("hash"))
    h1.union(h2).distinct()
  }

  /** Shared oracle fragment: frames → band lists → peaks → pair
    * hashes, byte-exact via hex-pair extraction (one copy feeds both
    * audio keys so the semantics cannot drift). */
  private val audioFpCtes =
    """h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |f AS (SELECT doc_id, hx, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS frame_idx FROM h),
      |fb AS (SELECT doc_id, frame_idx,
      |    list_transform(range(0, 8), b ->
      |      CAST(COALESCE(list_sum(list_transform(
      |        range(frame_idx*64 + b*8 + 1, LEAST(frame_idx*64 + b*8 + 8, n) + 1),
      |        i -> (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128)
      |           * (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128))), 0) AS BIGINT))
      |      AS bands
      |  FROM f),
      |pk AS (SELECT doc_id, frame_idx,
      |    CAST(list_position(bands, list_aggregate(bands, 'max')) - 1 AS BIGINT) AS p,
      |    (list_aggregate(bands, 'max') * 15)
      |      // (list_aggregate(bands, 'sum') + 1) AS q
      |  FROM fb),
      |ld AS (SELECT doc_id, frame_idx, p, q,
      |    LEAD(p, 1) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS p1,
      |    LEAD(p, 2) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS p2
      |  FROM pk),
      |fp AS (
      |  SELECT DISTINCT doc_id, hash FROM (
      |    SELECT doc_id, ((p*16 + q)*8 + p1)*2 AS hash FROM ld WHERE p1 IS NOT NULL
      |    UNION ALL
      |    SELECT doc_id, ((p*16 + q)*8 + p2)*2 + 1 AS hash FROM ld WHERE p2 IS NOT NULL) u)""".stripMargin

  /** Per-asset constellation fingerprint summary: hash count, smallest
    * hash, and a 60-bit digest of the ordered hash set (the "track id"
    * a lookup index stores). Assets too short to pair (≤1 frame) report
    * 0/-1/-1 — they are present, not silently dropped. */
  private def mmAudioPeaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val fb = MM.frameBandEnergy(s, MM.manifest(s, Tables.documents(s, dir)),
      frameSize = 64, nBands = 8).toDF()
    val nframes = fb.groupBy($"doc_id").agg(count(lit(1)).as("n_frames"))
    val agg = audioFingerprints(s, dir)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hashes"), min($"hash").as("min_hash"),
        sort_array(collect_list($"hash")).as("hs"))
      .select($"doc_id".as("fd"), $"n_hashes", $"min_hash",
        conv(substring(md5(expr(
          "concat_ws(',', transform(hs, x -> cast(x as string)))")), 1, 15), 16, 10)
          .cast("long").as("fp60"))
    nframes.join(agg, $"doc_id" === $"fd", "left")
      .select($"doc_id", $"n_frames",
        coalesce($"n_hashes", lit(0L)).as("n_hashes"),
        coalesce($"min_hash", lit(-1L)).as("min_hash"),
        coalesce($"fp60", lit(-1L)).as("fp60"))
      .orderBy($"doc_id")
  }

  private val mmAudioPeaksSql =
    s"""WITH $audioFpCtes,
       |nf AS (SELECT doc_id, COUNT(*) AS n_frames FROM f GROUP BY doc_id),
       |agg AS (SELECT doc_id, COUNT(*) AS n_hashes, MIN(hash) AS min_hash,
       |    CAST('0x' || substring(md5(
       |      string_agg(CAST(hash AS VARCHAR), ',' ORDER BY hash)), 1, 15) AS BIGINT) AS fp60
       |  FROM fp GROUP BY doc_id)
       |SELECT nf.doc_id, CAST(nf.n_frames AS BIGINT) AS n_frames,
       |  CAST(COALESCE(agg.n_hashes, 0) AS BIGINT) AS n_hashes,
       |  CAST(COALESCE(agg.min_hash, -1) AS BIGINT) AS min_hash,
       |  CAST(COALESCE(agg.fp60, -1) AS BIGINT) AS fp60
       |FROM nf LEFT JOIN agg ON agg.doc_id = nf.doc_id
       |ORDER BY nf.doc_id""".stripMargin

  /** Constellation MATCH join — shared-fingerprint audio pairs: a
    * df≤64 stop-hash cap (the winnow/containment guard — hashes every
    * asset emits carry no signal and would square the join), equi-join
    * on the 8-byte hash, pairs sharing ≥2 hashes survive. The 100 TB
    * shape: candidate generation is equi-join-shaped on fixed-width
    * keys; blobs never shuffle; the df cap bounds bucket width. */
  private def mmAudioMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.functions._
    val fp = audioFingerprints(s, dir).localCheckpoint()
    val df = fp.groupBy($"hash").agg(count(lit(1)).as("df"))
    val kept = fp.join(broadcast(df.filter($"df" <= 64)).select($"hash"), "hash")
    val a = kept.select($"hash", $"doc_id".as("doc_a"))
    val b = kept.select($"hash", $"doc_id".as("doc_b"))
    a.join(b, Seq("hash")).filter($"doc_a" < $"doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared_hashes"))
      .filter($"shared_hashes" >= 2)
      .orderBy($"shared_hashes".desc, $"doc_a", $"doc_b")
  }

  private val mmAudioMatchSql =
    s"""WITH $audioFpCtes,
       |df AS (SELECT hash FROM fp GROUP BY hash HAVING COUNT(*) <= 64),
       |kept AS (SELECT fp.doc_id, fp.hash FROM fp JOIN df USING (hash))
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS shared_hashes
       |FROM kept a JOIN kept b ON a.hash = b.hash AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id
       |HAVING COUNT(*) >= 2
       |ORDER BY shared_hashes DESC, doc_a, doc_b""".stripMargin

  // --------------------------------------------------- mm_shot_boundaries

  /** Shot-boundary detection (the video-curation cut detector): L1
    * distance between consecutive frames' band-energy signatures,
    * flagged where a frame's delta is ≥2× the document's mean delta —
    * exact integer cross-multiply delta·n_deltas ≥ 2·Σdelta, the VAD
    * thresholding discipline. A real decoder would swap byte-band
    * energies for per-frame color histograms; the lag-join, in-row L1,
    * and relative-threshold plumbing are the production shape. Frames
    * are fixed-width rows keyed by doc — blobs never shuffle, windows
    * never span documents. */
  private def mmShotBoundaries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, expr, lag, sum}
    val fb = MM.frameBandEnergy(s, MM.manifest(s, Tables.documents(s, dir)),
      frameSize = 64, nBands = 8).toDF()
    val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
    val deltas = fb
      .withColumn("prev", lag($"bands", 1).over(w))
      .filter($"prev".isNotNull)
      .select($"doc_id", $"frame_idx",
        expr("aggregate(zip_with(bands, prev, (x, y) -> abs(x - y)), 0L, (a, x) -> a + x)")
          .as("delta_l1"))
    val docW = Window.partitionBy($"doc_id")
    deltas
      .withColumn("nd", count(lit(1)).over(docW))
      .withColumn("tot", sum($"delta_l1").over(docW))
      .filter($"delta_l1" * $"nd" >= lit(2L) * $"tot" && $"tot" > 0L)
      .select($"doc_id", $"frame_idx", $"delta_l1", $"nd".as("n_deltas"))
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmShotBoundariesSql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    octet_length(encode(text)) AS n
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |f AS (SELECT doc_id, hx, n,
      |    unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS frame_idx FROM h),
      |fb AS (SELECT doc_id, frame_idx,
      |    list_transform(range(0, 8), b ->
      |      CAST(COALESCE(list_sum(list_transform(
      |        range(frame_idx*64 + b*8 + 1, LEAST(frame_idx*64 + b*8 + 8, n) + 1),
      |        i -> (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128)
      |           * (CAST('0x' || substring(hx, 2*i - 1, 2) AS BIGINT) - 128))), 0) AS BIGINT))
      |      AS bands
      |  FROM f),
      |d AS (SELECT f1.doc_id, f1.frame_idx,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> ABS(f1.bands[CAST(i AS INTEGER)] - f2.bands[CAST(i AS INTEGER)]))) AS BIGINT)
      |      AS delta_l1
      |  FROM fb f1 JOIN fb f2
      |    ON f1.doc_id = f2.doc_id AND f2.frame_idx = f1.frame_idx - 1),
      |st AS (SELECT doc_id, frame_idx, delta_l1,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS nd,
      |    SUM(delta_l1) OVER (PARTITION BY doc_id) AS tot
      |  FROM d)
      |SELECT doc_id, frame_idx, delta_l1, CAST(nd AS BIGINT) AS n_deltas
      |FROM st
      |WHERE delta_l1 * nd >= 2 * tot AND tot > 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  val defs: Map[String, QueryDef] = Map(
    "mm_shot_boundaries" -> QueryDef(mmShotBoundaries, Some(mmShotBoundariesSql)),
    "mm_audio_peaks" -> QueryDef(mmAudioPeaks, Some(mmAudioPeaksSql)),
    "mm_audio_match" -> QueryDef(mmAudioMatch, Some(mmAudioMatchSql)),
    "mm_vad_segments" -> QueryDef(mmVadSegments, Some(mmVadSegmentsSql)),
    "mm_phash_pairs" -> QueryDef(mmPhashPairs, Some(mmPhashPairsSql)),
    "mm_resize" -> QueryDef(mmResize, Some(mmResizeSql)),
    "mm_bmp_luma" -> mmBmpLuma,
    "mm_png_luma" -> mmPngLuma,
    "mm_gif_luma" -> mmGifLuma,
    "mm_jpeg_luma" -> mmJpegLuma,
    "mm_jpeg_prog_luma" -> mmJpegProgLuma,
    "mm_avi_shots" -> mmAviShots,
    "mm_mjpeg_shots" -> mmMjpegShots,
    "mm_mp4_manifest" -> QueryDef(mmMp4Manifest, Some(mmMp4ManifestSql)),
    "mm_mp4_shots" -> mmMp4Shots,
    "mm_flac_peaks" -> mmFlacPeaks,
    "mm_mp4_frag_shots" -> mmMp4FragShots,
    "mm_wav_peaks" -> mmWavPeaks,
    "mm_ulaw_peaks" -> mmUlawPeaks,
    "mm_adpcm_peaks" -> mmAdpcmPeaks,
    "mm_blockhash" -> QueryDef(mmBlockhash, Some(mmBlockhashSql)),
    "mm_hash_dedup" -> QueryDef(mmHashDedup, Some(mmHashDedupSql)),
    "mm_features" -> QueryDef(mmFeatures, Some(mmFeaturesSql)),
    "mm_manifest" -> QueryDef(mmManifest, Some(mmManifestSql)),
    "mm_frame_sample" -> QueryDef(mmFrameSample, Some(mmFrameSampleSql))
  )
}

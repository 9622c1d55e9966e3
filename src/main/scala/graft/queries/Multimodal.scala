package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, conv, floor, lit, md5, substring, when}
import graft.sources.Tables
import graft.operators.{Multimodal => MM}

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

  /** REAL pixel decode at corpus scale: a known-pixel BMP is
    * synthesized per doc (dims + a deterministic gray ramp from doc
    * fields; gray (v,v,v) has BT.601 luma exactly v since the weights
    * sum to 1000), the full encode → [[MM.bmpLuminance]] byte-decode
    * round trip runs inside the scan stage (pixel-array offset, 4-byte
    * row padding, BGR order, bottom-up rows — the actual bits), and
    * the registered output is the exact luma sum + the 60-block
    * perceptual hash of the DECODED samples. The oracle never touches
    * bytes: it re-derives every pixel from the generating formula and
    * replays the blockhash law relationally — so any drift anywhere in
    * the encoder or decoder byte walk breaks the hash. Per-doc work is
    * bounded (≤ 27×22 px); blobs never shuffle — only (doc_id, dims,
    * sum, hash) rows move. */
  private def mmBmpLuma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"),
        ($"n_chars" % 24 + 4).cast("int").as("w"),
        ($"doc_id" * 11 % 20 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        val img = MM.bmpImage(w, h, (x, y) => {
          val v = ((id * 31 + y.toLong * w + x) % 256).toInt
          (v << 16) | (v << 8) | v
        })
        val lum = MM.bmpLuminance(img).getOrElse(
          throw new IllegalStateException(s"bmp round-trip failed for doc $id"))
        (id, w.toLong, h.toLong, lum.sum, MM.blockHash60Samples(lum))
      }
      .toDF("doc_id", "w", "h", "luma_sum", "blockhash")
      .orderBy($"doc_id")
  }

  private val mmBmpLumaSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 24 + 4 AS BIGINT) AS w,
      |    CAST((doc_id * 11) % 20 + 3 AS BIGINT) AS h FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      |pv AS (SELECT doc_id, w, h, i, (doc_id * 31 + i) % 256 AS v FROM px),
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
      |ORDER BY doc_id""".stripMargin

  /** Corpus-scale validation of the REAL PNG pixel decoder — the PNG
    * twin of [[mmBmpLuma]], closing §F's last stubbed-container
    * asterisk for the dominant lossless web format: per doc a full
    * valid PNG is synthesized from a known pixel formula (encoder
    * applies scanline filter (y + doc_id) % 5 per row, so ALL FIVE
    * de-filter branches run across the corpus; odd docs are RGBA with
    * opaque alpha, even docs RGB — both color types run), the blob
    * round-trips through the complete real decode (chunk walk over
    * split IDATs, zlib inflate, de-filter, BT.601 luma), and the
    * exact luma sum + 60-block perceptual hash are emitted. The
    * oracle re-derives every pixel from the generating formula — it
    * never sees the PNG — so one wrong byte anywhere in
    * encode→inflate→de-filter→luma breaks the hash. */
  private def mmPngLuma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"),
        ($"n_chars" % 24 + 4).cast("int").as("w"),
        ($"doc_id" * 13 % 20 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        val img = MM.pngImage(w, h, (x, y) => {
          val v = ((id * 37 + y.toLong * w + x) % 256).toInt
          (v << 16) | (v << 8) | v
        }, alpha = id % 2 == 1, filterSeed = (id % 5).toInt)
        val lum = MM.pngLuminance(img).getOrElse(
          throw new IllegalStateException(s"png round-trip failed for doc $id"))
        (id, w.toLong, h.toLong, lum.sum, MM.blockHash60Samples(lum))
      }
      .toDF("doc_id", "w", "h", "luma_sum", "blockhash")
      .orderBy($"doc_id")
  }

  private val mmPngLumaSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 24 + 4 AS BIGINT) AS w,
      |    CAST((doc_id * 13) % 20 + 3 AS BIGINT) AS h FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      |pv AS (SELECT doc_id, w, h, i, (doc_id * 37 + i) % 256 AS v FROM px),
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
      |ORDER BY doc_id""".stripMargin

  /** Corpus-scale validation of the REAL baseline JPEG decoder — the
    * codec milestone that completes the web-image arc
    * (BMP/PNG/GIF/JPEG): per doc a full baseline JFIF file is encoded
    * from scratch (FDCT, quantization, standard-Annex-K Huffman, byte
    * stuffing) and decoded back through the complete general pipeline
    * (marker walk, DQT/DHT parse, MCU interleave, Huffman decode,
    * dequant, IDCT, YCbCr→RGB, BT.601 luma). Docs rotate through all
    * three encoder profiles — grayscale, 4:4:4 color, 4:2:0
    * subsampled color — so the 1-component path, the 3-block MCU walk
    * and the 6-block 16×16 MCU walk all run across the corpus.
    *
    * A LOSSY codec with an EXACT oracle: pixels are constant per 8×8
    * cell, where the FDCT is DC-only (DC = 8·(v−128)) and the DC
    * quant step of 8 makes the round-trip bit-exact — the oracle
    * re-derives every pixel from the cell formula and never sees the
    * JPEG bytes, while the decoder stays a fully general baseline
    * implementation (gradient content is cross-validated against
    * ImageIO both directions in JpegDecodeSpec). Scale shape: per-doc
    * CPU inside one scan stage; pixels never shuffle. */
  /** Shared builder for the two JPEG luma keys: constant-cell image
    * (value = (id·seed + cellRow·nbx + cellCol) % 256, dims from doc
    * fields with `hMul` varying the height law per key) encoded in the
    * requested mode and decoded back; emits the exact luma sum +
    * 60-block hash. One implementation, one SQL template — the two
    * keys cannot drift apart. */
  private def jpegLumaKey(s: SparkSession, dir: String, seed: Long,
                          hMul: Long, progressive: Boolean): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"),
        ($"n_chars" % 24 + 4).cast("int").as("w"),
        ($"doc_id" * hMul % 20 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        val nbx = (w + 7) / 8
        val img = graft.operators.Jpeg.encode(w, h, (x, y) => {
          val v = ((id * seed + (y / 8).toLong * nbx + (x / 8)) % 256).toInt
          (v << 16) | (v << 8) | v
        }, gray = id % 3 == 0, subsample420 = id % 3 == 1,
          progressive = progressive)
        val lum = graft.operators.Jpeg.luminance(img).getOrElse(
          throw new IllegalStateException(s"jpeg round-trip failed for doc $id"))
        (id, w.toLong, h.toLong, lum.sum, MM.blockHash60Samples(lum))
      }
      .toDF("doc_id", "w", "h", "luma_sum", "blockhash")
      .orderBy($"doc_id")
  }

  private def jpegLumaSql(seed: Long, hMul: Long): String =
    s"""WITH d AS (SELECT doc_id,
       |    CAST(n_chars % 24 + 4 AS BIGINT) AS w,
       |    CAST((doc_id * $hMul) % 20 + 3 AS BIGINT) AS h FROM documents),
       |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
       |pv AS (SELECT doc_id, w, h, i,
       |    (doc_id * $seed + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8))
       |      % 256 AS v FROM px),
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
       |ORDER BY doc_id""".stripMargin

  private def mmJpegLuma(s: SparkSession, dir: String): DataFrame =
    jpegLumaKey(s, dir, seed = 41L, hMul = 17L, progressive = false)

  private val mmJpegLumaSql = jpegLumaSql(seed = 41L, hMul = 17L)

  /** Corpus-scale validation of the PROGRESSIVE (SOF2) JPEG path —
    * the web's other dominant JPEG shape, behind the same oracle
    * discipline as [[mmJpegLuma]]: per doc the SAME constant-cell
    * formula (different seed) is encoded PROGRESSIVELY (interleaved
    * DC scan + per-component full-band AC scans) and decoded through
    * the multi-scan coefficient-accumulation pipeline (T.81 Annex G:
    * scan sequencing, EOB0 codes, non-interleaved component grids,
    * reconstruction at EOI). Constant cells keep the round trip
    * bit-exact (DC-only blocks, DC quant step 8), so the oracle
    * re-derives every pixel from the formula; the successive-
    * approximation refinement arms are cross-validated against
    * ImageIO's progressive writer in JpegDecodeSpec (no exact oracle
    * exists for foreign quant tables). Docs rotate all three encoder
    * profiles, exercising the interleaved DC walk over 1-, 3- and
    * 6-block MCUs plus the per-component AC grids. */
  private def mmJpegProgLuma(s: SparkSession, dir: String): DataFrame =
    jpegLumaKey(s, dir, seed = 47L, hMul = 19L, progressive = true)

  private val mmJpegProgLumaSql = jpegLumaSql(seed = 47L, hMul = 19L)

  /** Corpus-scale validation of the REAL WAV/PCM16 decoder (r12
    * VERDICT #6) — the audio twin of [[mmBmpLuma]]/[[mmPngLuma]]: per
    * doc a known square wave (half-period, amplitude, length, sample
    * rate all doc-derived) is rendered to a REAL RIFF/WAVE file — odd
    * docs stereo (ch2 = ch1/2, so the mono mixdown is a nontrivial
    * exact integer), every third doc carrying an odd-length LIST chunk
    * between fmt and data (word-aligned chunk walking, not offset
    * arithmetic) — decoded back via the full header+sample parse, and
    * fed through the [[graft.operators.Multimodal.sampleBandEnergy]]
    * framing (64-sample frames, 8 bands). Emitted per frame: peak
    * band, its energy, and the frame total. The oracle re-derives
    * every sample from the generating formula — it never sees the
    * RIFF bytes — so one wrong byte anywhere in encode→walk→sample
    * parse→mixdown→energy breaks the hash. */
  private def mmWavPeaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val p = (id % 13 + 4).toInt          // half-period in samples
        val amp = (200 + nChars % 800).toInt // peak amplitude
        val n = (64 * (id % 6 + 2)).toInt    // whole frames only
        val rate = (8000 + (id % 5) * 1000).toInt
        val mono = Array.tabulate(n)(i => if ((i / p) % 2 == 0) amp else -amp)
        val stereo = id % 2 == 1
        val pcm: Array[Short] =
          if (stereo) Array.tabulate(2 * n) { j =>
            val v = mono(j / 2); (if (j % 2 == 0) v else v / 2).toShort
          } else mono.map(_.toShort)
        val wav = MM.wavPcm16(rate, if (stereo) 2 else 1, pcm,
          junkChunk = id % 3 == 0)
        val (gotRate, gotCh, samples) = MM.wavSamples(wav).getOrElse(
          throw new IllegalStateException(s"wav round-trip failed for doc $id"))
        require(gotCh == (if (stereo) 2 else 1))
        MM.sampleBandEnergy(samples, frameSize = 64, nBands = 8)
          .iterator.zipWithIndex.map { case (bands, f) =>
            val peak = bands.zipWithIndex.maxBy { case (e, b) => (e, -b) }
            (id, gotRate.toLong, f.toLong, peak._2.toLong, peak._1, bands.sum)
          }
      }
      .toDF("doc_id", "sample_rate", "frame_idx", "peak_band", "max_energy",
        "tot_energy")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmWavPeaksSql =
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
      |  FROM mono),
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
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Compressed-audio twin of [[mmWavPeaks]] — G.711 μ-LAW through the
    * same RIFF walk (fmt tag 7, a REAL codec behind the container,
    * like MJPEG for video): per doc a square wave whose amplitudes are
    * exact μ-law fixed points (128·m + 1980, the e=4 quantizer rungs —
    * decode∘encode is the identity there, so the oracle can recompute
    * every decoded sample from the generating formula without ever
    * seeing a byte), companded to 8-bit with the from-scratch G.711
    * encoder, decoded back through [[graft.operators.Multimodal
    * .wavSamplesEx]] (table decode + the exact integer mixdown), and
    * framed into band energies. Odd docs stereo with a second
    * fixed-point amplitude; every third doc carries the odd-length
    * LIST chunk. The G.711 tables themselves are cross-validated
    * against javax.sound's independent ULAW codec in the spec. Decode
    * work stays in the scan stage; blobs never shuffle. */
  private def mmUlawPeaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val p = (id % 11 + 3).toInt
        val amp1 = (1980 + 128 * (nChars % 16)).toInt  // exact μ-law rung
        val amp2 = (1980 + 128 * ((nChars + 5) % 16)).toInt
        val n = (64 * (id % 5 + 2)).toInt
        val rate = (8000 + (id % 3) * 4000).toInt
        val sgn = Array.tabulate(n)(i => if ((i / p) % 2 == 0) 1 else -1)
        val stereo = id % 2 == 1
        val pcm: Array[Int] =
          if (stereo) Array.tabulate(2 * n) { j =>
            sgn(j / 2) * (if (j % 2 == 0) amp1 else amp2)
          } else Array.tabulate(n)(i => sgn(i) * amp1)
        val wav = MM.wavUlaw(rate, if (stereo) 2 else 1, pcm,
          junkChunk = id % 3 == 0)
        val (gotRate, gotCh, gotFmt, samples) = MM.wavSamplesEx(wav).getOrElse(
          throw new IllegalStateException(s"ulaw round-trip failed for doc $id"))
        require(gotFmt == 7 && gotCh == (if (stereo) 2 else 1))
        MM.sampleBandEnergy(samples, frameSize = 64, nBands = 8)
          .iterator.zipWithIndex.map { case (bands, f) =>
            val peak = bands.zipWithIndex.maxBy { case (e, b) => (e, -b) }
            (id, gotRate.toLong, f.toLong, peak._2.toLong, peak._1, bands.sum)
          }
      }
      .toDF("doc_id", "sample_rate", "frame_idx", "peak_band", "max_energy",
        "tot_energy")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmUlawPeaksSql =
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
      |  FROM sm),
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
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** IMA/DVI ADPCM through the WAV container (fmt tag 0x11) — the
    * PREDICTIVE audio codec, stateful where μ-law is a table: per doc
    * a per-block-constant signal (each 65-sample block's amplitude is
    * doc- and block-derived) is compressed 4:1 by the from-scratch
    * IMA encoder and decoded back through the full block walk
    * (header predictor + 64 nibble steps per block). Per-block
    * constants make the lossy codec EXACT — the block header stores
    * the first sample verbatim and nibble 0 at step 7 decodes to +0
    * (the constant-cell JPEG trick, audio edition) — so the oracle
    * recomputes every decoded sample as amp(i div 65) and one wrong
    * nibble, step-table entry, or block boundary breaks the hash.
    * General-signal behavior (encode→decode→re-encode idempotence,
    * tracking error) is property-pinned in the spec. */
  private def mmAdpcmPeaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val nBlocks = (id % 4 + 2).toInt
        val spb = 65
        val amps = Array.tabulate(nBlocks)(b =>
          (((nChars + 37L * b + id) % 32001L) - 16000L).toInt)
        val samples = Array.tabulate(nBlocks * spb)(i => amps(i / spb))
        val wav = MM.wavImaAdpcm(8000, samples, spb)
        val (gotRate, _, gotFmt, decoded) = MM.wavSamplesEx(wav).getOrElse(
          throw new IllegalStateException(s"adpcm round-trip failed for doc $id"))
        require(gotFmt == 0x11 && decoded.length == samples.length)
        MM.sampleBandEnergy(decoded, frameSize = 64, nBands = 8)
          .iterator.zipWithIndex.map { case (bands, f) =>
            val peak = bands.zipWithIndex.maxBy { case (e, b) => (e, -b) }
            (id, gotRate.toLong, f.toLong, peak._2.toLong, peak._1, bands.sum)
          }
      }
      .toDF("doc_id", "sample_rate", "frame_idx", "peak_band", "max_energy",
        "tot_energy")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmAdpcmPeaksSql =
    """WITH d AS (SELECT doc_id, n_chars,
      |    CAST(doc_id % 4 + 2 AS BIGINT) AS nb
      |  FROM documents),
      |sm AS (SELECT doc_id, n_chars, unnest(range(0, nb * 65)) AS i FROM d),
      |mix AS (SELECT doc_id,
      |    ((n_chars + 37 * (i // 65) + doc_id) % 32001) - 16000 AS s, i
      |  FROM sm),
      |be AS (SELECT doc_id, i // 64 AS frame_idx, (i % 64) // 8 AS band,
      |    SUM(s * s) AS energy
      |  FROM mix GROUP BY 1, 2, 3),
      |pk AS (SELECT doc_id, frame_idx, band, energy,
      |    SUM(energy) OVER (PARTITION BY doc_id, frame_idx) AS tot,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id, frame_idx
      |      ORDER BY energy DESC, band) AS rk
      |  FROM be)
      |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CAST(band AS BIGINT) AS peak_band,
      |  CAST(energy AS BIGINT) AS max_energy,
      |  CAST(tot AS BIGINT) AS tot_energy
      |FROM pk WHERE rk = 1
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** Corpus-scale validation of the REAL GIF pixel decoder — the third
    * image container after [[mmBmpLuma]]/[[mmPngLuma]], and the first
    * with an actual compression codec implemented from scratch
    * (variable-width LZW; PNG leans on JDK zlib). Per doc a known
    * grayscale image is rendered to a REAL GIF89a — odd docs
    * interlaced (the decoder must reorder the 4-pass rows), every
    * third doc carrying a comment extension (the decoder must walk
    * sub-blocks, not assume the image follows the screen descriptor) —
    * then decoded back through the full chunk walk + LZW + palette +
    * BT.601 luma path in the scan stage. The oracle re-derives every
    * pixel from the generating formula and never sees the GIF bytes,
    * so one wrong bit anywhere in LZW pack→unpack, interlace order or
    * palette lookup breaks the hash. Scale shape: per-doc CPU inside
    * one scan, no shuffle until the final tiny projection. */
  private def mmGifLuma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"),
        ($"n_chars" % 21 + 4).cast("int").as("w"),
        ($"doc_id" * 11 % 17 + 3).cast("int").as("h"))
      .as[(Long, Int, Int)]
      .map { case (id, w, h) =>
        val img = MM.gifImage(w, h,
          (x, y) => ((id * 53 + y.toLong * w + x) % 256).toInt,
          interlaced = id % 2 == 1, comment = id % 3 == 0)
        val lum = MM.gifLuminance(img).getOrElse(
          throw new IllegalStateException(s"gif round-trip failed for doc $id"))
        (id, w.toLong, h.toLong, lum.sum, MM.blockHash60Samples(lum))
      }
      .toDF("doc_id", "w", "h", "luma_sum", "blockhash")
      .orderBy($"doc_id")
  }

  private val mmGifLumaSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 21 + 4 AS BIGINT) AS w,
      |    CAST((doc_id * 11) % 17 + 3 AS BIGINT) AS h FROM documents),
      |px AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS i FROM d),
      |pv AS (SELECT doc_id, w, h, i, (doc_id * 53 + i) % 256 AS v FROM px),
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
      |ORDER BY doc_id""".stripMargin

  /** Shot-boundary detection over a REAL VIDEO CONTAINER decode — the
    * video milestone after images (BMP/PNG/GIF) and audio (WAV): per
    * doc a known grayscale clip with ONE planted cut (brightness +128
    * from frame c on) is rendered to a real RIFF/AVI file — LIST
    * hdrl/strl/movi tree, raw 24-bpp DIB frames in BMP raster layout,
    * every third doc carrying an odd-length JUNK chunk (word-aligned
    * tree walking) — decoded back through the full container walk +
    * per-frame raster decode in the scan stage, then per-frame luma
    * sum and pixel-level L1 delta against the previous frame, with
    * `is_cut` = delta above the 64·w·h threshold (within-shot deltas
    * ≈ 2·w·h from the +1 phase drift, cut deltas ≈ 129·w·h — the
    * margins are exact integer arithmetic, spec-pinned). The oracle
    * re-derives every pixel of every frame from the generating
    * formula and never sees the AVI bytes. Scale shape: per-doc CPU
    * inside one scan; blobs never shuffle. */
  private def mmAviShots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val w = (nChars % 9 + 4).toInt; val h = (id % 7 + 3).toInt
        val n = (id % 5 + 6).toInt; val c = (2 + (id * 7) % (n - 3)).toInt
        def gray(v: Int) = (v << 16) | (v << 8) | v
        val avi = MM.aviRawVideo(w, h, n, (f, x, y) => {
          val base = ((id * 31 + f + y.toLong * w + x) % 120).toInt
          gray(if (f < c) base else 128 + base)
        }, junk = id % 3 == 0)
        val (gw, gh, frames) = MM.aviFrameLuma(avi).getOrElse(
          throw new IllegalStateException(s"avi round-trip failed for doc $id"))
        require(gw == w && gh == h && frames.length == n)
        (1 until n).iterator.map { f =>
          val cur = frames(f); val prev = frames(f - 1)
          var delta = 0L; var sum = 0L; var i = 0
          while (i < cur.length) {
            delta += math.abs(cur(i) - prev(i)); sum += cur(i); i += 1
          }
          (id, f.toLong, sum, delta, delta > 64L * w * h)
        }
      }
      .toDF("doc_id", "frame_idx", "luma_sum", "delta_l1", "is_cut")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmAviShotsSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 9 + 4 AS BIGINT) AS w,
      |    CAST(doc_id % 7 + 3 AS BIGINT) AS h,
      |    CAST(doc_id % 5 + 6 AS BIGINT) AS n,
      |    CAST(2 + (doc_id * 7) % (doc_id % 5 + 3) AS BIGINT) AS c
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, n, c, unnest(range(0, w * h)) AS i FROM d),
      |fr AS (SELECT doc_id, w, h, c, i, unnest(range(0, n)) AS f FROM px),
      |pv AS (SELECT doc_id, w, h, f, i,
      |    CASE WHEN f < c THEN (doc_id * 31 + f + i) % 120
      |         ELSE 128 + (doc_id * 31 + f + i) % 120 END AS v
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
      |ORDER BY g.doc_id, frame_idx""".stripMargin

  /** Shot-boundary detection over COMPRESSED video — Motion-JPEG in
    * AVI, the layout capture pipelines emit: per doc the known
    * one-cut grayscale clip is encoded frame-by-frame through the
    * from-scratch baseline JPEG ENCODER (docs rotate the grayscale /
    * 4:4:4 / 4:2:0 profiles exactly like mm_jpeg_luma), wrapped in a
    * real RIFF/AVI with MJPG fourcc ('00dc' compressed chunks,
    * word-aligned odd JPEG sizes, every third doc a JUNK chunk), and
    * decoded back through BOTH layers we own — the RIFF tree walk AND
    * the full T.81 Huffman/IDCT pipeline per frame — before the same
    * luma-delta cut detector as mm_avi_shots runs. Exactness through
    * a lossy codec: pixels are constant per 8×8 cell with base values
    * bounded to 0..237 (no mod-wrap inside a clip), so the DC-only
    * FDCT round-trips bit-exact and within-shot deltas are EXACTLY
    * w·h (+1 drift per frame) vs 129·w·h at the planted cut — the
    * 64·w·h threshold splits them with spec-pinned margins, and the
    * oracle re-derives every pixel from the formula without ever
    * seeing AVI or JPEG bytes. Scale shape: encode+decode live inside
    * one scan stage; blobs never shuffle. */
  private def mmMjpegShots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val w = (nChars % 9 + 4).toInt; val h = (id % 7 + 3).toInt
        val n = (id % 5 + 6).toInt; val c = (2 + (id * 7) % (n - 3)).toInt
        val nbx = (w + 7) / 8
        def gray(v: Int) = (v << 16) | (v << 8) | v
        val jpegs = (0 until n).map { f =>
          graft.operators.Jpeg.encode(w, h, (x, y) => {
            val bv = ((id * 31 + (y / 8).toLong * nbx + (x / 8)) % 100).toInt
            gray(bv + f + (if (f >= c) 128 else 0))
          }, gray = id % 3 == 0, subsample420 = id % 3 == 1)
        }
        val avi = MM.aviMjpegVideo(w, h, jpegs, junk = id % 3 == 0)
        val (gw, gh, frames) = MM.aviMjpegFrameLuma(avi).getOrElse(
          throw new IllegalStateException(s"mjpeg avi round-trip failed for doc $id"))
        require(gw == w && gh == h && frames.length == n,
          s"mjpeg decode shape mismatch for doc $id")
        (1 until n).iterator.map { f =>
          val cur = frames(f); val prev = frames(f - 1)
          var delta = 0L; var sum = 0L; var i = 0
          while (i < cur.length) {
            delta += math.abs(cur(i) - prev(i)); sum += cur(i); i += 1
          }
          (id, f.toLong, sum, delta, delta > 64L * w * h)
        }
      }
      .toDF("doc_id", "frame_idx", "luma_sum", "delta_l1", "is_cut")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmMjpegShotsSql =
    """WITH d AS (SELECT doc_id,
      |    CAST(n_chars % 9 + 4 AS BIGINT) AS w,
      |    CAST(doc_id % 7 + 3 AS BIGINT) AS h,
      |    CAST(doc_id % 5 + 6 AS BIGINT) AS n,
      |    CAST(2 + (doc_id * 7) % (doc_id % 5 + 3) AS BIGINT) AS c
      |  FROM documents),
      |px AS (SELECT doc_id, w, h, n, c, unnest(range(0, w * h)) AS i FROM d),
      |fr AS (SELECT doc_id, w, h, c, i, unnest(range(0, n)) AS f FROM px),
      |pv AS (SELECT doc_id, w, h, f, i,
      |    (doc_id * 31 + ((i // w) // 8) * ((w + 7) // 8) + ((i % w) // 8)) % 100
      |      + f + CASE WHEN f >= c THEN 128 ELSE 0 END AS v
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
      |ORDER BY g.doc_id, frame_idx""".stripMargin

  /** LOSSLESS compressed audio at corpus scale — FLAC
    * ([[graft.operators.Flac]], from-scratch Rice coding + fixed
    * predictors + stereo decorrelation) through the same band-energy
    * framing as [[mmWavPeaks]]. The signal is deliberately RICH — each
    * 64-sample stretch rotates constant / ramp / square — because
    * losslessness makes the oracle exact for ANY integer signal (no
    * quantizer-rung or constant-cell construction needed, unlike the
    * μ-law/ADPCM/JPEG keys): every stretch lands in its natural
    * subframe type (CONSTANT / FIXED / FIXED-or-VERBATIM), odd docs
    * are stereo through a rotating decorrelation mode (independent /
    * left-side / right-side / mid-side — the side channel exercising
    * 17-bit subframes), and block size 256 splits every doc into
    * multiple CRC'd frames with a ragged tail. One wrong bit anywhere
    * in Rice/predictor/CRC/decorrelation breaks the hash. In-scan,
    * blobs never shuffle. */
  private def mmFlacPeaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
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
        val chans =
          if (stereo) Array(mono, mono.map(_ / 2 - 50))
          else Array(mono)
        // odd ids are 1/3/5/7 mod 8 — map them onto all four stereo modes
        val mode = if (!stereo) -1 else ((id % 8) / 2).toInt match {
          case 0 => -1; case 1 => 8; case 2 => 9; case _ => 10
        }
        val flac = graft.operators.Flac.encode(rate, chans,
          blockSize = 256, chMode = mode)
        val (gotRate, out) = graft.operators.Flac.decode(flac).getOrElse(
          throw new IllegalStateException(s"flac round-trip failed for doc $id"))
        require(gotRate == rate && out.length == chans.length,
          s"flac geometry mismatch for doc $id")
        val mix =
          if (stereo) Array.tabulate(n)(i => (out(0)(i) + out(1)(i)) / 2)
          else out(0)
        MM.sampleBandEnergy(mix, frameSize = 64, nBands = 8)
          .iterator.zipWithIndex.map { case (bands, f) =>
            val peak = bands.zipWithIndex.maxBy { case (e, b) => (e, -b) }
            (id, rate.toLong, f.toLong, peak._2.toLong, peak._1, bands.sum)
          }
      }
      .toDF("doc_id", "sample_rate", "frame_idx", "peak_band", "max_energy",
        "tot_energy")
      .orderBy($"doc_id", $"frame_idx")
  }

  private val mmFlacPeaksSql =
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
      |  FROM mono),
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
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** ISO-BMFF (MP4) SAMPLE-TABLE decode at corpus scale — the
    * dominant crawl-video container, proven at the metadata layer the
    * format exists for: per doc a real MP4 is synthesized (ftyp +
    * chunked mdat + full moov tree) with doc-derived geometry —
    * frames-per-chunk rotates 1/2/3 (multi-sample stsc runs), every
    * fourth doc stores offsets as 64-bit co64, every third carries an
    * interleaved audio track the walk must not confuse with video,
    * and stts is genuinely run-length (last sample 2× duration).
    * [[graft.operators.Multimodal.mp4Walk]] then re-derives
    * EVERYTHING from the box tree alone — track count, dims,
    * timescale, duration (Σ stts), sample count — and the decoded
    * first-frame luma proves stsc×stco×stsz actually resolved to the
    * right mdat bytes (an off-by-one chunk join decodes garbage or
    * nothing). The oracle replays every field from the doc formula;
    * container bytes are never seen. Scale shape: synthesis + walk +
    * decode all inside the scan stage, blobs never shuffle. */
  private def mmMp4Manifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .map { case (id, nChars) =>
        val w = (nChars % 9 + 4).toInt; val h = (id % 7 + 3).toInt
        val n = (id % 5 + 6).toInt
        val nbx = (w + 7) / 8
        val delta = (3000 + (id % 4) * 750).toInt
        def gray(v: Int) = (v << 16) | (v << 8) | v
        val jpegs = (0 until n).map { f =>
          graft.operators.Jpeg.encode(w, h, (x, y) => {
            val bv = ((id * 31 + (y / 8).toLong * nbx + (x / 8)) % 100).toInt
            gray(bv + f)
          }, gray = id % 3 == 0, subsample420 = id % 3 == 1)
        }
        val mp4 = MM.mp4MjpegVideo(w, h, jpegs, timescale = 90000,
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
        val luma0 = graft.operators.Jpeg.luminanceWithDims(
          java.util.Arrays.copyOfRange(mp4, o0.toInt, o0.toInt + l0)) match {
          case Some((fw, fh, l)) if fw == w && fh == h => l.sum
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

  /** Shot detection through the ISO-BMFF container — the
    * [[mmMjpegShots]] pipeline with the RIFF/AVI layer swapped for
    * the MP4 sample table: identical frames, identical JPEG layer,
    * identical cut detector, so the ORACLE IS THE SAME SQL — proving
    * the two container walks are interchangeable in front of the
    * codec stack (the cross-container property real crawl pipelines
    * need: the same video dedups identically however it was
    * wrapped). Chunking/co64/audio-track geometry rotates per doc as
    * in [[mmMp4Manifest]]. */
  private def mmMp4Shots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val w = (nChars % 9 + 4).toInt; val h = (id % 7 + 3).toInt
        val n = (id % 5 + 6).toInt; val c = (2 + (id * 7) % (n - 3)).toInt
        val nbx = (w + 7) / 8
        def gray(v: Int) = (v << 16) | (v << 8) | v
        val jpegs = (0 until n).map { f =>
          graft.operators.Jpeg.encode(w, h, (x, y) => {
            val bv = ((id * 31 + (y / 8).toLong * nbx + (x / 8)) % 100).toInt
            gray(bv + f + (if (f >= c) 128 else 0))
          }, gray = id % 3 == 0, subsample420 = id % 3 == 1)
        }
        val mp4 = MM.mp4MjpegVideo(w, h, jpegs, timescale = 90000,
          sampleDelta = 3000, samplesPerChunk = (id % 3 + 1).toInt,
          co64 = id % 4 == 0, audioTrack = id % 3 == 0)
        val (gw, gh, frames) = MM.mp4MjpegFrameLuma(mp4).getOrElse(
          throw new IllegalStateException(s"mjpeg mp4 round-trip failed for doc $id"))
        require(gw == w && gh == h && frames.length == n,
          s"mp4 decode shape mismatch for doc $id")
        (1 until n).iterator.map { f =>
          val cur = frames(f); val prev = frames(f - 1)
          var delta = 0L; var sum = 0L; var i = 0
          while (i < cur.length) {
            delta += math.abs(cur(i) - prev(i)); sum += cur(i); i += 1
          }
          (id, f.toLong, sum, delta, delta > 64L * w * h)
        }
      }
      .toDF("doc_id", "frame_idx", "luma_sum", "delta_l1", "is_cut")
      .orderBy($"doc_id", $"frame_idx")
  }

  /** Shot detection through FRAGMENTED MP4 (fMP4 — the DASH/HLS
    * segment layout that dominates crawled STREAMING video): the same
    * frames and cut detector as [[mmMp4Shots]], but the sample table
    * lives in per-fragment moof/traf/trun boxes (empty stbl, trex
    * defaults, moof-relative data offsets) instead of
    * stsc×stco×stsz — the third container layout in front of the one
    * codec stack, so the oracle is again the SAME SQL. Fragment size
    * rotates 2/3/4 frames per doc; per-sample trun durations carry
    * the 2×-last-sample run the unfragmented layout needed a second
    * stts entry for. In-code requires pin that BOTH layouts resolve
    * identical sample tables (sizes + durations) — byte-offset
    * equality is impossible (different containers), content equality
    * is the contract. */
  private def mmMp4FragShots(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id".cast("long"), $"n_chars".cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, nChars) =>
        val w = (nChars % 9 + 4).toInt; val h = (id % 7 + 3).toInt
        val n = (id % 5 + 6).toInt; val c = (2 + (id * 7) % (n - 3)).toInt
        val nbx = (w + 7) / 8
        def gray(v: Int) = (v << 16) | (v << 8) | v
        val jpegs = (0 until n).map { f =>
          graft.operators.Jpeg.encode(w, h, (x, y) => {
            val bv = ((id * 31 + (y / 8).toLong * nbx + (x / 8)) % 100).toInt
            gray(bv + f + (if (f >= c) 128 else 0))
          }, gray = id % 3 == 0, subsample420 = id % 3 == 1)
        }
        val frag = MM.mp4FragmentedMjpeg(w, h, jpegs, timescale = 90000,
          sampleDelta = 3000, framesPerFragment = (id % 3 + 2).toInt)
        val info = MM.mp4Walk(frag).getOrElse(
          throw new IllegalStateException(s"fmp4 walk failed for doc $id"))
        val v = info.tracks.find(_.handler == "vide").getOrElse(
          throw new IllegalStateException(s"no video track for doc $id"))
        require(v.samples.map(x => (x._2, x._3)).toSeq ==
            jpegs.zipWithIndex.map { case (j, i) =>
              (j.length, if (i == n - 1) 6000L else 3000L) },
          s"fragmented sample table disagrees with the frames for doc $id")
        val (gw, gh, frames) = MM.mp4MjpegFrameLuma(frag).getOrElse(
          throw new IllegalStateException(s"fmp4 decode failed for doc $id"))
        require(gw == w && gh == h && frames.length == n,
          s"fmp4 decode shape mismatch for doc $id")
        (1 until n).iterator.map { f =>
          val cur = frames(f); val prev = frames(f - 1)
          var delta = 0L; var sum = 0L; var i = 0
          while (i < cur.length) {
            delta += math.abs(cur(i) - prev(i)); sum += cur(i); i += 1
          }
          (id, f.toLong, sum, delta, delta > 64L * w * h)
        }
      }
      .toDF("doc_id", "frame_idx", "luma_sum", "delta_l1", "is_cut")
      .orderBy($"doc_id", $"frame_idx")
  }

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
    "mm_bmp_luma" -> QueryDef(mmBmpLuma, Some(mmBmpLumaSql)),
    "mm_png_luma" -> QueryDef(mmPngLuma, Some(mmPngLumaSql)),
    "mm_gif_luma" -> QueryDef(mmGifLuma, Some(mmGifLumaSql)),
    "mm_jpeg_luma" -> QueryDef(mmJpegLuma, Some(mmJpegLumaSql), bench = true),
    "mm_jpeg_prog_luma" -> QueryDef(mmJpegProgLuma, Some(mmJpegProgLumaSql)),
    "mm_avi_shots" -> QueryDef(mmAviShots, Some(mmAviShotsSql)),
    "mm_mjpeg_shots" -> QueryDef(mmMjpegShots, Some(mmMjpegShotsSql)),
    "mm_mp4_manifest" -> QueryDef(mmMp4Manifest, Some(mmMp4ManifestSql)),
    "mm_mp4_shots" -> QueryDef(mmMp4Shots, Some(mmMjpegShotsSql)),
    "mm_flac_peaks" -> QueryDef(mmFlacPeaks, Some(mmFlacPeaksSql)),
    "mm_mp4_frag_shots" -> QueryDef(mmMp4FragShots, Some(mmMjpegShotsSql)),
    "mm_wav_peaks" -> QueryDef(mmWavPeaks, Some(mmWavPeaksSql)),
    "mm_ulaw_peaks" -> QueryDef(mmUlawPeaks, Some(mmUlawPeaksSql)),
    "mm_adpcm_peaks" -> QueryDef(mmAdpcmPeaks, Some(mmAdpcmPeaksSql)),
    "mm_blockhash" -> QueryDef(mmBlockhash, Some(mmBlockhashSql)),
    "mm_hash_dedup" -> QueryDef(mmHashDedup, Some(mmHashDedupSql)),
    "mm_features" -> QueryDef(mmFeatures, Some(mmFeaturesSql)),
    "mm_manifest" -> QueryDef(mmManifest, Some(mmManifestSql)),
    "mm_frame_sample" -> QueryDef(mmFrameSample, Some(mmFrameSampleSql))
  )
}

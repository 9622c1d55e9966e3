package graft.operators

/** Baseline JPEG (ITU-T T.81 sequential DCT, Huffman) — encoder and
  * decoder from scratch, completing the web-image codec arc after
  * BMP/PNG/GIF (reference kept no decoders at all — ClickThru.java is
  * log analytics; this is the §F multimodal extension surface).
  *
  * Decoder scope (the dominant crawled-image shape): SOI/APPn/COM/DQT
  * (8- and 16-bit precision)/DHT/SOF0-1/DRI/SOS/RSTn/EOI; 1-component
  * grayscale and 3-component YCbCr; arbitrary sampling factors 1-2
  * per axis (4:4:4, 4:2:2, 4:2:0); interleaved sequential scans;
  * entropy byte-unstuffing; per-component DC prediction with
  * restart-interval resets; and PROGRESSIVE (SOF2, T.81 Annex G
  * Huffman): multi-scan spectral selection + successive approximation
  * — DC first/refine, AC first with EOBn run codes, AC refinement
  * with correction bits — accumulated in per-component coefficient
  * memory and reconstructed at EOI. Lossless, hierarchical, and
  * arithmetic coding are out of scope and return None — a corpus
  * pipeline routes those to a fallback, it never crashes on them.
  *
  * Encoder scope: JFIF baseline, standard Annex K Huffman tables,
  * quality-style quant tables with DC steps forced to 8 (see below),
  * 4:4:4 or 4:2:0, grayscale or color.
  *
  * Exactness discipline (how a LOSSY codec gets an exact oracle): for
  * a block that is one constant value v, the FDCT is DC-only with
  * DC = 8·(v-128); with a DC quant step of 8 the coded coefficient
  * is exactly v-128 and the IDCT reproduces v bit-exactly. The gated
  * key feeds constant 8×8 cells through the FULL general pipeline
  * (FDCT → quant → Huffman → unstuff → decode → dequant → IDCT), so
  * the DuckDB oracle can re-derive every pixel; gradient content is
  * cross-validated against ImageIO in JpegDecodeSpec instead (both
  * directions, tolerance bounded by IDCT rounding).
  *
  * Scale shape: everything here is per-blob CPU inside one scan
  * stage — blobs decode where they land, nothing shuffles pixels. */
object Jpeg {

  // zig-zag position k → natural (row-major) coefficient index
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63)

  // Annex K.1/K.2 quantization tables (natural order built from the
  // spec's zigzag listing), DC step overridden to 8 — any step in
  // {1,2,4,8} makes constant-block DCs lossless; AC steps are free
  // because a constant block has zero ACs.
  private val LumQuant: Array[Int] = {
    val zz = Array(
      16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
      26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
      56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
      95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
      103, 99)
    val nat = new Array[Int](64)
    var k = 0; while (k < 64) { nat(Zigzag(k)) = zz(k); k += 1 }
    nat(0) = 8
    nat
  }
  private val ChromaQuant: Array[Int] = {
    val zz = Array(
      17, 18, 18, 24, 21, 24, 47, 26, 26, 47, 99, 66, 56, 66, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
      99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99)
    val nat = new Array[Int](64)
    var k = 0; while (k < 64) { nat(Zigzag(k)) = zz(k); k += 1 }
    nat(0) = 8
    nat
  }

  // Annex K.3 Huffman specs: (BITS[1..16], HUFFVAL)
  private val DcLumBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumVals = (0 to 11).map(_.toByte).toArray
  private val DcChromaBits = Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).map(_.toByte).toArray
  private val AcLumBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)
  private val AcChromaBits = Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)

  /** Canonical Huffman codes from a (BITS, HUFFVAL) spec:
    * symbol → (code, length). */
  private def buildCodes(bits: Array[Int], vals: Array[Byte]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (len <- 1 to 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += (vals(k) & 0xff) -> ((code, len))
        code += 1; k += 1; i += 1
      }
      code <<= 1
    }
    out.result()
  }

  // ----------------------------------------------------------------
  // encoder
  // ----------------------------------------------------------------

  private final class BitWriter(out: Bytes.Writer) {
    private var acc = 0
    private var nbits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        nbits += 1
        if (nbits == 8) {
          out.u8(acc & 0xff)
          if ((acc & 0xff) == 0xff) out.u8(0x00) // byte stuffing
          acc = 0; nbits = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = if (nbits > 0) { // pad with 1-bits per spec
      acc = (acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)
      out.u8(acc & 0xff)
      if ((acc & 0xff) == 0xff) out.u8(0x00)
      acc = 0; nbits = 0
    }
  }

  // cos((2x+1)·u·π/16) table and the C(0)=1/√2 normalizers — the DCT
  // basis is fixed; computing cosines per coefficient per block made
  // the encoder trig-bound (8192 cos calls/block)
  private val CosTab: Array[Double] = {
    val t = new Array[Double](64)
    for (u <- 0 until 8; x <- 0 until 8)
      t(u * 8 + x) = math.cos((2 * x + 1) * u * math.Pi / 16)
    t
  }
  private val CNorm: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1 / math.sqrt(2) else 1.0)

  /** Separable 2-D FDCT: rows then columns, 1024 multiply-adds per
    * block instead of the naive 4096 (and zero trig calls). */
  private def fdct(block: Array[Double]): Array[Double] = {
    val tmp = new Array[Double](64) // tmp(u*8+y) = Σ_x f(x,y)·C[u][x]
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var sum = 0.0
        var x = 0
        while (x < 8) { sum += block(y * 8 + x) * CosTab(u * 8 + x); x += 1 }
        tmp(u * 8 + y) = sum
        u += 1
      }
      y += 1
    }
    val out = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var sum = 0.0
        var yy = 0
        while (yy < 8) { sum += tmp(u * 8 + yy) * CosTab(v * 8 + yy); yy += 1 }
        out(v * 8 + u) = 0.25 * CNorm(u) * CNorm(v) * sum
        u += 1
      }
      v += 1
    }
    out
  }

  private def category(v: Int): Int = {
    var a = math.abs(v); var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  private def quantize(samples: Array[Double], quant: Array[Int]): Array[Int] = {
    val coef = fdct(samples)
    val q = new Array[Int](64)
    var i = 0
    while (i < 64) { q(i) = math.round(coef(i) / quant(i)).toInt; i += 1 }
    q
  }

  /** Emit one DC coefficient (differenced, category + bits). Returns
    * the new predictor. */
  private def encodeDc(bw: BitWriter, q0: Int,
                       dcCodes: Map[Int, (Int, Int)], dcPred: Int): Int = {
    val diff = q0 - dcPred
    val cat = category(diff)
    val (dcode, dlen) = dcCodes(cat)
    bw.put(dcode, dlen)
    if (cat > 0) {
      val bits = if (diff >= 0) diff else diff + (1 << cat) - 1
      bw.put(bits, cat)
    }
    q0
  }

  /** Emit a block's AC coefficients in zigzag order with run-length +
    * ZRL + EOB — the same code stream is a valid sequential AC segment
    * AND a valid progressive AC-first scan unit (EOB0 = end-of-block). */
  private def encodeAcs(bw: BitWriter, q: Array[Int],
                        acCodes: Map[Int, (Int, Int)]): Unit = {
    var run = 0
    var k = 1
    while (k < 64) {
      val v = q(Zigzag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { val (c, l) = acCodes(0xf0); bw.put(c, l); run -= 16 }
        val sz = category(v)
        val (c, l) = acCodes((run << 4) | sz)
        bw.put(c, l)
        val bits = if (v >= 0) v else v + (1 << sz) - 1
        bw.put(bits, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (c, l) = acCodes(0x00); bw.put(c, l) } // EOB
  }

  /** Encode one 8×8 block: quantize, DC-diff, Huffman. Returns the new
    * DC predictor. */
  private def encodeBlock(bw: BitWriter, samples: Array[Double], quant: Array[Int],
                          dcCodes: Map[Int, (Int, Int)], acCodes: Map[Int, (Int, Int)],
                          dcPred: Int): Int = {
    val q = quantize(samples, quant)
    val pred = encodeDc(bw, q(0), dcCodes, dcPred)
    encodeAcs(bw, q, acCodes)
    pred
  }

  /** Extract the 8×8 block at (bx, by) from `plane` (pw×ph), edge-
    * replicating beyond the boundary, level-shifted by -128. */
  private def block(plane: Array[Int], pw: Int, ph: Int, bx: Int, by: Int): Array[Double] = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      val sy = math.min(by * 8 + y, ph - 1)
      var x = 0
      while (x < 8) {
        val sx = math.min(bx * 8 + x, pw - 1)
        out(y * 8 + x) = plane(sy * pw + sx) - 128.0
        x += 1
      }
      y += 1
    }
    out
  }

  /** Baseline JFIF encoder. `rgb(x, y)` returns packed 0xRRGGBB.
    * `gray` writes a 1-component file; `subsample420` writes luma 2×2 /
    * chroma 1×1, `subsample422` luma 2×1 / chroma 1×1 (chroma planes
    * box-averaged). `restartInterval` > 0 writes a DRI segment and
    * RSTn markers every that many MCUs (DC prediction resets). */
  def encode(w: Int, h: Int, rgb: (Int, Int) => Int,
             gray: Boolean = false, subsample420: Boolean = false,
             subsample422: Boolean = false, restartInterval: Int = 0,
             progressive: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0)
    require(!(subsample420 && subsample422), "pick one subsampling profile")
    require(!(progressive && restartInterval > 0),
      "progressive encoder does not emit restart markers")
    val out = new Bytes.Writer()
    def marker(m: Int): Unit = { out.u8(0xff); out.u8(m) }
    def seg(m: Int, body: Array[Byte]): Unit = {
      marker(m); out.be16(body.length + 2); out.bytes(body)
    }
    marker(0xd8) // SOI
    seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: table 0 (luma) and, for color, table 1 (chroma); zigzag order
    def dqtBody(id: Int, q: Array[Int]): Array[Byte] = {
      val b = new Array[Byte](65)
      b(0) = id.toByte
      var k = 0; while (k < 64) { b(1 + k) = q(Zigzag(k)).toByte; k += 1 }
      b
    }
    seg(0xdb, dqtBody(0, LumQuant))
    if (!gray) seg(0xdb, dqtBody(1, ChromaQuant))
    // SOF0
    val nComp = if (gray) 1 else 3
    val sof = new Bytes.Writer()
    sof.u8(8); sof.be16(h); sof.be16(w); sof.u8(nComp)
    val (hL, vL) =
      if (gray) (1, 1)
      else if (subsample420) (2, 2)
      else if (subsample422) (2, 1)
      else (1, 1)
    sof.u8(1); sof.u8((hL << 4) | vL); sof.u8(0)
    if (!gray) {
      sof.u8(2); sof.u8(0x11); sof.u8(1)
      sof.u8(3); sof.u8(0x11); sof.u8(1)
    }
    seg(if (progressive) 0xc2 else 0xc0, sof.toByteArray)
    // DHT
    def dhtBody(cls: Int, id: Int, bits: Array[Int], vals: Array[Byte]): Array[Byte] = {
      val b = new Bytes.Writer()
      b.u8((cls << 4) | id)
      bits.foreach(b.u8)
      b.bytes(vals)
      b.toByteArray
    }
    seg(0xc4, dhtBody(0, 0, DcLumBits, DcLumVals))
    seg(0xc4, dhtBody(1, 0, AcLumBits, AcLumVals))
    if (!gray) {
      seg(0xc4, dhtBody(0, 1, DcChromaBits, DcChromaVals))
      seg(0xc4, dhtBody(1, 1, AcChromaBits, AcChromaVals))
    }
    if (restartInterval > 0) {
      val dri = new Bytes.Writer()
      dri.be16(restartInterval)
      seg(0xdd, dri.toByteArray)
    }
    // SOS header writer: component selectors + spectral params
    def sosSeg(compIds: Seq[Int], ss: Int, se: Int, ahAl: Int): Unit = {
      val sos = new Bytes.Writer()
      sos.u8(compIds.length)
      compIds.foreach { id =>
        sos.u8(id)
        sos.u8(if (id == 1) 0x00 else 0x11) // (dcTab<<4)|acTab
      }
      sos.u8(ss); sos.u8(se); sos.u8(ahAl)
      seg(0xda, sos.toByteArray)
    }
    if (!progressive)
      sosSeg((1 to nComp), 0, 63, 0)

    // component planes (BT.601 full-range YCbCr)
    val yP = new Array[Int](w * h)
    val cbP = new Array[Int](w * h)
    val crP = new Array[Int](w * h)
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val p = rgb(xx, yy)
        val r = (p >>> 16) & 0xff; val g = (p >>> 8) & 0xff; val b = p & 0xff
        val i = yy * w + xx
        yP(i) = clamp8(math.round(0.299 * r + 0.587 * g + 0.114 * b).toInt)
        cbP(i) = clamp8(math.round(128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b).toInt)
        crP(i) = clamp8(math.round(128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b).toInt)
        xx += 1
      }
      yy += 1
    }
    val dcLumCodes = buildCodes(DcLumBits, DcLumVals)
    val acLumCodes = buildCodes(AcLumBits, AcLumVals)
    val dcChrCodes = buildCodes(DcChromaBits, DcChromaVals)
    val acChrCodes = buildCodes(AcChromaBits, AcChromaVals)
    // chroma planes subsampled to the MCU grid: hL×vL box means
    // (identity at 1×1 — the same arrays)
    val cw = (w + hL - 1) / hL; val ch = (h + vL - 1) / vL
    val (cbS, crS) =
      if (hL == 1 && vL == 1) (cbP, crP)
      else {
        val cb = new Array[Int](cw * ch)
        val cr = new Array[Int](cw * ch)
        var cy = 0
        while (cy < ch) {
          var cx = 0
          while (cx < cw) {
            var sCb = 0; var sCr = 0; var cnt = 0
            var dy = 0
            while (dy < vL) {
              var dx = 0
              while (dx < hL) {
                val sx = cx * hL + dx; val sy = cy * vL + dy
                if (sx < w && sy < h) {
                  sCb += cbP(sy * w + sx); sCr += crP(sy * w + sx); cnt += 1
                }
                dx += 1
              }
              dy += 1
            }
            cb(cy * cw + cx) = (sCb + cnt / 2) / cnt
            cr(cy * cw + cx) = (sCr + cnt / 2) / cnt
            cx += 1
          }
          cy += 1
        }
        (cb, cr)
      }
    val mcusX = (w + 8 * hL - 1) / (8 * hL)
    val mcusY = (h + 8 * vL - 1) / (8 * vL)
    if (!progressive) {
      // one generic interleaved MCU loop: vL×hL luma blocks then (for
      // color) one Cb + one Cr block per MCU, RSTn every restartInterval
      val bw = new BitWriter(out)
      val dc = Array(0, 0, 0)
      var rst = 0
      var mcu = 0
      val totalMcus = mcusX * mcusY
      while (mcu < totalMcus) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush() // pad to byte boundary, then the marker
          marker(0xd0 + rst); rst = (rst + 1) % 8
          java.util.Arrays.fill(dc, 0)
        }
        val mx = mcu % mcusX; val my = mcu / mcusX
        var v = 0
        while (v < vL) {
          var u = 0
          while (u < hL) {
            dc(0) = encodeBlock(bw, block(yP, w, h, mx * hL + u, my * vL + v),
              LumQuant, dcLumCodes, acLumCodes, dc(0))
            u += 1
          }
          v += 1
        }
        if (!gray) {
          dc(1) = encodeBlock(bw, block(cbS, cw, ch, mx, my),
            ChromaQuant, dcChrCodes, acChrCodes, dc(1))
          dc(2) = encodeBlock(bw, block(crS, cw, ch, mx, my),
            ChromaQuant, dcChrCodes, acChrCodes, dc(2))
        }
        mcu += 1
      }
      bw.flush()
    } else {
      // PROGRESSIVE (spectral selection only, no successive
      // approximation): one DC scan — interleaved for color, matching
      // the decoder's MCU walk — then one full-band AC scan per
      // component over the COMPONENT's own block grid (T.81 G.1:
      // sequential run/size coding with EOB0 is a valid AC-first
      // scan). The same quantized coefficients feed both scans, so
      // the constant-cell exactness argument carries over verbatim.
      case class Plane(px: Array[Int], pw: Int, ph: Int, quant: Array[Int],
                       bWfull: Int, bHfull: Int, hS: Int, vS: Int)
      val plns =
        if (gray) Array(Plane(yP, w, h, LumQuant, mcusX, mcusY, 1, 1))
        else Array(
          Plane(yP, w, h, LumQuant, mcusX * hL, mcusY * vL, hL, vL),
          Plane(cbS, cw, ch, ChromaQuant, mcusX, mcusY, 1, 1),
          Plane(crS, cw, ch, ChromaQuant, mcusX, mcusY, 1, 1))
      // quantize every full-grid block once
      val qb: Array[Array[Array[Int]]] = plns.map { p =>
        Array.tabulate(p.bWfull * p.bHfull) { i =>
          quantize(block(p.px, p.pw, p.ph, i % p.bWfull, i / p.bWfull), p.quant)
        }
      }
      // DC scan
      sosSeg(1 to nComp, 0, 0, 0)
      val bwDc = new BitWriter(out)
      val dc = Array(0, 0, 0)
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        val mx = mcu % mcusX; val my = mcu / mcusX
        var ci = 0
        while (ci < plns.length) {
          val p = plns(ci)
          val dcCodes = if (ci == 0) dcLumCodes else dcChrCodes
          var v = 0
          while (v < p.vS) {
            var u = 0
            while (u < p.hS) {
              val bi = (my * p.vS + v) * p.bWfull + mx * p.hS + u
              dc(ci) = encodeDc(bwDc, qb(ci)(bi)(0), dcCodes, dc(ci))
              u += 1
            }
            v += 1
          }
          ci += 1
        }
        mcu += 1
      }
      bwDc.flush()
      // per-component AC scans (Ss=1, Se=63), non-interleaved
      var ci = 0
      while (ci < plns.length) {
        val p = plns(ci)
        sosSeg(Seq(ci + 1), 1, 63, 0)
        val bwAc = new BitWriter(out)
        val acCodes = if (ci == 0) acLumCodes else acChrCodes
        val nbx = (p.pw + 7) / 8; val nby = (p.ph + 7) / 8
        var by = 0
        while (by < nby) {
          var bx = 0
          while (bx < nbx) {
            encodeAcs(bwAc, qb(ci)(by * p.bWfull + bx), acCodes)
            bx += 1
          }
          by += 1
        }
        bwAc.flush()
        ci += 1
      }
    }
    marker(0xd9) // EOI
    out.toByteArray
  }

  private def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

  // ----------------------------------------------------------------
  // decoder
  // ----------------------------------------------------------------

  /** Fast canonical-Huffman decode table: firstCode/firstIndex per
    * length (the T.81 DECODE procedure). */
  private final class HuffTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17) // -1 = no codes at this length
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) == 0) { minCode(len) = 0; maxCode(len) = -1; valPtr(len) = 0 }
        else {
          valPtr(len) = k
          minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1
        len += 1
      }
    }
    def value(len: Int, code: Int): Int =
      vals(valPtr(len) + (code - minCode(len))) & 0xff
  }

  /** Bit reader over the entropy-coded segment: unstuffs FF00, stops
    * at any other marker (leaving it for the caller), surfaces RSTn. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var nbits = 0
    var atMarker: Int = -1 // marker byte seen (e.g. 0xD9), or -1

    def dropToByte(): Unit = { acc = 0; nbits = 0 }

    private def fill(): Boolean = {
      if (atMarker >= 0) return false
      while (pos < b.length) {
        val v = b(pos) & 0xff
        if (v != 0xff) { pos += 1; acc = (acc << 8) | v; nbits += 8; return true }
        if (pos + 1 >= b.length) return false
        val m = b(pos + 1) & 0xff
        if (m == 0x00) { pos += 2; acc = (acc << 8) | 0xff; nbits += 8; return true }
        if (m != 0xff) { atMarker = m; return false } // a real marker: stop
        pos += 1 // 0xFF FILL byte before a marker (T.81 B.1.1.2): skip
      }
      false
    }

    /** Next bit, or -1 at a marker/end (missing data decodes as 0 per
      * the usual tolerant-decoder convention? No — we fail clean). */
    def bit(): Int = {
      if (nbits == 0 && !fill()) return -1
      nbits -= 1
      (acc >>> nbits) & 1
    }

    def bitsValue(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val x = bit()
        if (x < 0) throw new DecodeFail
        v = (v << 1) | x
        i += 1
      }
      v
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = 0
      var len = 0
      while (len < 16) {
        val x = bit()
        if (x < 0) throw new DecodeFail
        code = (code << 1) | x
        len += 1
        if (t.maxCode(len) >= 0 && code <= t.maxCode(len) && code >= t.minCode(len))
          return t.value(len, code)
      }
      throw new DecodeFail
    }

    /** Consume an expected RST marker; returns its index 0-7 or -1. */
    def takeRst(): Int = {
      // any buffered bits are padding before the marker
      dropToByte()
      if (atMarker < 0) {
        // marker not yet seen: scan forward (pos sits ON 0xff if so),
        // tolerating 0xFF fill bytes before the marker code
        while (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
               (b(pos + 1) & 0xff) == 0xff) pos += 1
        if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff) {
          atMarker = b(pos + 1) & 0xff
          pos += 2
        } else return -1
      } else {
        pos += 2 // step past the ff xx we stopped on
      }
      val m = atMarker
      if (m >= 0xd0 && m <= 0xd7) { atMarker = -1; m - 0xd0 } else -1
    }
  }

  private final class DecodeFail extends RuntimeException

  private def extend(v: Int, sz: Int): Int =
    if (sz == 0) 0
    else if (v < (1 << (sz - 1))) v - (1 << sz) + 1
    else v

  /** Separable 2-D IDCT (same cosine table as the FDCT): columns then
    * rows, with the normalizers folded into a pre-scaled coefficient
    * pass. DC-only blocks (the constant-cell gate) stay bit-exact:
    * the pre-scale and both passes multiply by the same factors in
    * the same order for every pixel. */
  private def idct(coef: Array[Int]): Array[Int] = {
    val scaled = new Array[Double](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        val c = coef(v * 8 + u)
        if (c != 0) scaled(v * 8 + u) = 0.25 * CNorm(u) * CNorm(v) * c
        u += 1
      }
      v += 1
    }
    val tmp = new Array[Double](64) // tmp(x*8+v) = Σ_u scaled(v,u)·C[u][x]
    var x = 0
    while (x < 8) {
      var vv = 0
      while (vv < 8) {
        var sum = 0.0
        var u = 0
        while (u < 8) { sum += scaled(vv * 8 + u) * CosTab(u * 8 + x); u += 1 }
        tmp(x * 8 + vv) = sum
        vv += 1
      }
      x += 1
    }
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var xx = 0
      while (xx < 8) {
        var sum = 0.0
        var vv = 0
        while (vv < 8) { sum += tmp(xx * 8 + vv) * CosTab(vv * 8 + y); vv += 1 }
        out(y * 8 + xx) = clamp8(math.round(sum).toInt + 128)
        xx += 1
      }
      y += 1
    }
    out
  }

  private case class Comp(id: Int, hSamp: Int, vSamp: Int, quantId: Int,
                          var dcTab: Int = 0, var acTab: Int = 0)

  /** Decode a baseline JPEG to (w, h, packed 0xRRGGBB row-major).
    * None on anything outside the supported baseline profile or any
    * structural corruption — a curation pipeline must route bad blobs
    * to a quarantine count, never throw. */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    try decodeOrThrow(b)
    catch { case _: DecodeFail | _: ArrayIndexOutOfBoundsException |
                 _: NoSuchElementException | _: NegativeArraySizeException => None }
  }

  private def decodeOrThrow(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return None
    var pos = 2
    val quant = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Comp] = null
    var w = 0; var h = 0
    var restartInterval = 0
    var progressive = false
    var stores: Array[Array[Int]] = null // per-comp coefficient memory
    var sawScan = false
    var skipAdvance = false

    while (pos + 2 <= b.length) {
      if ((b(pos) & 0xff) != 0xff) return None
      // 0xFF FILL bytes are legal padding before any marker (T.81
      // B.1.1.2): skip them rather than misparse the next 0xFF as a
      // segment-bearing marker code
      while (pos + 2 <= b.length && (b(pos + 1) & 0xff) == 0xff) pos += 1
      if (pos + 2 > b.length) return None
      val m = b(pos + 1) & 0xff
      if (m == 0xd9) // EOI: a finished progressive image, or truncation
        return if (progressive && sawScan)
          finishProgressive(w, h, comps, quant, stores)
        else None
      if (pos + 4 > b.length) return None
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { pos += 2 } // standalone
      else {
        val len = Bytes.be16u(b, pos + 2)
        if (len < 2 || pos + 2 + len > b.length) return None
        val body = pos + 4
        m match {
          case 0xdb => // DQT: one or more tables
            var p = body
            while (p < pos + 2 + len) {
              val pq = (b(p) & 0xff) >> 4
              val tq = (b(p) & 0xff) & 0x0f
              if (tq > 3) return None
              val t = new Array[Int](64)
              var k = 0
              if (pq == 0) {
                while (k < 64) { t(Zigzag(k)) = b(p + 1 + k) & 0xff; k += 1 }
                p += 65
              } else {
                while (k < 64) { t(Zigzag(k)) = Bytes.be16u(b, p + 1 + 2 * k); k += 1 }
                p += 129
              }
              quant(tq) = t
            }
          case 0xc4 => // DHT: one or more tables
            var p = body
            while (p < pos + 2 + len) {
              val tc = (b(p) & 0xff) >> 4
              val th = (b(p) & 0xff) & 0x0f
              if (tc > 1 || th > 3) return None
              val bits = (0 until 16).map(i => b(p + 1 + i) & 0xff).toArray
              val n = bits.sum
              if (n > 256) return None
              val vals = new Array[Byte](n)
              System.arraycopy(b, p + 17, vals, 0, n)
              val tab = new HuffTable(bits, vals)
              if (tc == 0) dcTabs(th) = tab else acTabs(th) = tab
              p += 17 + n
            }
          case 0xc0 | 0xc1 | 0xc2 => // baseline / ext sequential / PROGRESSIVE
            // 12-bit sample precision is legal in SOF1/2 but outside
            // this decoder's 8-bit pipeline — None, not garbage pixels
            if ((b(body) & 0xff) != 8) return None
            progressive = m == 0xc2
            h = Bytes.be16u(b, body + 1); w = Bytes.be16u(b, body + 3)
            val n = b(body + 5) & 0xff
            if (w <= 0 || h <= 0 || (n != 1 && n != 3)) return None
            comps = (0 until n).map { i =>
              val o = body + 6 + 3 * i
              val samp = b(o + 1) & 0xff
              val cs = Comp(b(o) & 0xff, samp >> 4, samp & 0x0f, b(o + 2) & 0xff)
              if (cs.hSamp < 1 || cs.hSamp > 2 || cs.vSamp < 1 || cs.vSamp > 2)
                return None
              cs
            }.toArray
            // a 1-component image decodes non-interleaved 1×1 whatever
            // the SOF declares (T.81 A.2.2) — normalize once, up front
            if (n == 1) comps = comps.map(_.copy(hSamp = 1, vSamp = 1))
            if (progressive) {
              val hm = comps.map(_.hSamp).max; val vm = comps.map(_.vSamp).max
              val mx = (w + 8 * hm - 1) / (8 * hm)
              val my = (h + 8 * vm - 1) / (8 * vm)
              stores = comps.map(c =>
                new Array[Int](mx * c.hSamp * my * c.vSamp * 64))
            }
          case 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
               0xcd | 0xce | 0xcf =>
            return None // lossless/arithmetic/hierarchical: out of scope
          case 0xdd => restartInterval = Bytes.be16u(b, body)
          case 0xda => // SOS
            if (comps == null) return None
            val ns = b(body) & 0xff
            var o = body + 1
            val selected = new Array[Int](ns)
            var i = 0
            while (i < ns) {
              val cid = b(o) & 0xff
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return None
              comps(ci).dcTab = (b(o + 1) & 0xff) >> 4
              comps(ci).acTab = (b(o + 1) & 0xff) & 0x0f
              selected(i) = ci
              o += 2; i += 1
            }
            if (!progressive) {
              if (ns != comps.length) return None // non-interleaved seq: out of scope
              return decodeScan(b, pos + 2 + len, w, h, comps, quant, dcTabs,
                acTabs, restartInterval)
            }
            val ss = b(o) & 0xff
            val se = b(o + 1) & 0xff
            val ah = (b(o + 2) & 0xff) >> 4
            val al = (b(o + 2) & 0xff) & 0x0f
            pos = decodeProgressiveScan(b, pos + 2 + len, w, h, comps,
              selected, ss, se, ah, al, restartInterval, dcTabs, acTabs, stores)
            sawScan = true
            skipAdvance = true
          case _ => // APPn, COM, others: skip
        }
        if (!skipAdvance) pos += 2 + len
        skipAdvance = false
      }
    }
    None
  }

  private def decodeScan(b: Array[Byte], start: Int, w: Int, h: Int,
                         comps0: Array[Comp], quant: Array[Array[Int]],
                         dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
                         restartInterval: Int): Option[(Int, Int, Array[Int])] = {
    // T.81 A.2.2: a single-component scan is NON-interleaved — one
    // data unit per MCU over ceil(w/8) × ceil(h/8), regardless of the
    // sampling factors the SOF declares (encoders that strip chroma
    // legally leave 2×2 on the remaining component)
    val comps =
      if (comps0.length == 1) comps0.map(_.copy(hSamp = 1, vSamp = 1))
      else comps0
    val hMax = comps.map(_.hSamp).max
    val vMax = comps.map(_.vSamp).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // per-component plane sized to the MCU grid
    val planes = comps.map(c => new Array[Int](mcusX * c.hSamp * 8 * mcusY * c.vSamp * 8))
    val planeW = comps.map(c => mcusX * c.hSamp * 8)
    val dcPred = new Array[Int](comps.length)
    val br = new BitReader(b, start)
    var mcu = 0
    val totalMcus = mcusX * mcusY
    while (mcu < totalMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (br.takeRst() < 0) return None
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX
      val my = mcu / mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = quant(c.quantId)
        if (q == null) return None
        val dcT = dcTabs(c.dcTab); val acT = acTabs(c.acTab)
        if (dcT == null || acT == null) return None
        var v = 0
        while (v < c.vSamp) {
          var u = 0
          while (u < c.hSamp) {
            val coef = new Array[Int](64)
            val cat = br.decodeHuff(dcT)
            val diff = extend(br.bitsValue(cat), cat)
            dcPred(ci) += diff
            coef(0) = dcPred(ci) * q(0)
            var k = 1
            while (k < 64) {
              val rs = br.decodeHuff(acT)
              val r = rs >> 4; val sz = rs & 0x0f
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else k = 64 // EOB
              } else {
                k += r
                if (k > 63) throw new DecodeFail
                coef(Zigzag(k)) = extend(br.bitsValue(sz), sz) * q(Zigzag(k))
                k += 1
              }
            }
            val px = idct(coef)
            val bx = mx * c.hSamp + u
            val by = my * c.vSamp + v
            val pw = planeW(ci)
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                planes(ci)((by * 8 + yy) * pw + bx * 8 + xx) = px(yy * 8 + xx)
                xx += 1
              }
              yy += 1
            }
            u += 1
          }
          v += 1
        }
        ci += 1
      }
      mcu += 1
    }
    composeRgb(w, h, comps, planes, planeW, hMax, vMax)
  }

  /** RGB composition with nearest-neighbor chroma upsampling — shared
    * by the sequential and progressive finish paths. */
  private def composeRgb(w: Int, h: Int, comps: Array[Comp],
                         planes: Array[Array[Int]], planeW: Array[Int],
                         hMax: Int, vMax: Int): Option[(Int, Int, Array[Int])] = {
    val out = new Array[Int](w * h)
    if (comps.length == 1) {
      val pw = planeW(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = planes(0)(y * pw + x)
          out(y * w + x) = (g << 16) | (g << 8) | g
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            val sx = x * c.hSamp / hMax
            val sy = y * c.vSamp / vMax
            planes(ci)(sy * planeW(ci) + sx)
          }
          val yv = sample(0)
          val cb = sample(1) - 128
          val cr = sample(2) - 128
          val r = clamp8(math.round(yv + 1.402 * cr).toInt)
          val g = clamp8(math.round(yv - 0.344136286 * cb - 0.714136286 * cr).toInt)
          val bl = clamp8(math.round(yv + 1.772 * cb).toInt)
          out(y * w + x) = (r << 16) | (g << 8) | bl
          x += 1
        }
        y += 1
      }
    }
    Some((w, h, out))
  }

  // ----------------------------------------------------------------
  // progressive (SOF2) decoding — T.81 Annex G, Huffman
  // ----------------------------------------------------------------

  /** Decode one progressive scan into the per-component coefficient
    * stores, returning the byte position of the marker that follows
    * the entropy data. Four scan shapes (G.1.2): DC first (Ss=0,
    * Ah=0, values shifted left Al), DC refinement (one bit per block
    * ORed in at Al), AC first (single component, EOBn run codes), and
    * AC refinement (correction bits on nonzero history + new ±1<<Al
    * coefficients). Coefficients stay UN-dequantized until
    * [[finishProgressive]]. */
  private def decodeProgressiveScan(b: Array[Byte], start: Int, w: Int, h: Int,
                                    comps: Array[Comp], selected: Array[Int],
                                    ss: Int, se: Int, ah: Int, al: Int,
                                    restartInterval: Int,
                                    dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
                                    stores: Array[Array[Int]]): Int = {
    if (ss < 0 || se > 63 || ss > se || al > 13) throw new DecodeFail
    if (ss == 0 && se != 0) throw new DecodeFail // DC scan is DC-only in progressive
    if (ss > 0 && selected.length != 1) throw new DecodeFail // AC scans: one component
    val hMax = comps.map(_.hSamp).max
    val vMax = comps.map(_.vSamp).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    def storeBW(ci: Int) = mcusX * comps(ci).hSamp
    val br = new BitReader(b, start)
    val dcPred = new Array[Int](selected.length)
    var eobrun = 0
    val p1 = 1 << al

    def dcUnit(si: Int, ci: Int, blockIdx: Int): Unit = {
      val coef = stores(ci)
      val base = blockIdx * 64
      if (ah == 0) {
        val t = dcTabs(comps(ci).dcTab)
        if (t == null) throw new DecodeFail
        val cat = br.decodeHuff(t)
        dcPred(si) += extend(br.bitsValue(cat), cat)
        coef(base) = dcPred(si) << al
      } else {
        val bit = br.bit()
        if (bit < 0) throw new DecodeFail
        if (bit == 1) coef(base) |= p1
      }
    }

    def acFirstUnit(ci: Int, blockIdx: Int): Unit = {
      val coef = stores(ci)
      val base = blockIdx * 64
      if (eobrun > 0) { eobrun -= 1; return }
      val t = acTabs(comps(ci).acTab)
      if (t == null) throw new DecodeFail
      var k = ss
      while (k <= se) {
        val rs = br.decodeHuff(t)
        val r = rs >> 4; val s = rs & 0x0f
        if (s != 0) {
          k += r
          if (k > se) throw new DecodeFail
          coef(base + Zigzag(k)) = extend(br.bitsValue(s), s) << al
          k += 1
        } else if (r == 15) {
          k += 16 // ZRL
        } else {
          eobrun = (1 << r) - 1
          if (r > 0) eobrun += br.bitsValue(r)
          k = se + 1 // EOB for this block; eobrun covers the NEXT blocks
        }
      }
    }

    def acRefineUnit(ci: Int, blockIdx: Int): Unit = {
      val coef = stores(ci)
      val base = blockIdx * 64
      val t = acTabs(comps(ci).acTab)
      if (t == null) throw new DecodeFail
      def correct(z: Int): Unit = {
        val bit = br.bit()
        if (bit < 0) throw new DecodeFail
        if (bit == 1 && (coef(base + z) & p1) == 0)
          coef(base + z) += (if (coef(base + z) >= 0) p1 else -p1)
      }
      var k = ss
      if (eobrun == 0) {
        var inEob = false
        while (k <= se && !inEob) {
          val rs = br.decodeHuff(t)
          var r = rs >> 4; val s = rs & 0x0f
          var newVal = 0
          if (s != 0) {
            if (s != 1) throw new DecodeFail // refinement codes only ±1
            val bit = br.bit()
            if (bit < 0) throw new DecodeFail
            newVal = if (bit == 1) p1 else -p1
          } else if (r != 15) {
            eobrun = 1 << r
            if (r > 0) eobrun += br.bitsValue(r)
            inEob = true // fall through to the EOB correction sweep
          }
          if (!inEob) {
            // advance over r zero-HISTORY coefficients, emitting
            // correction bits for every nonzero one passed
            var placed = false
            while (k <= se && !placed) {
              val z = Zigzag(k)
              if (coef(base + z) != 0) correct(z)
              else {
                if (r == 0) {
                  if (newVal != 0) coef(base + z) = newVal
                  placed = true
                } else r -= 1
              }
              k += 1
            }
            if (!placed && newVal != 0) throw new DecodeFail // ran past Se
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) { // corrections continue through the EOB run
          val z = Zigzag(k)
          if (coef(base + z) != 0) correct(z)
          k += 1
        }
        eobrun -= 1
      }
    }

    def unit(si: Int, ci: Int, blockIdx: Int): Unit =
      if (ss == 0) dcUnit(si, ci, blockIdx)
      else if (ah == 0) acFirstUnit(ci, blockIdx)
      else acRefineUnit(ci, blockIdx)

    def restart(mcu: Int): Unit =
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (br.takeRst() < 0) throw new DecodeFail
        java.util.Arrays.fill(dcPred, 0)
        eobrun = 0
      }

    if (selected.length > 1) {
      // interleaved (DC scans only, enforced above): full MCU walk
      var mcu = 0
      val total = mcusX * mcusY
      while (mcu < total) {
        restart(mcu)
        val mx = mcu % mcusX; val my = mcu / mcusX
        var si = 0
        while (si < selected.length) {
          val ci = selected(si)
          val c = comps(ci)
          var v = 0
          while (v < c.vSamp) {
            var u = 0
            while (u < c.hSamp) {
              unit(si, ci, (my * c.vSamp + v) * storeBW(ci) + mx * c.hSamp + u)
              u += 1
            }
            v += 1
          }
          si += 1
        }
        mcu += 1
      }
    } else {
      // non-interleaved: one data unit per MCU over the COMPONENT's
      // own block grid (ceil of the component dimensions), row-major
      val ci = selected(0)
      val c = comps(ci)
      val compW = (w * c.hSamp + hMax - 1) / hMax
      val compH = (h * c.vSamp + vMax - 1) / vMax
      val nbx = (compW + 7) / 8
      val nby = (compH + 7) / 8
      var mcu = 0
      val total = nbx * nby
      while (mcu < total) {
        restart(mcu)
        unit(0, ci, (mcu / nbx) * storeBW(ci) + (mcu % nbx))
        mcu += 1
      }
    }
    br.dropToByte()
    br.pos
  }

  /** Dequantize + IDCT every stored block and compose the image —
    * runs once, at EOI, after all scans have landed. */
  private def finishProgressive(w: Int, h: Int, comps: Array[Comp],
                                quant: Array[Array[Int]],
                                stores: Array[Array[Int]])
      : Option[(Int, Int, Array[Int])] = {
    val hMax = comps.map(_.hSamp).max
    val vMax = comps.map(_.vSamp).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val planes = comps.map(c => new Array[Int](mcusX * c.hSamp * 8 * mcusY * c.vSamp * 8))
    val planeW = comps.map(c => mcusX * c.hSamp * 8)
    val deq = new Array[Int](64)
    var ci = 0
    while (ci < comps.length) {
      val c = comps(ci)
      val q = quant(c.quantId)
      if (q == null) return None
      val bw = mcusX * c.hSamp; val bh = mcusY * c.vSamp
      val coef = stores(ci)
      var blk = 0
      while (blk < bw * bh) {
        var z = 0
        while (z < 64) { deq(z) = coef(blk * 64 + z) * q(z); z += 1 }
        val px = idct(deq)
        val bx = blk % bw; val by = blk / bw
        val pw = planeW(ci)
        var yy = 0
        while (yy < 8) {
          var xx = 0
          while (xx < 8) {
            planes(ci)((by * 8 + yy) * pw + bx * 8 + xx) = px(yy * 8 + xx)
            xx += 1
          }
          yy += 1
        }
        blk += 1
      }
      ci += 1
    }
    composeRgb(w, h, comps, planes, planeW, hMax, vMax)
  }

  /** [[luminance]] that also returns the decoded dimensions — for
    * container decoders (MJPEG) that must cross-check frame dims
    * against their own header. */
  def luminanceWithDims(b: Array[Byte]): Option[(Int, Int, Array[Long])] =
    decode(b).map { case (w, h, px) =>
      val out = new Array[Long](w * h)
      var i = 0
      while (i < px.length) {
        out(i) = Multimodal.luma((px(i) >>> 16) & 0xff, (px(i) >>> 8) & 0xff, px(i) & 0xff)
        i += 1
      }
      (w, h, out)
    }

  /** Per-pixel integer luma of a decoded JPEG — the [[Multimodal.luma]]
    * convention ((299R+587G+114B)/1000). */
  def luminance(b: Array[Byte]): Option[Array[Long]] =
    luminanceWithDims(b).map(_._3)
}

package graft.operators

/** From-scratch FLAC codec (the LOSSLESS compressed-audio tier,
  * completing the arc: LZW → JPEG → G.711 → ADPCM → Rice): encoder
  * and decoder for the real container per the public format spec
  * (xiph.org FLAC format, RFC 9639) — "fLaC" magic + STREAMINFO
  * metadata block, frames with CRC-8'd headers and CRC-16'd bodies,
  * UTF-8-coded frame numbers, and per-channel subframes:
  *
  *  - CONSTANT / VERBATIM / FIXED(0..4) both directions; the encoder
  *    picks the cheapest per block (a real size estimate, not a
  *    heuristic), so constant stretches, ramps and noise each land in
  *    their natural subframe type;
  *  - residuals Rice-coded (zigzag fold, unary quotient + p-bit
  *    remainder) with general 2^po partitions and the 5-bit-raw
  *    escape on decode;
  *  - LPC subframes DECODE (quantized coeffs, signed shift,
  *    bps-wide warmup) — encode side exposes a coefficient-pinned
  *    LPC arm so the path is bit-round-trip tested, not dead code;
  *  - stereo decorrelation: left/side, right/side, mid/side (side
  *    channel at bps+1, the spec's extra bit) + independent;
  *  - wasted-bits (shifted-sample) subframes both directions.
  *
  * Because FLAC is lossless, ANY integer signal round-trips
  * bit-exactly — the corpus key's oracle replays the generating
  * formula with no special-case trick (unlike the lossy codecs'
  * constant-cell/quantizer-rung constructions). Decode never throws:
  * truncation, bad magic, CRC mismatch, reserved codes → None. */
object Flac {

  // ── bit I/O (MSB-first, the FLAC bit order) ─────────────────────
  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0
    def bits(v: Long, n: Int): Unit = {
      var left = n
      while (left > 0) {
        val take = math.min(left, 56 - nAcc)
        acc = (acc << take) | ((v >>> (left - take)) & ((1L << take) - 1))
        nAcc += take; left -= take
        while (nAcc >= 8) {
          out.write(((acc >>> (nAcc - 8)) & 0xff).toInt)
          nAcc -= 8
        }
      }
    }
    def unary(q: Int): Unit = { var i = 0; while (i < q) { bits(0, 1); i += 1 }; bits(1, 1) }
    def alignZero(): Unit = if (nAcc > 0) bits(0, 8 - nAcc)
    def toBytes: Array[Byte] = { alignZero(); out.toByteArray }
  }

  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var bit = 0
    def eof: Boolean = pos >= b.length
    def read(n: Int): Long = {
      var v = 0L; var left = n
      while (left > 0) {
        if (pos >= b.length) throw new IllegalStateException("eof")
        val avail = 8 - bit
        val take = math.min(left, avail)
        val cur = (b(pos) >> (avail - take)) & ((1 << take) - 1)
        v = (v << take) | (cur & 0xff)
        bit += take; left -= take
        if (bit == 8) { bit = 0; pos += 1 }
      }
      v
    }
    def readUnary(): Int = {
      var q = 0
      while (read(1) == 0L) { q += 1; if (q > (1 << 24)) throw new IllegalStateException("unary") }
      q
    }
    def signed(n: Int): Int = {
      val v = read(n)
      if (n == 0) 0 else ((v << (64 - n)).toLong >> (64 - n)).toInt
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
    def byteAligned: Boolean = bit == 0
  }

  // ── CRCs (FLAC polynomials, init 0) ─────────────────────────────
  private def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) { crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff; k += 1 }
      i += 1
    }
    crc
  }
  private def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) { crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff else (crc << 1) & 0xffff; k += 1 }
      i += 1
    }
    crc
  }

  /** UTF-8-style coded number (the frame-number coding). */
  private def writeUtf8(bw: BitWriter, v: Long): Unit = {
    if (v < 0x80) bw.bits(v, 8)
    else if (v < 0x800) { bw.bits(0xc0 | (v >> 6), 8); bw.bits(0x80 | (v & 0x3f), 8) }
    else if (v < 0x10000) {
      bw.bits(0xe0 | (v >> 12), 8); bw.bits(0x80 | ((v >> 6) & 0x3f), 8)
      bw.bits(0x80 | (v & 0x3f), 8)
    } else {
      bw.bits(0xf0 | (v >> 18), 8); bw.bits(0x80 | ((v >> 12) & 0x3f), 8)
      bw.bits(0x80 | ((v >> 6) & 0x3f), 8); bw.bits(0x80 | (v & 0x3f), 8)
    }
  }
  private def readUtf8(br: BitReader): Long = {
    val b0 = br.read(8).toInt
    val extra =
      if ((b0 & 0x80) == 0) return b0
      else if ((b0 & 0xe0) == 0xc0) 1
      else if ((b0 & 0xf0) == 0xe0) 2
      else if ((b0 & 0xf8) == 0xf0) 3
      else if ((b0 & 0xfc) == 0xf8) 4
      else if ((b0 & 0xfe) == 0xfc) 5
      else if (b0 == 0xfe) 6
      else throw new IllegalStateException("bad utf8 lead")
    var v = (b0 & (0x7f >> extra)).toLong
    var i = 0
    while (i < extra) {
      val c = br.read(8).toInt
      if ((c & 0xc0) != 0x80) throw new IllegalStateException("bad utf8 cont")
      v = (v << 6) | (c & 0x3f)
      i += 1
    }
    v
  }

  // ── fixed predictors (orders 0..4, the spec's residual defs) ────
  private def fixedResidual(s: Array[Int], order: Int): Array[Long] = {
    val n = s.length
    val r = new Array[Long](n - order)
    var i = order
    while (i < n) {
      r(i - order) = order match {
        case 0 => s(i).toLong
        case 1 => s(i).toLong - s(i - 1)
        case 2 => s(i).toLong - 2L * s(i - 1) + s(i - 2)
        case 3 => s(i).toLong - 3L * s(i - 1) + 3L * s(i - 2) - s(i - 3)
        case 4 => s(i).toLong - 4L * s(i - 1) + 6L * s(i - 2) - 4L * s(i - 3) + s(i - 4)
      }
      i += 1
    }
    r
  }

  private def zigzag(r: Long): Long = if (r >= 0) r << 1 else ((-r) << 1) - 1

  /** Best single-partition Rice parameter + its exact bit cost. */
  private def ricePlan(res: Array[Long]): (Int, Long) = {
    var best = -1; var bestBits = Long.MaxValue
    var p = 0
    while (p <= 14) {
      var bits = 0L
      var i = 0
      while (i < res.length && bits < bestBits) {
        bits += (zigzag(res(i)) >>> p) + 1 + p
        i += 1
      }
      if (bits < bestBits) { bestBits = bits; best = p }
      p += 1
    }
    (best, bestBits)
  }

  private def writeResidual(bw: BitWriter, res: Array[Long], p: Int): Unit = {
    bw.bits(0, 2) // coding method 00: 4-bit rice
    bw.bits(0, 4) // partition order 0
    bw.bits(p, 4)
    var i = 0
    while (i < res.length) {
      val u = zigzag(res(i))
      bw.unary((u >>> p).toInt)
      if (p > 0) bw.bits(u & ((1L << p) - 1), p)
      i += 1
    }
  }

  /** Encode one channel's block as the cheapest of CONSTANT /
    * VERBATIM / FIXED(0..4); `forceLpc` instead writes the order-2
    * fixed predictor AS an LPC subframe (coeffs [2, -1], shift 0) —
    * the decoder's LPC arm, bit-round-trip tested. `wasted` > 0
    * right-shifts samples (caller guarantees the low bits are zero)
    * and records the wasted-bits count per the spec. */
  private def writeSubframe(bw: BitWriter, samples0: Array[Int], bps0: Int,
                            forceLpc: Boolean, wasted: Int): Unit = {
    val bps = bps0 - wasted
    val samples = if (wasted == 0) samples0 else samples0.map(_ >> wasted)
    def header(typ: Int): Unit = {
      bw.bits(0, 1); bw.bits(typ, 6)
      if (wasted == 0) bw.bits(0, 1)
      else { bw.bits(1, 1); var i = 1; while (i < wasted) { bw.bits(0, 1); i += 1 }; bw.bits(1, 1) }
    }
    if (forceLpc && samples.length > 2) {
      header(0x20 | (2 - 1)) // LPC, order 2
      bw.bits(samples(0).toLong & ((1L << bps) - 1), bps)
      bw.bits(samples(1).toLong & ((1L << bps) - 1), bps)
      bw.bits(15 - 1, 4)  // precision 15
      bw.bits(0, 5)       // shift 0
      bw.bits(2L & 0x7fff, 15)  // c0 = 2
      bw.bits((-1L) & 0x7fff, 15) // c1 = -1
      val res = fixedResidual(samples, 2)
      writeResidual(bw, res, ricePlan(res)._1)
      return
    }
    if (samples.forall(_ == samples(0))) {
      header(0x00)
      bw.bits(samples(0).toLong & ((1L << bps) - 1), bps)
      return
    }
    // exact bit costs: verbatim vs each fixed order
    val verbatimBits = samples.length.toLong * bps
    var bestOrder = -1; var bestP = 0; var bestBits = verbatimBits
    var o = 0
    while (o <= 4 && o < samples.length) {
      val res = fixedResidual(samples, o)
      val (p, rb) = ricePlan(res)
      val total = o.toLong * bps + 10 + rb
      if (total < bestBits) { bestBits = total; bestOrder = o; bestP = p }
      o += 1
    }
    if (bestOrder < 0) {
      header(0x01)
      samples.foreach(s => bw.bits(s.toLong & ((1L << bps) - 1), bps))
    } else {
      header(0x08 | bestOrder)
      var i = 0
      while (i < bestOrder) { bw.bits(samples(i).toLong & ((1L << bps) - 1), bps); i += 1 }
      writeResidual(bw, fixedResidual(samples, bestOrder), bestP)
    }
  }

  /** Encode `channels` (1 or 2, equal length, 16-bit range) into a
    * real FLAC stream. `chMode`: -1 = independent; 8/9/10 =
    * left-side / right-side / mid-side (side at bps+1). `lpcBlocks`
    * writes every block's channel 0 through the LPC arm. `wasted`
    * shifts channel 0's subframes (samples must carry that many low
    * zero bits). */
  def encode(sampleRate: Int, channels: Array[Array[Int]],
             blockSize: Int = 1024, chMode: Int = -1,
             lpcBlocks: Boolean = false, wasted: Int = 0): Array[Byte] = {
    require(channels.nonEmpty && channels.length <= 2)
    require(channels.forall(_.length == channels(0).length))
    require(chMode == -1 || (chMode >= 8 && chMode <= 10 && channels.length == 2))
    val bps = 16
    val n = channels(0).length
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriter
    si.bits(1, 1); si.bits(0, 7); si.bits(34, 24) // last block, STREAMINFO, len
    // STREAMINFO min/max block size. This encoder is FIXED-blocksize
    // (every frame is blockSize except the ragged tail), and RFC 9639
    // signals that by min == max — the last block is explicitly
    // allowed to be smaller, so the tail needs no representation
    // here. Reporting the tail as the minimum (the old behavior) was
    // doubly wrong: it marked the stream variable-blocksize, and
    // values 1..15 are reserved and may be rejected outright by
    // spec-strict decoders. Both fields clamp to >=16 for the
    // degenerate all-in-one-tiny-block stream.
    val maxBlock = math.max(math.min(blockSize, n), 16)
    si.bits(maxBlock.toLong, 16); si.bits(maxBlock.toLong, 16)
    si.bits(0, 24); si.bits(0, 24)
    si.bits(sampleRate.toLong, 20)
    si.bits(channels.length - 1L, 3)
    si.bits(bps - 1L, 5)
    si.bits(n.toLong, 36)
    si.bits(0, 64); si.bits(0, 64) // md5 unknown
    val sib = si.toBytes
    out.write(sib, 0, sib.length)
    var frameNo = 0L
    var off = 0
    while (off < n) {
      val bs = math.min(blockSize, n - off)
      val bw = new BitWriter
      bw.bits(0x3ffe, 14); bw.bits(0, 1); bw.bits(0, 1) // sync, resv, fixed strategy
      bw.bits(0x7, 4)  // block size: 16-bit at end
      bw.bits(0x0, 4)  // sample rate: STREAMINFO
      bw.bits(if (chMode == -1) channels.length - 1L else chMode.toLong, 4)
      bw.bits(0x4, 3)  // 16 bps
      bw.bits(0, 1)
      writeUtf8(bw, frameNo)
      bw.bits(bs - 1L, 16)
      val headerBytes = bw.toBytes // aligned: header is whole bytes
      val bw2 = new BitWriter
      headerBytes.foreach(x => bw2.bits(x & 0xffL, 8))
      bw2.bits(crc8(headerBytes, 0, headerBytes.length).toLong, 8)
      val slice = channels.map(c => java.util.Arrays.copyOfRange(c, off, off + bs))
      val subs: Seq[(Array[Int], Int)] = chMode match {
        case -1 => slice.toSeq.map(s => (s, bps))
        case 8 => Seq((slice(0), bps),
          (Array.tabulate(bs)(i => slice(0)(i) - slice(1)(i)), bps + 1))
        case 9 => Seq((Array.tabulate(bs)(i => slice(0)(i) - slice(1)(i)), bps + 1),
          (slice(1), bps))
        case 10 => Seq(
          (Array.tabulate(bs)(i => (slice(0)(i) + slice(1)(i)) >> 1), bps),
          (Array.tabulate(bs)(i => slice(0)(i) - slice(1)(i)), bps + 1))
      }
      subs.zipWithIndex.foreach { case ((s, b), ci) =>
        writeSubframe(bw2, s, b, forceLpc = lpcBlocks && ci == 0,
          wasted = if (ci == 0) wasted else 0)
      }
      val fb = bw2.toBytes // align-to-zero = the frame padding
      out.write(fb, 0, fb.length)
      val c16 = crc16(fb, 0, fb.length)
      out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
      off += bs
      frameNo += 1
    }
    out.toByteArray
  }

  /** Decode a FLAC stream: (sampleRate, per-channel samples). None —
    * never a throw — for bad magic, truncation, CRC mismatch,
    * reserved codes, or an unsupported layout. Handles CONSTANT /
    * VERBATIM / FIXED / LPC subframes, Rice partitions + escape,
    * wasted bits, and all three stereo decorrelation modes. */
  def decode(b: Array[Byte]): Option[(Int, Array[Array[Int]])] = {
    try {
      if (b.length < 42 || new String(b, 0, 4, "US-ASCII") != "fLaC") return None
      var pos = 4
      // metadata blocks
      var siRate = 0; var siChannels = 0; var siBps = 0; var siTotal = 0L
      var last = false
      var sawStreamInfo = false
      while (!last) {
        if (pos + 4 > b.length) return None
        last = (b(pos) & 0x80) != 0
        val typ = b(pos) & 0x7f
        val len = Bytes.be24u(b, pos + 1)
        pos += 4
        if (pos + len > b.length) return None
        if (typ == 0) {
          if (len != 34) return None
          val br = new BitReader(b, pos)
          br.read(16); br.read(16); br.read(24); br.read(24)
          siRate = br.read(20).toInt
          siChannels = br.read(3).toInt + 1
          siBps = br.read(5).toInt + 1
          siTotal = br.read(36)
          sawStreamInfo = true
        }
        pos += len
      }
      if (!sawStreamInfo || siRate == 0) return None
      val outCh = Array.fill(siChannels)(new scala.collection.mutable.ArrayBuffer[Int]())
      while (pos < b.length) {
        val frameStart = pos
        val br = new BitReader(b, pos)
        if (br.read(14) != 0x3ffe) return None
        br.read(1)
        br.read(1) // blocking strategy (frame number coding identical here)
        val bsCode = br.read(4).toInt
        val srCode = br.read(4).toInt
        val chAsgn = br.read(4).toInt
        val ssCode = br.read(3).toInt
        if (br.read(1) != 0) return None
        readUtf8(br)
        val blockSize = bsCode match {
          case 0 => return None
          case 1 => 192
          case c if c >= 2 && c <= 5 => 576 << (c - 2)
          case 6 => br.read(8).toInt + 1
          case 7 => br.read(16).toInt + 1
          case c => 256 << (c - 8)
        }
        srCode match {
          case 0 => ()
          case 12 => br.read(8): Unit
          case 13 | 14 => br.read(16): Unit
          case 15 => return None
          case _ => () // table rates carry no extra bits
        }
        val bps = ssCode match {
          case 0 => siBps
          case 1 => 8
          case 2 => 12
          case 4 => 16
          case 5 => 20
          case 6 => 24
          case 7 => 32
          case _ => return None
        }
        if (!br.byteAligned) return None // header is byte-aligned by construction
        if (crc8(b, frameStart, br.pos) != (br.read(8).toInt)) return None
        val nSub = if (chAsgn <= 7) chAsgn + 1 else 2
        if (chAsgn <= 7 && nSub != siChannels) return None
        if (chAsgn > 7 && siChannels != 2) return None
        if (chAsgn > 10) return None
        val sub = new Array[Array[Int]](nSub)
        var ci = 0
        while (ci < nSub) {
          val extra = chAsgn match {
            case 8 => if (ci == 1) 1 else 0  // left/side
            case 9 => if (ci == 0) 1 else 0  // side/right
            case 10 => if (ci == 1) 1 else 0 // mid/side
            case _ => 0
          }
          sub(ci) = decodeSubframe(br, blockSize, bps + extra).getOrElse(return None)
          ci += 1
        }
        br.align()
        val c16at = br.pos
        if (c16at + 2 > b.length) return None
        val want = Bytes.be16u(b, c16at)
        if (crc16(b, frameStart, c16at) != want) return None
        pos = c16at + 2
        // undo stereo decorrelation
        val lr: Array[Array[Int]] = chAsgn match {
          case 8 => // left/side: R = L - side
            Array(sub(0), Array.tabulate(blockSize)(i => sub(0)(i) - sub(1)(i)))
          case 9 => // side/right: L = R + side
            Array(Array.tabulate(blockSize)(i => sub(1)(i) + sub(0)(i)), sub(1))
          case 10 => // mid/side
            Array.tabulate(2, blockSize) { (c, i) =>
              val mid2 = (sub(0)(i) << 1) | (sub(1)(i) & 1)
              if (c == 0) (mid2 + sub(1)(i)) >> 1 else (mid2 - sub(1)(i)) >> 1
            }
          case _ => sub
        }
        var c = 0
        while (c < siChannels) { outCh(c) ++= lr(c); c += 1 }
      }
      if (siTotal != 0 && outCh(0).length.toLong != siTotal) return None
      Some((siRate, outCh.map(_.toArray)))
    } catch { case _: Exception => None }
  }

  private def decodeResidual(br: BitReader, blockSize: Int, order: Int): Option[Array[Long]] = {
    val method = br.read(2).toInt
    if (method > 1) return None
    val pBits = if (method == 0) 4 else 5
    val escape = (1 << pBits) - 1
    val po = br.read(4).toInt
    val nPart = 1 << po
    if (blockSize % nPart != 0) return None
    val res = new Array[Long](blockSize - order)
    var idx = 0
    var part = 0
    while (part < nPart) {
      val cnt = (blockSize >> po) - (if (part == 0) order else 0)
      if (cnt < 0) return None
      val p = br.read(pBits).toInt
      if (p == escape) {
        val raw = br.read(5).toInt
        var i = 0
        while (i < cnt) { res(idx) = br.signed(raw).toLong; idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = br.readUnary().toLong
          val u = (q << p) | (if (p > 0) br.read(p) else 0L)
          res(idx) = if ((u & 1) == 0) u >>> 1 else -((u + 1) >>> 1)
          idx += 1; i += 1
        }
      }
      part += 1
    }
    Some(res)
  }

  private def decodeSubframe(br: BitReader, blockSize: Int, bps0: Int): Option[Array[Int]] = {
    if (br.read(1) != 0) return None
    val typ = br.read(6).toInt
    val wasted =
      if (br.read(1) == 0) 0
      else { var k = 1; while (br.read(1) == 0) k += 1; k }
    val bps = bps0 - wasted
    val out: Array[Int] =
      if (typ == 0) {
        val v = br.signed(bps)
        Array.fill(blockSize)(v)
      } else if (typ == 1) {
        Array.fill(blockSize)(br.signed(bps))
      } else if ((typ & 0x38) == 0x08 && (typ & 0x07) <= 4) {
        val order = typ & 0x07
        if (order > blockSize) return None
        val s = new Array[Int](blockSize)
        var i = 0
        while (i < order) { s(i) = br.signed(bps); i += 1 }
        val res = decodeResidual(br, blockSize, order).getOrElse(return None)
        i = order
        while (i < blockSize) {
          val r = res(i - order)
          val pred = order match {
            case 0 => 0L
            case 1 => s(i - 1).toLong
            case 2 => 2L * s(i - 1) - s(i - 2)
            case 3 => 3L * s(i - 1) - 3L * s(i - 2) + s(i - 3)
            case 4 => 4L * s(i - 1) - 6L * s(i - 2) + 4L * s(i - 3) - s(i - 4)
          }
          s(i) = (pred + r).toInt
          i += 1
        }
        s
      } else if ((typ & 0x20) != 0) {
        val order = (typ & 0x1f) + 1
        if (order > blockSize) return None
        val s = new Array[Int](blockSize)
        var i = 0
        while (i < order) { s(i) = br.signed(bps); i += 1 }
        val prec = br.read(4).toInt + 1
        if (prec == 16) return None // 1111 is invalid per spec
        val shift = br.signed(5)
        if (shift < 0) return None
        val coef = Array.fill(order)(br.signed(prec))
        val res = decodeResidual(br, blockSize, order).getOrElse(return None)
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j).toLong * s(i - 1 - j); j += 1 }
          s(i) = ((acc >> shift) + res(i - order)).toInt
          i += 1
        }
        s
      } else return None
    Some(if (wasted == 0) out else out.map(_ << wasted))
  }
}

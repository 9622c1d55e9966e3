package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Multimodal

/** The compressed-audio codecs (G.711 μ-law, IMA ADPCM) pinned against
  * an independent implementation and their own structural contracts. */
class AudioCodecSpec extends AnyFunSuite {

  test("G.711 μ-law decode matches javax.sound's independent ULAW codec on all 256 codewords") {
    import javax.sound.sampled._
    val ulaw = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val pcm = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1, 2, 8000f, false)
    val codes = Array.tabulate[Byte](256)(i => i.toByte)
    val src = new AudioInputStream(
      new java.io.ByteArrayInputStream(codes), ulaw, codes.length.toLong)
    val conv = AudioSystem.getAudioInputStream(pcm, src)
    val out = conv.readAllBytes()
    assert(out.length == 512)
    (0 until 256).foreach { u =>
      val ref = ((out(2 * u) & 0xff) | (out(2 * u + 1) << 8)).toShort.toInt
      assert(Multimodal.ulawDecode(u) == ref,
        s"codeword $u: ours ${Multimodal.ulawDecode(u)} vs javax.sound $ref")
    }
  }

  test("μ-law encode·decode is the identity on every quantizer rung (both signs)") {
    for (e <- 0 to 7; m <- 0 to 15) {
      val v = (((m << 3) + 0x84) << e) - 0x84
      if (v <= 32635) {
        assert(Multimodal.ulawDecode(Multimodal.ulawEncode(v)) == v)
        assert(Multimodal.ulawDecode(Multimodal.ulawEncode(-v)) == -v)
      }
    }
  }

  test("μ-law encode quantizes monotonically and within segment error bounds") {
    var prev = Multimodal.ulawDecode(Multimodal.ulawEncode(-32768))
    var s = -32760
    while (s <= 32760) {
      val d = Multimodal.ulawDecode(Multimodal.ulawEncode(s))
      assert(d >= prev, s"decode(encode(s)) not monotone at $s")
      // error ≤ half the segment's step (step = 2^(e+3); |v| < 2^(e+7))
      val mag = math.min(math.abs(s) + 0x84, 32635 + 0x84)
      var e = 0
      while ((mag >> (e + 8)) != 0) e += 1
      assert(math.abs(d - math.max(-32635, math.min(32635, s))) <= (1 << (e + 3)),
        s"quantizer error too large at $s: got $d")
      prev = d
      s += 7
    }
  }

  test("IMA ADPCM: per-block-constant signals round-trip EXACTLY") {
    val spb = 65
    val amps = Array(0, 1, -1, 12345, -12345, 16000, -16000, 32767, -32768)
    val samples = amps.flatMap(a => Array.fill(spb)(a))
    val enc = Multimodal.imaEncodeMono(samples, spb)
    val dec = Multimodal.imaDecodeMono(enc, 0, enc.length, spb)
    assert(dec.toSeq == samples.toSeq)
  }

  test("IMA ADPCM: decode→re-encode is byte-identical (structural idempotence)") {
    val spb = 65
    val rnd = new scala.util.Random(42)
    var v = 0
    val samples = Array.fill(4 * spb) { v = Math.max(-32768, Math.min(32767, v + rnd.nextInt(2001) - 1000)); v }
    val enc1 = Multimodal.imaEncodeMono(samples, spb)
    val dec1 = Multimodal.imaDecodeMono(enc1, 0, enc1.length, spb)
    val enc2 = Multimodal.imaEncodeMono(dec1, spb)
    val dec2 = Multimodal.imaDecodeMono(enc2, 0, enc2.length, spb)
    assert(dec2.toSeq == dec1.toSeq,
      "decoded signal is not an ADPCM fixed point")
    // and the codec tracks a bounded-step walk: error within 2 steps
    // of the step table's region for this walk (empirical, pinned)
    val maxErr = samples.zip(dec1).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 3000, s"ADPCM lost track of a gentle walk: max error $maxErr")
  }

  test("wavSamples: PCM16, μ-law and IMA ADPCM parse through one chunk walk; other tags rejected") {
    val pcmSamples = Array.tabulate(128)(i => ((i * 523) % 4001 - 2000).toShort)
    val wav = Multimodal.wavPcm16(8000, 2, pcmSamples, junkChunk = true)
    val (pr, pc, pf, ps) = Multimodal.wavSamples(wav).get
    assert(pr == 8000 && pc == 2 && pf == 1)
    assert(ps.toSeq == Seq.tabulate(64)(f => (pcmSamples(2 * f) + pcmSamples(2 * f + 1)) / 2))
    // μ-law with junk chunk parses through the same walk
    val mono = Array.tabulate(65)(i => if (i % 2 == 0) 1980 else -1980)
    val uw = Multimodal.wavUlaw(11025, 1, mono, junkChunk = true)
    val (ur, uc, uf, us) = Multimodal.wavSamples(uw).get
    assert(ur == 11025 && uc == 1 && uf == 7)
    assert(us.toSeq == mono.toSeq) // exact rungs round-trip
    // ADPCM parses and yields the constants
    val aw = Multimodal.wavImaAdpcm(8000, Array.fill(65)(777), 65)
    val (_, _, af, as_) = Multimodal.wavSamples(aw).get
    assert(af == 0x11 && as_.toSeq == Seq.fill(65)(777))
    // an unknown compressed tag is rejected
    val alaw = uw.clone(); alaw(20) = 6 // fmt tag → A-law
    assert(Multimodal.wavSamples(alaw).isEmpty)
  }

  test("μ-law stereo mixdown stays the exact integer contract") {
    val a1 = 1980 + 128 * 3; val a2 = 1980 + 128 * 9
    val pcm = Array(a1, a2, -a1, -a2)
    val wav = Multimodal.wavUlaw(8000, 2, pcm)
    val (_, _, _, mono) = Multimodal.wavSamples(wav).get
    assert(mono.toSeq == Seq((a1 + a2) / 2, -(a1 + a2) / 2))
  }

  test("imaEncodeMono validates block shape before writing") {
    intercept[IllegalArgumentException](
      Multimodal.imaEncodeMono(Array.fill(64)(1), 64)) // even spb
    intercept[IllegalArgumentException](
      Multimodal.imaEncodeMono(Array.fill(64)(1), 65)) // partial block
  }
}

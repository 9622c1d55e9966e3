package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Multimodal => MM}

/** REAL BMP pixel decode (r11 VERDICT #8): known-pixel round trips
  * through [[MM.bmpImage]] / [[MM.bmpLuminance]], the luminance
  * blockhash over decoded samples, and the perceptual hash that hashes
  * pixel content instead of byte layout (the cross-container property:
  * the same image as BMP, PNG or GIF hashes the same). */
class BmpDecodeSpec extends AnyFunSuite {

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

package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Bytes
import graft.operators.Bytes._

/** The media codecs' one byte-order codec: each reader's signedness
  * pinned on all-ones bytes, the writer's byte order, and a source lint
  * that keeps hand-rolled byte-order helpers out of the other
  * operators. */
class BytesSpec extends AnyFunSuite {

  private val ones = Array.fill[Byte](8)(0xff.toByte)

  test("readers on 0xFF bytes: u readers are unsigned, s readers two's complement") {
    assert(u8(ones, 0) == 255)
    assert(le16u(ones, 0) == 0xffff && be16u(ones, 0) == 0xffff)
    assert(le16s(ones, 0) == -1)
    assert(le24u(ones, 0) == 0xffffff && be24u(ones, 0) == 0xffffff)
    assert(le32s(ones, 0) == -1 && be32s(ones, 0) == -1)
    assert(le32u(ones, 0) == 0xffffffffL && be32u(ones, 0) == 0xffffffffL)
    assert(be64(ones, 0) == -1L)
  }

  test("readers place the high byte by endianness, and the sign bit only there") {
    val b = Array(0x80, 0x01, 0x02, 0x7f, 0xff, 0x00, 0x00, 0x80).map(_.toByte)
    assert(le16u(b, 0) == 0x0180 && be16u(b, 0) == 0x8001)
    assert(le16s(b, 0) == 0x0180 && le16s(b, 3) == -129) // 0xff7f
    assert(le24u(b, 0) == 0x020180 && be24u(b, 0) == 0x800102)
    assert(le32s(b, 0) == 0x7f020180 && be32s(b, 0) == 0x8001027f)
    assert(le32s(b, 4) == 0x800000ff && le32u(b, 4) == 0x800000ffL)
    assert(be32u(b, 0) == 0x8001027fL)
    assert(be64(b, 0) == 0x8001027fff000080L)
  }

  test("tagAt compares ASCII at an offset and is false past either end") {
    val b = "RIFFxxxxWAVE".getBytes("US-ASCII")
    assert(tagAt(b, 0, "RIFF") && tagAt(b, 8, "WAVE"))
    assert(!tagAt(b, 1, "RIFF") && !tagAt(b, 9, "WAVE") && !tagAt(b, -1, "R"))
  }

  test("writer: each width in both byte orders, keeping the low bits") {
    val w = new Bytes.Writer()
    w.u8(0x1ff); w.le16(0xabcd); w.be16(0xabcd); w.le32(-2)
    w.be32(0x1234567890L); w.be64(0x0102030405060708L); w.tag("ok"); w.zeros(2)
    assert(w.toByteArray.map(_ & 0xff).toSeq == Seq(
      0xff, 0xcd, 0xab, 0xab, 0xcd, 0xfe, 0xff, 0xff, 0xff,
      0x34, 0x56, 0x78, 0x90, 1, 2, 3, 4, 5, 6, 7, 8, 'o', 'k', 0, 0))
    assert(w.size == 25)
  }

  test("writer: boxes nest size-prefixed, fullBox carries version and flags") {
    val w = new Bytes.Writer()
    w.box("moov") { w.fullBox("mvhd", ver = 1, flags = 7) { w.u8(9) }; w.box("free") {} }
    val b = w.toByteArray
    assert(be32u(b, 0) == b.length && tagAt(b, 4, "moov"))
    assert(be32u(b, 8) == 13 && tagAt(b, 12, "mvhd") && be32u(b, 16) == 0x01000007L && b(20) == 9)
    assert(be32u(b, 21) == 8 && tagAt(b, 25, "free") && b.length == 29)
  }

  private val operators = Paths.get("src/main/scala/graft/operators")
  private val codec = operators.resolve("Bytes.scala")

  test("byte-order helpers live only in the Bytes codec") {
    val files = SpecLint.scalaFiles(operators)
    assert(files.contains(codec))
    val helper = "def (le16|le24|le32|be16|be32|be64|leInt|leShort|beInt|beShort)\\b".r
    val offenders = for {
      f <- files if f != codec
      (line, i) <- SpecLint.code(f).split("\n").zipWithIndex
      if helper.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, s"byte-order helpers outside Bytes:\n${offenders.mkString("\n")}")
  }
}

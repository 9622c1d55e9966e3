package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.US_ASCII

/** The media codecs' byte-order work, in one place: fixed-width readers
  * over a byte array and a [[Bytes.Writer]] over a growable stream.
  *
  * Readers name their signedness. A `u` reader returns the unsigned
  * value (an `Int` up to 24 bits, a `Long` at 32); an `s` reader returns
  * the two's-complement value. Length and header fields that a walk
  * bounds-checks with `< 0` read signed; counts, offsets and sizes that
  * may use all 32 bits read unsigned. A source lint in `BytesSpec` keeps
  * hand-rolled `le16`/`be32`/... helpers out of the other operators. */
object Bytes {

  def u8(b: Array[Byte], off: Int): Int = b(off) & 0xff

  def le16u(b: Array[Byte], off: Int): Int = u8(b, off) | (u8(b, off + 1) << 8)
  def le16s(b: Array[Byte], off: Int): Int = le16u(b, off).toShort.toInt
  def le24u(b: Array[Byte], off: Int): Int = le16u(b, off) | (u8(b, off + 2) << 16)
  def le32s(b: Array[Byte], off: Int): Int = le24u(b, off) | (u8(b, off + 3) << 24)
  def le32u(b: Array[Byte], off: Int): Long = le32s(b, off) & 0xffffffffL

  def be16u(b: Array[Byte], off: Int): Int = (u8(b, off) << 8) | u8(b, off + 1)
  def be24u(b: Array[Byte], off: Int): Int = (u8(b, off) << 16) | be16u(b, off + 1)
  def be32s(b: Array[Byte], off: Int): Int = (u8(b, off) << 24) | be24u(b, off + 1)
  def be32u(b: Array[Byte], off: Int): Long = be32s(b, off) & 0xffffffffL
  def be64(b: Array[Byte], off: Int): Long = (be32u(b, off) << 32) | be32u(b, off + 4)

  /** True iff the ASCII `tag` sits at `off`; false past either end. */
  def tagAt(b: Array[Byte], off: Int, tag: String): Boolean =
    off >= 0 && off + tag.length <= b.length &&
      tag.indices.forall(i => b(off + i) == tag(i).toByte)

  /** Big- and little-endian writes into one stream, plus the ISO-BMFF
    * box nesting. Each write keeps the low bits of its argument. */
  final class Writer(initial: Int = 256) {
    private var out = new ByteArrayOutputStream(initial)

    def size: Int = out.size()
    def toByteArray: Array[Byte] = out.toByteArray

    def u8(v: Int): Unit = out.write(v)
    def bytes(a: Array[Byte]): Unit = out.write(a, 0, a.length)
    def bytes(a: Array[Byte], off: Int, len: Int): Unit = out.write(a, off, len)
    def zeros(n: Int): Unit = out.write(new Array[Byte](n), 0, n)
    def tag(s: String): Unit = bytes(s.getBytes(US_ASCII))

    def le16(v: Int): Unit = { u8(v); u8(v >>> 8) }
    def le32(v: Int): Unit = { le16(v); le16(v >>> 16) }
    def be16(v: Int): Unit = { u8(v >>> 8); u8(v) }
    def be32(v: Long): Unit = { be16((v >>> 16).toInt); be16(v.toInt) }
    def be64(v: Long): Unit = { be32(v >>> 32); be32(v) }

    /** A size-prefixed ISO-BMFF box. The body renders into a fresh
      * stream, so each byte is copied once per nesting level, never once
      * per sibling box (re-copying the accumulated prefix per box made
      * corpus-scale synthesis O(file × boxes)). */
    def box(typ: String)(body: => Unit): Unit = {
      val saved = out
      out = new ByteArrayOutputStream()
      body
      val payload = out
      out = saved
      be32(8L + payload.size()); tag(typ)
      payload.writeTo(out)
    }

    /** A box whose body starts with a version byte and 24 flag bits. */
    def fullBox(typ: String, ver: Int = 0, flags: Int = 0)(body: => Unit): Unit =
      box(typ) { be32((ver.toLong << 24) | flags); body }

    /** The identity transformation matrix of mvhd and tkhd. */
    def matrix(): Unit = {
      be32(0x10000); be32(0); be32(0); be32(0); be32(0x10000); be32(0)
      be32(0); be32(0); be32(0x40000000L)
    }
  }
}

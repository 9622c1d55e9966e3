package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic hash/sketch kernels shared by the expressions below and
  * the dedup/similarity operators. All public algorithms: FNV-1a 64,
  * splitmix64 (Steele et al., "Fast splittable pseudorandom number
  * generators"), SimHash (Charikar 2002), MinHash (Broder 1997).
  */
object Kernels {
  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  def fnv64(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) { h ^= (bytes(i) & 0xffL); h *= FnvPrime; i += 1 }
    h
  }
  def fnv64(s: String): Long = { val b = s.getBytes("UTF-8"); fnv64(b, 0, b.length) }

  /** Unicode NFC normalization (UAX #15) via the JDK's
    * java.text.Normalizer — the canonical-composition pass every
    * text-curation pipeline runs before hashing/dedup (a decomposed
    * e+U+0301 and the composed U+00E9 must fingerprint identically).
    * Fast
    * path: already-normalized text (all ASCII in particular) is
    * detected by `isNormalized` — one scan, zero allocation — and
    * returned as the SAME UTF8String object. */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit SimHash over whitespace tokens (unit weights). */
  def simhash64(text: UTF8String): Long = {
    val votes = new Array[Int](64)
    val s = text.toString
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val h = fnv64(s.substring(start, i))
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars (60 bits) of md5(token) as a non-negative long —
    * a token hash any engine with an md5() builtin reproduces exactly
    * (xxhash/FNV constants don't exist portably). */
  def md5Hash60(token: String): Long = {
    val d = md5Digest.get()
    d.reset()
    val bytes = d.digest(token.getBytes("UTF-8"))
    // 15 hex chars = bytes 0..6 plus the high nibble of byte 7
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (bytes(i) & 0xffL); i += 1 }
    (h << 4) | ((bytes(7) & 0xf0L) >> 4)
  }

  /** Sparse per-doc hashed-unigram histogram (the DSIR feature map):
    * split on ' ', md5Hash60(token) % nBuckets per non-empty token,
    * count occurrences, emit only the occupied buckets as (b, c)
    * structs. One text walk replaces explode(split) + a first-level
    * hash aggregate — the row stream a scoring join sees is bounded by
    * min(tokens, nBuckets) per doc instead of one row per token. */
  def dsirBuckets(s: UTF8String, nBuckets: Int): ArrayData = {
    val counts = new Array[Long](nBuckets)
    val str = s.toString
    val n = str.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || str.charAt(i) == ' ') {
        if (i > start)
          counts((md5Hash60(str.substring(start, i)) % nBuckets).toInt) += 1L
        start = i + 1
      }
      i += 1
    }
    var nz = 0
    var k = 0
    while (k < nBuckets) { if (counts(k) != 0L) nz += 1; k += 1 }
    val rows = new Array[Any](nz)
    var j = 0
    k = 0
    while (k < nBuckets) {
      if (counts(k) != 0L) {
        rows(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](k.toLong, counts(k)))
        j += 1
      }
      k += 1
    }
    new GenericArrayData(rows)
  }

  /** Winnow fingerprint set of `s`: md5Hash60 over k-token grams
    * (split on ' ', empties kept — `split(text, ' ')` semantics),
    * min of each w-hash window (whole-doc min when fewer than w
    * grams), deduplicated, ascending. Empty array when under k
    * tokens. */
  def winnowFps(s: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = s.toString.split(" ", -1)
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val ng = n - k + 1
    val gh = new Array[Long](ng)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < ng) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      gh(i) = md5Hash60(sb.toString)
      i += 1
    }
    val set = new java.util.TreeSet[java.lang.Long]()
    if (ng < w) {
      var mn = Long.MaxValue
      var t = 0
      while (t < ng) { if (gh(t) < mn) mn = gh(t); t += 1 }
      set.add(mn)
    } else {
      var j0 = 0
      while (j0 + w <= ng) { // w is small (4): the rescan beats a deque
        var mn = Long.MaxValue
        var t = j0
        while (t < j0 + w) { if (gh(t) < mn) mn = gh(t); t += 1 }
        set.add(mn)
        j0 += 1
      }
    }
    val out = new Array[Any](set.size)
    var idx = 0
    val it = set.iterator()
    while (it.hasNext) { out(idx) = it.next().longValue(); idx += 1 }
    new GenericArrayData(out)
  }

  /** Portable MinHash signature: one md5 per 3-word shingle, then the
    * linear permutation family v_j = (a_j·hi30 + b_j·lo30) mod 2^31-1
    * with 30-bit md5-derived coefficients — every term < 2^61, so the
    * identical values fall out of plain BIGINT math in any engine.
    * Returns the per-permutation minima (empty docs → empty array). */
  // md5-derived 30-bit permutation coefficients depend only on numPerms
  // — compute once per (process, numPerms), not per row
  private val minhashCoefCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def minhashCoefs(numPerms: Int): (Array[Long], Array[Long]) =
    minhashCoefCache.computeIfAbsent(numPerms, { n =>
      val a = new Array[Long](n)
      val b = new Array[Long](n)
      var j = 0
      while (j < n) {
        // == (first-8-hex-chars value) mod 2^30: the top 32 of the 60
        // kept bits, masked to 30
        a(j) = (md5Hash60("a:" + j) >>> 28) & 1073741823L
        b(j) = (md5Hash60("b:" + j) >>> 28) & 1073741823L
        j += 1
      }
      (a, b)
    })

  def minhashSigMd5(text: UTF8String, numPerms: Int): ArrayData = {
    // split with limit -1: trailing empty tokens are kept, matching both
    // SQL string_split semantics (the oracle) and Spark's split()
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.emptyLongArray)
    val (a, b) = minhashCoefs(numPerms)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var i = 0
    while (i + 3 <= toks.length) {
      val h = md5Hash60(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      val hi = h >>> 30
      val lo = h & 1073741823L
      var j = 0
      while (j < numPerms) {
        val v = (a(j) * hi + b(j) * lo) % 2147483647L
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 60-bit SimHash over whitespace tokens (unit weights per occurrence,
    * empty tokens skipped) with the portable md5 token hash — same vote
    * structure as [[simhash64]], reproducible in the oracle. */
  def simhashMd5(text: UTF8String): Long = {
    val votes = new Array[Int](60)
    val s = text.toString
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val h = md5Hash60(s.substring(start, i))
          var j = 0
          while (j < 60) {
            if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
            j += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** Text bytes exactly as Spark's `split` sees them: it decodes
    * through `toString`, which turns each malformed UTF-8 sequence into
    * U+FFFD. Valid text (the common case) is returned as is. */
  private def splitView(text: UTF8String): UTF8String =
    if (text.isValid) text else UTF8String.fromString(text.toString)

  /** Start of the window after the one starting at `from`: one byte past
    * the first ' ' at or after `from` (a window of ≥ 2 tokens, or a
    * 1-token window not at the text's end, always holds one). */
  private def nextWindow(base: AnyRef, off: Long, from: Int): Int = {
    var p = from
    while (Platform.getByte(base, off + p) != ' ') p += 1
    p + 1
  }

  /** Distinct XXH64 (seed 42) hashes of every w-token window, ascending.
    * Bit-identical to Spark's
    * `xxhash64(concat_ws(' ', slice(split(text, ' '), i, w)))` over all
    * windows: the tokens of `split(text, " ", -1)` rejoined with ' ' are
    * a contiguous byte range of the text, so each window is hashed in
    * place — no String, no token array, no per-shingle allocation.
    * Empty tokens (double, leading or trailing spaces) count as tokens;
    * fewer than w tokens give an empty array. */
  def shingleSet(text0: UTF8String, w: Int): UnsafeArrayData = {
    val text = splitView(text0)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var spaces = 0
    var i = 0
    while (i < len) { if (Platform.getByte(base, off + i) == ' ') spaces += 1; i += 1 }
    val nSh = spaces + 2 - w // tokens - w + 1
    if (nSh <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val hs = new Array[Long](nSh)
    var m = 0
    var toks = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == ' ') {
        toks += 1
        if (toks >= w) {
          hs(m) = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
          m += 1
          if (i < len) start = nextWindow(base, off, start)
        }
      }
      i += 1
    }
    java.util.Arrays.sort(hs)
    m = 1
    i = 1
    while (i < nSh) { if (hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(hs, Platform.LONG_ARRAY_OFFSET, m, 8)
  }

  /** Open-addressing counter of byte ranges [start, end) of one text,
    * keyed by a caller-supplied 64-bit hash and compared by bytes when
    * two hashes are equal, so its counts are exact. Slots of earlier
    * texts are told apart by a generation stamp, so `reset` is O(1) and
    * one instance per thread serves every document; a table grown past
    * 2^16 slots by a long text is dropped at the next reset. A slot is
    * three longs: hash, start << 32 | end, generation << 32 | count. */
  private[graft] final class RangeCounter {
    private var slots = new Array[Long](3 * 64)
    private var mask = 63
    private var gen = 0L
    var distinct = 0
    var maxCount = 0

    def reset(): Unit = {
      distinct = 0; maxCount = 0
      gen += 1
      if (gen > Int.MaxValue) { java.util.Arrays.fill(slots, 0L); gen = 1 }
      if (mask >= (1 << 16)) { slots = new Array[Long](3 * 64); mask = 63 }
    }

    def add(base: AnyRef, off: Long, h: Long, start: Int, end: Int): Unit = {
      var s = (splitmix64(h) & mask).toInt
      while ((slots(3 * s + 2) >>> 32) == gen) {
        if (slots(3 * s) == h) {
          val range = slots(3 * s + 1)
          val st = (range >>> 32).toInt
          val en = range.toInt
          if (en - st == end - start && org.apache.spark.unsafe.array.ByteArrayMethods
              .arrayEquals(base, off + st, base, off + start, end - start)) {
            val c = (slots(3 * s + 2) & 0xffffffffL).toInt + 1
            slots(3 * s + 2) = (gen << 32) | c
            if (c > maxCount) maxCount = c
            return
          }
        }
        s = (s + 1) & mask
      }
      slots(3 * s) = h
      slots(3 * s + 1) = (start.toLong << 32) | end
      slots(3 * s + 2) = (gen << 32) | 1L
      distinct += 1
      if (maxCount == 0) maxCount = 1
      if (2 * distinct > mask) grow()
    }

    private def grow(): Unit = {
      val old = slots
      slots = new Array[Long](2 * old.length)
      mask = 2 * mask + 1
      var i = 0
      while (i < old.length) {
        if ((old(i + 2) >>> 32) == gen) {
          var s = (splitmix64(old(i)) & mask).toInt
          while ((slots(3 * s + 2) >>> 32) == gen) s = (s + 1) & mask
          System.arraycopy(old, i, slots, 3 * s, 3)
        }
        i += 3
      }
    }
  }

  private val repetitionCounters = new ThreadLocal[Array[RangeCounter]] {
    override def initialValue(): Array[RangeCounter] = Array.fill(3)(new RangeCounter)
  }

  /** Token-repetition counts of `split(text, " ", -1)`'s tokens, as a
    * [[TokenRepetition.schema]] row: `tokens`; `top_count`, the count of
    * the most frequent token; and for n = 2, 3 `grams_n` =
    * max(tokens − n + 1, 0) and `distinct_n`, the distinct n-token
    * windows. One walk over the UTF-8 bytes: each token is hashed once
    * (FNV-1a), a window's hash combines its tokens' hashes, and every
    * window is a contiguous byte range of the text (tokens rejoined with
    * ' '), counted in place with byte comparison on equal hashes — no
    * String, no token array, exact counts. Empty tokens count; invalid
    * UTF-8 is re-encoded first, as Spark's `split` does. */
  def tokenRepetition(text0: UTF8String): InternalRow = {
    val text = splitView(text0)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    val cs = repetitionCounters.get()
    val uni = cs(0); val bi = cs(1); val tri = cs(2)
    uni.reset(); bi.reset(); tri.reset()
    var toks = 0L
    var h1 = 0L; var h2 = 0L // hashes of the previous two tokens
    var s1 = 0; var s2 = 0   // and their starts
    var start = 0
    var h = FnvOffset
    var i = 0
    while (i <= len) {
      val b = if (i < len) Platform.getByte(base, off + i) else ' '.toByte
      if (b == ' ') {
        uni.add(base, off, h, start, i)
        if (toks >= 1) bi.add(base, off, h1 * FnvPrime + h, s1, i)
        if (toks >= 2) tri.add(base, off, (h2 * FnvPrime + h1) * FnvPrime + h, s2, i)
        toks += 1
        h2 = h1; h1 = h
        s2 = s1; s1 = start
        start = i + 1
        h = FnvOffset
      } else { h ^= (b & 0xffL); h *= FnvPrime }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      toks, uni.maxCount.toLong,
      math.max(toks - 1, 0L), bi.distinct.toLong,
      math.max(toks - 2, 0L), tri.distinct.toLong))
  }

  // splitmix64 permutation constants (a_j odd, b_j) depend only on j —
  // computed once per (process, numPerms), not per document
  private val minhashPermCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def minhashPerms(numPerms: Int): (Array[Long], Array[Long]) =
    minhashPermCache.computeIfAbsent(numPerms, { n =>
      val a = new Array[Long](n)
      val b = new Array[Long](n)
      var j = 0
      while (j < n) {
        a(j) = splitmix64(2L * j) | 1L // odd → bijective mod 2^64
        b(j) = splitmix64(2L * j + 1)
        j += 1
      }
      (a, b)
    })

  /** MinHash signature: perm j is h -> a_j*h + b_j (wrapping 64-bit),
    * constants from splitmix64 — a universal-ish family, deterministic
    * across the cluster (no Random). A shingle hash is FNV-1a 64 over
    * each of its w tokens' UTF-8 bytes followed by ' '. Tokens follow
    * Java's `text.split(" ")` (limit 0): trailing empty tokens are
    * dropped, so an all-space text has none, while "" is one empty
    * token; malformed UTF-8 reads as U+FFFD, as a `toString` decode
    * gives. Since single spaces separate the tokens, a window is the
    * contiguous byte range from its first token's start to its last
    * token's end, scanned in place. Fewer than w tokens → all zeros. */
  def minhashSig(text0: UTF8String, numPerms: Int, shingleW: Int): Array[Long] = {
    val text = splitView(text0)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var len = text.numBytes
    while (len > 0 && Platform.getByte(base, off + len - 1) == ' ') len -= 1
    val noTokens = len == 0 && text.numBytes > 0
    val (a, b) = minhashPerms(numPerms)
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var any = false
    var toks = 0
    var start = 0
    var i = 0
    while (!noTokens && i <= len) {
      if (i == len || Platform.getByte(base, off + i) == ' ') {
        toks += 1
        if (toks >= shingleW) {
          var h = FnvOffset
          var p = start
          while (p < i) { h ^= (Platform.getByte(base, off + p) & 0xffL); h *= FnvPrime; p += 1 }
          h ^= ' '.toLong; h *= FnvPrime
          var j = 0
          while (j < numPerms) {
            val v = a(j) * h + b(j)
            if (v < sig(j)) sig(j) = v
            j += 1
          }
          any = true
          if (i < len) start = nextWindow(base, off, start)
        }
      }
      i += 1
    }
    if (!any) java.util.Arrays.fill(sig, 0L)
    sig
  }

  def minhashSigData(text: UTF8String, numPerms: Int, shingleW: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhashSig(text, numPerms, shingleW))

  /** Polynomial rolling hash over code points: Horner's method with
    * base 257 mod the Mersenne prime 2^31-1 — the document fingerprint.
    * Mod-P (rather than wrapping 64-bit) keeps every intermediate value
    * in safe signed-64 range, so the identical recurrence is computable
    * by any engine with plain BIGINT arithmetic (the oracle replays it
    * with a list_reduce fold). */
  /** Banded bounded edit distance (Ukkonen 1985): exact Levenshtein
    * when it is ≤ maxDist, else maxDist+1 — O((2k+1)·n) time instead of
    * O(n·m), with an early exit when a whole band row exceeds the
    * bound. For dedup verification (dist ≤ 20 over ~300-char docs)
    * that is ~15× less DP work than the full matrix. */
  // code POINTS, not UTF-16 units — Spark's levenshtein and DuckDB's
  // both count code points, and the oracle compare needs parity for
  // non-BMP characters. ASCII/BMP strings take the allocation-light
  // charAt copy; only surrogate-bearing strings pay the stream path.
  private def codePointsOf(str: String): Array[Int] = {
    var i = 0
    var bmp = true
    while (bmp && i < str.length) {
      if (Character.isSurrogate(str.charAt(i))) bmp = false
      i += 1
    }
    if (bmp) {
      val out = new Array[Int](str.length)
      var j = 0
      while (j < str.length) { out(j) = str.charAt(j); j += 1 }
      out
    } else str.codePoints().toArray
  }

  def boundedLevenshtein(a: UTF8String, b: UTF8String, maxDist: Int): Int = {
    val s = codePointsOf(a.toString)
    val t = codePointsOf(b.toString)
    val n = s.length; val m = t.length
    // distance never exceeds max(n, m): clamping the bound there (and
    // at 0 below) keeps `inf`/band arithmetic overflow-free for any
    // SQL-supplied maxDist, without changing results
    val k = Math.min(Math.max(maxDist, 0), Math.max(n, m))
    val inf = k + 1
    if (Math.abs(n - m) > k) return inf
    if (n == 0) return m // |m-0| <= k here
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = Math.max(1, i - k)
      val hi = Math.min(m, i + k)
      cur(0) = if (i <= k) i else inf
      if (lo > 1) cur(lo - 1) = inf // left band border
      var rowMin = cur(0)
      j = lo
      while (j <= hi) {
        val cost = if (s(i - 1) == t(j - 1)) 0 else 1
        val del = if (prev(j) < inf) prev(j) + 1 else inf
        val ins = if (cur(j - 1) < inf) cur(j - 1) + 1 else inf
        val sub = if (prev(j - 1) < inf) prev(j - 1) + cost else inf
        val v = Math.min(Math.min(del, ins), Math.min(sub, inf))
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < m) cur(hi + 1) = inf // right band border for the next row
      if (rowMin >= inf) return inf // no cell can recover below the bound
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    Math.min(prev(m), inf)
  }

  def rollingHash(text: UTF8String): Long = {
    val s = text.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 257L + cp) % 2147483647L
      i += Character.charCount(cp)
    }
    h
  }

  /** Random-hyperplane LSH bucket (Charikar 2002): numPlanes sign bits.
    * Plane coefficients are splitmix64-derived uniforms in [-1,1) —
    * deterministic, no stored model. */
  def lshBucket(vec: ArrayData, numPlanes: Int): Int = {
    val n = vec.numElements()
    var bucket = 0
    var p = 0
    while (p < numPlanes) {
      var dot = 0.0
      var i = 0
      while (i < n) {
        // stride must exceed any plausible dim or planes share coefs
        val coef = (Kernels.splitmix64(p.toLong * 1000003L + i).toDouble / 9.223372036854776e18) // [-1,1)
        dot += vec.getFloat(i) * coef
        i += 1
      }
      if (dot > 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Intersection size of two long arrays sorted ascending (any
    * SHARED total order works — only consistency between the two
    * arrays matters): one two-pointer merge walk, zero allocation.
    * This is the Jaccard verify kernel: `array_intersect` builds an
    * OpenHashSet PER ROW, and on a billion-pair candidate stream that
    * allocation + rehash dominates the whole stage. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Positions i < min(|a|, |b|) where a[i] = b[i], null elements
    * never matching: the MinHash verify kernel. Equal to Spark's
    * `size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))` without its
    * two interpreted lambdas and per-row boolean array. */
  def sigMatchCount(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  def cosine(a: ArrayData, b: ArrayData): Double = cosine(a, b, true, true)

  /** aFloat/bFloat: element width of each array (float32 vs float64). */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // dot/(sqrt(na)*sqrt(nb)) — EXACTLY the operand order the DuckDB
    // oracle uses, so doubles match bitwise.
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // token == one of the/a/and/of/to (case-sensitive byte compare)
  private def isStopToken(b: Array[Byte], s: Int, e: Int): Boolean = (e - s) match {
    case 1 => b(s) == 'a'
    case 2 => (b(s) == 'o' && b(s + 1) == 'f') || (b(s) == 't' && b(s + 1) == 'o')
    case 3 => (b(s) == 't' && b(s + 1) == 'h' && b(s + 2) == 'e') ||
      (b(s) == 'a' && b(s + 1) == 'n' && b(s + 2) == 'd')
    case _ => false
  }

  /** ALL per-document text statistics in one scan of the raw UTF-8
    * bytes, replacing the 5-expression chain (split + array filter +
    * regexp_count + regexp_replace + length) that re-walked the text
    * five times and allocated a token array per row:
    *  - chars: codepoints (= Spark/DuckDB `length`; count non-0x80xx
    *    lead bytes)
    *  - tokens: split-on-' ' count INCLUDING empties = spaces + 1
    *  - punct: codepoints outside [A-Za-z0-9 ] (multi-byte chars are
    *    one codepoint — both regex engines match classes per
    *    codepoint)
    *  - stop_hits: tokens equal to the/a/and/of/to
    *  - word_chars: chars minus spaces (= length(replace(text,' ','')))
    *  - bpe_tokens: matches of [A-Za-z]+|[0-9]+|[^A-Za-z0-9 ] = letter
    *    runs + digit runs + punct codepoints (a continuation byte
    *    never starts or extends a run, so a multi-byte char splits
    *    runs exactly like the regex does) */
  def textScan(s: UTF8String): InternalRow = {
    val b = s.getBytes
    var i = 0
    var chars = 0L; var spaces = 0L; var punct = 0L; var stops = 0L
    var runs = 0L
    var prevLetter = false; var prevDigit = false
    var tokStart = 0
    while (i < b.length) {
      val c = b(i) & 0xff
      if ((c & 0xc0) != 0x80) chars += 1
      val isLetter = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
      val isDigit = c >= '0' && c <= '9'
      if (c == ' ') {
        spaces += 1
        if (isStopToken(b, tokStart, i)) stops += 1
        tokStart = i + 1
      } else if (!isLetter && !isDigit && (c & 0xc0) != 0x80) punct += 1
      if (isLetter && !prevLetter) runs += 1
      if (isDigit && !prevDigit) runs += 1
      prevLetter = isLetter; prevDigit = isDigit
      i += 1
    }
    if (isStopToken(b, tokStart, b.length)) stops += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](chars, spaces + 1, punct, stops, chars - spaces, runs + punct))
  }

  /** Char-trigram language profiles — canonical copy (ASCII only; the
    * langid operator and its oracle both derive from this table). */
  val LangTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "he ", " th", "ing", "and", " of", "ed "),
    "es" -> Seq("os ", " la", "la ", "que", " qu", "ado", "cio"),
    "de" -> Seq("der", "sch", "ich", "ein", "und", " ge", "cht"),
    "fr" -> Seq(" le", "les", "une", " un", "ait", "eur", "ent"))

  // flattened byte patterns: (lang index, b0, b1, b2) per trigram
  private val LtpLang: Array[Int] =
    LangTrigramProfiles.zipWithIndex.flatMap { case ((_, ps), li) =>
      ps.map(_ => li)
    }.toArray
  private val LtpBytes: Array[Byte] =
    LangTrigramProfiles.flatMap(_._2).flatMap { p =>
      require(p.length == 3 && p.forall(_ < 128), s"profile trigram not ASCII-3: '$p'")
      p.getBytes("US-ASCII")
    }.toArray

  /** Per-language profile-trigram hit counts of the ASCII-case-folded
    * text in ONE pass over the UTF-8 bytes — replaces the per-char
    * substring array (one String allocation per character) the
    * declarative form materializes. Case folding is ASCII-ONLY
    * (A-Z → a-z on the bytes): a locale-sensitive full lowercase
    * would reintroduce the Turkish-İ class of bug (I→ı kills 'ing'
    * matches; U+0130 lowers to two chars in Java but one in DuckDB,
    * shifting every later window), and the profiles are pure ASCII so
    * non-ASCII case pairs can never produce a match anyway. Byte scan
    * ≡ char scan here: in UTF-8 an ASCII byte is always a standalone
    * codepoint (continuation bytes are ≥ 0x80), so every byte-level
    * match is a char-level match and vice versa — the oracle replays
    * the same fold as an explicit translate() and verifies the
    * equivalence corpus-wide. Returns array<long> of hits in
    * [[LangTrigramProfiles]] order. */
  def langTrigramHits(s: UTF8String): ArrayData = {
    val b = s.getBytes
    val hits = new Array[Long](LangTrigramProfiles.length)
    var i = 0
    val last = b.length - 3
    while (i <= last) {
      var p = 0
      while (p < LtpLang.length) {
        val o = p * 3
        if (asciiLower(b(i)) == LtpBytes(o) &&
            asciiLower(b(i + 1)) == LtpBytes(o + 1) &&
            asciiLower(b(i + 2)) == LtpBytes(o + 2)) {
          hits(LtpLang(p)) += 1
        }
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(hits)
  }

  @inline private def asciiLower(c: Byte): Byte =
    if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
}

/** Cosine similarity of two float vectors as a native Catalyst
  * expression: stays inside whole-stage codegen (one static call per
  * row), no UDF serialization, no Row boxing.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<float|double> args, got ${left.dataType.sql}, ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.cosine($a, $b, ${isFloat(left)}, ${isFloat(right)});")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Intersection size of two ascending-sorted long arrays — the
  * zero-allocation two-pointer Jaccard verify kernel (see
  * Kernels.sortedIntersectCount). */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_count expects array<bigint> args, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.sortedIntersectCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Count of equal positions of two long arrays, up to the shorter
  * one's length — the codegen'd MinHash signature match (see
  * Kernels.sigMatchCount). */
case class SigMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sig_match_count expects array<bigint> args, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.sigMatchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.sigMatchCount($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash of a text column (whitespace tokens). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash64 expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Kernels.simhash64(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhash64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct w-token shingle hashes of a text column, ascending
  * (array<bigint>; see Kernels.shingleSet): the set the Jaccard and
  * containment joins key on. Values equal
  * `xxhash64(concat_ws(' ', slice(split(text, ' '), i, w)))` over all
  * windows, pinned by KernelsPropertySpec. */
case class ShingleSet(child: Expression, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"shingle_set expects a string argument, got ${child.dataType.sql}")
    else if (w <= 0)
      TypeCheckResult.TypeCheckFailure(s"shingle width must be positive, got $w")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = Kernels.shingleSet(v.asInstanceOf[UTF8String], w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.shingleSet($c, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Token-repetition counts of a text column as one struct (see
  * Kernels.tokenRepetition): the Gopher top-word and duplicate-n-gram
  * legs. Counts equal the split/array_distinct/`wordNgrams` SQL they
  * replace, pinned by KernelsPropertySpec; null text → null struct. */
case class TokenRepetition(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"token_repetition expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = TokenRepetition.schema
  override def nullSafeEval(v: Any): Any = Kernels.tokenRepetition(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.tokenRepetition($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TokenRepetition {
  val schema: StructType = StructType(
    Seq("tokens", "top_count", "grams_2", "distinct_2", "grams_3", "distinct_3")
      .map(StructField(_, LongType, nullable = false)))
}

/** MinHash signature (array<bigint>) of a text column. */
case class MinHashSig(child: Expression, numPerms: Int, shingleW: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"minhash_sig expects a string argument, got ${child.dataType.sql}")
    else if (shingleW <= 0)
      TypeCheckResult.TypeCheckFailure(s"shingleW must be positive, got $shingleW")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.minhashSigData(v.asInstanceOf[UTF8String], numPerms, shingleW)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Kernels.minhashSigData($c, $numPerms, $shingleW)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode NFC normalization of a string column — codegen'd scalar
  * (one static call per row, inside whole-stage codegen; the
  * already-normalized fast path returns the input buffer). */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"nfc expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = Kernels.nfcNormalize(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.nfcNormalize($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Portable md5-based MinHash signature of a text column. */
case class MinHashSigMd5(child: Expression, numPerms: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"minhash_sig_md5 expects a string argument, got ${child.dataType.sql}")
    else if (numPerms <= 0)
      TypeCheckResult.TypeCheckFailure(s"numPerms must be positive, got $numPerms")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.minhashSigMd5(v.asInstanceOf[UTF8String], numPerms)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.minhashSigMd5($c, $numPerms)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 60-bit md5-token SimHash of a text column (oracle-reproducible). */
case class SimHashMd5(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"simhash_md5 expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Kernels.simhashMd5(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.simhashMd5($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Polynomial rolling-hash fingerprint of a text column. */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"rolling_hash expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = Kernels.rollingHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.rollingHash($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Bounded edit distance: exact when ≤ maxDist, else maxDist+1 (see
  * Kernels.boundedLevenshtein — banded DP, O(k·n) not O(n·m)). */
case class BoundedLevenshtein(left: Expression, right: Expression, maxDist: Int)
    extends BinaryExpression {
  require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bounded_levenshtein expects (string, string), got (${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = IntegerType
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.boundedLevenshtein(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.Kernels.boundedLevenshtein($a, $b, $maxDist)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket id of a float-vector column. */
case class LshBucket(child: Expression, numPlanes: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"lsh_bucket expects array<float>, got ${t.sql}")
  }
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    Kernels.lshBucket(v.asInstanceOf[ArrayData], numPlanes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.lshBucket($c, $numPlanes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Every per-document text statistic the quality/token queries need,
  * as ONE native single-scan expression returning a struct — the text
  * is walked once inside whole-stage codegen instead of five times
  * through split/filter/regexp_count/regexp_replace/length (and the
  * per-row token-array allocation disappears). */
case class TextScanStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"text_scan expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = TextScanStats.schema
  override def nullSafeEval(v: Any): Any = Kernels.textScan(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.textScan($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextScanStats {
  val schema: StructType = StructType(Seq(
    StructField("chars", LongType, nullable = false),
    StructField("tokens", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false),
    StructField("word_chars", LongType, nullable = false),
    StructField("bpe_tokens", LongType, nullable = false)))
}

/** Sparse hashed-unigram histogram as a native expression: one codegen
  * call per document, array<struct<b,c>> of occupied buckets only. */
/** Winnowing fingerprints (Schleimer et al. 2003) in ONE text walk:
  * k-token gram md5Hash60 hashes, w-hash window minima, distinct set —
  * the native kernel behind `text_winnow`. Replaces a split +
  * transform(md5) + window-minima transform + array_distinct chain
  * whose md5 lambda ran in interpreted ArrayTransform.eval; semantics
  * pinned to that definitional formulation by KernelsPropertySpec
  * (tokens = split(text, ' ') with empties kept, grams joined with
  * single spaces, output = the SET of window minima, ascending). */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"winnow_fps expects a string argument, got ${child.dataType.sql}")
    else if (k <= 0 || w <= 0)
      TypeCheckResult.TypeCheckFailure(s"k and w must be positive, got k=$k w=$w")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.winnowFps(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class DsirBuckets(child: Expression, nBuckets: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && nBuckets > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dsir_buckets expects (string, positive bucket count), got ${child.dataType.sql}, $nBuckets")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.dsirBuckets(v.asInstanceOf[UTF8String], nBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.dsirBuckets($c, $nBuckets)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fused coarse-quantizer assignment: the `keep` nearest centroid ids
  * for one vector, scored and selected in ONE tight loop over a
  * driver-collected centroid table (bounded: ≤65536 × dim floats —
  * index-build metadata, the same thing a FAISS coarse quantizer holds
  * in RAM). Replaces the interpreted higher-order-function chain
  * (transform → per-element CosineSim eval → struct alloc →
  * array_sort), whose per-element plumbing dominated the sf10 profile.
  *
  * Ordering is EXACTLY `round(cosine_sim(vec, ce), 9) DESC, cell ASC`:
  *  - the cosine replicates Kernels.cosine's accumulation order
  *    bit-for-bit (same interleaved dot/na accumulation; float widens
  *    to double exactly; sqrt(na)·sqrt(nb) operand order preserved);
  *  - HALF_UP decimal rounding decides the final order, but is only
  *    COMPUTED for candidates within 2e-9 of the keep-th best
  *    unrounded score — rounding displaces a double by ≤5e-10, so no
  *    cell outside that band can enter the rounded top-k. BigDecimal
  *    cost drops from nCells/row to ~keep/row. */
case class TopCells(
    child: Expression,
    cells: Array[Long],
    cents: Array[Array[Double]],
    keep: Int)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_cells expects array<float|double>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private lazy val childIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  // sqrt of each centroid's self-dot, precomputed once per executor
  private lazy val centSqrtNorm: Array[Double] = cents.map { c =>
    var nb = 0.0; var i = 0
    while (i < c.length) { nb += c(i) * c(i); i += 1 }
    math.sqrt(nb)
  }

  // HALF_UP decimal rounding, with -0.0 normalized to 0.0: SQL engines
  // order -0.0 == 0.0 (Spark normalizes float sort keys, DuckDB uses
  // C++ ==), but scala's tuple sort goes through Double.compare which
  // puts -0.0 < 0.0 — a near-zero cosine must not flip rank on sign.
  private def round9(x: Double): Double = {
    val r = java.math.BigDecimal.valueOf(x)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
    if (r == 0.0) 0.0 else r
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val nA = a.numElements()
    val x = new Array[Double](nA)
    var i = 0
    while (i < nA) {
      x(i) = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    val n = cells.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    val sims = new Array[Double](n)
    var c = 0
    while (c < n) {
      val ce = cents(c)
      val len = math.min(nA, ce.length)
      // interleaved dot/na accumulation — Kernels.cosine's exact order
      var dot = 0.0; var na = 0.0; var j = 0
      while (j < len) { val xv = x(j); dot += xv * ce(j); na += xv * xv; j += 1 }
      sims(c) = dot / (math.sqrt(na) * centSqrtNorm(c))
      c += 1
    }
    // keep-th best UNROUNDED score (ties irrelevant for the margin)
    val kk = math.min(keep, n)
    val best = Array.fill(kk)(Double.NegativeInfinity)
    c = 0
    while (c < n) {
      val s = sims(c)
      if (s > best(kk - 1)) {
        var p = kk - 1
        while (p > 0 && best(p - 1) < s) { best(p) = best(p - 1); p -= 1 }
        best(p) = s
        }
      c += 1
    }
    val margin = best(kk - 1) - 2e-9
    val cand = collection.mutable.ArrayBuffer.empty[Int]
    c = 0
    while (c < n) { if (sims(c) >= margin) cand += c; c += 1 }
    val ranked = cand.toArray.sortBy(i => (-round9(sims(i)), cells(i)))
    new GenericArrayData(ranked.take(kk).map(cells(_)))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-language char-trigram profile hit counts (array<bigint> in
  * Kernels.LangTrigramProfiles order) — single-pass, codegen'd,
  * allocation-free scan of the text. */
case class LangTrigramHits(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lang_trigram_hits expects a string argument, got ${child.dataType.sql}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.langTrigramHits(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.langTrigramHits($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-API facade for the native expressions (Spark 4 classic:
  * Column ↔ catalyst Expression via ExpressionUtils). */
object Fns {
  import org.apache.spark.sql.graft.Bridge.{column, expression}
  def cosine_sim(a: Column, b: Column): Column = column(CosineSim(expression(a), expression(b)))
  def sorted_intersect_count(a: Column, b: Column): Column =
    column(SortedIntersectCount(expression(a), expression(b)))
  def sig_match_count(a: Column, b: Column): Column =
    column(SigMatchCount(expression(a), expression(b)))
  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def minhash_sig(c: Column, numPerms: Int = 128, shingleW: Int = 3): Column =
    column(MinHashSig(expression(c), numPerms, shingleW))
  def shingle_set(c: Column, w: Int = 3): Column = column(ShingleSet(expression(c), w))
  def token_repetition(c: Column): Column = column(TokenRepetition(expression(c)))
  def rolling_hash(c: Column): Column = column(RollingHash(expression(c)))
  def simhash_md5(c: Column): Column = column(SimHashMd5(expression(c)))
  def nfc(c: Column): Column = column(NfcNormalize(expression(c)))
  def minhash_sig_md5(c: Column, numPerms: Int = 32): Column =
    column(MinHashSigMd5(expression(c), numPerms))
  def lsh_bucket(c: Column, numPlanes: Int = 16): Column = column(LshBucket(expression(c), numPlanes))
  def bounded_levenshtein(a: Column, b: Column, maxDist: Int): Column =
    column(BoundedLevenshtein(expression(a), expression(b), maxDist))
  def text_scan(c: Column): Column = column(TextScanStats(expression(c)))
  def lang_trigram_hits(c: Column): Column = column(LangTrigramHits(expression(c)))
  def dsir_buckets(c: Column, nBuckets: Int = 1024): Column =
    column(DsirBuckets(expression(c), nBuckets))
  def winnow_fps(c: Column, k: Int = 4, w: Int = 4): Column =
    column(WinnowFps(expression(c), k, w))
  def top_cells(vec: Column, cells: Array[Long],
                cents: Array[Array[Double]], keep: Int): Column =
    column(TopCells(expression(vec), cells, cents, keep))

  /** Make the native expressions available from SQL:
    * `SELECT cosine_sim(a, b), simhash64(text) ...`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graft.Bridge.registerFunction
    import org.apache.spark.sql.catalyst.expressions.Literal
    def intArg(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $other")
    }
    registerFunction(spark, "cosine_sim", es => CosineSim(es(0), es(1)))
    registerFunction(spark, "sorted_intersect_count",
      es => SortedIntersectCount(es(0), es(1)))
    registerFunction(spark, "sig_match_count", es => SigMatchCount(es(0), es(1)))
    registerFunction(spark, "simhash64", es => SimHash64(es.head))
    registerFunction(spark, "minhash_sig", {
      case Seq(c) => MinHashSig(c, 128, 3)
      case Seq(c, n) => MinHashSig(c, intArg(n, "numPerms"), 3)
      case Seq(c, n, w) => MinHashSig(c, intArg(n, "numPerms"), intArg(w, "shingleW"))
      case es => throw new IllegalArgumentException(s"minhash_sig takes 1-3 args, got ${es.length}")
    })
    registerFunction(spark, "shingle_set", {
      case Seq(c) => ShingleSet(c, 3)
      case Seq(c, w) => ShingleSet(c, intArg(w, "w"))
      case es => throw new IllegalArgumentException(s"shingle_set takes 1-2 args, got ${es.length}")
    })
    registerFunction(spark, "token_repetition", es => TokenRepetition(es.head))
    registerFunction(spark, "rolling_hash", es => RollingHash(es.head))
    registerFunction(spark, "text_scan", es => TextScanStats(es.head))
    registerFunction(spark, "lang_trigram_hits", es => LangTrigramHits(es.head))
    registerFunction(spark, "dsir_buckets", {
      case Seq(c) => DsirBuckets(c, 1024)
      case Seq(c, n) => DsirBuckets(c, intArg(n, "nBuckets"))
      case es => throw new IllegalArgumentException(s"dsir_buckets takes 1-2 args, got ${es.length}")
    })
    registerFunction(spark, "simhash_md5", es => SimHashMd5(es.head))
    registerFunction(spark, "nfc", es => NfcNormalize(es.head))
    registerFunction(spark, "lsh_bucket", {
      case Seq(c) => LshBucket(c, 16)
      case Seq(c, n) => LshBucket(c, intArg(n, "numPlanes"))
      case es => throw new IllegalArgumentException(s"lsh_bucket takes 1-2 args, got ${es.length}")
    })
    registerFunction(spark, "bounded_levenshtein", {
      case Seq(a, b, k) => BoundedLevenshtein(a, b, intArg(k, "maxDist"))
      case es => throw new IllegalArgumentException(
        s"bounded_levenshtein takes 3 args (a, b, maxDist), got ${es.length}")
    })
  }
}

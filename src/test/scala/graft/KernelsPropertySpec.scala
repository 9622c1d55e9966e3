package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Kernels

/** Seeded randomized property checks for the hash/sketch kernels. */
class KernelsPropertySpec extends AnyFunSuite {

  val rnd = new scala.util.Random(42)
  val vocab = (0 until 50).map(i => s"w$i")
  def doc(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  def u8(s: String) = UTF8String.fromString(s)

  def exactJaccard(a: String, b: String, w: Int = 3): Double = {
    def sh(s: String) = s.split(" ").sliding(w).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  def estJaccard(a: String, b: String): Double = {
    val (sa, sb) = (Kernels.minhashSig(u8(a), 128, 3), Kernels.minhashSig(u8(b), 128, 3))
    sa.zip(sb).count { case (x, y) => x == y } / 128.0
  }

  test("langTrigramHits == reference per-char extraction on adversarial inputs") {
    // reference: ASCII case-fold per CODEPOINT, then count char-window
    // trigram matches — the semantics the DuckDB oracle replays
    def ref(s: String): Seq[Long] = {
      val folded = s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      val grams =
        if (folded.length < 3) Seq.empty
        else (0 to folded.length - 3).map(i => folded.substring(i, i + 3))
      Kernels.LangTrigramProfiles.map { case (_, prof) =>
        grams.count(prof.contains).toLong
      }
    }
    def kernel(s: String): Seq[Long] = {
      val a = Kernels.langTrigramHits(u8(s))
      (0 until a.numElements()).map(a.getLong)
    }
    val adversarial = Seq(
      "", "xy", "THE THE the", "singing In The Rain",
      "Überraschung IST GROSS und SCHÖN", // non-ASCII + caps (Turkish-İ class)
      "İstanbul the city", // U+0130: length-changing under full lowercase
      "日本語のテキスト the quick brown fox", // CJK + ASCII mix
      "aİtheıund", // dotted/dotless I adjacent to profile grams
      "KKelvin the sign") // U+212A lowers to ASCII 'k' under FULL fold — ours must not
    adversarial.foreach { s =>
      assert(kernel(s) == ref(s), s"mismatch on '$s': ${kernel(s)} vs ${ref(s)}")
    }
    // randomized: mixed-case vocab + occasional multi-byte injections
    val mixVocab = vocab ++ Seq("The", "AND", "Ingenious", "schön", "ÜBER", "que", "LES")
    (1 to 200).foreach { _ =>
      val s = Seq.fill(rnd.nextInt(30))(mixVocab(rnd.nextInt(mixVocab.size))).mkString(" ")
      assert(kernel(s) == ref(s), s"mismatch on '$s'")
    }
  }

  test("sortedIntersectCount == set intersection size on sorted distinct arrays") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextLong() % 1000).distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextLong() % 1000).distinct.sorted
      val got = Kernels.sortedIntersectCount(
        ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      assert(got == a.toSet.intersect(b.toSet).size, s"a=$a b=$b")
    }
    // empty edges
    assert(Kernels.sortedIntersectCount(
      ArrayData.toArrayData(Array.empty[Long]),
      ArrayData.toArrayData(Array(1L, 2L))) == 0)
  }

  test("sig_match_count == Spark's size(filter(zip_with(a, b, x = y), v -> v)), nulls and unequal lengths included") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    graft.functions.Fns.registerAll(spark)
    import spark.implicits._
    val r = new scala.util.Random(29)
    // few distinct values, so equal positions are common; null elements
    // and null arrays now and then
    type Arr = Option[Seq[Option[Long]]]
    def arr(): Arr =
      if (r.nextInt(10) == 0) None
      else Some(Seq.fill(r.nextInt(12))(if (r.nextInt(8) == 0) None else Some(r.nextInt(3).toLong)))
    def of(vs: Long*): Arr = Some(vs.map(Some(_)))
    val edge: Seq[(Arr, Arr)] = Seq((of(), of()), (of(), of(1L)), (of(1L, 2L), of()),
      (of(1L, 2L, 3L), of(1L, 2L)), (Some(Seq(None)), Some(Seq(None))),
      (None, of(1L)), (of(1L), None), (None, None))
    val pairs = edge ++ Seq.fill(400)((arr(), arr()))
    val df = pairs.zipWithIndex.map { case ((a, b), i) => (i, a.orNull, b.orNull) }.toDF("id", "a", "b")
    val rows = df.select($"id",
        graft.functions.Fns.sig_match_count($"a", $"b").as("got"),
        expr("sig_match_count(a, b)").as("sql"),
        expr("size(filter(zip_with(a, b, (x, y) -> x = y), v -> v))").as("want"))
      .orderBy("id").collect()
    assert(rows.length == pairs.length)
    rows.foreach { row =>
      val id = row.getInt(0)
      val want = if (row.isNullAt(3)) None else Some(row.getInt(3))
      assert((if (row.isNullAt(1)) None else Some(row.getInt(1))) == want, s"id=$id ${pairs(id)}")
      assert((if (row.isNullAt(2)) None else Some(row.getInt(2))) == want, s"sql id=$id")
      // the direct (non-codegen) kernel call, on non-null arrays
      def data(vs: Seq[Option[Long]]) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.map(_.orNull[Any]).toArray)
      for (a <- pairs(id)._1; b <- pairs(id)._2)
        assert(Some(Kernels.sigMatchCount(data(a), data(b))) == want, s"direct id=$id")
    }
    assert(rows.count(_.isNullAt(3)) > 10 && rows.count(r => !r.isNullAt(3) && r.getInt(3) > 1) > 50)
  }

  test("boundedLevenshtein == exact levenshtein when within bound, sentinel above") {
    def mutate(s: String, edits: Int): String = {
      var cs = s.toVector
      (1 to edits).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 if cs.nonEmpty => cs = cs.updated(rnd.nextInt(cs.size), ('a' + rnd.nextInt(26)).toChar)
          case 1 if cs.nonEmpty => cs = cs.patch(rnd.nextInt(cs.size), Nil, 1)
          case _ => cs = cs.patch(rnd.nextInt(cs.size + 1), Seq(('a' + rnd.nextInt(26)).toChar), 0)
        }
      }
      cs.mkString
    }
    (1 to 200).foreach { _ =>
      val a = doc(3 + rnd.nextInt(15))
      val b = if (rnd.nextBoolean()) mutate(a, rnd.nextInt(12)) else doc(3 + rnd.nextInt(15))
      val k = rnd.nextInt(25)
      val exact = u8(a).levenshteinDistance(u8(b))
      val got = Kernels.boundedLevenshtein(u8(a), u8(b), k)
      if (exact <= k) assert(got == exact, s"a=$a b=$b k=$k exact=$exact got=$got")
      else assert(got == k + 1, s"a=$a b=$b k=$k exact=$exact got=$got")
    }
    // edges: empty strings, identical, k=0
    assert(Kernels.boundedLevenshtein(u8(""), u8(""), 0) == 0)
    assert(Kernels.boundedLevenshtein(u8("abc"), u8("abc"), 0) == 0)
    assert(Kernels.boundedLevenshtein(u8("abc"), u8("abd"), 0) == 1)
    assert(Kernels.boundedLevenshtein(u8(""), u8("abc"), 2) == 3)
    assert(Kernels.boundedLevenshtein(u8(""), u8("ab"), 2) == 2)
  }

  test("minhash estimate tracks exact jaccard within 3 sigma over 50 random pairs") {
    var maxErr = 0.0
    for (_ <- 1 to 50) {
      val a = doc(40 + rnd.nextInt(40))
      // mutate a little → related doc; or fresh doc → unrelated
      val b = if (rnd.nextBoolean()) {
        val toks = a.split(" ")
        toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      } else doc(40 + rnd.nextInt(40))
      val err = math.abs(estJaccard(a, b) - exactJaccard(a, b))
      maxErr = math.max(maxErr, err)
    }
    // stddev of the estimator ≈ sqrt(j(1-j)/128) ≤ 0.045; 3σ ≈ 0.14
    assert(maxErr < 0.14, s"max |est-exact| = $maxErr")
  }

  test("simhash hamming distance orders by similarity on average") {
    var nearSum = 0; var farSum = 0
    for (_ <- 1 to 30) {
      val a = doc(60)
      val toks = a.split(" ")
      val near = toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val far = doc(60)
      nearSum += java.lang.Long.bitCount(Kernels.simhash64(u8(a)) ^ Kernels.simhash64(u8(near)))
      farSum += java.lang.Long.bitCount(Kernels.simhash64(u8(a)) ^ Kernels.simhash64(u8(far)))
    }
    assert(nearSum < farSum, s"near=$nearSum far=$farSum")
  }

  test("kernels are pure: same input, same output, across many inputs") {
    for (_ <- 1 to 20) {
      val s = doc(30)
      assert(Kernels.simhash64(u8(s)) == Kernels.simhash64(u8(s)))
      assert(Kernels.rollingHash(u8(s)) == Kernels.rollingHash(u8(s)))
      assert(Kernels.minhashSig(u8(s), 128, 3).toSeq == Kernels.minhashSig(u8(s), 128, 3).toSeq)
    }
  }

  test("md5 minhash estimate tracks exact jaccard over 30 random pairs") {
    def estMd5(a: String, b: String): Double = {
      val sa = Kernels.minhashSigMd5(u8(a), 32).toLongArray()
      val sb = Kernels.minhashSigMd5(u8(b), 32).toLongArray()
      sa.zip(sb).count { case (x, y) => x == y } / 32.0
    }
    for (_ <- 1 to 30) {
      val a = doc(40 + rnd.nextInt(40))
      val toks = a.split(" ").toBuffer
      toks(rnd.nextInt(toks.size)) = vocab(rnd.nextInt(vocab.size))
      val b = toks.mkString(" ")
      val exact = exactJaccard(a, b)
      val est = estMd5(a, b)
      // 32 perms -> sigma = sqrt(j(1-j)/32) <= 0.09; allow 4 sigma
      assert(math.abs(est - exact) <= 0.36, s"est=$est exact=$exact")
    }
  }

  test("md5 minhash/simhash values stay in their declared ranges") {
    for (_ <- 1 to 20) {
      val d = doc(5 + rnd.nextInt(100))
      val sig = Kernels.minhashSigMd5(u8(d), 32).toLongArray()
      assert(sig.length == 32)
      assert(sig.forall(v => v >= 0 && v < 2147483647L), sig.mkString(","))
      val sh = Kernels.simhashMd5(u8(d))
      assert((sh >>> 60) == 0L)
      assert(Kernels.md5Hash60(d) >= 0 && (Kernels.md5Hash60(d) >>> 60) == 0L)
    }
  }

  test("minhash handles degenerate docs") {
    assert(Kernels.minhashSig(u8(""), 128, 3).forall(_ == 0L))
    assert(Kernels.minhashSig(u8("one two"), 128, 3).forall(_ == 0L)) // < shingle width
    // exactly w tokens: exactly one shingle, so a real signature
    assert(Kernels.shingleSet(u8("a b c"), 3).numElements() == 1)
    assert(!Kernels.minhashSig(u8("a b c"), 128, 3).contains(0L))
  }

  // The four malformed UTF-8 shapes Spark's split() decodes to U+FFFD:
  // a bare 0xFF, a UTF-16 surrogate, an overlong NUL, a code point past
  // U+10FFFF. Hashing their raw bytes instead gives other values.
  val malformed: Seq[Array[Byte]] = Seq(
    Array(0x61, 0xFF, 0x20, 0x62, 0x20, 0x63, 0x20, 0x64),
    Array(0x78, 0x20, 0xED, 0xA0, 0x80, 0x20, 0x79, 0x20, 0x7A),
    Array(0x78, 0x20, 0xC0, 0x80, 0x20, 0x79, 0x20, 0x7A),
    Array(0x78, 0x20, 0xF4, 0x90, 0x80, 0x80, 0x20, 0x79, 0x20, 0x7A),
    Array(0xFF, 0x20, 0xC0, 0x80, 0x20, 0xED, 0xA0, 0x80, 0x20, 0xF4, 0x90, 0x80, 0x80)
  ).map(_.map(_.toByte))

  /** Random text over multi-byte and empty tokens: double, leading and
    * trailing spaces, and now and then one of the malformed shapes. */
  def noisyText(r: scala.util.Random): Array[Byte] = {
    val pieces = Seq("the", "a", "w1", "w2", "café", "über", "世界", "😀x", "", "", " ")
    val s = Seq.fill(r.nextInt(12))(pieces(r.nextInt(pieces.size))).mkString(" ")
    val b = s.getBytes("UTF-8")
    if (r.nextInt(4) == 0) b ++ Array(' '.toByte) ++ malformed(r.nextInt(malformed.size)) else b
  }

  test("shingle_set == sorted distinct xxhash64(concat_ws(' ', slice(split(text, ' '), i, w))) through Spark") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    import spark.implicits._
    val r = new scala.util.Random(11)
    val edge = Seq("", " ", "  ", "a", "a b", "a b c", " a b c", "a b c ", "a  b c",
      "x y", "é ü 世 😀", "😀 😀 😀 😀").map(s => Option(s.getBytes("UTF-8")))
    val inputs = edge ++ malformed.map(Option(_)) ++
      Seq.fill(300)(Option(noisyText(r))) :+ Option.empty[Array[Byte]]
    val df = inputs.zipWithIndex.map { case (b, i) => (i, b.orNull) }.toDF("id", "bytes")
      .select($"id", $"bytes".cast("string").as("text"))
    for (w <- 1 to 4) {
      // the interpreted SQL formulation the operators ran before the kernel
      val old = expr(s"""CASE WHEN text IS NULL THEN NULL
        WHEN size(split(text, ' ')) < $w THEN CAST(array() AS array<bigint>)
        ELSE array_sort(array_distinct(transform(sequence(0, size(split(text, ' ')) - $w),
          i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i + 1, $w)))))) END""")
      val rows = df.select($"id", $"text", graft.functions.Fns.shingle_set($"text", w).as("got"),
          old.as("want")).orderBy("id").collect()
      assert(rows.length == inputs.length)
      rows.foreach { row =>
        val want = Option(row.getSeq[Long](3))
        assert(Option(row.getSeq[Long](2)) == want, s"w=$w id=${row.getInt(0)} text='${row.getString(1)}'")
        val b = inputs(row.getInt(0))
        // the same values off the direct (non-codegen) kernel call
        b.foreach { bs =>
          val direct = Kernels.shingleSet(UTF8String.fromBytes(bs), w).toLongArray().toSeq
          assert(Some(direct) == want, s"direct w=$w id=${row.getInt(0)}")
        }
      }
      assert(rows.count(_.isNullAt(2)) == 1, "null text → null set")
    }
  }

  test("byte-level minhashSig == the String split(\" \") implementation, malformed UTF-8 included") {
    // the pre-byte-level kernel, kept here as the reference
    def refShingles(text: UTF8String, w: Int): Array[Long] = {
      val toks = text.toString.split(" ")
      if (toks.length < w) return Array.emptyLongArray
      (0 to toks.length - w).map { i =>
        var h = Kernels.FnvOffset
        (0 until w).foreach { k =>
          toks(i + k).getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= Kernels.FnvPrime }
          h ^= ' '.toLong; h *= Kernels.FnvPrime
        }
        h
      }.toArray
    }
    def refSig(text: UTF8String, numPerms: Int, w: Int): Seq[Long] = {
      val hs = refShingles(text, w)
      (0 until numPerms).map { j =>
        val a = Kernels.splitmix64(2L * j) | 1L
        val b = Kernels.splitmix64(2L * j + 1)
        if (hs.isEmpty) 0L else hs.map(a * _ + b).min
      }
    }
    val r = new scala.util.Random(13)
    val edge = Seq("", " ", "   ", "a", "a ", " a", "a  b", "a b c", "a b c  ", "  a b c",
      "a  ", "é ü 世 😀").map(_.getBytes("UTF-8"))
    val inputs = edge ++ malformed ++ Seq.fill(300)(noisyText(r))
    for (bs <- inputs; w <- 1 to 3; numPerms <- Seq(16, 128)) {
      val t = UTF8String.fromBytes(bs)
      assert(Kernels.minhashSig(t, numPerms, w).toSeq == refSig(t, numPerms, w),
        s"w=$w perms=$numPerms text='$t'")
      val data = Kernels.minhashSigData(t, numPerms, w)
      assert(data.toLongArray().toSeq == refSig(t, numPerms, w))
    }
  }

  test("token_repetition == the split / array_distinct / wordNgrams SQL legs through Spark") {
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis.wordNgrams
    val spark = TestSpark.spark
    import spark.implicits._
    val r = new scala.util.Random(19)
    // a small pool, so tokens and windows repeat; the raw FF and C0 80
    // tokens equal the valid U+FFFD ones beside them only once the text
    // is re-encoded, as split does
    val pool = Seq("a", "b", "the", "", "é", "\uFFFD", "\uFFFD\uFFFD").map(_.getBytes("UTF-8")) ++
      Seq(Array(0xFF), Array(0xC0, 0x80), Array(0xED, 0xA0, 0x80), Array(0xF4, 0x90, 0x80, 0x80))
        .map(_.map(_.toByte))
    def repetitive(): Array[Byte] =
      Seq.fill(1 + r.nextInt(30))(pool(r.nextInt(pool.size)))
        .reduce((a, b) => a ++ Array(' '.toByte) ++ b)
    val edge = Seq("", " ", "  ", "a", "a a", "a b", "a b a", "a b a b", "a b c a b c", " a",
      "a ", "a  b", "  a  a  ", "x x x x", "é é ü", "😀 😀 😀 😀").map(_.getBytes("UTF-8"))
    val inputs = (edge ++ malformed ++ Seq.fill(200)(noisyText(r)) ++ Seq.fill(300)(repetitive()))
      .map(Option(_)) :+ Option.empty[Array[Byte]]
    val df = inputs.zipWithIndex.map { case (b, i) => (i.toLong, b.orNull) }.toDF("doc_id", "bytes")
      .select($"doc_id", $"bytes".cast("string").as("text"))
    val fields = Seq("tokens", "top_count", "grams_2", "distinct_2", "grams_3", "distinct_3")
    // the interpreted SQL legs the Gopher and repetition operators ran before the kernel
    val ws = split($"text", " ")
    val (g2, g3) = (wordNgrams($"text", 2), wordNgrams($"text", 3))
    val old = Seq(size(ws), array_max(transform(array_distinct(ws), x => size(filter(ws, y => y === x)))),
      size(g2), size(array_distinct(g2)), size(g3), size(array_distinct(g3))).map(_.cast("long"))
    val rep = graft.functions.Fns.token_repetition($"text")
    val rows = df.select($"doc_id" +: rep.as("got") +: old: _*).orderBy("doc_id").collect()
    assert(rows.length == inputs.length)
    var repeats = 0
    rows.foreach { row =>
      val id = row.getLong(0).toInt
      val want = fields.indices.map(k => row.get(2 + k))
      inputs(id) match {
        case Some(bs) =>
          val got = row.getStruct(1)
          assert(got.schema.fieldNames.toSeq == fields)
          assert(fields.indices.map(got.get) == want, s"id=$id text='${UTF8String.fromBytes(bs)}'")
          // the same counts off the direct (non-codegen) kernel call
          val direct = Kernels.tokenRepetition(UTF8String.fromBytes(bs))
          assert(fields.indices.map(direct.getLong) == want, s"direct id=$id")
          if (got.getLong(1) > 1 && got.getLong(5) < got.getLong(4)) repeats += 1
        case None =>
          assert(row.isNullAt(1), "null text → null struct")
          assert(want.take(2) == Seq(null, null), "the old token and mode legs are null too")
      }
    }
    assert(repeats > 100, s"only $repeats texts repeat a token and a 3-gram")
  }

  test("RangeCounter: equal hashes of different bytes stay distinct, through growth and reuse") {
    val off = org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong
    val c = new Kernels.RangeCounter
    // 200 two-byte tokens, 100 distinct, all added under ONE hash: only the
    // byte comparison tells them apart, and the table grows past 64 slots
    val toks = (0 until 200).map(i => f"${i % 100}%02d")
    val bytes = toks.mkString(" ").getBytes("UTF-8")
    for (_ <- 1 to 3) {
      c.reset()
      toks.indices.foreach(i => c.add(bytes, off, 7L, 3 * i, 3 * i + 2))
      assert(c.distinct == 100 && c.maxCount == 2)
    }
    // a text past 2^15 distinct windows, then small ones on the same thread
    val big = (0 until 40000).mkString(" ")
    val r = Kernels.tokenRepetition(u8(big))
    assert((0 until 6).map(r.getLong) == Seq(40000L, 1L, 39999L, 39999L, 39998L, 39998L))
    val s = Kernels.tokenRepetition(u8("a b a b a"))
    assert((0 until 6).map(s.getLong) == Seq(5L, 3L, 4L, 2L, 3L, 2L))
  }

  test("gopherFilter and repetitionStats equal their pre-kernel SQL formulation, nulls included") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import graft.operators.TextAnalysis
    import graft.operators.TextAnalysis.wordNgrams
    val spark = TestSpark.spark
    import spark.implicits._
    val r = new scala.util.Random(23)
    val vocab = Seq("the", "a", "of", "x", "word", "boiler", "plate", "!!", "")
    val texts = Seq(None, Some(""), Some(" "), Some("  "), Some("the")) ++
      Seq.fill(300)(Some(Seq.fill(r.nextInt(60))(vocab(r.nextInt(vocab.size))).mkString(" ")))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }.toDF("doc_id", "text")
    // the two operators as they were, lambdas and token arrays included
    val ws = split($"text", " ")
    val modeCount = array_max(transform(array_distinct(ws), x => size(filter(ws, y => y === x))))
    val st = graft.functions.Fns.text_scan($"text")
    val g3 = wordNgrams($"text", 3)
    val dup3 = when(size(g3) > 0,
      (size(g3) - size(array_distinct(g3))).cast("double") / size(g3).cast("double"))
      .otherwise(lit(0.0))
    val topWord = modeCount.cast("double") / size(ws).cast("double")
    val stopRatio = st.getField("stop_hits").cast("double") / st.getField("tokens").cast("double")
    val mwl = st.getField("word_chars").cast("double") / st.getField("tokens").cast("double")
    // null over zero chars (the "" document), as in the DuckDB oracle
    val punct = try_divide(st.getField("punct").cast("double"), st.getField("chars").cast("double"))
    val rules = Seq(size(ws) < 20, stopRatio < 0.03, mwl < 3.0 || mwl > 10.0,
      topWord > 0.15, dup3 > 0.1, punct > 0.3)
    val mask = rules.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, bit)) =>
      acc + when(c, lit(1L << bit)).otherwise(lit(0L))
    }
    val oldGopher = docs.select($"doc_id", size(ws).cast("long").as("n_tokens"), mask.as("fail_mask"))
      .withColumn("keep", $"fail_mask" === 0L)
    def ppbFrac(num: Column, den: Column): Column =
      floor(num.cast("double") * 1e9 / den).cast("long").cast("double") / 1e9
    def dupFrac(g: Column): Column =
      when(size(g) > 0, ppbFrac(size(g) - size(array_distinct(g)), size(g))).otherwise(lit(0.0))
    val oldRep = docs.select($"doc_id", ppbFrac(modeCount, size(ws)).as("top_word_frac"),
      dupFrac(wordNgrams($"text", 2)).as("dup_2gram_frac"), dupFrac(g3).as("dup_3gram_frac"))
    for ((name, got, want) <- Seq(
        ("gopherFilter", TextAnalysis.gopherFilter(docs), oldGopher),
        ("repetitionStats", TextAnalysis.repetitionStats(docs), oldRep))) {
      assert(got.schema == want.schema, name)
      val (g, w) = (got.orderBy("doc_id").collect().toSeq, want.orderBy("doc_id").collect().toSeq)
      assert(g == w, s"$name: ${g.zip(w).filter { case (a, b) => a != b }.take(5)}")
    }
    // rules other than "too short" fire on some rows: 3 and 4 are the kernel's
    assert(oldGopher.filter($"fail_mask".bitwiseAND(8L + 16L) =!= 0L).count() > 10)
  }

  test("textScan matches the definitional regex/split formulas on random unicode text") {
    val stop = Set("the", "a", "and", "of", "to")
    val pieces = Seq("the", "a", "and", "of", "to", "word", "W9x", "42", "7",
      "café", "über", "naïve", "世界", "x!y", "a.b,c", "", "--", "(k)")
    (1 to 300).foreach { _ =>
      // random spacing, incl. leading/trailing/double spaces via empty pieces
      val s = Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size))).mkString(" ")
      val row = Kernels.textScan(u8(s))
      val chars = s.codePointCount(0, s.length).toLong
      val toks = s.split(" ", -1)
      assert(row.getLong(0) == chars, s"chars of '$s'")
      assert(row.getLong(1) == toks.length, s"tokens of '$s'")
      val punct = java.util.regex.Pattern.compile("[^A-Za-z0-9 ]")
        .matcher(s).results().count()
      assert(row.getLong(2) == punct, s"punct of '$s'")
      assert(row.getLong(3) == toks.count(stop), s"stop hits of '$s'")
      assert(row.getLong(4) == chars - s.count(_ == ' '), s"word chars of '$s'")
      val bpe = java.util.regex.Pattern.compile("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")
        .matcher(s).results().count()
      assert(row.getLong(5) == bpe, s"bpe tokens of '$s'")
    }
    // the empty document: one empty token, zero everything else
    val e = Kernels.textScan(u8(""))
    assert(e.getLong(0) == 0 && e.getLong(1) == 1 && e.getLong(2) == 0 &&
      e.getLong(3) == 0 && e.getLong(4) == 0 && e.getLong(5) == 0)
  }

  test("dsirBuckets matches the definitional split + md5Hash60 histogram") {
    def reference(s: String, n: Int): Map[Long, Long] =
      s.split(" ", -1).filter(_.nonEmpty)
        .groupBy(t => Kernels.md5Hash60(t) % n).map { case (b, ts) => b -> ts.length.toLong }
    (1 to 100).foreach { _ =>
      val s = doc(rnd.nextInt(60))
      val n = Seq(16, 256, 1024)(rnd.nextInt(3))
      val arr = Kernels.dsirBuckets(u8(s), n)
      val got = (0 until arr.numElements()).map { i =>
        val r = arr.getStruct(i, 2); r.getLong(0) -> r.getLong(1)
      }.toMap
      assert(got == reference(s, n), s"histogram of '$s' at $n buckets")
      // sparse contract: occupied buckets only, ascending, in range
      val bs = (0 until arr.numElements()).map(i => arr.getStruct(i, 2).getLong(0))
      assert(bs == bs.sorted && bs.forall(b => b >= 0 && b < n))
      assert((0 until arr.numElements()).forall(i => arr.getStruct(i, 2).getLong(1) > 0))
    }
    // degenerate inputs: empty text and multi-space runs
    assert(Kernels.dsirBuckets(u8(""), 64).numElements() == 0)
    assert(Kernels.dsirBuckets(u8("   "), 64).numElements() == 0)
    val one = Kernels.dsirBuckets(u8("  x  x "), 64)
    assert(one.numElements() == 1 && one.getStruct(0, 2).getLong(1) == 2)
  }

  test("KmvSketch: any reduce/merge partitioning yields the k smallest distinct hashes") {
    val k = 16
    (1 to 100).foreach { _ =>
      val agg = new graft.functions.KmvSketch(k)
      // duplicates on purpose: sketch must dedup within AND across partitions
      val vals = Seq.fill(rnd.nextInt(200))(math.abs(rnd.nextLong() % 50) * 7 + 1)
      val nParts = 1 + rnd.nextInt(5)
      val parts = vals.grouped(math.max(1, (vals.size + nParts - 1) / nParts)).toSeq
      val merged = parts
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
        .foldLeft(agg.zero)(agg.merge)
      val expect = vals.distinct.sorted.take(k)
      assert(merged.toSeq == expect, s"vals=$vals parts=$nParts")
    }
    // merge with empty on either side
    val agg = new graft.functions.KmvSketch(k)
    val s1 = Seq(5L, 3L, 9L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(s1, agg.zero).toSeq == Seq(3L, 5L, 9L))
    assert(agg.merge(agg.zero, s1).toSeq == Seq(3L, 5L, 9L))
  }
}

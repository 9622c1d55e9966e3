package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextAnalysis
import graft.functions.Kernels
import org.apache.spark.unsafe.types.UTF8String

class TextAnalysisSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("corpus_upsample: whole copies always, fractional copy hash-gated, indices contiguous") {
    val rows = SparkEntry.all("corpus_upsample").fn(spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.nonEmpty)
    byDoc.foreach { case (_, rs) =>
      val idx = rs.head._2.drop(3).toLong
      val pct = 100 + (idx % 4) * 75
      val full = (pct / 100).toInt
      val n = rs.length
      assert(n == full || (pct % 100 > 0 && n == full + 1))
      assert(rs.map(_._3).sorted.toSeq == (0L until n.toLong).toSeq)
    }
  }

  test("gopherFilter and repetitionStats plan no lambda: every executed plan, both keys") {
    val d = docs(Seq((1L, "the cat the cat the cat"), (2L, "a  b c "), (3L, " ")))
    def planned(run: => org.apache.spark.sql.DataFrame) = SpecLint.plannedLambdas(spark)(run)
    for ((name, plans) <- Seq(
        "gopherFilter" -> planned(TextAnalysis.gopherFilter(d)),
        "repetitionStats" -> planned(TextAnalysis.repetitionStats(d)),
        "text_gopher_filter" -> planned(SparkEntry.all("text_gopher_filter").fn(spark, TestSpark.sf)),
        "text_repetition" -> planned(SparkEntry.all("text_repetition").fn(spark, TestSpark.sf)))) {
      assert(plans.exists(_._1 == "collect"), s"$name: the executed plan was not seen")
      val bad = plans.filter(_._2.nonEmpty)
      assert(bad.isEmpty, s"$name runs interpreted lambdas: $bad")
    }
  }

  test("tokenStats counts whitespace and BPE-ish tokens") {
    val d = docs(Seq((1L, "Hello world, 42 times!")))
    val r = TextAnalysis.tokenStats(d).collect()(0)
    assert(r.getAs[Long]("n_chars") == 22)
    assert(r.getAs[Long]("n_ws_tokens") == 4)
    // Hello|world|,|42|times|! → 6
    assert(r.getAs[Long]("n_bpe_tokens") == 6)
  }

  test("qualityScore ratios") {
    val d = docs(Seq((1L, "the cat and the dog")))
    val r = TextAnalysis.qualityScore(d).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 5)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 3.0 / 5) < 1e-9)
    assert(r.getAs[Double]("punct_ratio") == 0.0)
    assert(math.abs(r.getAs[Double]("mean_word_len") - 15.0 / 5) < 1e-9)
  }

  test("gopherFilter and qualityScore on empty and blank text: a zero-char ratio is null, as in the oracles") {
    // rows of textGopherFilterSql / textQualitySql run by DuckDB 1.0.0
    // on the same texts; DuckDB divides by zero to NULL
    val d = docs(Seq((1L, ""), (2L, " "), (3L, "a")))
    val gopher = TextAnalysis.gopherFilter(d).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"), r.getAs[Long]("fail_mask"),
        r.getAs[Boolean]("keep"))).toSeq
    assert(gopher == Seq((1L, 1L, 15L, false), (2L, 2L, 15L, false), (3L, 1L, 13L, false)))
    val q = TextAnalysis.qualityScore(d.filter("doc_id = 1")).collect()(0)
    assert(q.getAs[Long]("n_chars") == 0L && q.getAs[Long]("n_tokens") == 1L)
    assert(q.isNullAt(q.fieldIndex("punct_ratio")))
    assert(q.getAs[Double]("stopword_ratio") == 0.0 && q.getAs[Double]("mean_word_len") == 0.0)
  }

  test("langId picks the profile with most hits") {
    val d = docs(Seq(
      (1L, "the cat and the dog of a to"),
      (2L, "el perro la casa de que y los"),
      (3L, "zzz qqq www")))
    val got = TextAnalysis.langId(d).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en")
    assert(got(2L) == "es")
    assert(got(3L) == "und")
  }

  test("chunk: width/overlap arithmetic, short tail, short doc") {
    // 10 tokens, width 4, overlap 1 → stride 3 → starts 0,3,6,9
    val toks = (1 to 10).map(i => s"t$i")
    val d = docs(Seq((1L, toks.mkString(" ")), (2L, "a b")))
    val got = TextAnalysis.chunk(d, width = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got === Array(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (1L, 3L, "t10", 1L), // tail chunk truncates
      (2L, 0L, "a b", 2L))) // doc shorter than width → one chunk
    // overlap invariant: consecutive full chunks share `overlap` tokens
    val c0 = got(0)._3.split(" ").takeRight(1).toSeq
    assert(got(1)._3.split(" ").take(1).toSeq == c0)
  }

  test("fingerprint is deterministic and content-sensitive") {
    val a = Kernels.rollingHash(UTF8String.fromString("hello world"))
    val b = Kernels.rollingHash(UTF8String.fromString("hello world"))
    val c = Kernels.rollingHash(UTF8String.fromString("hello worle"))
    assert(a == b && a != c)
  }

  test("rollingHash matches the mod-P Horner closed form") {
    // ((0*257+97)*257+98)*257+99 mod (2^31-1) — the recurrence the
    // oracle replays with list_reduce
    assert(Kernels.rollingHash(UTF8String.fromString("abc")) == 6432038L)
    assert(Kernels.rollingHash(UTF8String.fromString("")) == 0L)
    assert(Kernels.rollingHash(UTF8String.fromString("a")) == 97L)
  }

  test("md5Hash60 equals the first 15 hex chars of standard md5") {
    // cross-checked against DuckDB: CAST('0x'||substring(md5(t),1,15) AS BIGINT)
    assert(Kernels.md5Hash60("the") == 647465868329588333L)
    assert(Kernels.md5Hash60("fox") == 196290446655796844L)
    assert(Kernels.md5Hash60("") == 955282973525019424L)
    // independent reimplementation via BigInteger hex parse
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("quick".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(Kernels.md5Hash60("quick") == java.lang.Long.parseLong(hex.take(15), 16))
  }

  test("minhashSigMd5 matches an independent hex-string reimplementation") {
    val text = "the quick brown fox jumps over the lazy dog today"
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    def h32mod30(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1073741824L
    }
    val toks = text.split(" ")
    val expected = (0 until 32).map { j =>
      val a = h32mod30("a:" + j); val b = h32mod30("b:" + j)
      (0 to toks.length - 3).map { i =>
        val h = h60(toks.slice(i, i + 3).mkString(" "))
        (a * (h >>> 30) + b * (h & 1073741823L)) % 2147483647L
      }.min
    }
    val got = Kernels.minhashSigMd5(UTF8String.fromString(text), 32).toLongArray()
    assert(got.toSeq == expected)
    assert(Kernels.minhashSigMd5(UTF8String.fromString("a b"), 32).numElements() == 0)
    // SQL string_split parity: trailing empty tokens COUNT (split limit
    // -1) — 'a b ' is 3 tokens / 1 shingle ('a b '), not 2 tokens
    val trail = Kernels.minhashSigMd5(UTF8String.fromString("a b "), 32).toLongArray()
    assert(trail.length == 32)
    val h = h60("a b ")
    val v0 = (h32mod30("a:0") * (h >>> 30) + h32mod30("b:0") * (h & 1073741823L)) % 2147483647L
    assert(trail(0) == v0)
  }

  test("Misra-Gries recall guarantee: every item above n/k survives the sketch") {
    import org.apache.spark.sql.functions.{col, explode, udaf}
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // skewed stream: 3 planted heavy items + uniform noise over 500 tail items
    val items = Seq.fill(2000)("hot" + rnd.nextInt(3)) ++
      Seq.fill(8000)("tail" + rnd.nextInt(500))
    val n = items.size
    val k = 20
    val df = rnd.shuffle(items).toDF("w").repartition(13) // arbitrary partitioning
    val hh = udaf(new graft.functions.HeavyHitters(k))
    val cands = df.agg(hh(col("w")).as("c")).select(explode(col("c")).as("p"))
      .select($"p._1".as("w")).as[String].collect().toSet
    val exact = items.groupBy(identity).view.mapValues(_.size).toMap
    val mustFind = exact.filter { case (_, c) => c > n / k }.keySet
    assert(mustFind.nonEmpty && mustFind.subsetOf(cands),
      s"missed heavy items: ${mustFind -- cands}")
    assert(cands.size <= k, s"sketch blew its size bound: ${cands.size}")
  }

  test("simhashMd5: 60-bit, deterministic, near-dup hamming-close") {
    val a = Kernels.simhashMd5(UTF8String.fromString("one two three four five six seven eight nine ten"))
    val b = Kernels.simhashMd5(UTF8String.fromString("one two three four five six seven eight nine zzz"))
    assert((a >>> 60) == 0L && a != 0L)
    assert(java.lang.Long.bitCount(a ^ b) < 20)
    assert(Kernels.simhashMd5(UTF8String.fromString("")) == 0L)
  }

  test("simhash of near-identical texts is hamming-close") {
    val t1 = "one two three four five six seven eight nine ten"
    val t2 = "one two three four five six seven eight nine zzz"
    val h1 = Kernels.simhash64(UTF8String.fromString(t1))
    val h2 = Kernels.simhash64(UTF8String.fromString(t2))
    val far = Kernels.simhash64(UTF8String.fromString("alpha beta gamma delta epsilon zeta eta theta"))
    assert(java.lang.Long.bitCount(h1 ^ h2) < java.lang.Long.bitCount(h1 ^ far))
  }

  test("BPE encode property: training chain's final state == unrolled greedy merges per word") {
    // reference implementation mirroring the chain's EXACT replace
    // semantics: the literal " pa pb " match consumes pb's trailing
    // space, so the SYMBOL AFTER a merge cannot start the next match
    // (in " b a n a n a " with merge (a,n), only the first "a n"
    // merges — identical in Spark regexp_replace and DuckDB replace;
    // a plain symbol-wise scan would merge both and diverge)
    def applyMerges(word: String, merges: Seq[(String, String)]): Vector[String] = {
      var syms = word.map(_.toString).toVector
      for ((pa, pb) <- merges) {
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
            out += s"$pa~$pb"
            if (i + 2 < syms.length) out += syms(i + 2) // separator consumed
            i += 3
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms
    }
    // pin the reference's separator-consumption rule against Spark's
    // own regexp_replace on the 'banana' class (pair repeats with a
    // shared boundary) before trusting it as the oracle-of-the-oracle
    {
      import org.apache.spark.sql.functions._
      val chainStyle = spark.range(1).select(
        trim(regexp_replace(lit(" b a n a n a "),
          java.util.regex.Pattern.quote(" a n "),
          java.util.regex.Matcher.quoteReplacement(" a~n ")), " "))
        .collect()(0).getString(0).split(" ").toVector
      assert(applyMerges("banana", Seq(("a", "n"))) == chainStyle,
        s"reference diverges from regexp_replace on 'banana': got " +
          s"${applyMerges("banana", Seq(("a", "n")))} vs $chainStyle")
    }
    val (state, merges) = graft.queries.TextAnalysis.bpeChain(spark, TestSpark.sf, 10)
    assert(merges.size == 10)
    val pairs = merges.map { case (_, pa, pb, _) => (pa, pb) }
    // the 30 most frequent words exercise every learned merge on this corpus
    val sample = state.orderBy(org.apache.spark.sql.functions.desc("c"),
      org.apache.spark.sql.functions.asc("w")).limit(30).collect()
    assert(sample.nonEmpty)
    var merged = 0
    sample.foreach { r =>
      val w = r.getAs[String]("w")
      val want = r.getAs[String]("seq").split(" ").toVector
      val got = applyMerges(w, pairs)
      assert(got == want, s"word '$w': chain=$want unrolled=$got")
      if (want.length < w.length) merged += 1
    }
    assert(merged > 0, "sample exercised no merges — property vacuous")
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.queries.Winnow

/** Winnowing fingerprint properties (Schleimer et al. 2003), k=4, w=4. */
class WinnowSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def fp(docs: Seq[(Long, String)]) = {
    import spark.implicits._
    Winnow.fingerprintsOf(docs.toDF("doc_id", "text"))
  }

  test("shared run of >= w+k-1 tokens guarantees a shared fingerprint") {
    // Any window of w consecutive gram hashes inside the shared run is
    // identical in both docs, so its min is selected in both.
    val shared = (1 to 7).map(i => s"common$i").mkString(" ") // w+k-1 = 7 tokens
    val a = s"alpha beta gamma delta $shared epsilon zeta"
    val b = s"one two $shared three four five six"
    val rows = fp(Seq(1L -> a, 2L -> b)).collect()
    val fa = rows.filter(_.getLong(0) == 1L).map(_.getLong(1)).toSet
    val fb = rows.filter(_.getLong(0) == 2L).map(_.getLong(1)).toSet
    assert((fa & fb).nonEmpty, s"no shared fingerprint: $fa vs $fb")
  }

  test("disjoint docs share nothing; short docs yield exactly one fingerprint") {
    val rows = fp(Seq(
      1L -> "aa bb cc dd ee ff gg hh ii jj",
      2L -> "kk ll mm nn oo pp qq rr ss tt",
      3L -> "uu vv ww xx" // exactly k tokens -> 1 gram -> 1 fingerprint
    )).collect()
    val sets = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert((sets(1L) & sets(2L)).isEmpty)
    assert(sets(3L).size == 1)
  }

  test("selection density is ~2/(w+1) of grams on real text") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    val nGrams = docs.select((size(split($"text", " ")) - 3).as("ng"))
      .filter($"ng" >= 1).agg(sum($"ng")).head.getLong(0)
    val nFp = Winnow.fingerprintsOf(docs).count()
    val density = nFp.toDouble / nGrams
    // distinct-per-doc dedup pulls it below the positional 2/(w+1)=0.4
    assert(density > 0.1 && density < 0.5, s"density $density")
  }

  test("native winnow_fps kernel == definitional relational formulation on the corpus") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select($"doc_id", $"text")
    val kern = Winnow.fingerprintsOf(docs)
    val defn = Winnow.fingerprintsDefinitional(docs)
    assert(kern.exceptAll(defn).count() == 0 && defn.exceptAll(kern).count() == 0)
    // plus edge shapes the corpus may not cover: empties from double
    // spaces, exactly-k tokens, under-w grams
    val edge = Seq((1L, "a  b c d e"), (2L, "x y z w"), (3L, "p q r s t")).toDF("doc_id", "text")
    val ke = Winnow.fingerprintsOf(edge)
    val de = Winnow.fingerprintsDefinitional(edge)
    assert(ke.exceptAll(de).count() == 0 && de.exceptAll(ke).count() == 0)
  }

  test("text_rake_keywords: hand-computed degree/freq scores on a planted doc") {
    import spark.implicits._
    // "deep learning of deep nets": stopword 'of' splits two phrases.
    // freq(deep)=2 degree(deep)=4 -> 2.0; learning/nets: 2/1... no:
    // degree(learning)=2 freq=1 -> 2.0; both phrases score 4.0.
    val dir = tempDir("rake")
    Seq((1L, "deep learning of deep nets")).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_rake_keywords")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq(("deep learning", 1L, 4.0), ("deep nets", 1L, 4.0)), got.toString)
  }

  test("fingerprints are invariant to doc concatenation order of unrelated prefixes") {
    // position-robustness: moving a passage must preserve its fingerprints
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val r1 = fp(Seq(1L -> s"x1 x2 x3 $passage")).collect().map(_.getLong(1)).toSet
    val r2 = fp(Seq(1L -> s"y1 y2 y3 y4 y5 $passage")).collect().map(_.getLong(1)).toSet
    // the passage is 12 tokens -> 9 grams -> interior windows fully inside it
    assert((r1 & r2).nonEmpty)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

class FnsSqlSpec extends AnyFunSuite {
  lazy val spark = { val s = TestSpark.spark; graft.functions.Fns.registerAll(s); s }

  test("native expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS c,
        |       simhash64('a b c') AS sh,
        |       rolling_hash('abc') AS rh,
        |       size(minhash_sig('w1 w2 w3 w4')) AS sig_len,
        |       shingle_set('w1 w2 w3 w1 w2 w3') AS ss,
        |       size(shingle_set('w1 w2 w3', 2)) AS ss2_len,
        |       bounded_levenshtein('kitten', 'sitting', 10) AS bl,
        |       bounded_levenshtein('kitten', 'sitting', 2) AS bl_capped""".stripMargin).collect()(0)
    assert(math.abs(r.getAs[Double]("c") - 1.0) < 1e-12)
    assert(r.getAs[Long]("sh") == graft.functions.Kernels.simhash64(UTF8String.fromString("a b c")))
    assert(r.getAs[Long]("rh") == graft.functions.Kernels.rollingHash(UTF8String.fromString("abc")))
    assert(r.getAs[Int]("sig_len") == 128)
    // windows "w1 w2 w3", "w2 w3 w1", "w3 w1 w2", "w1 w2 w3": 3 distinct
    assert(r.getSeq[Long](r.fieldIndex("ss")) == graft.functions.Kernels
      .shingleSet(UTF8String.fromString("w1 w2 w3 w1 w2 w3"), 3).toLongArray().toSeq)
    assert(r.getSeq[Long](r.fieldIndex("ss")).size == 3)
    assert(r.getAs[Int]("ss2_len") == 2)
    assert(r.getAs[Int]("bl") == 3)
    assert(r.getAs[Int]("bl_capped") == 3) // sentinel = maxDist + 1
  }

  test("cosine_sim handles float arrays, double arrays, and mixes") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0, 0.0))).toDF("f", "d")
    val r = df.selectExpr("cosine_sim(f, f) c1", "cosine_sim(d, d) c2", "cosine_sim(f, d) c3")
      .collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0 && r.getDouble(2) == 1.0)
  }
}

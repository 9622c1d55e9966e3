package graft

import org.scalatest.funsuite.AnyFunSuite

/** Hand-traced semantics for the hypothesis-test keys: the oracle
  * hash-compare proves Spark == DuckDB; these prove both match the
  * textbook DEFINITIONS (midrank ties in U, cross-multiplied CDFs in
  * KS, observed-vs-expected cells in chi-square) on inputs small
  * enough to verify by hand. */
class HypothesisSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def liDir(rows: Seq[(String, String, Double)]): String = {
    val dir = tempDir("hypedge")
    rows.toDF("l_returnflag", "l_linestatus", "l_quantity").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("q_mann_whitney: midrank ties, exact U, tie-corrected z") {
    // R = {1,2,2}, A = {2,3}. Ranks: 1→1, 2→midrank 3 (ranks 2,3,4), 3→5.
    // R1 = 1+3+3 = 7, U1 = R1 − n1(n1+1)/2 = 1 (two ties × 0.5 — no
    // strict wins for R). AUC = U1/(n1·n2) = 1/6 → floor nano 166666666.
    // tie term Σ(c³−c) = 24 (the 3-block), σ² = (6/12)(6 − 24/20) = 2.4,
    // z = (1−3)/√2.4.
    val dir = liDir(Seq(
      ("R", "O", 1.0), ("R", "O", 2.0), ("R", "O", 2.0),
      ("A", "O", 2.0), ("A", "O", 3.0)))
    val r = SparkEntry.queries("q_mann_whitney")(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)), r.toString)
    assert(r.getDouble(2) == 1.0, s"u_stat ${r.getDouble(2)}")
    assert(r.getLong(3) == 166666666L, s"auc_nano ${r.getLong(3)}")
    assert(math.abs(r.getDouble(4) - (-2.0 / math.sqrt(2.4))) < 1e-15,
      s"z ${r.getDouble(4)}")
  }

  test("q_ks_test: D is the max cross-multiplied CDF gap") {
    // O = {1,1,3}, F = {2,3}: at v=1 |F1−F2| = |2/3 − 0| (scaled 4),
    // v=2 → |2/3 − 1/2| (scaled 1), v=3 → 0. D = 4/(3·2) = 2/3.
    val dir = liDir(Seq(
      ("R", "O", 1.0), ("R", "O", 1.0), ("R", "O", 3.0),
      ("R", "F", 2.0), ("R", "F", 3.0)))
    val r = SparkEntry.queries("q_ks_test")(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)), r.toString)
    assert(r.getLong(2) == 666666666L, s"d_nano ${r.getLong(2)}")
    assert(r.getDouble(3) == 4.0 / 6.0, s"d_stat ${r.getDouble(3)}")
    assert(math.abs(r.getDouble(4) - (4.0 / 6.0) * math.sqrt(6.0 / 5.0)) < 1e-15,
      s"lambda ${r.getDouble(4)}")
  }

  test("q_chi_square: balanced 2x2 table has uniform expecteds") {
    // counts: (A,F)=2, (A,O)=1, (R,F)=1, (R,O)=2 → all marginals 3,
    // N=6, every expected = 3·3/6 = 1.5, every term = 0.25/1.5 = 1/6.
    val dir = liDir(Seq(
      ("R", "O", 1.0), ("R", "O", 1.0), ("R", "F", 1.0),
      ("A", "O", 1.0), ("A", "F", 1.0), ("A", "F", 1.0)))
    val rows = SparkEntry.queries("q_chi_square")(spark, dir).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("A", "F", 2L), ("A", "O", 1L), ("R", "F", 1L), ("R", "O", 2L)))
    rows.foreach { r =>
      assert(r.getDouble(3) == 1.5, s"expected ${r.getDouble(3)}")
      assert(math.abs(r.getDouble(4) - 1.0 / 6.0) < 1e-15, s"term ${r.getDouble(4)}")
    }
  }
}

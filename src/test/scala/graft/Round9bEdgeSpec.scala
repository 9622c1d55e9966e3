package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Hand-traced semantics for the second round-9 batch: sequential pair
  * mining respects the strict-after / within-window / same-ms-excluded
  * boundaries. The batch's graph keys (graph_hits, q_ktruss) are
  * specified in GraphSpec. */
class Round9bEdgeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("events_seq_pairs: strict-after, 1h-inclusive window, same-ms excluded") {
    // u1: a@0s, b@10s, c@2h  -> only (a,b); both *→c gaps exceed 1h
    // u2: b@0ms and a@0ms (same ms -> excluded), a@exactly+1h -> (a,a),(b,a)
    def ts(ms: Long) = new Timestamp(ms)
    val dir = tempDir("r9bseq")
    Seq(
      (1L, ts(0L), 1L, "a", 0.0, ""),
      (2L, ts(10000L), 1L, "b", 0.0, ""),
      (3L, ts(7200000L), 1L, "c", 0.0, ""),
      (4L, ts(0L), 2L, "b", 0.0, ""),
      (5L, ts(0L), 2L, "a", 0.0, ""),
      (6L, ts(3600000L), 2L, "a", 0.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("events_seq_pairs")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("a", "a", 1L, 500000000L),
      ("a", "b", 1L, 500000000L),
      ("b", "a", 1L, 500000000L)), got.toString)
  }

  test("text_pmi_bigrams: lift is cxy*N/(cx*cy), support floor at 5, desc order") {
    // doc1 "x y"×5 interleaved -> (x,y)=5, (y,x)=4 (below support);
    // doc2 "z"×6 -> (z,z)=5. Unigrams x:5 y:5 z:6, N=16.
    // lift(x,y) = 5·16·1e9/25 = 3200000000; lift(z,z) = 80e9//36 = 2222222222.
    val dir = tempDir("r9bpmi")
    Seq((1L, "x y x y x y x y x y"), (2L, "z z z z z z"))
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("text_pmi_bigrams")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("x", "y", 5L, 3200000000L),
      ("z", "z", 5L, 2222222222L)), got.toString)
  }
}

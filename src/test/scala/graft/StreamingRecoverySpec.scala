package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.EventStream.Event

/** Durability: a checkpointed streaming query stopped mid-stream and
  * restarted resumes from its offsets — the file sink sees every
  * record exactly once. */
class StreamingRecoverySpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("checkpointed file-sink query restarts with exactly-once output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt")
    val out = tempDir("graft-out")
    def ev(id: Long, min: Long) =
      Event(id, new Timestamp(86400000L + min * 60000L), 1L, "view", 1.0)

    val input = MemoryStream[Event]
    def startQuery() = input.toDS()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    val q1 = startQuery()
    input.addData(ev(1, 0), ev(2, 1))
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint; new data plus none replayed
    input.addData(ev(3, 2))
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select($"event_id").as[Long].collect().sorted
    assert(got.sameElements(Array(1L, 2L, 3L)), s"got ${got.mkString(",")}")
  }
}

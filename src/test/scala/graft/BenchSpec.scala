package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.StageMetrics` feeds both the bench sidecar and `tools.RunOne`;
  * `loadGate` and `calibDrift` decide whether a bench artifact is
  * trusted. This spec pins all three. */
class BenchSpec extends AnyFunSuite {

  test("StageMetrics counts a shuffling query's stages, tasks and shuffle, then resets") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val m = new Bench.StageMetrics
    org.apache.spark.graft.ListenerBusWait.drain(sc)
    sc.addSparkListener(m)
    try {
      SparkEntry.queries("q_wordcount")(spark, TestSpark.sf)
        .write.format("noop").mode("overwrite").save()
      org.apache.spark.graft.ListenerBusWait.drain(sc)
      val c = m.snapshotAndReset().toMap
      assert(c.keySet == Set("stages", "tasks", "input_bytes", "shuffle_read",
        "shuffle_write", "spill_mem", "spill_disk"))
      assert(c("stages") >= 2, s"group-by needs a map and a reduce stage: $c")
      assert(c("tasks") >= c("stages"), s"every stage runs at least one task: $c")
      assert(c("shuffle_write") > 0, s"the group-by exchange writes shuffle: $c")
      assert(c("shuffle_read") > 0, s"the reduce side reads it back: $c")
      val jobs = m.jobsStarted
      assert(jobs >= 1 && jobs <= c("stages"), s"$jobs jobs for $c")
      val again = m.snapshotAndReset()
      assert(again.forall(_._2 == 0L), s"snapshotAndReset did not reset: $again")
      assert(m.jobsStarted == jobs, "jobsStarted is a running count outside the snapshot")
    } finally sc.removeSparkListener(m)
  }

  test("loadGate: busy only strictly above 25% of the cores, on the worse of la1/la5") {
    assert(!Bench.loadGate(1.0, 1.0, 4), "exactly 25% is not busy")
    assert(!Bench.loadGate(1.0, 0.5, 4))
    assert(Bench.loadGate(1.01, 0.5, 4), "la1 over the gate")
    assert(Bench.loadGate(0.5, 1.01, 4), "la5 over the gate while la1 decayed")
  }

  test("loadGate: a negative la5 (no /proc) falls back to la1 alone") {
    assert(!Bench.loadGate(1.0, -1.0, 4))
    assert(!Bench.loadGate(0.9, -1.0, 4))
    assert(Bench.loadGate(1.5, -1.0, 4))
  }

  test("calibDrift: exactly 1.25x the start is not drift, anything above is") {
    assert(!Bench.calibDrift(0.5, Seq(0.625)), "exactly 1.25x is not drift")
    assert(!Bench.calibDrift(2.0, Seq(2.5, 1.0)))
    assert(Bench.calibDrift(0.5, Seq(0.5, 0.626)), "one slow group is drift")
    assert(!Bench.calibDrift(0.5, Seq.empty))
  }
}

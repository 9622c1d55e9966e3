package graft.tools

/** Time individual SparkEntry queries end-to-end (noop sink), e.g.
  *   SPARK_GRAFT_SF_DIR=benchdata/sf10 sbt "runMain graft.tools.RunOne dedup_ngram_jaccard 2"
  * Args: query names, with an optional trailing integer repeat count.
  * Each RUNONE line carries the plan-build time and the jobs started
  * while `fn(spark, dir)` builds the plan (`build=`, `build_jobs=`), then
  * the run's stage counters (stages, tasks, input, shuffle read/write,
  * spill) from `Bench.StageMetrics`, the listener behind the bench
  * sidecar, so the two read alike. The wall time covers build and run.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (names, reps) = args.lastOption.flatMap(_.toIntOption) match {
      case Some(n) => (args.dropRight(1).toSeq, n)
      case None    => (args.toSeq, 1)
    }
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val metrics = new graft.Bench.StageMetrics
    spark.sparkContext.addSparkListener(metrics)
    for (name <- names; r <- 1 to reps) {
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
      metrics.snapshotAndReset() // drop events from the previous run
      val jobs0 = metrics.jobsStarted
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      val build = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
      val buildJobs = metrics.jobsStarted - jobs0
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val sec = build + (System.nanoTime() - t1) / 1e9
      org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
      val counters = metrics.snapshotAndReset().map { case (k, v) => s"$k=$v" }
      println(f"RUNONE $name run$r $sec%.2fs build=$build%.3f build_jobs=$buildJobs " +
        counters.mkString(" "))
    }
    spark.stop()
  }
}

package graft.tools

/** Time individual SparkEntry queries end-to-end (noop sink), e.g.
  *   SPARK_GRAFT_SF_DIR=benchdata/sf10 sbt "runMain graft.tools.RunOne dedup_ngram_jaccard 2"
  * Args: query names, with an optional trailing integer repeat count.
  * Each RUNONE line carries the run's stage counters (stages, tasks,
  * input, shuffle read/write, spill) from `Bench.StageMetrics`, the
  * listener behind the bench sidecar, so the two read alike.
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
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
      val counters = metrics.snapshotAndReset().map { case (k, v) => s"$k=$v" }
      println(f"RUNONE $name run$r $sec%.2fs " + counters.mkString(" "))
    }
    spark.stop()
  }
}

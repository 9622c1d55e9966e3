package graft.tools

/** Print the formatted plan of named SparkEntry queries at
  * SPARK_GRAFT_SF_DIR without executing them (construction-time
  * statistics jobs still run):
  *   SPARK_GRAFT_SF_DIR=benchdata/sf10 sbt "runMain graft.tools.ExplainOne dedup_ngram_jaccard"
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      println(s"\n========== $name ==========")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}

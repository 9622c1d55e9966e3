package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Helpers of the plan and source lints. */
object SpecLint {

  /** Interpreted higher-order functions and lambdas in a plan. */
  def lambdas(p: LogicalPlan): Seq[String] =
    (p +: p.subqueriesAll).flatMap(_.flatMap(_.expressions)).flatMap(_.collect(lambdaSql))

  private val lambdaSql: PartialFunction[Expression, String] = {
    case e: HigherOrderFunction => e.prettyName
    case e: LambdaFunction => e.sql
  }

  /** The lambdas of every plan `run` executes, keyed by action name, plus
    * those of the returned frame's own plan ("result"). Every plan counts,
    * not just the returned one: eager localCheckpoint jobs run plans that
    * never reach the result's lineage. */
  def plannedLambdas(spark: SparkSession)(run: => DataFrame): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f -> lambdas(qe.optimizedPlan))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(f -> lambdas(qe.optimizedPlan))
    }
    spark.listenerManager.register(l)
    try {
      val df = run
      df.collect()
      org.apache.spark.graft.ListenerBusWait.drain(spark.sparkContext)
      seen.asScala.toSeq :+ ("result" -> lambdas(df.queryExecution.optimizedPlan))
    } finally spark.listenerManager.unregister(l)
  }

  /** Source text without block and line comments, lines kept in place. */
  def code(f: Path): String =
    "(?s)/\\*.*?\\*/".r.replaceAllIn(new String(Files.readAllBytes(f), "UTF-8"),
      m => "\n" * m.matched.count(_ == '\n')).replaceAll("//[^\n]*", "")

  /** The `.scala` files under `dir`, at any depth, sorted. */
  def scalaFiles(dir: Path): List[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally s.close()
  }
}

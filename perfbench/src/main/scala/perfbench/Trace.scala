package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanLike, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds. `parent` is the id
  * of the enclosing span (0 for an operation), `op` the operation's id. */
final case class Span(id: Long, parent: Long, op: Int, name: String, start: Double, end: Double)

/** Raw events the [[Tracer]] records. */
object Tracer {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, submit: Long, end: Long, tasks: Int,
                            run: Long, cpuNs: Long, shufWrite: Long, shufRead: Long, fetchWait: Long,
                            spill: Long, inBytes: Long, inRows: Long, outBytes: Long, outRows: Long)
  /** One executed query: its Catalyst phase intervals, its exchange count,
    * the (doc_a, doc_b) pair-aggregate row count (0 if none) and the bytes
    * its file scans listed. */
  final case class Query(phases: Seq[(String, Long, Long)], exchanges: Int, pairRows: Long, scanBytes: Long)
}

/** Listener half of the traced run: a SparkListener for jobs, stages and
  * tasks plus a QueryExecutionListener for Catalyst's planning phases and
  * the executed plans. It stores raw events only; [[Trace.layers]] turns
  * them into spans and per-layer figures once the bus is drained. */
final class Tracer extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Tracer._

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val taskTimes = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  val queries = mutable.ArrayBuffer.empty[Query]

  def clear(): Unit = synchronized { jobs.clear(); stages.clear(); taskTimes.clear(); queries.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && e.taskInfo.successful)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (s.submissionTime.isDefined && s.completionTime.isDefined && m != null)
      stages += StageRec(s.stageId, s.attemptNumber(), s.submissionTime.get, s.completionTime.get, s.numTasks,
        m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    val plan: SparkPlan = qe.executedPlan
    val exchanges = collect(plan) { case e: Exchange => e }.size
    // a final-mode aggregate keyed exactly by (doc_a, doc_b): the distinct
    // candidate pairs of the dedup joins, before verification
    val pairRows = collect(plan) {
      case a: BaseAggregateExec if a.requiredChildDistributionExpressions.isDefined &&
          a.groupingExpressions.map(_.name) == Seq("doc_a", "doc_b") =>
        a.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    // bytes of the files the plan's file scans list (parquet; the
    // graft-jsonlog source reports none)
    val scanBytes = collect(plan) {
      case s: FileSourceScanLike => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
    synchronized { queries += Query(phases, exchanges, pairRows, scanBytes) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Harness-side record of one operation: its window and build boundary
  * (epoch ms), and counts the harness observes from outside. */
final case class OpWindow(op: Int, name: String, pass: Int, start: Double, buildEnd: Double, end: Double,
                          pinnedBytes: Long, resultRows: Long, files: Long, probe: Boolean)

object Trace {

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionLen(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(p => p._2 > p._1).sortBy(_._1)
    var tot = 0.0; var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) { if (!curE.isNaN) tot += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curE.isNaN) tot += curE - curS
    tot
  }

  /** Scheduling gap: per job, each stage's submission minus the latest end
    * of every stage of that job submitted before it (the job start for
    * the first), clamped at 0. Concurrent stages therefore add no gap. */
  def gapMs(jobStart: Long, st: Seq[(Long, Long)]): Double = {
    var maxEnd = jobStart.toDouble
    st.sortBy(_._1).map { case (sub, end) =>
      val g = math.max(0.0, sub - maxEnd)
      maxEnd = math.max(maxEnd, end.toDouble)
      g
    }.sum
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  final case class Result(spans: Seq[Span], perPass: Seq[Map[String, Double]], reconcileErr: Seq[Double])

  /** Builds the span tree op -> build/execute -> job -> stage (plus
    * Catalyst phase spans under build/execute), and per-pass layer figures. */
  def layers(t: Tracer, ops: Seq[OpWindow], cores: Int,
             linesPerOp: String => Long, docsPerProbe: Long): Result = t.synchronized {
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    val spans = mutable.ArrayBuffer.empty[Span]
    val stageById = t.stages.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.attempt) }
    val errs = mutable.ArrayBuffer.empty[Double]
    case class OpFig(w: OpWindow, m: Map[String, Double])
    val figs = ops.map { w =>
      val opId = id()
      spans += Span(opId, 0, w.op, w.name, w.start, w.end)
      val bId = id(); spans += Span(bId, opId, w.op, "build", w.start, w.buildEnd)
      val eId = id(); spans += Span(eId, opId, w.op, "execute", w.buildEnd, w.end)
      // events belong to the op whose window holds their start (closed loop)
      val inOp = (ms: Double) => ms >= w.start - 1 && ms <= w.end + 1
      val jobs = t.jobs.filter(j => inOp(j.start.toDouble) && j.end >= 0).toSeq
      val qs = t.queries.filter(q => q.phases.nonEmpty && inOp(q.phases.map(_._2).min.toDouble)).toSeq
      val catalyst = qs.flatMap(_.phases)
      def phaseOf(ms: Double): Long = if (ms < w.buildEnd) bId else eId
      catalyst.foreach { case (n, a, b) => spans += Span(id(), phaseOf(a.toDouble), w.op, s"catalyst.$n", a.toDouble, b.toDouble) }
      var gap = 0.0
      val opStages = mutable.ArrayBuffer.empty[(Tracer.StageRec, Double)] // stage, its job's start
      jobs.foreach { j =>
        val jId = id(); spans += Span(jId, phaseOf(j.start.toDouble), w.op, s"job.${j.id}", j.start.toDouble, j.end.toDouble)
        val st = j.stages.flatMap(stageById.get).filter(s => s.submit >= j.start - 1 && s.submit <= j.end + 1)
        st.foreach(s => spans += Span(id(), jId, w.op, s"stage.${s.id}", s.submit.toDouble, s.end.toDouble))
        opStages ++= st.map(_ -> j.start.toDouble)
        gap += gapMs(j.start, st.map(s => (s.submit, s.end)))
      }
      val buildJobs = jobs.filter(_.start < w.buildEnd)
      val buildJobMs = unionLen(buildJobs.map(j => (j.start.toDouble, j.end.toDouble)), w.start, w.end)
      // Self times partition each phase window by priority: time with a
      // stage running is stage time; with a job open but no stage running,
      // scheduler time; with only a Catalyst phase open, catalyst time; the
      // rest is the phase's own (driver) time. Concurrent jobs and stages
      // therefore count once. Child time outside its window is the error.
      def partition(lo: Double, hi: Double): Seq[Double] = {
        val inWin = (a: Double) => a >= lo - 1 && a < hi
        val js = jobs.map(j => (j.start.toDouble, j.end.toDouble)).filter(p => inWin(p._1))
        val ss = opStages.filter(p => inWin(p._2)).map(p => (p._1.submit.toDouble, p._1.end.toDouble)).toSeq
        val cs = catalyst.map(c => (c._2.toDouble, c._3.toDouble)).filter(p => inWin(p._1))
        val stageU = unionLen(ss, lo, hi); val jobU = unionLen(js ++ ss, lo, hi)
        val allU = unionLen(js ++ ss ++ cs, lo, hi)
        val outside = unionLen(js ++ ss ++ cs, Double.MinValue, Double.MaxValue) - allU
        Seq((hi - lo) - allU, allU - jobU, jobU - stageU, stageU, outside)
      }
      val parts = partition(w.start, w.buildEnd).zip(partition(w.buildEnd, w.end)).map(p => p._1 + p._2)
      val Seq(selfMs, catMs, schedMs, stageMs, outsideMs) = parts
      val wall = w.end - w.start
      errs += (if (wall > 0) (math.abs(selfMs + catMs + schedMs + stageMs - wall) + outsideMs) / wall else 0.0)
      val sk = opStages.map(_._1).flatMap { s =>
        t.taskTimes.get((s.id, s.attempt)).filter(_.size >= 2).map { ts =>
          (s.run.toDouble, ts.max.toDouble / math.max(1.0, median(ts.map(_.toDouble).toSeq)))
        }
      }
      val stagesOnly = opStages.map(_._1)
      val totalRun = stagesOnly.map(_.run).sum.toDouble
      val maxSkew = sk.filter(_._1 >= 0.05 * totalRun).map(_._2).maxOption.getOrElse(1.0)
      val inStages = stagesOnly.filter(s => s.inBytes > 0 || s.inRows > 0)
      val mb = 1048576.0
      OpFig(w, Map(
        "queries.build_s" -> (w.buildEnd - w.start) / 1e3,
        "queries.build_jobs" -> buildJobs.size.toDouble,
        "queries.build_job_s" -> buildJobMs / 1e3,
        "queries.self_s" -> selfMs / 1e3,
        "catalyst.self_s" -> catMs / 1e3,
        "catalyst.analysis_s" -> catalyst.filter(_._1 == "analysis").map(c => c._3 - c._2).sum / 1e3,
        "catalyst.optimization_s" -> catalyst.filter(_._1 == "optimization").map(c => c._3 - c._2).sum / 1e3,
        "catalyst.planning_s" -> catalyst.filter(_._1 == "planning").map(c => c._3 - c._2).sum / 1e3,
        "catalyst.exchanges" -> qs.map(_.exchanges).sum.toDouble,
        "scheduler.jobs" -> jobs.size.toDouble,
        "scheduler.stages" -> stagesOnly.size.toDouble,
        "scheduler.tasks" -> stagesOnly.map(_.tasks).sum.toDouble,
        "scheduler.gap_s" -> gap / 1e3,
        "scheduler.self_s" -> schedMs / 1e3,
        "scheduler.stage_s" -> stageMs / 1e3,
        "scheduler.task_run_s" -> totalRun / 1e3,
        "scheduler.cpu_ns" -> stagesOnly.map(_.cpuNs).sum.toDouble,
        "scheduler.task_skew_max" -> maxSkew,
        "shuffle.write_mb" -> stagesOnly.map(_.shufWrite).sum / mb,
        "shuffle.read_mb" -> stagesOnly.map(_.shufRead).sum / mb,
        "shuffle.fetch_wait_s" -> stagesOnly.map(_.fetchWait).sum / 1e3,
        "shuffle.spill_mb" -> stagesOnly.map(_.spill).sum / mb,
        "sources.input_mb" -> stagesOnly.map(_.inBytes).sum / mb,
        "sources.file_scan_mb" -> qs.map(_.scanBytes).sum / mb,
        "sources.input_rows" -> stagesOnly.map(_.inRows).sum.toDouble,
        "sources.scan_s" -> inStages.map(_.run).sum / 1e3,
        "sources.lines" -> linesPerOp(w.name).toDouble,
        "sources.out_bytes" -> stagesOnly.map(_.outBytes).sum.toDouble,
        "sources.out_rows" -> stagesOnly.map(_.outRows).sum.toDouble,
        "operators.candidate_pairs" -> qs.map(_.pairRows).sum.toDouble,
        "operators.result_rows" -> (if (qs.exists(_.pairRows > 0)) w.resultRows.toDouble else 0.0),
        "operators.pinned_mb" -> w.pinnedBytes / mb,
        "wall_s" -> wall / 1e3))
    }
    val perPass = figs.groupBy(_.w.pass).toSeq.sortBy(_._1).map { case (_, fs) =>
      val main = fs.filterNot(_.w.probe)
      def sum(k: String) = main.map(_.m(k)).sum
      val wall = sum("wall_s")
      val cand = sum("operators.candidate_pairs"); val verified = sum("operators.result_rows")
      val lines = sum("sources.lines")
      val commit = main.filter(_.w.name == "commit")
      val probe = fs.filter(_.w.probe).map(_.m("wall_s")).sum
      Map(
        "queries.build_s" -> sum("queries.build_s"), "queries.build_jobs" -> sum("queries.build_jobs"),
        "queries.build_job_s" -> sum("queries.build_job_s"),
        "catalyst.analysis_s" -> sum("catalyst.analysis_s"),
        "catalyst.optimization_s" -> sum("catalyst.optimization_s"),
        "catalyst.planning_s" -> sum("catalyst.planning_s"), "catalyst.exchanges" -> sum("catalyst.exchanges"),
        "scheduler.jobs" -> sum("scheduler.jobs"), "scheduler.stages" -> sum("scheduler.stages"),
        "scheduler.tasks" -> sum("scheduler.tasks"), "scheduler.gap_s" -> sum("scheduler.gap_s"),
        "scheduler.task_run_s" -> sum("scheduler.task_run_s"),
        "scheduler.cpu_util" -> (if (wall > 0) sum("scheduler.cpu_ns") / 1e9 / (wall * cores) else 0.0),
        "scheduler.task_skew" -> main.map(_.m("scheduler.task_skew_max")).maxOption.getOrElse(1.0),
        "shuffle.write_mb" -> sum("shuffle.write_mb"), "shuffle.read_mb" -> sum("shuffle.read_mb"),
        "shuffle.fetch_wait_s" -> sum("shuffle.fetch_wait_s"), "shuffle.spill_mb" -> sum("shuffle.spill_mb"),
        "sources.input_mb" -> sum("sources.input_mb"), "sources.input_rows" -> sum("sources.input_rows"),
        "sources.file_scan_mb" -> sum("sources.file_scan_mb"),
        "sources.scan_s" -> sum("sources.scan_s"),
        "sources.rows_per_line" -> (if (lines > 0) sum("sources.input_rows") / lines else 0.0),
        "sources.commit_s" -> commit.map(_.m("wall_s")).sum,
        "sources.files_written" -> commit.map(_.w.files).sum.toDouble,
        "sources.bytes_written_per_row" -> {
          val rows = commit.map(_.m("sources.out_rows")).sum
          if (rows > 0) commit.map(_.m("sources.out_bytes")).sum / rows else 0.0
        },
        "functions.minhash_s" -> probe,
        "functions.minhash_docs_per_s" -> (if (probe > 0) docsPerProbe / probe else 0.0),
        "operators.candidate_pairs" -> cand, "operators.verified_pairs" -> verified,
        "operators.pair_yield" -> (if (cand > 0) verified / cand else 0.0),
        "operators.pinned_mb" -> main.map(_.m("operators.pinned_mb")).maxOption.getOrElse(0.0),
        "layers.queries_self_s" -> sum("queries.self_s"), "layers.catalyst_self_s" -> sum("catalyst.self_s"),
        "layers.scheduler_self_s" -> sum("scheduler.self_s"),
        "layers.stages_s" -> sum("scheduler.stage_s"), "pass_s" -> wall)
    }
    Result(spans.toSeq, perPass, errs.toSeq)
  }
}

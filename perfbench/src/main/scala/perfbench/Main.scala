package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusWait
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark JVM: one workload, one seed, one closed-loop run.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultFile>
  *   perfbench.Main selfcheck <workDir> <resultFile>
  *
  * Set-up generates the seeded inputs `setupReps` times (each into a fresh
  * directory; the copies must be byte-identical) and runs one untimed
  * warm-up pass. The timed phase then runs whole passes, one operation at
  * a time, as many as fit in `seconds` at the pace of the last pass (at
  * least one). With trace 1 it alternates
  * untraced and traced passes and reports per-layer figures from the
  * traced ones. The result file holds raw figures; `run.py` turns them
  * into the reported metrics.
  */
object Main {

  final case class OpRec(name: String, pass: Int, wall: Double, traced: Boolean, error: Option[String])

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
  private def now(): Double = System.currentTimeMillis().toDouble
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2 }

  /** Bytes held by cached and checkpointed RDD blocks right now. */
  private def storedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Runs `ops` once, in order. Each operation is timed from the start of
    * its plan build to its complete result; checks run after the clock stops. */
  @volatile private var heapPeak = 0L
  /** GC time spent in the harness's own forced collections. */
  @volatile private var forcedGcS = 0.0

  private def runPass(spark: SparkSession, ops: Seq[Op], pass: Int, traced: Boolean,
                      firstOp: Int): (Seq[OpRec], Seq[OpWindow]) = {
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val wins = mutable.ArrayBuffer.empty[OpWindow]
    ops.zipWithIndex.foreach { case (op, i) =>
      val stored0 = if (traced) storedBytes(spark) else 0L
      val t0 = now(); val n0 = System.nanoTime()
      var tb = t0
      val outcome: Either[String, Outcome] =
        try {
          val exec = op.build()
          tb = now()
          Right(exec())
        } catch { case e: Throwable => Left(s"${op.name} threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)) }
      val n1 = System.nanoTime(); val t1 = now()
      // timed passes: an untimed full collection while the op's results and
      // pins are still referenced gives the live heap at the op boundary,
      // and a clean heap for the next op
      if (pass >= 0) {
        val gc0 = Host.gcSeconds()
        heapPeak = math.max(heapPeak, Host.liveHeapBytes())
        forcedGcS += Host.gcSeconds() - gc0
      }
      val error = outcome.fold(Some(_), o => try o.check() catch {
        case e: Throwable => Some(s"${op.name} check threw ${e.getMessage}".take(400))
      })
      error.foreach(e => log(s"pass $pass: $e"))
      log(f"pass $pass ${op.name}: ${(n1 - n0) / 1e9}%.3f s")
      recs += OpRec(op.name, pass, (n1 - n0) / 1e9, traced, error)
      if (traced) {
        val o = outcome.toOption
        wins += OpWindow(firstOp + i, op.name, pass, t0, tb, t1,
          math.max(0L, storedBytes(spark) - stored0), o.map(_.rows).getOrElse(0L),
          o.map(_.files).getOrElse(0L), op.probe)
      }
    }
    (recs.toSeq, wins.toSeq)
  }

  /** Runs independent warm-up operations on one driver thread per core:
    * the cold pass is bound by code generation and JIT on the driver. */
  private def warmConcurrently(spark: SparkSession, ops: Seq[Op]): Seq[OpRec] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Host.cpus)
    try ops.map(op => pool.submit(() => runPass(spark, Seq(op), -1, traced = false, 0)._1)).flatMap(_.get())
    finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { if (args(0) == "selfcheck") selfCheck(args(1), args(2)) else run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // replayed streaming keys can leave non-daemon threads behind
    sys.exit(code)
  }

  private def session(): SparkSession = {
    val s = GraftSession.local(Host.cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(args: Array[String]): Unit = {
    val Array(wl, seedS, secondsS, traceS, work, out) = args.take(6)
    val seed = seedS.toLong; val seconds = secondsS.toDouble; val trace = traceS == "1"
    val laStart = Host.loadAvg()
    val calibBefore = Host.calibrate()

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val w = Workload(wl, spark, seed)
    val checks = mutable.ArrayBuffer.empty[String]

    // set-up: generate the inputs setupReps times; all copies must agree
    val gens = (0 until w.setupReps).map { rep =>
      val dir = s"$work/input-$rep"
      val g0 = System.nanoTime()
      w.generate(dir)
      val g1 = System.nanoTime()
      log(f"generated inputs in ${(g1 - g0) / 1e9}%.2f s")
      ((g1 - g0) / 1e9, w.digest(dir))
    }
    if (gens.map(_._2).distinct.size != 1)
      checks += s"generator: ${gens.size} generations from seed $seed differ"
    w.use(s"$work/input-0")
    (1 until w.setupReps).foreach(r => Workload.deleteRec(new File(s"$work/input-$r")))

    // warm-up pass: JIT and codegen, input volume per pass, catalog dump
    val sc = spark.sparkContext
    val tracer = new Tracer
    spark.listenerManager.register(tracer)
    val w0 = System.nanoTime()
    val warmOps = w.warmOps(s"$work/dump")
    val warm = warmConcurrently(spark, warmOps.take(w.warmParallel)) ++
      runPass(spark, warmOps.drop(w.warmParallel), -1, traced = false, 0)._1
    w.afterPass(-1)
    val warmS = (System.nanoTime() - w0) / 1e9
    BusWait.drain(sc)
    val inputBytes = w.knownInputBytes.getOrElse(tracer.synchronized(tracer.queries.map(_.scanBytes).sum))
    spark.listenerManager.unregister(tracer)
    tracer.clear()
    warm.flatMap(_.error).foreach(e => checks += s"warm-up: $e")
    val setupS = sessionS + median(gens.map(_._1)) + warmS
    System.gc()

    // timed phase: closed loop, whole passes
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val wins = mutable.ArrayBuffer.empty[OpWindow]
    val passWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val gcPerPass = mutable.ArrayBuffer.empty[Double]
    // traced runs alternate untraced, traced, untraced: the overhead
    // compares the traced pass with the passes on either side of it
    val minPasses = if (trace) 3 else 1
    val start = System.nanoTime()
    var pass = 0
    // a pass starts only if, at the last pass's pace, it ends within `seconds`
    var lastPass = 0.0
    while (pass < minPasses || (System.nanoTime() - start) / 1e9 + lastPass <= seconds) {
      val traced = trace && pass % 2 == 1
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val gc0 = Host.gcSeconds() - forcedGcS
      val p0 = System.nanoTime()
      val (r, ws) = runPass(spark, w.ops(pass), pass, traced, recs.size)
      lastPass = (System.nanoTime() - p0) / 1e9
      // the pass's own time: its operations back to back, without the
      // harness's forced collections and checks between them
      passWall += traced -> r.map(_.wall).sum
      if (traced) gcPerPass += Host.gcSeconds() - forcedGcS - gc0
      recs ++= r; wins ++= ws
      if (traced) {
        val (_, pw) = runPass(spark, w.probeOps, pass, traced = true, recs.size + 1000)
        wins ++= pw
        BusWait.drain(sc)
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
      }
      w.afterPass(pass)
      pass += 1
    }
    val heapPeakMb = heapPeak / 1048576.0
    val timedS = (System.nanoTime() - start) / 1e9

    val perLayer: Seq[(String, Any)] = if (!trace) Seq.empty else {
      val res = Trace.layers(tracer, wins.toSeq, Host.cpus, w.linesRead, w.probeDocs)
      Files.writeString(Paths.get(work, "spans.json"), Json.value(res.spans.map(s =>
        Json.Raw(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start" -> s.start, "end" -> s.end)))))
      val keys = res.perPass.headOption.map(_.keys.toSeq.sorted).getOrElse(Seq.empty)
      val med = keys.map(k => k -> median(res.perPass.map(_(k))))
      val untraced = passWall.filterNot(_._1).map(_._2).toSeq
      val traced = passWall.filter(_._1).map(_._2).toSeq
      Seq("per_pass" -> med.toMap,
        "jvm.gc_s" -> median(gcPerPass.toSeq),
        "trace.overhead_s" -> (median(traced) - median(untraced)),
        "trace.reconcile_err_max" -> res.reconcileErr.maxOption.getOrElse(0.0),
        "trace.reconcile_err_median" -> median(res.reconcileErr),
        "trace.spans" -> res.spans.size)
    }

    val laEnd = Host.loadAvg()
    val calibAfter = Host.calibrate()
    val timed = recs.filterNot(_.traced)
    Files.writeString(Paths.get(out), Json.obj(Seq(
      "workload" -> wl, "seed" -> seed, "trace" -> trace,
      "host_cpus" -> Host.cpus, "loadavg_start" -> laStart, "loadavg_end" -> laEnd,
      "calib_before_s" -> calibBefore, "calib_after_s" -> calibAfter,
      "calib_drift" -> Host.drifted(calibBefore, calibAfter),
      "setup_s" -> setupS, "session_s" -> sessionS, "gen_s" -> gens.map(_._1), "warmup_s" -> warmS,
      "timed_s" -> timedS, "input_bytes_per_pass" -> inputBytes,
      "pass_s" -> passWall.filterNot(_._1).map(_._2),
      "ops" -> timed.map(r => Json.Raw(Json.obj("name" -> r.name, "pass" -> r.pass, "wall_s" -> r.wall,
        "error" -> r.error))),
      "heap_live_peak_mb" -> heapPeakMb,
      "checks" -> checks,
      "dump_dir" -> (if (wl == "catalog") s"$work/dump" else null),
      "input_dir" -> s"$work/input-0") ++ perLayer: _*))
    spark.stop()
  }

  /** Generator self-check at reduced size: the same seed twice must give
    * byte-identical inputs and ground truth, another seed different ones. */
  def selfCheck(work: String, out: String): Unit = {
    System.setProperty("perfbench.catalog.scale", "0.001")
    System.setProperty("perfbench.ingest.lines", "5000")
    System.setProperty("perfbench.dedup.docs", "5000")
    val spark = session()
    val res = Seq("catalog", "ingest_ctr", "dedup_corpus").map { wl =>
      def gen(seed: Long, tag: String) = {
        val w = Workload(wl, spark, seed); val d = s"$work/$wl-$tag"
        w.generate(d); w.digest(d)
      }
      val a = gen(11L, "a"); val b = gen(11L, "b"); val c = gen(12L, "c")
      wl -> Map("same_seed_identical" -> (a == b), "other_seed_differs" -> (a != c))
    }
    Files.writeString(Paths.get(out), Json.obj(res: _*))
    spark.stop()
  }
}

package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._


/** Host and JVM probes: box weather (loadavg, a fixed CPU calibration
  * loop), garbage-collection time, and the live heap. */
object Host {

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** 1/5/15-minute load averages; (-1, -1, -1) where /proc is absent. */
  def loadAvg(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case _: Exception => Seq(-1.0, -1.0, -1.0) }

  @volatile private var sink = 0L

  /** Fixed single-thread CPU work (20 M xorshift64 steps), best of 3
    * after one discarded warm-up: it moves only with contention or
    * thermals, never with the code under test — the same method as
    * `graft.Bench`'s calibration. */
  def calibrate(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t0 = System.nanoTime()
      while (i < 20000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink = x
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  /** Drift: the probe after the run was more than 25% slower than the one
    * before it, so contention arrived while the run was measuring. Load
    * averages are recorded beside it but do not decide it: back-to-back
    * runs see their predecessor's load in every average. */
  def drifted(before: Double, after: Double): Boolean = after > 1.25 * before

  /** Total GC time so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** Heap in use right after a full, stop-the-world collection: the live set. */
  def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

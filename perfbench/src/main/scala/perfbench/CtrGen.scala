package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded generator of noisy JSON-lines impression and click logs, with
  * the ground truth the ClickThru pipeline must reproduce.
  *
  * Line semantics (PAPER.md §1): anything before the first '{' is noise;
  * a line whose payload does not parse, or whose declared fields are all
  * absent, is poison and carries no row. Impressions declare
  * (impressionId, referrer, adId); clicks declare (impressionId). The mix:
  *  - noise prefixes (log timestamps, host tags) on most lines;
  *  - poison lines: no '{', malformed JSON, and objects holding only
  *    undeclared fields;
  *  - impressions that omit `referrer` or `adId`;
  *  - Zipf-skewed referrers and ads;
  *  - duplicate clicks for one impression, and clicks for unknown ids.
  */
object CtrGen {

  final case class Truth(
      impressionRows: Long,                                   // parsed impression rows
      lines: Long,                                            // impression lines in the files
      clickLines: Long,
      ctr: Map[(Option[String], Option[String]), (Long, Long)], // (referrer, adId) -> (impressions, clicks)
      referrers: Map[Option[String], Long])                   // referrer -> impressions

  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val referrers = new Zipf(200, 1.1)
  private val ads = new Zipf(5000, 0.9)

  /** Writes `files` impression files and as many click files under
    * `dir`/{impressions,clicks}, `linesPerFile` impression lines each. */
  def generate(dir: String, seed: Long, files: Int, linesPerFile: Int): Truth = {
    Files.createDirectories(Paths.get(dir, "impressions"))
    Files.createDirectories(Paths.get(dir, "clicks"))
    val parts = (0 until files).map { f =>
      val res = new Array[PartTruth](1)
      val th = new Thread(() => res(0) = writeFile(dir, seed, f, linesPerFile))
      th.start(); (th, res)
    }.map { case (th, res) => th.join(); res(0) }
    val ctr = mutable.HashMap.empty[(Option[String], Option[String]), (Long, Long)]
    val refs = mutable.HashMap.empty[Option[String], Long]
    parts.foreach { p =>
      p.ctr.foreach { case (k, (i, c)) =>
        val (i0, c0) = ctr.getOrElse(k, (0L, 0L)); ctr(k) = (i0 + i, c0 + c)
        refs(k._1) = refs.getOrElse(k._1, 0L) + i
      }
    }
    Truth(parts.map(_.rows).sum, parts.map(_.lines).sum, parts.map(_.clickLines).sum, ctr.toMap, refs.toMap)
  }

  private final class PartTruth {
    var rows, lines, clickLines = 0L
    val ctr = mutable.HashMap.empty[(Option[String], Option[String]), (Long, Long)]
  }

  private def writeFile(dir: String, seed: Long, f: Int, n: Int): PartTruth = {
    val r = new SplittableRandom(seed * 1000003L + f)
    val imp = new BufferedOutputStream(new FileOutputStream(s"$dir/impressions/part-$f.log"), 1 << 20)
    val clk = new BufferedOutputStream(new FileOutputStream(s"$dir/clicks/part-$f.log"), 1 << 20)
    val t = new PartTruth
    val sb = new java.lang.StringBuilder(256)
    def emit(out: BufferedOutputStream, s: CharSequence): Unit = out.write(s.toString.getBytes(UTF_8))
    def prefix(): Unit = r.nextInt(10) match {
      case 0 => ()                                                      // clean line
      case 1 => sb.append("<garbage>").append(r.nextInt(100000)).append(' ')
      case k => sb.append("2024-01-").append(10 + k).append('T').append(r.nextInt(24)).append(':')
          .append(r.nextInt(60)).append(" ad-server-").append(r.nextInt(64)).append(" INFO ")
    }
    def poison(): String = r.nextInt(4) match {
      case 0 => "2024-01-01T00:00 ad-server-7 WARN upstream timeout, no payload"
      case 1 => "ts=1 {\"impressionId\": ,\"referrer\":\"r1\"}"
      case 2 => "{\"referrer\" \"r2\", \"adId\": \"a1\"}"
      case _ => "ts=2 {\"ua\":\"Mozilla/5.0\",\"latency_ms\":" + r.nextInt(900) + "}"
    }
    var i = 0
    while (i < n) {
      sb.setLength(0)
      t.lines += 1
      if (r.nextInt(50) == 0) { emit(imp, poison()); imp.write('\n') }
      else {
        val id = s"$seed-$f-$i"
        val ref = if (r.nextInt(40) == 0) None else Some("r" + referrers.sample(r))
        val ad = if (r.nextInt(25) == 0) None else Some("a" + ads.sample(r))
        prefix()
        sb.append("{\"impressionId\":\"").append(id).append('"')
        ref.foreach(v => sb.append(",\"referrer\":\"").append(v).append('"'))
        if (r.nextInt(8) == 0) sb.append(",\"ua\":\"Mozilla/5.0 (X11; Linux x86_64)\"")
        ad.foreach(v => sb.append(",\"adId\":\"").append(v).append('"'))
        sb.append("}\n")
        emit(imp, sb)
        t.rows += 1
        // click probability rises with ad rank so the CTR table is not flat
        val clicked = r.nextInt(1000) < 20 + ad.map(a => a.drop(1).toInt % 60).getOrElse(0)
        if (clicked) {
          val copies = 1 + (if (r.nextInt(4) == 0) 1 + r.nextInt(2) else 0) // duplicate clicks
          (0 until copies).foreach { _ =>
            sb.setLength(0); prefix()
            sb.append("{\"impressionId\":\"").append(id).append("\"}\n")
            emit(clk, sb); t.clickLines += 1
          }
        }
        val key = (ref, ad)
        val (i0, c0) = t.ctr.getOrElse(key, (0L, 0L))
        t.ctr(key) = (i0 + 1, c0 + (if (clicked) 1 else 0))
      }
      if (r.nextInt(200) == 0) {                                        // orphan click or click poison
        sb.setLength(0); prefix()
        if (r.nextBoolean()) sb.append("{\"impressionId\":\"orphan-").append(f).append('-').append(i).append("\"}\n")
        else sb.append("{\"impressionId\": }\n")
        emit(clk, sb); t.clickLines += 1
      }
      i += 1
    }
    imp.close(); clk.close()
    t
  }
}

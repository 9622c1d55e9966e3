package graft.sources

/** One live file of a manifest snapshot, as its `add=` entry records
  * it: `<rel>` (the data-relative path) followed by metadata segments
  * in any order:
  *  - `|rows=<n>` — the file's exact row count;
  *  - `|stat=<col>:<min>:<max>` — long bounds (int columns widen);
  *  - `|sstat=<col>:<minhex>:<maxhex>` — truncated UTF-8 string bounds
  *    (see the string-bounds notes in [[ManifestTable]]);
  *  - `|bloom=<col>:<m>:<k>:<hex>` — a per-file Bloom filter for
  *    point-lookup skipping (see [[BloomIndex]]).
  *
  * Unknown segments are ignored by every reader, so the format is
  * forward-extensible; `raw` keeps the entry text exactly as committed,
  * so checkpoints and RESTORE write it back byte for byte, unknown
  * segments included. This file is the one place that knows the
  * segment syntax: the log fold parses each entry once into this value
  * and every writer renders through [[ManifestEntry.render]].
  *
  * Segments parse lazily and once: a reader that never consults a
  * segment never pays for (or fails on) it, so a corrupt bloom breaks
  * point lookups, not a plain snapshot read. */
private[sources] final class ManifestEntry private (val raw: String) {
  import ManifestEntry.corrupt

  private lazy val segments: Array[String] = raw.split('|').drop(1)

  private def segs(prefix: String): Iterator[String] =
    segments.iterator.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))

  val rel: String = { val cut = raw.indexOf('|'); if (cut < 0) raw else raw.take(cut) }

  lazy val rows: Option[Long] = segs("rows=").nextOption().map(_.toLong)

  lazy val stats: Map[String, (Long, Long)] = segs("stat=").map { s =>
    s.split(':') match {
      case Array(c, mn, mx) => c -> ((mn.toLong, mx.toLong))
      case _ => corrupt("stat", s, raw)
    }
  }.toMap

  lazy val stringStats: Map[String, (Array[Byte], Array[Byte])] = segs("sstat=").map { s =>
    s.split(':') match {
      case Array(c, mn, mx) => c -> ((ManifestTable.unhex(mn), ManifestTable.unhex(mx)))
      case _ => corrupt("sstat", s, raw)
    }
  }.toMap

  lazy val blooms: Map[String, (Int, Int, String)] = segs("bloom=").map { s =>
    s.split(':') match {
      case Array(c, m, k, hex) => c -> ((m.toInt, k.toInt, hex))
      case _ => corrupt("bloom", s, raw)
    }
  }.toMap
}

private[sources] object ManifestEntry {

  def parse(raw: String): ManifestEntry = new ManifestEntry(raw)

  /** One column's bounds over a freshly written file, as the writer
    * saw them: longs (int columns widen), or untruncated strings. */
  sealed trait Bounds
  final case class LongBounds(min: Long, max: Long) extends Bounds
  final case class StringBounds(min: String, max: String) extends Bounds

  /** The entry text of a freshly written file: `rows=`, then one bounds
    * segment per column in the given order, then the blooms
    * (`col -> "<m>:<k>:<hex>"`). String bounds truncate to
    * [[ManifestTable.truncMinUtf8]] / [[ManifestTable.truncMaxUtf8]];
    * a max that cannot be bumped records no segment (the file is then
    * never pruned on that column). */
  def render(rel: String, rows: Long, bounds: Seq[(String, Bounds)],
             blooms: Seq[(String, String)] = Nil): String = {
    val boundSegs = bounds.flatMap {
      case (c, LongBounds(mn, mx)) => Some(s"stat=$c:$mn:$mx")
      case (c, StringBounds(mn, mx)) =>
        ManifestTable.truncMaxUtf8(mx).map(b =>
          s"sstat=$c:${ManifestTable.hex(ManifestTable.truncMinUtf8(mn))}:${ManifestTable.hex(b)}")
    }
    ((rel +: s"rows=$rows" +: boundSegs) ++
      blooms.map { case (c, spec) => s"bloom=$c:$spec" }).mkString("|")
  }

  private def corrupt(kind: String, seg: String, raw: String): Nothing =
    throw new IllegalStateException(s"corrupt $kind segment '$seg' in $raw")
}

package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded LLM-curation corpus with planted near-duplicate clusters and
  * their exact Jaccard values.
  *
  * Background documents draw 20-26 words from a Zipfian vocabulary
  * (s = 1.0 over 20k words, English stop words at the top ranks). A set
  * share of all documents ends in one shared boilerplate footer, whose
  * word 3-gram shingles are the hot keys of any shingle join. One in a
  * hundred documents is too short (5-15 words). Planted clusters hold
  * 2-5 variants of one base document, each with 0-4 word substitutions,
  * so their pairwise Jaccard values spread across the threshold. The
  * ground truth is the exact word-3-gram set Jaccard of every
  * within-cluster pair, computed the way `Dedup.jaccardJoin` defines it
  * (split on single spaces, distinct shingles, ppb-floored ratio).
  * Documents from different clusters or from the background share too
  * few shingles to come near any threshold used here.
  */
object CorpusGen {

  final case class Corpus(
      texts: Array[String],            // indexed by doc_id
      cluster: Array[Int],             // planted cluster id, -1 for background
      short: Array[Boolean],           // fewer than 20 words
      pairs: Map[(Long, Long), Double]) // within-cluster pairs -> exact Jaccard

  val footer = "all rights reserved subscribe to our newsletter for daily updates"
  private val stop = Seq("the", "of", "and", "to", "a", "in", "is", "that", "for", "it", "as", "was",
    "with", "be", "by", "on", "not", "this", "are", "or", "from", "at", "which", "but", "have")

  private def vocabulary(seed: Long): Array[String] = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    val seen = mutable.LinkedHashSet.empty[String] ++= stop
    while (seen.size < 20000) {
      val syl = 2 + r.nextInt(3)
      seen += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toArray
  }

  /** Exact Jaccard as the operator computes it: integer ppb, then /1e9. */
  def jaccard(a: String, b: String): Double = {
    val sa = shingles(a); val sb = shingles(b)
    val inter = sa.count(sb.contains).toLong
    ((inter * 1000000000L) / (sa.size + sb.size - inter)).toDouble / 1e9
  }

  def shingles(t: String): Set[String] = {
    val ws = t.split(" ", -1)
    if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
  }

  def generate(seed: Long, nDocs: Int, clusters: Int, footerShare: Double): Corpus = {
    val vocab = vocabulary(seed)
    val zipf = new CtrGen.Zipf(vocab.length, 1.0)
    val r = new SplittableRandom(seed)
    def words(r: SplittableRandom, n: Int): Array[String] = Array.fill(n)(vocab(zipf.sample(r)))
    def withFooter(r: SplittableRandom, ws: Array[String]): String =
      if (r.nextDouble() < footerShare) ws.mkString(" ") + " " + footer else ws.mkString(" ")

    // planted clusters first, then the background, then a seeded shuffle of ids
    val docs = mutable.ArrayBuffer.empty[(String, Int, Boolean)]
    (0 until clusters).foreach { c =>
      val base = words(r, 40 + r.nextInt(21))
      val members = 2 + r.nextInt(4)
      (0 until members).foreach { m =>
        val v = base.clone()
        val subs = if (m == 0) 0 else r.nextInt(5)
        (0 until subs).foreach(_ => v(r.nextInt(v.length)) = vocab(stop.size + r.nextInt(vocab.length - stop.size)))
        docs += ((withFooter(r, v), c, false))
      }
    }
    while (docs.size < nDocs) {
      val short = r.nextInt(100) == 0
      val ws = words(r, if (short) 5 + r.nextInt(11) else 20 + r.nextInt(7))
      docs += ((if (short) ws.mkString(" ") else withFooter(r, ws), -1, short))
    }
    val perm = Array.range(0, docs.size)
    var i = perm.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    val texts = new Array[String](docs.size)
    val cluster = new Array[Int](docs.size)
    val short = new Array[Boolean](docs.size)
    perm.zipWithIndex.foreach { case (src, id) =>
      texts(id) = docs(src)._1; cluster(id) = docs(src)._2; short(id) = docs(src)._3
    }
    val byCluster = cluster.indices.filter(cluster(_) >= 0).groupBy(cluster(_))
    val pairs = byCluster.values.flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a.toLong, b.toLong) -> jaccard(texts(a), texts(b))
    }.toMap
    Corpus(texts, cluster, short, pairs)
  }
}

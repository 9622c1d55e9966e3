package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.Fns
import graft.operators.{ClickThru, Dedup, TextAnalysis}
import graft.sources.ManifestTable

/** What one executed operation hands back: the correctness check (run
  * after the timed window), plus counts the traced run reports. */
final case class Outcome(check: () => Option[String], rows: Long = 0L, files: Long = 0L)

/** One operation of a pass. `build` is the plan-building call (the
  * `queries` layer); the closure it returns executes the plan. */
final case class Op(name: String, build: () => (() => Outcome), probe: Boolean = false)

/** A workload: seeded input generation and the operation list of one pass. */
trait Workload {
  /** How many times set-up generates the inputs; the median is reported. */
  def setupReps: Int
  /** Generates the inputs (and ground truth) under `dir`. */
  def generate(dir: String): Unit
  /** Digest of the inputs under `dir` and of their ground truth. */
  def digest(dir: String): String
  /** Selects the generated directory the timed passes read. */
  def use(dir: String): Unit
  def ops(pass: Int): Seq[Op]
  /** The untimed warm-up pass (the catalog dumps results for the oracle). */
  def warmOps(out: String): Seq[Op] = ops(-1)
  /** The isolated MinHash kernel probe run after each traced pass. */
  def probeOps: Seq[Op] = Seq.empty
  def probeDocs: Long = 0L
  /** Log lines an operation's scans read (the useful-rows denominator). */
  def linesRead(op: String): Long = 0L
  /** Bytes one pass reads, when Spark's input metrics cannot see them. */
  def knownInputBytes: Option[Long] = None
  def afterPass(pass: Int): Unit = ()
  /** How many leading warm-up operations are independent and may run
    * concurrently; the rest follow one at a time. */
  def warmParallel: Int = 0
}

object Workload {
  def sha(): MessageDigest = MessageDigest.getInstance("SHA-256")
  def hex(d: MessageDigest): String = d.digest().map("%02x".format(_)).mkString

  /** Content digest of every regular file under `dir`, independent of file
    * names (Spark names part files with a random UUID). */
  def digestDir(dir: String): String = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .map(p => p.getParent.getFileName.toString -> {
        val d = sha(); d.update(Files.readAllBytes(p)); hex(d)
      }).toSeq.sorted
    val d = sha(); files.foreach { case (a, b) => d.update(s"$a:$b\n".getBytes) }; hex(d)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "catalog" => new Catalog(spark, seed)
    case "ingest_ctr" => new IngestCtr(spark, seed, pruned = false)
    case "ingest_pruned" => new IngestCtr(spark, seed, pruned = true)
    case "dedup_corpus" => new DedupCorpus(spark, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

object Catalog {
  /** Sixteen of the 31 headline keys (`QueryDef.bench`): the relational and
    * planner-rule keys, the two ClickThru keys and three operator keys.
    * They are bound by plan building, planning and scheduling at this
    * scale. The other fifteen are data-bound ML and text keys; with them a
    * run's cold warm-up plus one pass would not fit the run budget. */
  val keys: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_orders", "q5_regional_revenue", "q9_profit", "q17_small_quantity",
    "q_sort", "q_wordcount", "q_group_topk", "q_window_rank", "q_sessionize_plan", "q_funnel",
    "ctr_referrer", "ctr_attribution", "dedup_minhash", "text_tfidf", "text_bm25")
}

/** Headline queries over generated TESTDATA-shaped tables, one key at a
  * time into the noop sink, in an order shuffled by the seed. */
final class Catalog(spark: SparkSession, seed: Long) extends Workload {
  val setupReps = 2
  val scale: Double = sys.props.getOrElse("perfbench.catalog.scale", "0.01").toDouble
  private var dir: String = _
  private val keys = new scala.util.Random(seed).shuffle(Catalog.keys.sorted)

  def generate(d: String): Unit = CatalogGen.generate(spark, d, seed, scale)
  def digest(d: String): String = Workload.digestDir(d)
  def use(d: String): Unit = dir = d

  def ops(pass: Int): Seq[Op] = keys.map { k =>
    val fn = SparkEntry.queries(k)
    Op(k, () => { val df = fn(spark, dir); () => { Workload.noop(df); Outcome(() => None) } })
  }

  override def warmParallel: Int = Int.MaxValue

  /** Same keys, written to parquet for the DuckDB oracle compare. */
  override def warmOps(out: String): Seq[Op] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> v }: _*))
    keys.map { k =>
      val fn = SparkEntry.queries(k)
      Op(k, () => { val df = fn(spark, dir); () => {
        df.write.mode("overwrite").parquet(s"$out/$k"); Outcome(() => None) } })
    }
  }

  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  override def probeOps: Seq[Op] =
    Seq(Op("minhash_probe", () => { val df = docs.select(Fns.minhash_sig(col("text")).as("sig"))
      () => { Workload.noop(df); Outcome(() => None) } }, probe = true))
  override def probeDocs: Long = docs.count()
}

/** The paper's pipeline at volume: noisy JSON-lines logs through
  * `graft-jsonlog`. `ingest_ctr` runs CTR by (referrer, adId);
  * `ingest_pruned` runs the two pruned reads over the same logs, a
  * `count()` and a one-column grouped count. */
final class IngestCtr(spark: SparkSession, seed: Long, pruned: Boolean) extends Workload {
  val setupReps = 2
  private val files = 8
  private val linesPerFile = sys.props.getOrElse("perfbench.ingest.lines", "120000").toInt
  private var dir: String = _
  private var truth: CtrGen.Truth = _
  private val truths = mutable.HashMap.empty[String, CtrGen.Truth]
  private val impSchema = StructType(Seq(StructField("impressionId", StringType),
    StructField("referrer", StringType), StructField("adId", StringType)))
  private val clkSchema = StructType(Seq(StructField("impressionId", StringType)))

  def generate(d: String): Unit = truths(d) = CtrGen.generate(d, seed, files, linesPerFile)
  def digest(d: String): String = {
    val t = truths(d)
    val dg = Workload.sha()
    dg.update(Workload.digestDir(d).getBytes)
    dg.update((t.impressionRows, t.lines, t.clickLines, t.ctr.toSeq.sortBy(_.toString),
      t.referrers.toSeq.sortBy(_.toString)).toString.getBytes)
    Workload.hex(dg)
  }
  def use(d: String): Unit = { dir = d; truth = truths(d); truths.clear() }

  private def read(schema: StructType, path: String) = spark.read.format("graft-jsonlog").schema(schema).load(path)
  private def bytes(sub: String) = new File(s"$dir/$sub").listFiles().map(_.length).sum

  override def linesRead(op: String): Long = op match {
    case "ctr" => truth.lines + truth.clickLines
    case _ => truth.lines
  }
  override def knownInputBytes: Option[Long] =
    Some(if (pruned) 2 * bytes("impressions") else bytes("impressions") + bytes("clicks"))

  def ops(pass: Int): Seq[Op] = opsOn(s"$dir/impressions", s"$dir/clicks", checked = true)

  /** Warm-up reads half of each log (hard links to four of the eight
    * files): the same code paths, enough volume for the JIT, unchecked. */
  override def warmOps(out: String): Seq[Op] = {
    for (sub <- Seq("impressions", "clicks"); f <- 0 until files / 2) {
      Files.createDirectories(Paths.get(s"$dir/warm/$sub"))
      Files.createLink(Paths.get(s"$dir/warm/$sub/part-$f.log"), Paths.get(s"$dir/$sub/part-$f.log"))
    }
    opsOn(s"$dir/warm/impressions", s"$dir/warm/clicks", checked = false)
  }

  private def opsOn(impPath: String, clkPath: String, checked: Boolean): Seq[Op] = {
    def imp = read(impSchema, impPath)
    def check(c: => Option[String]): () => Option[String] = () => if (checked) c else None
    val ctr = Op("ctr", () => {
      val df = ClickThru.ctr(imp, read(clkSchema, clkPath), "impressionId", Seq("referrer", "adId"))
      () => {
        val rows = df.collect()
        Outcome(check {
          val got = rows.map(r => (Option(r.getAs[String]("referrer")), Option(r.getAs[String]("adId"))) ->
            (r.getAs[Long]("impressions"), r.getAs[Long]("clicks"), r.getAs[Double]("ctr"))).toMap
          val want = truth.ctr.map { case (k, (i, c)) => k -> (i, c, c.toDouble / i) }
          if (got == want) None
          else Some(s"ctr: ${got.size} groups vs ${want.size} expected, " +
            s"${(want.toSet diff got.toSet).size} expected groups missing or different")
        }, rows.length)
      }
    })
    val count = Op("count", () => {
      val df = imp
      () => {
        val n = df.count()
        Outcome(check(if (n == truth.impressionRows) None
          else Some(s"count(): $n rows vs ${truth.impressionRows} expected")), 1)
      }
    })
    val referrers = Op("referrers", () => {
      val df = imp.select("referrer").groupBy("referrer").count()
      () => {
        val rows = df.collect()
        Outcome(check {
          val got = rows.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
          if (got == truth.referrers) None
          else Some(s"select(referrer) group count: ${got.values.sum} rows in ${got.size} groups vs " +
            s"${truth.referrers.values.sum} in ${truth.referrers.size} expected")
        }, rows.length)
      }
    })
    if (pruned) Seq(count, referrers) else Seq(ctr)
  }
}

/** LLM-data curation over a 102k-document corpus (16 parquet files) (past `Dedup`'s 100k
  * verify-broadcast cutoff): MinHash and exact Jaccard near-duplicate
  * joins, the Gopher quality filter on a fixed sixteenth of the corpus,
  * then a manifest commit of the kept, non-duplicate documents of that
  * sixteenth, read back in the same operation. */
final class DedupCorpus(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._
  val setupReps = 2
  private val nDocs = sys.props.getOrElse("perfbench.dedup.docs", "102000").toInt
  private val tau = 0.8
  private val mhThreshold = 0.8
  /** Planted pairs at or above this Jaccard that MinHash must find. */
  private val recallJ = 0.9
  private val minRecall = 0.95
  /** Gopher scores every sixteenth document: its per-token lambdas cost about
    * half a millisecond of CPU per document, so the whole corpus would
    * take most of a run's time budget on its own. */
  private val gopherEvery = 16
  private var dir: String = _
  private var work: String = _
  private var corpus: CorpusGen.Corpus = _
  private var lengths: Array[Int] = _

  private val corpora = mutable.HashMap.empty[String, CorpusGen.Corpus]
  def generate(d: String): Unit = {
    val c = CorpusGen.generate(seed, nDocs, clusters = nDocs / 100, footerShare = 0.15)
    spark.createDataFrame(c.texts.indices.map(i => (i.toLong, c.texts(i))))
      .toDF("doc_id", "text").repartition(16).sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$d/corpus")
    corpora(d) = c
  }
  def digest(d: String): String = {
    val c = corpora(d)
    val dg = Workload.sha()
    dg.update(Workload.digestDir(d).getBytes)
    c.pairs.toSeq.sorted.foreach(p => dg.update(p.toString.getBytes))
    dg.update(c.cluster.mkString(",").getBytes)
    Workload.hex(dg)
  }
  def use(d: String): Unit = {
    dir = d; work = s"$d/../manifest"
    val c = corpora(d)
    corpus = c.copy(texts = Array.empty); lengths = c.texts.map(_.length)
    corpora.clear()
  }

  private def docs = spark.read.parquet(s"$dir/corpus")
  private lazy val cached = docs.cache()
  // results of the pass in flight, feeding the commit
  private var jaccardPairs: Set[(Long, Long)] = Set.empty
  private var keep: Array[Long] = Array.empty

  private def survivors: Array[Long] = keep.filterNot(jaccardPairs.map(_._2))

  private def jaccardCheck(got: Map[(Long, Long), Double]): Option[String] = {
    val want = corpus.pairs.filter(_._2 >= tau)
    if (got == want) None
    else Some(s"jaccardJoin: ${got.size} pairs vs ${want.size} planted pairs with J >= $tau; " +
      s"${(got.keySet diff want.keySet).size} unexpected, ${(want.keySet diff got.keySet).size} missing, " +
      s"${got.count { case (k, v) => want.get(k).exists(_ != v) }} with a different Jaccard")
  }

  def ops(pass: Int): Seq[Op] = Seq(
    Op("minhash_pairs", () => {
      val df = Dedup.minhashPairs(docs, mhThreshold)
      () => {
        val rows = df.select("doc_a", "doc_b").as[(Long, Long)].collect()
        Outcome(() => {
          val outside = rows.count { case (a, b) => corpus.cluster(a.toInt) < 0 || corpus.cluster(a.toInt) != corpus.cluster(b.toInt) }
          val target = corpus.pairs.filter(_._2 >= recallJ).keySet
          val recall = if (target.isEmpty) 1.0 else (target intersect rows.toSet).size.toDouble / target.size
          if (outside > 0) Some(s"minhashPairs: $outside pairs outside any planted cluster")
          else if (recall < minRecall) Some(f"minhashPairs: recall $recall%.4f of ${target.size} planted pairs with J >= $recallJ, below $minRecall")
          else None
        }, rows.length)
      }
    }),
    Op("jaccard_join", () => {
      val df = Dedup.jaccardJoin(spark, docs, tau)
      () => {
        val rows = df.as[(Long, Long, Double)].collect()
        jaccardPairs = rows.map(r => (r._1, r._2)).toSet
        Outcome(() => jaccardCheck(rows.map(r => (r._1, r._2) -> r._3).toMap), rows.length)
      }
    }),
    Op("gopher", () => {
      val df = TextAnalysis.gopherFilter(docs.filter(col("doc_id") % gopherEvery === 0))
        .select("doc_id", "fail_mask", "keep")
      () => {
        val rows = df.as[(Long, Long, Boolean)].collect()
        keep = rows.filter(_._3).map(_._1)
        Outcome(() => {
          val ids = rows.map(_._1)
          val wrongShort = rows.count { case (id, mask, _) => corpus.short(id.toInt) != ((mask & 1L) != 0) }
          val want = (nDocs + gopherEvery - 1) / gopherEvery
          if (ids.length != want || ids.distinct.length != want) Some(s"gopherFilter: ${ids.length} rows for $want docs")
          else if (wrongShort > 0) Some(s"gopherFilter: $wrongShort docs with the wrong too-short verdict")
          else None
        }, rows.length)
      }
    }),
    Op("commit", () => {
      val ids = survivors
      val df = docs.join(broadcast(ids.toSeq.toDF("doc_id")), "doc_id")
      val table = s"$work/pass-$pass"
      () => {
        ManifestTable.append(spark, df, table)
        val r = ManifestTable.read(spark, table).agg(count(lit(1)), sum(length(col("text")))).head()
        val files = Files.walk(Paths.get(table, "data")).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")).toLong
        val want = (ids.length.toLong, ids.map(i => lengths(i.toInt).toLong).sum)
        Outcome(() => if ((r.getLong(0), r.getLong(1)) == want) None
          else Some(s"read back (rows, chars) ${(r.getLong(0), r.getLong(1))} vs committed $want"), ids.length, files)
      }
    }))

  override def afterPass(pass: Int): Unit = Workload.deleteRec(new File(s"$work/pass-$pass"))

  /** Warm-up runs the two joins and the filter concurrently, then the
    * commit; its results are not checked. */
  override def warmParallel: Int = 3
  override def warmOps(out: String): Seq[Op] =
    ops(-1).map(op => op.copy(build = () => { val exec = op.build(); () => exec().copy(check = () => None) }))

  override def probeOps: Seq[Op] =
    Seq(Op("minhash_probe", () => { val df = cached.select(Fns.minhash_sig(col("text")).as("sig"))
      () => { Workload.noop(df); Outcome(() => None) } }, probe = true))
  override def probeDocs: Long = cached.count()
}

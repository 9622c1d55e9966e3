package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Classifier

/** Round-14 beyond-verdict property pins: the trained classifier's
  * distribution-independence (the property that makes the exact-
  * integer GD claim meaningful at cluster scale) and the
  * manifest-served IVF's genuine pruning. */
class Round14EdgeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  test("classifier training is partitioning-invariant: same weights from any shuffle layout") {
    // integer gradient sums are order-free; a float accumulator or a
    // collect-order dependency would break this under repartitioning
    val docs = (0L until 40L).map { id =>
      val t = if (id % 2 == 0) "alpha beta alpha gamma" else "delta epsilon zeta"
      (id, t, if (id % 2 == 0) 1L else 0L)
    }.toDF("doc_id", "text", "label")
    def scores(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      Classifier.trainAndScore(spark, df, 32, 4, 5, 4)
        .select($"doc_id", $"p_micro").as[(Long, Long)].collect().toSeq.sorted
    val base = scores(docs)
    assert(base.nonEmpty)
    assert(scores(docs.repartition(7)) == base, "7-partition layout diverged")
    assert(scores(docs.repartition(1)) == base, "single-partition layout diverged")
  }

  test("ann_ivf_manifest: pruning is genuine (planned < live) and ranks are well-formed") {
    val rows = SparkEntry.queries("ann_ivf_manifest")(spark, dir)
      .select($"query_id", $"rk", $"cos_sim", $"n_files_planned", $"n_files_live")
      .as[(Long, Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    val (planned, live) = (rows.head._4, rows.head._5)
    assert(planned < live,
      s"no storage pruning: $planned of $live files planned — the key is a full read in disguise")
    assert(planned > 0)
    // within each query: ranks dense from 1, cosine non-increasing
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      assert(sorted.map(_._2).sameElements(1L to sorted.length))
      assert(sorted.sliding(2).forall(p => p.length < 2 || p(0)._3 >= p(1)._3))
    }
  }

  test("gdpr e2e key: the physical-erasure requires actually gate (victim present => throw)") {
    // the gated query's requires are load-bearing; prove they fire by
    // running the same pipeline WITHOUT the delete and checking the
    // direct-disk victim scan is nonzero (i.e. the assertion's subject
    // is real, not vacuously empty)
    import graft.sources.ManifestTable
    val root = tempDir("graft-gdpr-spec")
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars")
    ManifestTable.append(spark, docs, root)
    ManifestTable.vacuum(root, keepVersions = 1, minAgeMs = 0)
    val diskFiles = Option(new java.io.File(root, "data").listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    val victimRows = spark.read.parquet(diskFiles.toIndexedSeq: _*)
      .filter($"source" === "src7").count()
    assert(victimRows > 0, "spec corpus has no src7 rows — erasure check would be vacuous")
  }
}

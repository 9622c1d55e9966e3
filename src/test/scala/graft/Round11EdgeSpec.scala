package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-11 items: the band-bucket width cap (r10 VERDICT #4),
  * updated in round 12 for the STAR fallback (r11 VERDICT #1).
  * A degenerate LSH bucket — millions of byte-identical boilerplate
  * docs, the normal web-crawl case — previously made the candidate
  * self-joins in dedup_source_matrix / dedup_minhash_pairs O(W²).
  * Buckets wider than 64 now emit O(W) star edges to the bucket's
  * min-doc_id representative instead of their O(W²) pair set; this
  * spec plants a 200-doc mega-bucket plus one genuine cross-source
  * duplicate pair and asserts the mega-bucket contributes exactly its
  * star (never the 19,900-pair explosion) while the real pair
  * survives, with the DuckDB oracle in lock-step. The wide
  * NEAR-identical family (the case the star exists for) is pinned in
  * Round12EdgeSpec. */
class Round11EdgeSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plant(): String = {
    val dir = tempDir("graft-megabucket")
    val boiler = "terms of service all rights reserved contact us privacy " +
      "policy cookie notice subscribe to the newsletter follow our page"
    val dup = "graft shuffles fixed width signature keys so document text " +
      "never rides a shuffle and bucket joins stay bounded by design"
    val rows =
      (0L until 200L).map(i => (i, boiler, "mirror")) ++
        Seq((1000L, dup, "s1"), (1001L, dup, "s2"))
    rows.toDF("doc_id", "text", "source").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("width cap: mega-bucket contributes its star (199), real pair kept") {
    val dir = plant()
    val m = SparkEntry.queries("dedup_source_matrix")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // the 200-doc boilerplate family would be 19,900 mirror–mirror pairs
    // without the cap; the star fallback shrinks it to the 199 edges of
    // its min-id representative, and the s1–s2 dup still registers
    assert(m.toSeq == Seq(("mirror", "mirror", 199L), ("s1", "s2", 1L)),
      s"got ${m.toSeq}")
  }

  test("width cap: dedup_minhash_pairs emits star edges, never the O(W²) set") {
    val dir = plant()
    val p = SparkEntry.queries("dedup_minhash_pairs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every wide bucket stars to doc 0, a full signature agreement
    // (matches = 32); ordering (matches DESC, doc_a, doc_b) + LIMIT 50
    // keeps the first 50 star pairs. The 19,900-pair explosion — and
    // any pair NOT incident to the representative — must not appear.
    assert(p.length == 50, s"got ${p.length} rows")
    assert(p.toSeq == (1L to 50L).map(d => (0L, d, 32L)), s"got ${p.toSeq}")
  }

  test("incremental minhash probe: bucket-summary index flags the planted families") {
    val dir = plant()
    // New batch = ids ≡ 0 mod 5 (40 boiler docs + doc 1000); standing
    // min for the boiler family is doc 1, for the dup family doc 1001.
    // Byte-identical texts share all 4 band keys, so every flagged doc
    // hits 4 bands — and the 200-wide boiler bucket is ONE summary row,
    // not 160 standing rows, by construction.
    val r = SparkEntry.queries("dedup_incremental_minhash")(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val expected = (0L until 200L by 5).map(d => (d, 4L, 1L)) :+ (1000L, 4L, 1001L)
    assert(r.toSeq == expected, s"got ${r.take(5).toSeq}... (${r.length} rows)")
  }

  test("hot-bucket triage names the planted mega-family first") {
    val dir = plant()
    // the 200-doc byte-identical family owns all 4 of its band buckets
    // at width 200, attributed to rep doc 0 / source "mirror"; the dup
    // pair's 4 buckets (width 2, rep 1000 / "s1") fill the next slots
    val r = SparkEntry.queries("dedup_hot_buckets")(spark, dir).collect()
      .map(x => (x.getLong(2), x.getLong(3), x.getString(4)))
    assert(r.take(4).toSeq == Seq.fill(4)((200L, 0L, "mirror")), s"got ${r.toSeq}")
    assert(r.drop(4).toSeq == Seq.fill(4)((2L, 1000L, "s1")), s"got ${r.toSeq}")
  }

  test("width cap: DuckDB oracle applies the identical cap on the planted corpus") {
    val dir = plant()
    val duckOk = try {
      new ProcessBuilder("python3", "-c", "import duckdb").start().waitFor() == 0
    } catch { case _: Throwable => false }
    assume(duckOk, "python3+duckdb not available on this box")
    def oracleRows(key: String): Seq[String] = {
      val tmp = tempFile("oracle", ".sql")
      java.nio.file.Files.writeString(tmp, SparkEntry.oracleSql(key))
      val py =
        s"""import duckdb
           |con = duckdb.connect()
           |con.execute("CREATE VIEW documents AS SELECT * FROM '$dir/documents.parquet/*.parquet'")
           |for row in con.sql(open('$tmp').read()).fetchall():
           |    print('|'.join(str(v) for v in row))
           |""".stripMargin
      val pf = tempFile("oracle", ".py")
      java.nio.file.Files.writeString(pf, py)
      val pb = new ProcessBuilder("python3", pf.toString)
      pb.redirectErrorStream(true)
      val pr = pb.start()
      val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
      assert(pr.waitFor() == 0, s"oracle run failed:\n${out.take(1500)}")
      out.linesIterator.toSeq
    }
    assert(oracleRows("dedup_source_matrix") ==
      Seq("mirror|mirror|199", "s1|s2|1"))
    assert(oracleRows("dedup_minhash_pairs") ==
      (1 to 50).map(d => s"0|$d|32|1.0"))
  }
}

package graft

import java.nio.file.Files
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.JsonLogs
import graft.sources.v2.{JsonLogPartitionReader, JsonLogScan}

/** The DataSourceV2 noisy-JSON-log source (SURVEY.md §2-G): tolerant
  * parse semantics, PHYSICAL column pruning and filter pushdown
  * (asserted on the planned scan, not just results), and line-aligned
  * byte-range splits that neither lose nor duplicate rows. */
class JsonLogSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("referrer", StringType), StructField("adId", StringType),
    StructField("n", LongType)))

  private def write(lines: Seq[String]): String =
    writeBytes(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))

  private def writeBytes(bytes: Array[Byte]): String = {
    val f = tempFile("jsonlog", ".log")
    Files.write(f, bytes)
    f.toString
  }

  private def bag(rows: Seq[Row]): Map[Seq[Any], Int] =
    rows.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def read(path: String, opts: Map[String, String] = Map.empty) = {
    val r = spark.read.format("graft-jsonlog").schema(schema)
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  test("tolerant parse: noise prefixes stripped, poison lines dropped, unicode survives") {
    val path = write(Seq(
      """{"referrer":"r1","adId":"a1","n":1}""",
      """garbage-before{"referrer":"r2","adId":"ü2","n":2}""", // ClickThru.java:97-98 semantics
      "no brace at all",
      """{"truncated": """,
      "",
      """{"other":"field only"}""", // parses but all-null for our schema -> dropped
      """{"referrer":"r3","extra":{"nested":[1,2]},"n":3}"""))
    val rows = read(path).orderBy($"n").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(1L, 2L, 3L))
    assert(rows(1).getAs[String]("adId") == "ü2")
    assert(rows(2).getAs[String]("adId") == null) // missing field -> null, row kept
  }

  test("column pruning reaches the scan; filter pushdown splits supported/unsupported") {
    val path = write((1 to 50).map(i => s"""{"referrer":"r${i % 5}","adId":"a$i","n":$i}"""))
    val df = read(path).filter($"referrer" === "r1" && $"n" > 10).select($"adId")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[JsonLogScan]
    }
    assert(scans.size == 1)
    // pruned to the surviving columns: referrer is NOT read at all —
    // its EqualTo was fully pushed, so only adId (projection) and n
    // (residual filter) are parsed
    val readCols = scans.head.readSchema().fieldNames.toSet
    assert(readCols == Set("adId", "n"))
    // EqualTo(referrer) and IsNotNull are pushable; GreaterThan(n) is not
    val pushed = scans.head.pushed.map(_.toString).mkString(",")
    assert(pushed.contains("EqualTo(referrer,r1)"), pushed)
    assert(!pushed.contains("GreaterThan"), pushed)
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("a11", "a16", "a21", "a26", "a31", "a36", "a41", "a46"))
    // pure projection prunes the parse to one field
    val proj = read(path).select($"n")
    val projScan = proj.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.asInstanceOf[JsonLogScan] }.head
    assert(projScan.readSchema().fieldNames.toSeq == Seq("n"))
  }

  test("byte-range splits: many small partitions, zero lost or duplicated rows") {
    val lines = (1 to 997).map(i => s"""{"referrer":"r$i","adId":"a$i","n":$i}""")
    val path = write(lines)
    val df = read(path, Map("maxSplitBytes" -> "256")) // ~7 lines per split
    assert(df.rdd.getNumPartitions > 20, s"expected many splits, got ${df.rdd.getNumPartitions}")
    val ns = df.select($"n").as[Long].collect().sorted
    assert(ns.toSeq == (1L to 997L)) // exactly-once across split boundaries
  }

  test("the row set does not depend on the projection: poison is judged on the declared schema") {
    val path = write(Seq(
      """{"referrer":"r1","adId":"a1","n":1}""",
      """x {"referrer":"r2"}""",
      """{"adId":"a3","n":3}""", // no referrer: still a row for select(referrer)
      """{"other":"undeclared only"}""")) // poison
    assert(read(path).collect().length == 3)
    assert(read(path).select("referrer").collect().map(r => Option(r.getString(0))).sorted.toSeq ==
      Seq(None, Some("r1"), Some("r2")))
    assert(read(path).count() == 3)
    // a declared field of the wrong type counts as null for the rule,
    // whether it is read or only token-checked
    val typed = write(Seq("""{"n":"abc","other":1}""", """{"n":7,"referrer":null}"""))
    assert(read(typed).count() == 1)
    assert(read(typed).select("referrer").collect().toSeq == Seq(Row(null)))
    assert(read(typed).select("n").collect().toSeq == Seq(Row(7L)))
  }

  test("a nested value under a declared field is null and skipped whole, in every projection") {
    val path = write(Seq("""{"referrer":{"n":5,"adId":"inner"},"adId":"a1"}"""))
    assert(read(path).collect().toSeq == Seq(Row(null, "a1", null)))
    assert(read(path).select("n").collect().toSeq == Seq(Row(null)))
    assert(read(path).count() == 1)
  }

  test("invalid UTF-8 inside a string value keeps the row, decoded with U+FFFD") {
    def u(s: String) = s.getBytes(StandardCharsets.UTF_8)
    def raw(bs: Int*) = bs.map(_.toByte).toArray
    // an overlong NUL and a code point past U+10FFFF: Jackson's byte
    // decoder reads them as other characters, a UTF-8 decode replaces them
    val bad = raw(0xC0, 0x80, 0xF4, 0x90, 0x80, 0x80)
    val path = writeBytes(Array.concat(
      u("""{"referrer":"r"""), raw(0xFF), u("""x","n":1}""" + "\n"),
      u("""{"adId":"a"""), bad, u("""b","n":2}""" + "\n"),
      u("noise"), raw(0xFF), u("""{"referrer":"ok","n":3}""")))
    val rows = read(path).orderBy($"n").collect()
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).getAs[String]("referrer") == "r\uFFFDx")
    assert(rows(1).getAs[String]("adId") == new String(u("a") ++ bad ++ u("b"), StandardCharsets.UTF_8))
    assert(rows(1).getAs[String]("adId").startsWith("a\uFFFD"))
    assert(rows(2).getAs[String]("referrer") == "ok")
  }

  test("a line longer than the read buffer, alone and across splits") {
    val big = "x" * (3 * JsonLogPartitionReader.initialBufferBytes(Long.MaxValue) / 2)
    val path = write(Seq("""{"n":1}""", s"""noise {"referrer":"$big","n":2}""", """{"n":3}"""))
    for (split <- Seq(None, Some("40000"))) {
      val rows = read(path, split.map("maxSplitBytes" -> _).toMap).orderBy($"n").collect()
      assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(1L, 2L, 3L), s"split $split")
      assert(rows(1).getAs[String]("referrer") == big, s"split $split")
    }
  }

  test("property: random noisy logs give one row multiset per projection, split size and entry point") {
    val multiByte = Seq("é", "日本", "😀", "ü")
    val text: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.oneOf(multiByte),
      1 -> Gen.oneOf("\\\"", "\\\\", "\\u00e9", " "))).map(_.take(8).mkString)
    val noise: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.oneOf(multiByte),
      2 -> Gen.oneOf("}", " ", ":", "]", "\"", "\t"))).map(_.take(6).mkString)
    // declared fields: referrer/adId strings, n a long
    val field: Gen[String] = Gen.oneOf(
      text.map(t => s""""referrer":"$t""""), text.map(t => s""""adId":"$t""""),
      Gen.choose(-1000L, 1000L).map(n => s""""n":$n"""),
      Gen.choose(0, 99).map(n => s""""referrer":$n"""), // a number read as a string
      Gen.oneOf(""""referrer":null""", """"n":null""", """"n":"abc"""", """"n":1.5"""),
      text.map(t => s""""ua":"$t""""), Gen.const(""""ctx":{"n":1,"adId":[1,{"x":"y"}]}"""))
    val obj: Gen[String] = for {
      k <- Gen.choose(0, 4)
      fs <- Gen.listOfN(k, field)
      // one occurrence per key: a duplicated key is outside the contract
      uniq = fs.groupBy(_.takeWhile(_ != ':')).values.map(_.head).toSeq
    } yield uniq.mkString("{", ",", "}")
    val line: Gen[String] = Gen.frequency(
      10 -> Gen.zip(noise, obj).map { case (a, b) => a + b },
      2 -> noise, // no '{' at all, or empty
      2 -> Gen.zip(noise, obj, Gen.choose(1, 20)).map { case (a, b, cut) =>
        a + b.dropRight(math.min(cut, b.length - 1)) }) // truncated payload
    val longLine = Gen.zip(noise, text).map { case (a, t) =>
      a + s"""{"referrer":"${"L" * 260}$t","n":9}""" }
    val files: Gen[Array[Byte]] = for {
      ls <- Gen.choose(1, 6).flatMap(Gen.listOfN(_, line))
      long <- longLine
      at <- Gen.choose(0, ls.length)
      crlf <- Gen.listOfN(ls.length + 1, Gen.prob(0.3))
      finalNewline <- Gen.prob(0.5)
    } yield {
      val all = ls.patch(at, Seq(long), 0)
      val ends = crlf.map(if (_) "\r\n" else "\n")
      all.indices.map(i => all(i) + (if (i < all.length - 1 || finalNewline) ends(i) else ""))
        .mkString.getBytes(StandardCharsets.UTF_8)
    }
    assert(("L" * 260).length > JsonLogPartitionReader.initialBufferBytes(256))

    val prop = Prop.forAllNoShrink(files, Gen.oneOf(schema.fieldNames.toSeq)) { (bytes, col) =>
      val path = writeBytes(bytes)
      val expected = bag(JsonLogs.parse(spark.read.text(path), schema).collect().toSeq)
      val projected = expected.toSeq.map { case (r, n) => Seq(r(schema.fieldIndex(col))) -> n }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      val checks = Seq(1L, 7L, 64L, 256L, bytes.length.toLong).flatMap { split =>
        val opts = Map("maxSplitBytes" -> split.toString)
        Seq(
          (bag(read(path, opts).collect().toSeq) == expected) :| s"full read, split $split",
          (bag(read(path, opts).select(col).collect().toSeq) == projected) :| s"select($col), split $split",
          (read(path, opts).count() == expected.values.sum) :| s"count(), split $split")
      }
      Files.delete(java.nio.file.Paths.get(path))
      Prop.all(checks: _*) :| new String(bytes, StandardCharsets.UTF_8)
    }
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(10).withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}

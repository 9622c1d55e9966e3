package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** r10 VERDICT next #2: the ONLY discriminator between the six r10
  * driver-hash-red keys and the 262 green ones was the oracle's DuckDB
  * OUTPUT TYPE — `SUM(BIGINT)` and `//` products left uncast surface as
  * HUGEINT (int128), which the driver's hash canonicalization renders
  * differently from Spark's BIGINT even when every value is identical.
  * The local pandas replica coerces and can never see it (two keys
  * stayed driver-red for three rounds while the replica was green).
  *
  * This spec kills the class: it binds EVERY `SparkEntry.oracleSql`
  * through the same DuckDB the gate uses (`DESCRIBE` — bind-only, no
  * execution) and asserts no output column is HUGEINT / UHUGEINT /
  * DECIMAL. Fix sites wrap the final SELECT column in
  * `CAST(... AS BIGINT)` (every repo ratio is ppb-scaled ≤ 1e9 and
  * every cents sum ≪ 2^63, so the cast is always safe).
  */
class OracleTypeLintSpec extends AnyFunSuite with TempDirs {

  private val sfDir = sys.env.getOrElse("GRAFT_TEST_SF", "/root/testdata/sf0.001")

  private val pyScript =
    """import sys, json
      |import duckdb
      |sf_dir = sys.argv[1]
      |oracle = json.load(open(sys.argv[2]))
      |out_path = sys.argv[3]
      |con = duckdb.connect()
      |for t in ["region","nation","customer","supplier","part","orders",
      |          "lineitem","events","documents","embeddings"]:
      |    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
      |bad = {}
      |errs = {}
      |for name, sql in sorted(oracle.items()):
      |    try:
      |        cols = con.sql("DESCRIBE " + sql).fetchall()
      |        off = [f"{c[0]}:{c[1]}" for c in cols
      |               if any(k in c[1].upper() for k in ("HUGEINT", "DECIMAL"))]
      |        if off:
      |            bad[name] = off
      |    except Exception as e:
      |        errs[name] = str(e)[:300]
      |with open(out_path, "w") as f:
      |    json.dump({"bad": bad, "errs": errs}, f)
      |""".stripMargin

  // Verify.scala's escaper: control chars would break json.load.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  test("no oracle emits a HUGEINT/DECIMAL output column (driver hash gate)") {
    assume(Files.exists(Paths.get(sfDir, "lineitem.parquet")),
      s"testdata not present at $sfDir")
    val duckOk = try {
      new ProcessBuilder("python3", "-c", "import duckdb")
        .start().waitFor() == 0
    } catch { case _: Throwable => false }
    assume(duckOk, "python3+duckdb not available on this box")

    val dir = Paths.get(tempDir("oracle-type-lint"))
    val sqlJson = dir.resolve("oracle_sql.json")
    val py = dir.resolve("lint.py")
    Files.writeString(sqlJson,
      SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    Files.writeString(py, pyScript)

    // the verdict rides a temp FILE, not merged stdout: stray duckdb/
    // python chatter on the final stdout line previously failed the
    // string-match with a confusing message instead of a lint verdict
    val verdict = dir.resolve("verdict.json")
    val pb = new ProcessBuilder(
      "python3", py.toString, sfDir, sqlJson.toString, verdict.toString)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    assert(rc == 0, s"lint script failed (rc=$rc):\n${out.take(2000)}")

    val line = Files.readString(verdict)
    // minimal parse: both maps must be empty -> {"bad": {}, "errs": {}}
    assert(line.replaceAll("\\s+", "") == """{"bad":{},"errs":{}}""",
      s"""oracle output-type lint found offenders (wrap the final SELECT
         |column in CAST(... AS BIGINT); a bare SUM(BIGINT) or `//`
         |product is HUGEINT in DuckDB and fails the driver hash):
         |$line""".stripMargin)
  }
}

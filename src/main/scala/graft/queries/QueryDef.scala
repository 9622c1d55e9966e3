package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A named query: the Spark plan plus (when SQL-expressible) the DuckDB
  * oracle the driver hash-compares against.
  *
  * Oracle-parity rules (see SURVEY.md §6):
  *  - identical output column names on both sides;
  *  - explicit total ORDER BY on both sides;
  *  - money math in exact DECIMAL(18,2), cast to DOUBLE only at the
  *    end — both engines then produce bit-identical doubles;
  *  - ratio columns as a single double division of identical operands;
  *  - integer division: Spark `div`, Scala Long/BigInt `/`, and
  *    DuckDB's integer `//` ALL truncate toward zero (measured:
  *    CAST(-7 AS HUGEINT) // 2 = -3) — never use floorDiv/floorMod on
  *    a recurrence whose operands can go negative.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** headline queries run in Bench */
    bench: Boolean = false)

object QueryDef {
  /** Exact 2-dp decimal view of a double money column. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Final exact-decimal → double conversion (deterministic both engines). */
  def dbl(c: Column): Column = c.cast("double")

  /** Exact integer-cents view of a 2-dp money column: `round(x*100)` as
    * long. Integer aggregation stays in whole-stage codegen (~2.5x the
    * throughput of decimal sums here) and is exact, so the final
    * int→double conversion is bit-identical in Spark and DuckDB. */
  def cents(c: Column): Column = round(c * 100).cast("long")
  /** Integer percent view of a 2-dp rate column (discount/tax). */
  def pct(c: Column): Column = round(c * 100).cast("long")
}

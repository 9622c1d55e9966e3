package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The `from_json` reading of the noisy JSON-lines log format, kept as
  * the reference that `CtrSpec` and `JsonLogSourceSpec`'s property check
  * the `graft-jsonlog` source against (the source is the one ingest
  * path in the engine).
  *
  * The reference mapper strips any garbage before the first '{' of each
  * log line before parsing (ClickThru.java:97-98:
  * `valueString.substring(valueString.indexOf("{"))`). Here that is a
  * single codegen'd expression over a string column — `from_json` on
  * the substring — so parsing stays inside whole-stage codegen and the
  * JSON reader never sees the noise prefix.
  */
object JsonLogs {

  /** Strip everything before the first '{'; null when no '{' at all. */
  def jsonPayload(c: Column): Column =
    when(instr(c, "{") > 0, substring_index_from(c)).otherwise(lit(null))

  private def substring_index_from(c: Column): Column =
    c.substr(instr(c, "{"), length(c))

  /** Parse a DataFrame of raw log lines (column `col`) into `schema`.
    * Unparseable lines are dropped (the reference throws instead —
    * at 100 TB a poison line must not kill the job).
    */
  def parse(raw: DataFrame, schema: StructType, col: String = "value"): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    // `select(j.*)` would let Catalyst rewrite each output column into
    // its own copy of from_json — parsing every line once per field.
    // `inline` is a generator: ONE from_json evaluation per row, all
    // fields emitted together.
    val parsed = raw.select(inline(array(from_json(jsonPayload(raw(col)), schema))))
    // PERMISSIVE from_json yields all-null fields for malformed
    // payloads — drop those rows (the reference throws instead; at
    // 100 TB a poison line must not kill the job).
    parsed.filter(schema.fields.map(f => c(f.name).isNotNull).reduce(_ || _))
  }
}

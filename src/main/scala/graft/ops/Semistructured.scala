package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-structured (JSON-string) column handling — every event pipeline
  * carries a `props` payload that arrives as text. Extraction uses
  * `from_json` with an EXPLICIT schema: schema inference on a streaming
  * or 100 TB batch path is a full extra pass over the data and a schema
  * race under evolution; an explicit DDL string is one projection,
  * codegen'd, and malformed rows surface as nulls (never exceptions) —
  * the PERMISSIVE contract.
  */
object Semistructured {

  /** Typed per-group stats over one numeric JSON property: count,
    * null/malformed count, exact integer sum/min/max. All-integer
    * outputs — engine-exact. */
  def jsonPropStats(df: DataFrame, jsonCol: String, prop: String,
      groupCol: String): DataFrame = {
    // try_cast, not cast: a non-numeric property value must count as
    // missing, not kill the job under ANSI semantics
    val v = get_json_object(col(jsonCol), s"$$.$prop").try_cast("long")
    df.select(col(groupCol), v.as("__v"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum("__v").as("sum_v"),
        min("__v").as("min_v"),
        max("__v").as("max_v"))
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lambda-extension log-batch transform (SURVEY §2 B3/B5).
  *
  * The reference's Firehose transformer receives a base64 JSON array of
  * {time, type, record} entries and keeps only type=="function" records
  * (reference: lib/computes/lambda/transformer/index.js:7-12). Spark-first
  * that is from_json → explode → filter — all codegen'd, no UDF — and it
  * generalizes from "one Lambda batch" to "a 100 TB table of batches".
  */
object LambdaLogs {

  /** Minimal-schema parse of a batch's {time, type, record} entries:
    * the transform filter/split below never reads `time`, and from_json
    * skips fields absent from the schema without materializing them —
    * Jackson still tokenizes the text once, but per-entry struct width
    * (and the exploded row width) halves.
    */
  val typeRecordSchema: ArrayType = ArrayType(StructType(Seq(
    StructField("type", StringType),
    StructField("record", StringType))))

  /** Keep only function-log entries of an exploded batch —
    * the reference transformer's filter.
    */
  def isFunctionEntry(entry: Column): Column = entry.getField("type") === "function"

  /** B5 — a function record is tab-separated:
    * `<iso-ts>\t<requestId>\t<LEVEL>\t<message>` (README.md:119).
    */
  def recordField(entry: Column, idx: Int): Column =
    element_at(split(entry.getField("record"), "\t"), idx)

  /** DataFrame-level transform: batches(batchCol) → one row per
    * function-log entry with req_id/level/msg columns.
    */
  def functionLogs(df: DataFrame, batchCol: String): DataFrame =
    df.withColumn("entry", explode(from_json(col(batchCol), typeRecordSchema)))
      .filter(isFunctionEntry(col("entry")))
      .select(
        df.columns.filter(_ != batchCol).map(col).toSeq :+
          recordField(col("entry"), 2).as("req_id") :+
          recordField(col("entry"), 3).as("level") :+
          recordField(col("entry"), 4).as("msg"): _*)
}

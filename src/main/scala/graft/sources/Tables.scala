package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Batch loaders for the driver-generated parquet tables.
  *
  * Plays the role of the reference's delivery streams + indexes
  * (reference: lib/common/utils.ts:40-83 — one Firehose stream per
  * source, one OpenSearch index per stream): here every source is a
  * parquet table; Catalyst handles column pruning + filter pushdown so
  * analytics only read the bytes they need — the property that matters
  * at 100 TB.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS) which Spark rejects; with
    * spark.sql.legacy.parquet.nanosAsLong=true (set by every graft
    * session) it arrives as LongType nanos — convert to micros
    * TimestampType here. `div` keeps the arithmetic integral (nanos
    * exceed 2^53, double division would lose precision).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // micros-precision parquet reads as TIMESTAMP_NTZ; normalize to the
      // session-zone TIMESTAMP (UTC everywhere in this library) so every
      // operator sees one timestamp type regardless of how the writer
      // encoded the column (NTZ→LTZ cast is interpretation, not arithmetic)
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _        => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Widen to compute parallelism ONLY when the plan is narrower —
    * per-row CPU kernels (regex batteries, sketches, pairwise scoring)
    * must not inherit a single-file scan's one-task parallelism, but a
    * 100 TB scan that already has thousands of splits must NOT be
    * re-shuffled just to run a kernel.
    *
    * Width is read from the NON-adaptive physical plan's lazily-built
    * RDD lineage: unlike `df.rdd` (which goes through the AQE-wrapped
    * executedPlan and eagerly runs any upstream shuffle stages), building
    * `sparkPlan`'s RDD submits no job — exchanges become unmaterialized
    * ShuffledRowRDDs. Callers pass scan-rooted frames, so the count is
    * the file-split count.
    */
  def atComputeParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val width = df.queryExecution.sparkPlan.execute().getNumPartitions
    if (width >= target) df else df.repartition(target)
  }
}

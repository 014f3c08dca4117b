package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A19 — ingest self-monitoring (SURVEY §2): the streaming analogue of
  * the reference's Firehose delivery-stream health logging
  * (lib/common/utils.ts:60-64 `cloudWatchLoggingOptions` — every
  * delivery stream reports its own throughput/failure telemetry).
  * Batch plans already have `_profile` (operators/Profiler.scala); this
  * is the same surface for STREAMING queries: a
  * [[StreamingQueryListener]] captures every micro-batch's progress
  * event into a bounded in-memory ring, queryable as a DataFrame — the
  * `_cat/streams` a pipeline operator reads first (rows/sec, batch
  * duration, watermark lag, state size), and persistable to parquet for
  * the fleet-wide rollup.
  *
  * Scale shape: the listener runs on the DRIVER and records one tiny
  * row per (query, micro-batch) — cost is independent of data volume;
  * the ring cap bounds memory for month-long queries. `snapshot` builds
  * a local DataFrame (parallelize over ≤cap rows), so reading the
  * metrics never touches the executors' data path.
  */
final class IngestMetrics(spark: SparkSession, capacity: Int = 4096)
    extends StreamingQueryListener {
  import IngestMetrics.ProgressRow

  private val buf = new java.util.ArrayDeque[ProgressRow]()

  def attach(): this.type = { spark.streams.addListener(this); this }
  def detach(): Unit = spark.streams.removeListener(this)

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val watermark = Option(p.eventTime)
      .flatMap(m => Option(m.get("watermark"))).getOrElse("")
    val stateRows = Option(p.stateOperators)
      .map(_.map(_.numRowsTotal).sum).getOrElse(0L)
    val row = ProgressRow(
      query_name = Option(p.name).getOrElse(""),
      run_id = p.id.toString,
      batch_id = p.batchId,
      ts = java.sql.Timestamp.from(java.time.Instant.parse(p.timestamp)),
      num_input_rows = p.numInputRows,
      input_rows_per_sec =
        if (p.inputRowsPerSecond.isNaN) 0.0 else p.inputRowsPerSecond,
      processed_rows_per_sec =
        if (p.processedRowsPerSecond.isNaN) 0.0 else p.processedRowsPerSecond,
      batch_duration_ms = p.batchDuration,
      watermark = watermark,
      state_rows = stateRows)
    buf.synchronized {
      buf.addLast(row)
      while (buf.size > capacity) buf.removeFirst()
    }
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** The queryable metrics table: one row per observed micro-batch,
    * with the watermark's lag behind the batch's own wall clock
    * derived in place (the first thing an operator pages on).
    */
  def snapshot(s: SparkSession): DataFrame = {
    import s.implicits._
    val rows = buf.synchronized { buf.asScala.toVector }
    rows.toDF()
      .withColumn("watermark_lag_sec",
        when(col("watermark") =!= "",
          unix_timestamp(col("ts")) -
            unix_timestamp(to_timestamp(col("watermark")))))
  }
}

object IngestMetrics {
  final case class ProgressRow(
      query_name: String,
      run_id: String,
      batch_id: Long,
      ts: java.sql.Timestamp,
      num_input_rows: Long,
      input_rows_per_sec: Double,
      processed_rows_per_sec: Double,
      batch_duration_ms: Long,
      watermark: String,
      state_rows: Long)
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** A14 — materialized rollup / transform store (SURVEY §2).
  *
  * OpenSearch's ISM rollup and Transforms API continuously aggregate a
  * raw index into a SMALL summary index that dashboards query for long
  * retention (the operational complement of the daily rotation —
  * reference README.md:30: per-day indexes exist so old raw data can
  * age out while summaries stay queryable). Spark-first re-expression:
  *
  *  - Each micro-batch computes its own PARTIAL aggregate (date-hour
  *    histogram × terms buckets) — corpus rows never land in the
  *    summary store, only bucket partials, so the store is
  *    buckets-per-epoch sized.
  *  - Partials persist via the A5b epoch-idempotent layout
  *    (`epoch=batchId`, whole-directory static overwrite): a
  *    redelivered batch REPLACES its own partials instead of
  *    double-counting — exactly-once on top of foreachBatch's
  *    at-least-once.
  *  - The summary read is merge-on-read: re-aggregate the partials.
  *    This only works because every stored metric is DECOMPOSABLE
  *    (count/sum/min/max merge by sum/sum/min/max) — the same
  *    constraint real rollup jobs carry (non-mergeable metrics need
  *    sketches; see plans/Sketches for the HLL/heavy-hitter forms).
  *  - Compaction folds many epoch partials into one under a NEW root
  *    (build-new-then-swap, crash-safe — an A12 alias repoints readers
  *    atomically; a crash mid-compact leaves the old root untouched).
  *
  * Scale shape: the per-batch aggregate is map-side combined into at
  * most (hours × terms) rows; the summary query reads partials only —
  * at 100 TB the dashboard never rescans raw history, it reads
  * buckets × epochs rows, and compaction keeps epochs bounded.
  */
object RollupStore {

  /** Partial rollup of one micro-batch of events
    * (ts, event_type, value), written epoch-idempotently. Sums run in
    * exact integer cents so merge order can never change a result.
    */
  def rollupBatch(batch: DataFrame, root: String, batchId: Long): Unit =
    batch
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .parquet(s"$root/epoch=$batchId")

  /** Continuous maintenance: every micro-batch folds its partials into
    * the store. AvailableNow for the spec harness; a production stream
    * would use a processing-time trigger.
    */
  def startRollup(events: DataFrame, root: String,
                  checkpointDir: String): StreamingQuery =
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        rollupBatch(batch, root, batchId)
      }
      .start()

  /** Merge-on-read summary: re-aggregate the epoch partials. Equals
    * the same aggregate over the raw stream's full history — the
    * parity `q_rollup_read`'s oracle and StreamingSpec prove.
    */
  def readSummary(spark: SparkSession, root: String): DataFrame =
    Parquet.read(spark, root)
      .groupBy(col("hour"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("value_cents")).as("value_cents"),
        min(col("value_min")).as("value_min"),
        max(col("value_max")).as("value_max"))

  /** Fold all epoch partials into a single epoch under `dstRoot`.
    * Build-new-then-swap: the caller repoints its A12 alias at
    * `dstRoot` after this returns; a crash mid-compact leaves the live
    * root untouched (no in-place delete-then-merge window).
    */
  def compactInto(spark: SparkSession, root: String, dstRoot: String): Unit =
    readSummary(spark, root).write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .parquet(s"$dstRoot/epoch=0")

  // ---- memoized batch build for the driver's query entry -------------

  /** Build the rollup store for `dir`'s events table once, through the
    * real epoch write path: the table is split into 4 synthetic
    * micro-batches (event_id mod — every bucket receives partials from
    * several epochs, so the merge path is genuinely exercised), each
    * written via [[rollupBatch]]. The store is marked complete after
    * ALL epochs ([[Scratch.ensure]]) — a half-built store is rebuilt,
    * never read.
    */
  def ensureRollup(spark: SparkSession, dir: String, nEpochs: Int = 4): String =
    Scratch.ensure(spark, "rollup-v1", dir, "events.parquet", nEpochs) { path =>
      val ev = Tables.events(spark, dir)
        .select(col("ts"), col("event_type"), col("value"), col("event_id"))
      (0 until nEpochs).foreach { e =>
        rollupBatch(ev.filter(pmod(col("event_id"), lit(nEpochs)) === e), path, e.toLong)
      }
    }

  /** ★ `q_rollup_read` — the dashboard query against the SUMMARY store
    * (hourly histogram × event_type terms). The DuckDB oracle computes
    * the same aggregate from the RAW table, so the green row IS the
    * rollup-parity proof: merge-on-read over epoch partials must equal
    * the full raw aggregate, bit-for-bit in exact cents.
    */
  def rollupRead(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureRollup(spark, dir)
    readSummary(spark, root)
      .select(col("hour"), col("event_type"), col("n"), col("value_cents"),
        round(col("value_min"), 2).as("value_min"),
        round(col("value_max"), 2).as("value_max"))
      .orderBy(col("hour"), col("event_type"))
  }

  val rollupReadSql: String =
    """SELECT date_trunc('hour', ts) AS hour, event_type,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  round(min(value), 2) AS value_min,
      |  round(max(value), 2) AS value_max
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour, event_type""".stripMargin
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.functions.{ApacheErrorLog, ApacheLog, NginxErrorLog}
import graft.plans.RegexGroups
import graft.sources.EpochWriter
import graft.sources.EpochWriter.Route

/** Structured-Streaming log pipeline (SURVEY §2 A3–A5, C10–C11).
  *
  * The Spark-native form of the reference's delivery path: Kinesis
  * Firehose streams per compute source + transformer Lambda + daily
  * index rotation + failed-documents S3 backup (reference:
  * lib/common/utils.ts:40-83). Here:
  *  - the file stream source stands in for Kinesis (same micro-batch
  *    semantics; swap `readStream.text` for a Kinesis/Kafka source in
  *    production — the transform/sink graph is unchanged);
  *  - the parse battery is the transformer;
  *  - `partitionBy(log_date, source)` is the daily index rotation —
  *    date-pruned reads at query time;
  *  - unparseable lines go to a dead-letter sink instead of silently
  *    dropping (the FailedDocumentsOnly S3 backup).
  */
object LogPipeline {

  /** Raw stream: one row per log line with its `source`
    * (ec2/ecs/eks/lambda). Delegates to the [[FileLines]] binding —
    * swap any other [[StreamSource]] (MemoryLines, KafkaLines) and the
    * rest of the graph is unchanged.
    */
  def rawStream(spark: SparkSession, inDir: String): DataFrame =
    FileLines(inDir).load(spark)

  /** Transform stage — the full wire-shape dispatch, per row:
    *
    *  1. envelope unwrap by source: ECS stdout arrives in a FireLens
    *     JSON envelope and EKS in the Fluent Bit kubernetes envelope
    *     (reference ecs.ts:36 / eks-fargate-logging.ts); their inner
    *     `log` line and container metadata are peeled out, EC2/lambda
    *     lines pass through;
    *  2. format dispatch on the (inner) line: access_log vs Apache
    *     error_log vs NGINX error_log (the EKS workload is NGINX —
    *     reference lib/computes/eks/nginx-service.ts) — the agents ship
    *     all of them into one stream; error lines become typed rows
    *     (level/msg populated, access fields null), not DLQ entries;
    *  3. lines matching neither grammar keep their FULL original
    *     payload (envelope included) for the dead-letter sink.
    *
    * Each grammar's [[graft.plans.RegexGroups]] match is selected once
    * and both its validity and its fields are read from it, and a
    * grammar is tried only when the ones before it failed: an access
    * line is matched once, an error line twice. All of it is codegen'd
    * projections — no shuffle, no UDF.
    */
  def transformed(raw: DataFrame): DataFrame =
    raw
      .withColumn("_fl",
        when(col("source") === "ecs", graft.sources.Envelopes.parseFirelens(col("value"))))
      .withColumn("_fb",
        when(col("source") === "eks", graft.sources.Envelopes.parseFluentBit(col("value"))))
      .withColumn("inner",
        coalesce(col("_fl.log"), col("_fb.log"), col("value")))
      .withColumn("_a", ApacheLog.groups(col("inner")))
      .withColumn("access_ok", RegexGroups.matched(col("_a")))
      .withColumn("_e", when(!col("access_ok"), ApacheErrorLog.groups(col("inner"))))
      .withColumn("error_ok", !col("access_ok") && RegexGroups.matched(col("_e")))
      .withColumn("_n",
        when(!col("access_ok") && !col("error_ok"), NginxErrorLog.groups(col("inner"))))
      .withColumn("nginx_ok",
        !col("access_ok") && !col("error_ok") && RegexGroups.matched(col("_n")))
      .withColumn("valid", col("access_ok") || col("error_ok") || col("nginx_ok"))
      .withColumn("p", when(col("access_ok"), ApacheLog.fromGroups(col("_a"))))
      .withColumn("e", when(col("error_ok"), ApacheErrorLog.fromGroups(col("_e"))))
      .withColumn("ng", when(col("nginx_ok"), NginxErrorLog.fromGroups(col("_n"))))
      .select(
        col("value").as("line"), col("source"), col("valid"),
        when(col("access_ok"), "access")
          .when(col("error_ok"), "error")
          .when(col("nginx_ok"), "nginx_error").as("format"),
        coalesce(col("_fl.container_name"), col("_fb.kubernetes.container_name"))
          .as("container"),
        coalesce(col("_fl.source"), col("_fb.stream")).as("stream"),
        coalesce(col("p.ts"), col("e.ts"), col("ng.ts")).as("ts"),
        coalesce(col("p.ip"), col("e.client_ip"), col("ng.client_ip")).as("ip"),
        col("p.verb").as("verb"), col("p.path").as("path"),
        col("p.proto").as("proto"), col("p.status").as("status"),
        col("p.bytes").as("bytes"), col("p.referrer").as("referrer"),
        col("p.agent").as("agent"),
        coalesce(col("e.level"), col("ng.level")).as("level"),
        coalesce(col("e.msg"), col("ng.msg")).as("msg"))
      .withColumn("log_date", to_date(col("ts")))

  /** C49 streaming arm — percolate the parsed stream against a static
    * stored-rule table (stream-static join, rule side broadcast; as in
    * the batch operator the term predicate is the equi key and the
    * status band rides as a join residual). One alert row per
    * (matching rule, event), append mode — stateless, no watermark.
    * Rule schema: (rule_id, r_verb, min_status, max_status).
    */
  def percolateStream(parsed: DataFrame, rules: DataFrame): DataFrame =
    parsed.filter(col("format") === "access")
      .join(broadcast(rules),
        col("verb") === col("r_verb") &&
        col("status") >= col("min_status") && col("status") < col("max_status"))
      .select(col("rule_id"), col("ts"), col("ip"), col("path"), col("status"))

  /** C49c — alert action throttling (OpenSearch alerting's
    * `throttle_enabled`/`period`: a monitor that keeps matching does
    * NOT re-notify for the same key until the period elapses —
    * without it every 500-spike pages once per log line). Spark-first:
    * the throttle is streaming state, not a join — watermarked
    * `dropDuplicatesWithinWatermark` on (rule_id, ip) keeps first-fire
    * state exactly as long as the period requires and expires it with
    * the watermark; state size is bounded by active (rule, key) pairs
    * in the window, shard-partitioned by key like all stateful ops.
    */
  def throttledAlerts(parsed: DataFrame, rules: DataFrame,
                      period: String = "10 minutes"): DataFrame =
    percolateStream(parsed, rules)
      .withWatermark("ts", period)
      .dropDuplicatesWithinWatermark(Seq("rule_id", "ip"))

  /** A3–A5 + A5b: start the ingest query. Each micro-batch is ONE
    * Spark job through the EPOCH-IDEMPOTENT sink (the default path, not
    * an opt-in, [[graft.sources.EpochWriter]]): its tasks read the
    * parsed batch once and route each row by `valid` — parsed rows →
    * `logs/epoch=<batchId>/log_date=…/source=…` ("the index"),
    * unparseable rows → `dlq/epoch=<batchId>`. Nothing is persisted:
    * the parse runs once because both outputs come from the same task
    * pass. Each output's Hadoop conf is broadcast once per batch, the
    * files are staged under a hidden dir and each epoch dir is
    * committed by one rename. A crash-redelivered batch re-runs with
    * the same batchId and REPLACES its own epoch directories instead of
    * appending beside them, so the default delivery contract is
    * exactly-once into the store (the posture of the reference's
    * Firehose→index path, utils.ts:68). Readers see `epoch` as one more
    * partition column; `LogStore.compact` folds epochs into the plain
    * date layout on its own schedule.
    *
    * `trigger` and `maxFilesPerTrigger` are the Firehose buffering
    * hints re-expressed (utils.ts:69-72's 60 s / 1 MB): a
    * processing-time trigger sets the latency floor, the per-trigger
    * file cap bounds micro-batch size on backlog catch-up.
    */
  def startIngest(spark: SparkSession, inDir: String, outDir: String,
                  checkpointDir: String,
                  trigger: Trigger = Trigger.AvailableNow(),
                  maxFilesPerTrigger: Option[Int] = None): StreamingQuery =
    transformed(FileLines(inDir, maxFilesPerTrigger).load(spark)).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val parsed = batch.columns.filterNot(Set("valid", "line")).toSeq
        val deadLetters = Route(s"$outDir/dlq", !col("valid"), Seq("source", "line"))
        // A5c: bounded-retry delivery; each attempt is the whole one-job
        // write, and a batch the store refuses lands (with the error) in
        // the delivery dead-letter area instead of stalling the stream
        deliverWithRetry(batch) { b =>
          EpochWriter.write(b, batchId, Seq(
            Route(s"$outDir/logs", col("valid"), parsed, Seq("log_date", "source")),
            deadLetters))
        } { (b, e) =>
          EpochWriter.write(
            b.withColumn("delivery_error",
              lit(Option(e.getMessage).getOrElse(e.getClass.getName))),
            batchId, Seq(
              Route(s"$outDir/delivery_dlq", col("valid"), parsed :+ "delivery_error"),
              deadLetters))
        }
        ()
      }
      .start()

  /** A5c — delivery-failure dead-lettering (the OTHER half of the
    * reference's failure handling: A5's DLQ catches PARSE failures,
    * while Firehose `retryOptions` + `s3BackupMode:
    * 'FailedDocumentsOnly'` (utils.ts:57-68) also catch DELIVERY
    * failures — a sink that refuses the write). Bounded retries with
    * linear backoff; a batch that still fails is diverted WHOLE to the
    * dead-letter writer so the stream keeps moving and nothing is
    * silently dropped. Returns true when the primary write landed. If
    * the dead-letter write itself fails, the exception propagates —
    * the micro-batch fails and the checkpoint replays it, the correct
    * last resort.
    */
  def deliverWithRetry(batch: DataFrame, retries: Int = 2,
                       backoffMs: Long = 100L)
                      (write: DataFrame => Unit)
                      (deadLetter: (DataFrame, Throwable) => Unit): Boolean = {
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= retries) {
      // NonFatal only: an OutOfMemoryError or interrupt must FAIL the
      // micro-batch (checkpoint replay is the correct recovery), not be
      // retried and then buried in the dead-letter area as if it were a
      // sink refusal
      try { write(batch); return true }
      catch { case scala.util.control.NonFatal(e) =>
        lastErr = e
        attempt += 1
        if (attempt <= retries) {
          try Thread.sleep(backoffMs * attempt)
          catch { case ie: InterruptedException =>
            Thread.currentThread().interrupt(); throw ie }
        }
      }
    }
    deadLetter(batch, lastErr)
    false
  }

  /** A5b — idempotent micro-batch sink (exactly-once on top of
    * foreachBatch's at-least-once): a crashed batch RE-RUNS with the
    * same batchId, so a plain append duplicates its rows. The sink
    * keys the layout on `epoch=batchId` and replaces ONLY that epoch's
    * directory — redelivery replaces its own previous (maybe partial)
    * output instead of appending beside it, the standard
    * partition-by-batch-id idempotence pattern. Readers treat `epoch`
    * as one more partition column; downstream compaction (A8) folds
    * epochs into the date layout on its own schedule.
    *
    * The one-route call of [[graft.sources.EpochWriter]], which
    * `startIngest` uses for its two routes: one Spark job, the route's
    * Hadoop conf broadcast once, files staged under a hidden dir of
    * `root` and committed by deleting `epoch=batchId` and renaming the
    * staged dir into its place. It keeps the fold-aware prelude: a
    * batch at or below the root's fold watermark is a no-op, and a
    * folded root first re-homes its flat dirs under `epoch=-1`.
    */
  def idempotentBatchWrite(batch: DataFrame, root: String, batchId: Long,
                           partitionCols: Seq[String] = Seq("log_date")): Unit = {
    val dated =
      if (partitionCols.contains("log_date") && !batch.columns.contains("log_date"))
        batch.withColumn("log_date", to_date(col("ts")))
      else batch
    EpochWriter.write(dated, batchId,
      Seq(Route(root, lit(true), dated.columns.toSeq, partitionCols)))
  }

  /** A27s — STREAMING upserts into the document-identity store: the
    * continuous form of OpenSearch `_bulk` with `_id`s (index/update/
    * delete ops on identified documents). foreachBatch appends each
    * micro-batch as one upsert generation with `seq = batchId` —
    * monotone, so A27's latest-wins resolution gives the stream
    * UPDATE semantics over an append-only sink, and a crash-redelivered
    * batch rewrites the same seq (identical rows) instead of minting a
    * newer version: exactly-once OUTCOME from at-least-once delivery
    * without coordination. Rows with `op = 'delete'` become tombstones.
    * Contract: an id appears at most once per micro-batch (the _bulk
    * in-batch ordering case needs a row-level sub-sequence; upstream
    * dedup-last-wins inside `docs` is the standard pre-step).
    */
  def startUpsertIngest(spark: SparkSession, docs: DataFrame, outDir: String,
                        checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one append per micro-batch: each row's op sets its tombstone flag
        graft.sources.LogStore.upsertWrite(
          batch.withColumn("deleted", col("op") === "delete").drop("op"), outDir,
          seq = batchId, deleted = col("deleted"))
      }
      .start()

  /** C10: near-real-time dashboard aggregation — watermarked 5-minute
    * windows per (source, status).
    */
  def windowedCounts(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("source"), col("status"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("total_bytes"))

  /** C49d — aggregation monitor (the OpenSearch Alerting plugin's
    * bucket-level monitor: "alert when a window's error count crosses
    * the trigger threshold" — the other half of percolate's per-
    * document rules). Composes C10's watermarked window aggregate with
    * the trigger as a post-aggregation filter: state is the windowed
    * agg's (bounded by the watermark), the trigger itself is
    * stateless, and each closed window emits at most one alert row
    * per (source) — append-mode safe. severity derives from how far
    * past the threshold the window landed.
    */
  def aggregationMonitor(parsed: DataFrame, threshold: Long = 3): DataFrame =
    parsed
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("source"))
      .agg(sum(when(col("status") >= 500, 1L).otherwise(0L)).as("n_errors"))
      .filter(col("n_errors") >= threshold)
      .select(col("window.start").as("window_start"), col("source"),
        col("n_errors"),
        when(col("n_errors") >= 2 * threshold, "critical").otherwise("warning").as("severity"))

  /** C12s — stream-stream interval join: correlate each error with the
    * deploy (or config-change) marker that preceded it within the
    * window. Both sides watermarked so state is bounded; the join
    * condition is an equi-key + time interval, which Structured
    * Streaming executes with watermark-pruned state on both sides.
    */
  def errorsNearDeploys(errors: DataFrame, deploys: DataFrame,
                        within: String = "10 minutes",
                        watermarkDelay: String = "1 hour"): DataFrame = {
    val e = errors.withWatermark("ts", watermarkDelay)
    val d = deploys.withWatermark("deploy_ts", watermarkDelay)
    e.join(d,
      col("source") === col("deploy_source") &&
      col("ts") >= col("deploy_ts") &&
      col("ts") <= col("deploy_ts") + expr(s"INTERVAL $within"))
  }

  /** E1s — streaming exact dedup: drop re-deliveries of identical
    * content (Firehose retries, agent re-sends) inside the watermark
    * horizon. `dropDuplicatesWithinWatermark` keys state on the content
    * hash and EVICTS each key once the watermark passes it — bounded
    * state, unlike plain dropDuplicates whose state grows forever on an
    * unbounded stream. The batch twin is Dedup.exact.
    */
  def dedupStream(lines: DataFrame, delay: String = "10 minutes"): DataFrame =
    lines
      .withColumn("content_hash", md5(col("value")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_hash")

  // ---- E2s: streaming NEAR-dup (MinHash bands in state) --------------

  case class BandHit(doc_id: Long, ts: java.sql.Timestamp, sh: Seq[Long], band: Long)
  case class BandState(doc_id: Long, sh: Seq[Long])
  case class NearDup(doc_id: Long, dup_of: Long, band: Long, jaccard: Double)

  /** Exact Jaccard over the shingle-hash SETS both docs carry — the
    * same verification the batch path (Dedup.minhashPairsDf) applies
    * after band collision, so stream and batch agree on the accept cut.
    */
  private def jaccardSets(a: Seq[Long], b: Seq[Long]): Double = {
    val sa = a.toSet; val sb = b.toSet
    val inter = (sa & sb).size
    if (sa.isEmpty && sb.isEmpty) 0.0
    else inter.toDouble / (sa.size + sb.size - inter)
  }

  /** E2s — streaming near-dup detection, the stateful twin of E2's
    * MinHash+LSH: each arriving doc explodes to its LSH band keys; per
    * band key, state anchors the FIRST doc seen (id + shingle set),
    * and later docs colliding on that band verify exact Jaccard
    * against the anchor — ≥ `threshold` emits a NearDup row. This is
    * the streaming contract a dedup-at-ingest stage needs: re-sends
    * and boilerplate copies are flagged against the anchor WITHIN the
    * event-time horizon, and band states older than the horizon are
    * EVICTED via event-time timeout — bounded state on an unbounded
    * stream, the E1s property lifted from exact to near-dup. A doc
    * colliding in several bands emits one row per matching band;
    * downstream consumers take any (they agree on dup_of per anchor).
    *
    * Scale: state is O(#live band keys) with 8-byte-per-shingle
    * anchors; per-event work is bands × (state probe + one set
    * intersection) — no pairwise corpus work, same as the batch path's
    * bucket bound.
    */
  def nearDupFn(threshold: Double, horizonMs: Long)(
      band: Long, rows: Iterator[BandHit],
      state: GroupState[BandState]): Iterator[NearDup] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val sorted = rows.toSeq.sortBy(_.doc_id) // deterministic within a batch
    val out = Seq.newBuilder[NearDup]
    var maxTs = 0L
    sorted.foreach { r =>
      maxTs = math.max(maxTs, r.ts.getTime)
      state.getOption match {
        case Some(s) if s.doc_id != r.doc_id =>
          val j = jaccardSets(s.sh, r.sh)
          if (j >= threshold)
            out += NearDup(r.doc_id, s.doc_id, band, math.round(j * 10000) / 10000.0)
        case Some(_) => () // re-delivery of the anchor itself
        case None => state.update(BandState(r.doc_id, r.sh))
      }
    }
    if (state.exists) state.setTimeoutTimestamp(maxTs + horizonMs)
    out.result().iterator
  }

  def nearDupStream(spark: SparkSession, docs: DataFrame,
                    threshold: Double = 0.7,
                    delay: String = "10 minutes",
                    horizonMs: Long = 10 * 60 * 1000L): Dataset[NearDup] = {
    import spark.implicits._
    import graft.functions.HashFns
    docs // expects (doc_id, ts, text)
      .select(col("doc_id"), col("ts"),
        HashFns.shingleHashSet(col("text"), 3).as("sh"))
      .withColumn("sig", HashFns.minhashSignature(col("sh"), 64))
      .select(col("doc_id"), col("ts"), col("sh"),
        explode(HashFns.bandKeys(col("sig"), 16, 4)).as("band"))
      .withWatermark("ts", delay)
      .as[BandHit]
      .groupByKey(_.band)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        nearDupFn(threshold, horizonMs))
  }

  // ---- C11: stateful streaming sessionization ------------------------

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_events: Long,
                        session_value: Double)

  val sessionGapMs: Long = 30 * 60 * 1000L

  /** Per-user gap sessionization with explicit state — the streaming
    * twin of LogAnalytics.sessionize. Emits a session when a gap larger
    * than 30 min closes it; the open session rides in GroupState.
    * State is O(1) per user — safe at any key cardinality.
    */
  def sessionizeFn(userId: Long, events: Iterator[Ev],
                   state: GroupState[SessionState]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(_.ts.getTime)
    var cur = state.getOption
    val out = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.last <= sessionGapMs =>
          cur = Some(s.copy(last = t, n = s.n + 1, total = s.total + e.value))
        case Some(s) =>
          out += SessionOut(userId, new java.sql.Timestamp(s.start),
            new java.sql.Timestamp(s.last), s.n, s.total)
          cur = Some(SessionState(t, t, 1, e.value))
        case None =>
          cur = Some(SessionState(t, t, 1, e.value))
      }
    }
    cur match {
      case Some(s) => state.update(s)
      case None    => ()
    }
    out.result().iterator
  }

  def sessionizeStream(spark: SparkSession, events: Dataset[Ev]): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionizeFn)
  }

  // ---- E13s: streaming token-budget gate -----------------------------

  case class BudgetDoc(lang: String, doc_id: Long, n_tokens: Long)
  case class BudgetOut(lang: String, doc_id: Long, accepted: Boolean, running_total: Long)

  /** E13s — the STREAMING face of E13b's token-budget mixture: a
    * continuously-ingesting pipeline admits documents per language
    * until that language's token budget fills, then rejects the rest —
    * the decision must be made at ingest time, so it is per-key STATE
    * (one running total per language), not a batch cumsum. Greedy in
    * doc_id order within each micro-batch for determinism; a doc is
    * admitted while the running total is under budget (E13b's fill
    * rule) and the admitted doc's tokens extend the total. State is
    * O(1) per language — bounded at any stream length.
    */
  def tokenBudgetFn(budget: Long)(lang: String, docs: Iterator[BudgetDoc],
                                  state: GroupState[Long]): Iterator[BudgetOut] = {
    var total = state.getOption.getOrElse(0L)
    val out = docs.toSeq.sortBy(_.doc_id).map { d =>
      val accept = total < budget
      if (accept) total += d.n_tokens
      BudgetOut(lang, d.doc_id, accept, total)
    }
    state.update(total)
    out.iterator
  }

  def tokenBudgetStream(spark: SparkSession, docs: Dataset[BudgetDoc],
                        budget: Long): Dataset[BudgetOut] = {
    import spark.implicits._
    docs
      .groupByKey(_.lang)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(tokenBudgetFn(budget))
  }

  // ---- C75s: streaming EQL sequence matcher --------------------------

  case class SeqEv(user_id: Long, ts: java.sql.Timestamp, event_type: String,
                   event_id: Long = 0L)
  /** -1 sentinels = unset. (s2us, s2start) is the latest COMPLETED
    * (view, click) prefix — exactly the struct the batch window max
    * carries in operators.EventCorrelation.eqlChain.
    */
  case class SeqState(s1: Long, s2us: Long, s2start: Long)
  case class SeqMatch(user_id: Long, t_view: java.sql.Timestamp,
                      t_click: java.sql.Timestamp, t_purchase: java.sql.Timestamp)

  val seqSpanMs: Long = 7L * 86400L * 1000L

  /** C75s — the streaming face of the C75 EQL sequence query: the same
    * latest-binding, whole-span-bounded state machine, with the prefix
    * state (latest view time; latest completed prefix and its start)
    * riding in GroupState — THREE longs per user, bounded at any key
    * cardinality. A detection can't wait for a batch re-scan; the match
    * fires in the micro-batch that completes the chain. Events sort by
    * time within a micro-batch; cross-batch order relies on the
    * source's per-key ordering (the partitioned-log contract), and the
    * state transition is identical to the batch window algebra, so
    * stream and batch agree micro-batch-exactly (spec-pinned).
    */
  def eqlSeqFn(userId: Long, events: Iterator[SeqEv],
               state: GroupState[SeqState]): Iterator[SeqMatch] = {
    var s = state.getOption.getOrElse(SeqState(-1L, -1L, -1L))
    val out = Seq.newBuilder[SeqMatch]
    // (ts, event_id) — the batch window's ORDER BY us, event_id tiebreak,
    // so same-timestamp events bind identically stream vs batch
    events.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val t = e.ts.getTime
      e.event_type match {
        case "view" =>
          if (t > s.s1) s = s.copy(s1 = t)
        case "click" =>
          // lexicographic (t, start) improvement == the batch struct max
          if (s.s1 >= 0 && t - s.s1 <= seqSpanMs &&
              (t > s.s2us || (t == s.s2us && s.s1 > s.s2start)))
            s = s.copy(s2us = t, s2start = s.s1)
        case "purchase" =>
          if (s.s2start >= 0 && t - s.s2start <= seqSpanMs)
            out += SeqMatch(userId, new java.sql.Timestamp(s.s2start),
              new java.sql.Timestamp(s.s2us), new java.sql.Timestamp(t))
        case _ => ()
      }
    }
    state.update(s)
    out.result().iterator
  }

  def eqlSequenceStream(spark: SparkSession, events: Dataset[SeqEv]): Dataset[SeqMatch] = {
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(eqlSeqFn)
  }

  /** C43s — windowed heavy hitters on the stream: the F7 Misra–Gries
    * sketch (graft.plans.FreqItemsAgg) as a watermarked window's
    * aggregation state. The sketch is MERGEABLE, so Structured
    * Streaming's incremental partial-merge execution preserves its
    * guarantee: any item with in-window frequency > n/k is in the
    * candidate set (no false negatives) — the per-window hot-keys
    * surface an ops dashboard reads live. Watermark bounds state to
    * open windows × k entries.
    */
  def windowedHeavyHitters(events: DataFrame, k: Int = 8): DataFrame = {
    val fi = graft.plans.FreqItemsAgg.udafFor(k)
    events.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(fi(col("item")).as("cands"))
      .select(col("window.start").as("window_start"),
        expr("transform(cands, c -> c._1)").as("candidates"))
  }

  /** E117s — streaming tool-call validation: the E117 audit as a
    * watermarked windowed aggregate, so a function-calling ingest
    * surfaces parse/truncation rates per (window, tool) WHILE data
    * lands instead of at the next batch audit. The per-call render +
    * validity flags are the SAME column expressions as the batch
    * operator (SftData.toolCallFlags) — stream/batch parity by
    * construction, asserted in StreamingSpec. Watermark bounds state;
    * each closed window emits once (append-safe).
    */
  def toolCallAuditStream(events: DataFrame): DataFrame =
    graft.operators.SftData.toolCallFlags(events)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("tool"))
      .agg(
        count(lit(1)).as("n_calls"),
        sum(col("parse_ok").cast("long")).as("n_valid"),
        sum(col("trunc").cast("long")).as("n_truncated"))
      .select(col("window.start").as("window_start"), col("tool"),
        col("n_calls"), col("n_valid"), col("n_truncated"))
}

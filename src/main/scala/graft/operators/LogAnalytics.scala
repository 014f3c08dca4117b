package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{ApacheErrorLog, ApacheLog, LambdaLogs, NginxErrorLog}
import graft.sources.{LogLines, Tables}

/** OpenSearch-Discover-style log analytics (SURVEY §2 B+C blocks).
  *
  * The reference's analytics surface is OpenSearch Dashboards over the
  * per-source daily indexes (reference: README.md:295-314 "Visualize the
  * logs") — full-text search, term filters, date histograms, terms
  * aggregations, metrics. Here each of those query shapes is a
  * declarative DataFrame plan over the `events` log table, so Catalyst
  * pushes filters/projection into the parquet scan and partial-aggregates
  * map-side — the 100 TB-safe equivalents of index-side query execution.
  */
object LogAnalytics {

  // ---- B1/B2: Apache combined-log parse round-trip ------------------

  /** Synthesize combined-log lines from events, parse them back with the
    * regex battery; the oracle derives expected fields directly from the
    * events columns — verifying the parse without sharing a code path.
    */
  def apacheParse(spark: SparkSession, dir: String): DataFrame = {
    val lines = LogLines.apacheLines(spark, dir)
    lines.select(
        col("event_id"),
        ApacheLog.ip(col("line")).as("ip"),
        ApacheLog.ts(col("line")).as("ts_sec"),
        ApacheLog.verb(col("line")).as("verb"),
        ApacheLog.path(col("line")).as("path"),
        ApacheLog.status(col("line")).as("status"),
        ApacheLog.bytes(col("line")).as("bytes"))
      .orderBy(col("event_id"))
  }

  val apacheParseSql: String =
    """SELECT event_id,
      |  concat('10.', user_id % 256, '.', event_id % 250, '.', (event_id * 7) % 250) AS ip,
      |  date_trunc('second', ts) AS ts_sec,
      |  CASE WHEN event_type IN ('signup','purchase') THEN 'POST' ELSE 'GET' END AS verb,
      |  concat('/', event_type, '/', event_id % 100) AS path,
      |  CAST(CASE WHEN event_type = 'error' THEN 500
      |            WHEN event_type = 'signup' THEN 201 ELSE 200 END AS BIGINT) AS status,
      |  CAST(floor(value * 10) AS BIGINT) AS bytes
      |FROM events
      |ORDER BY event_id""".stripMargin

  /** B2 — browser/OS extraction from the parsed user-agent. */
  def userAgents(spark: SparkSession, dir: String): DataFrame = {
    val lines = LogLines.apacheLines(spark, dir)
    val agent = ApacheLog.agent(col("line"))
    lines.select(
        ApacheLog.browser(agent).as("browser"),
        ApacheLog.os(agent).as("os"))
      .groupBy(col("browser"), col("os"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("browser"), col("os"))
  }

  val userAgentsSql: String =
    """SELECT
      |  CASE user_id % 4 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
      |                   WHEN 2 THEN 'curl' ELSE 'Firefox' END AS browser,
      |  CASE user_id % 4 WHEN 0 THEN 'Windows' WHEN 1 THEN 'macOS'
      |                   WHEN 2 THEN 'other' ELSE 'Linux' END AS os,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY browser, os""".stripMargin

  // ---- B3/B5: Lambda event-batch transform ---------------------------

  /** from_json → explode → keep type=="function" → split record fields
    * (the reference transformer, lib/computes/lambda/transformer/index.js).
    */
  def lambdaEvents(spark: SparkSession, dir: String): DataFrame = {
    val batches = LogLines.lambdaBatches(spark, dir)
    LambdaLogs.functionLogs(batches, "batch").orderBy(col("event_id"))
  }

  val lambdaEventsSql: String =
    """SELECT event_id,
      |  concat('req-', event_id) AS req_id,
      |  CASE WHEN event_type = 'error' THEN 'ERROR'
      |       WHEN event_type = 'signup' THEN 'WARN' ELSE 'INFO' END AS level,
      |  concat('event=', event_type) AS msg
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- B1b: Apache error_log parse round-trip ------------------------

  /** Synthesize error_log lines from events, parse them back with the
    * ApacheErrorLog battery — the second flow the reference's Kinesis
    * agent ships (ec2-startup.sh error_log*); without this parser every
    * error line would dead-letter instead of being queryable.
    */
  def errorParse(spark: SparkSession, dir: String): DataFrame = {
    val lines = LogLines.errorLines(spark, dir)
    lines.select(
        col("event_id"),
        ApacheErrorLog.ts(col("line")).as("ts_sec"),
        ApacheErrorLog.level(col("line")).as("level"),
        ApacheErrorLog.clientIp(col("line")).as("client_ip"),
        ApacheErrorLog.msg(col("line")).as("msg"))
      .orderBy(col("event_id"))
  }

  val errorParseSql: String =
    """SELECT event_id,
      |  date_trunc('second', ts) AS ts_sec,
      |  CASE WHEN event_type = 'error' THEN 'error'
      |       WHEN event_type = 'signup' THEN 'warn' ELSE 'notice' END AS level,
      |  concat('10.', user_id % 256, '.', event_id % 250, '.', (event_id * 7) % 250) AS client_ip,
      |  concat('File does not exist: /var/www/', event_type, '/', event_id % 100) AS msg
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- B1c: NGINX error_log parse ------------------------------------

  /** EKS-path error battery: synthesize NGINX error lines from `events`
    * and run the NginxErrorLog grammar over them. The oracle derives the
    * same fields arithmetically from `events` — a round-trip proof of
    * the parse without sharing a code path. One codegen'd projection.
    */
  def nginxErrorParse(spark: SparkSession, dir: String): DataFrame = {
    val lines = LogLines.nginxErrorLines(spark, dir)
    lines.select(
        col("event_id"),
        NginxErrorLog.ts(col("line")).as("ts_sec"),
        NginxErrorLog.level(col("line")).as("level"),
        NginxErrorLog.pid(col("line")).as("pid"),
        NginxErrorLog.conn(col("line")).as("conn"),
        NginxErrorLog.clientIp(col("line")).as("client_ip"),
        NginxErrorLog.msg(col("line")).as("msg"))
      .orderBy(col("event_id"))
  }

  val nginxErrorParseSql: String =
    """SELECT event_id,
      |  date_trunc('second', ts) AS ts_sec,
      |  CASE WHEN event_type = 'error' THEN 'error'
      |       WHEN event_type = 'signup' THEN 'warn' ELSE 'notice' END AS level,
      |  CAST(event_id % 16 + 1 AS BIGINT) AS pid,
      |  CAST(event_id AS BIGINT) AS conn,
      |  concat('10.', user_id % 256, '.', event_id % 250, '.', (event_id * 7) % 250) AS client_ip,
      |  concat('open() "/usr/share/nginx/html/', event_type, '/', event_id % 100,
      |         '" failed (2: No such file or directory)') AS msg
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- A6b: FireLens envelope → inner-line parse ---------------------

  /** ECS-path round trip: FireLens JSON envelope → unwrap (typed
    * container metadata + inner line) → combined-log parse battery. The
    * whole chain is one codegen'd projection — envelope parsing adds no
    * shuffle.
    */
  def firelensParse(spark: SparkSession, dir: String): DataFrame = {
    val unwrapped = graft.sources.Envelopes.unwrapFirelens(
      LogLines.firelensLines(spark, dir), "envelope")
    unwrapped.select(
        col("event_id"),
        col("container_name"),
        col("ecs_task_arn"),
        col("stream"),
        ApacheLog.path(col("line")).as("path"),
        ApacheLog.status(col("line")).as("status"))
      .orderBy(col("event_id"))
  }

  val firelensParseSql: String =
    """SELECT event_id,
      |  concat('app-', event_id % 4) AS container_name,
      |  concat('arn:aws:ecs:task/', event_id % 16) AS ecs_task_arn,
      |  CASE WHEN event_type = 'error' THEN 'stderr' ELSE 'stdout' END AS stream,
      |  concat('/', event_type, '/', event_id % 100) AS path,
      |  CAST(CASE WHEN event_type = 'error' THEN 500
      |            WHEN event_type = 'signup' THEN 201 ELSE 200 END AS BIGINT) AS status
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- C2b: filters aggregation --------------------------------------

  /** OpenSearch `filters` agg: named predicate buckets computed in ONE
    * scan pass — each bucket is a conditional aggregate, then `stack`
    * unpivots the single row to (bucket, n, total_value) rows. No
    * shuffle beyond the scalar aggregate.
    */
  def filtersAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(
        sum(when(col("event_type") === "error", 1).otherwise(0)).cast("long").as("n_err"),
        round(sum(when(col("event_type") === "error", col("value")).otherwise(0)), 2).as("v_err"),
        sum(when(col("event_type") === "purchase" && col("value") > 50, 1).otherwise(0))
          .cast("long").as("n_bigp"),
        round(sum(when(col("event_type") === "purchase" && col("value") > 50, col("value"))
          .otherwise(0)), 2).as("v_bigp"),
        sum(when(col("value") >= 90, 1).otherwise(0)).cast("long").as("n_hi"),
        round(sum(when(col("value") >= 90, col("value")).otherwise(0)), 2).as("v_hi"))
      .selectExpr(
        """stack(3, 'errors', n_err, v_err,
          |         'large_purchases', n_bigp, v_bigp,
          |         'high_value', n_hi, v_hi) AS (bucket, n, total_value)""".stripMargin)
      .orderBy(col("bucket"))

  val filtersAggSql: String =
    """SELECT 'errors' AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  round(coalesce(sum(value), 0), 2) AS total_value
      |FROM events WHERE event_type = 'error'
      |UNION ALL
      |SELECT 'large_purchases', CAST(count(*) AS BIGINT),
      |  round(coalesce(sum(value), 0), 2)
      |FROM events WHERE event_type = 'purchase' AND value > 50
      |UNION ALL
      |SELECT 'high_value', CAST(count(*) AS BIGINT),
      |  round(coalesce(sum(value), 0), 2)
      |FROM events WHERE value >= 90
      |ORDER BY bucket""".stripMargin

  // ---- C2c: rare terms ------------------------------------------------

  /** OpenSearch `rare_terms` agg — the LONG tail (keys at or below a
    * max doc count), the complement of C26's heavy hitters. One keyed
    * aggregate then a cheap filter; no global sort of the key space —
    * output is bounded by the rarity threshold.
    */
  def rareTerms(spark: SparkSession, dir: String, maxCount: Int = 55): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxCount)
      .select(col("user_id"), col("n"))
      .orderBy(col("n"), col("user_id"))

  val rareTermsSql: String =
    """SELECT user_id, count(*) AS n
      |FROM events
      |GROUP BY user_id
      |HAVING count(*) <= 55
      |ORDER BY n, user_id""".stripMargin

  // ---- C1: date_histogram -------------------------------------------

  def dateHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  val dateHistogramSql: String =
    """SELECT date_trunc('hour', ts) AS bucket, event_type,
      |  count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin

  // ---- C2: terms aggregation + sub-metrics ---------------------------

  def termsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("value")), 4).as("avg_value"),
        round(sum(col("value")), 2).as("total_value"),
        countDistinct(col("user_id")).as("users"))
      .orderBy(col("n").desc, col("event_type"))

  val termsAggSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(avg(value), 4) AS avg_value,
      |  round(sum(value), 2) AS total_value,
      |  count(DISTINCT user_id) AS users
      |FROM events
      |GROUP BY event_type
      |ORDER BY n DESC, event_type""".stripMargin

  /** C2o — terms agg ORDERED BY A SUB-AGGREGATION with a size cut
    * (OpenSearch `order: {"total_value": "desc"}, size: 3` — ranking
    * buckets by revenue, not by doc count, is how every "top N by
    * $metric" dashboard panel is written). The plan property that
    * matters at scale: the metric is computed in the SAME map-side-
    * combined aggregate as the counts, and the size cut is
    * orderBy+limit = TakeOrderedAndProject — a bounded per-partition
    * heap over the bucket set, never a global bucket sort.
    */
  def termsByMetric(spark: SparkSession, dir: String, size: Int = 3): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("total_value").desc, col("event_type"))
      .limit(size)

  val termsByMetricSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY total_value DESC, event_type
      |LIMIT 3""".stripMargin

  /** C1c — date_histogram with `time_zone` + `offset` (daily buckets
    * aligned to a local midnight, then shifted — how a dashboard shows
    * "days" for a UTC-5 team with a 6h report boundary). Both knobs are
    * FIXED-OFFSET timestamp arithmetic composed exactly as OpenSearch
    * applies them (offset after time_zone), so the bucket key is pure
    * integer arithmetic on micros — identical cross-engine, no tz
    * database in the hot path; still one map-side-combined aggregate.
    */
  def dateHistogramTz(spark: SparkSession, dir: String,
                      tzHours: Int = 5, offsetHours: Int = 6): DataFrame = {
    val s = tzHours + offsetHours
    Tables.events(spark, dir)
      .groupBy((date_trunc("day", col("ts") - expr(s"INTERVAL $s HOURS")) +
        expr(s"INTERVAL $s HOURS")).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** C1d — date_histogram with a CALENDAR interval (`calendar_interval:
    * week`): calendar buckets are alignment-dependent (weeks start
    * Monday, months vary in width) — not expressible as fixed-width
    * epoch arithmetic, which is why OpenSearch separates
    * `calendar_interval` from `fixed_interval`. Both engines define
    * date_trunc('week') as the preceding Monday, so the bucket key is
    * identical cross-engine; still one map-side-combined aggregate.
    */
  def dateHistogramCalendar(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("week", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
      .orderBy(col("bucket"))

  val dateHistogramCalendarSql: String =
    """SELECT date_trunc('week', ts) AS bucket,
      |  count(*) AS n, count(DISTINCT user_id) AS users
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  val dateHistogramTzSql: String =
    """SELECT date_trunc('day', ts - INTERVAL 11 HOURS) + INTERVAL 11 HOURS AS bucket,
      |  count(*) AS n
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** C2n — terms agg with doc_count_error_upper_bound (the DISTRIBUTED
    * terms-agg contract: each shard returns only its local top
    * `shard_size` terms, the coordinator sums what was reported, and
    * every answer carries the worst-case undercount — Σ over
    * non-reporting shards of the last count each reported. This is the
    * semantics OpenSearch users actually consume on every dashboard
    * terms panel, and the reason `shard_size` exists).
    *
    * Spark-first: "shards" are content-hashed buckets (first md5 nibble
    * of the term key, mod 8) — DETERMINISTIC, unlike physical partition
    * ids, so the whole distributed protocol, error bounds included, is
    * exact-replicable cross-engine and ★-checkable. Shapes: one
    * (shard, term) pre-aggregate (the only data-sized shuffle),
    * per-shard top-k via a window PARTITIONED BY SHARD (parallel,
    * heap-depth k), then all merging happens on ≤ shards×shard_size
    * rows with the 8-row kth-count table broadcast. A shard that
    * reported fewer than shard_size terms exhausted its key set and
    * contributes 0 to the bound. At 100 TB this is also the honest
    * recipe for global top-N WITHOUT a full global sort: the bound
    * quantifies exactly what the shortcut can miss.
    */
  def termsShardError(spark: SparkSession, dir: String,
                      size: Int = 10, shardSize: Int = 10,
                      nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perShard = Tables.events(spark, dir)
      .withColumn("shard",
        expr(s"(instr('0123456789abcdef', substr(md5(cast(user_id AS string)), 1, 1)) - 1) % $nShards")
          .cast("long"))
      .groupBy(col("shard"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("shard")).orderBy(col("c").desc, col("user_id"))
    val reported = perShard
      .withColumn("r", row_number().over(w)).filter(col("r") <= shardSize)
    val kth = reported.groupBy(col("shard")).agg(
        min(col("c")).as("kmin"), count(lit(1)).as("n_rep"))
      .withColumn("kth_eff",
        when(col("n_rep") < shardSize, 0L).otherwise(col("kmin")))
      .select(col("shard"), col("kth_eff"))
    val totalKth = kth.agg(sum(col("kth_eff")).as("total_kth"))
    val wTop = Window.orderBy(col("doc_count").desc, col("user_id"))
    reported.join(broadcast(kth), "shard")
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("doc_count"), sum(col("kth_eff")).as("rep_kth"))
      .crossJoin(broadcast(totalKth))
      .withColumn("doc_count_error_ub", col("total_kth") - col("rep_kth"))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter(col("rank") <= size)
      .select(col("rank"), col("user_id"), col("doc_count"),
        col("doc_count_error_ub"))
      .orderBy(col("rank"))
  }

  val termsShardErrorSql: String =
    """WITH per_shard AS (
      |  SELECT (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) % 8 AS shard,
      |    user_id, count(*) AS c
      |  FROM events
      |  GROUP BY 1, 2),
      |reported AS (
      |  SELECT shard, user_id, c,
      |    row_number() OVER (PARTITION BY shard ORDER BY c DESC, user_id) AS r
      |  FROM per_shard
      |  QUALIFY r <= 10),
      |kth AS (
      |  SELECT shard,
      |    CASE WHEN count(*) < 10 THEN 0 ELSE min(c) END AS kth_eff
      |  FROM reported GROUP BY shard),
      |tot AS (SELECT CAST(sum(kth_eff) AS BIGINT) AS total_kth FROM kth),
      |merged AS (
      |  SELECT r.user_id, CAST(sum(r.c) AS BIGINT) AS doc_count,
      |    CAST(sum(k.kth_eff) AS BIGINT) AS rep_kth
      |  FROM reported r JOIN kth k USING (shard)
      |  GROUP BY r.user_id)
      |SELECT CAST(row_number() OVER (ORDER BY doc_count DESC, user_id) AS BIGINT) AS rank,
      |  user_id, doc_count, total_kth - rep_kth AS doc_count_error_ub
      |FROM merged CROSS JOIN tot
      |QUALIFY rank <= 10
      |ORDER BY rank""".stripMargin

  // ---- C3: full-text search (match + bool + range) -------------------

  def search(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(
        col("event_type") === "error" &&
        col("value") >= 50 &&
        col("props").like("""%"k": 9%""") &&
        col("ts") >= lit("2024-01-05").cast("timestamp") &&
        col("ts") < lit("2024-01-20").cast("timestamp"))
      .select(col("event_id"), col("user_id"), col("value"), col("props"))
      .orderBy(col("event_id"))

  val searchSql: String =
    """SELECT event_id, user_id, value, props
      |FROM events
      |WHERE event_type = 'error' AND value >= 50
      |  AND props LIKE '%"k": 9%'
      |  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
      |ORDER BY event_id""".stripMargin

  // ---- C3d: wildcard / prefix / regexp search ------------------------

  /** C3d — the last OpenSearch query-bar family member: wildcard
    * (`event_type:pu*`), and regexp (`props:/"k": ?1[0-9]/`) terms.
    *
    * Scale shape: the prefix arm is `like 'pu%'`, which Catalyst turns
    * into a `StartsWith` data-source filter PUSHED INTO the parquet
    * scan (EntrySpec asserts `PushedFilters` contains it) — row groups
    * whose event_type min/max excludes the prefix are skipped before a
    * single row is materialized. The regexp arm can't push (parquet has
    * no regexp predicate), so it runs as the residual filter on the
    * survivors of the pushed prefix — order matters at 100 TB.
    */
  def searchWildcard(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(
        col("event_type").like("pu%") &&
        col("props").rlike("\"k\": ?1[0-9]"))
      .select(col("event_id"), col("event_type"), col("props"))
      .orderBy(col("event_id"))

  val searchWildcardSql: String =
    """SELECT event_id, event_type, props
      |FROM events
      |WHERE event_type LIKE 'pu%'
      |  AND regexp_matches(props, '"k": ?1[0-9]')
      |ORDER BY event_id""".stripMargin

  // ---- C3e: search with field collapsing -----------------------------

  /** C3e — OpenSearch `collapse`: dedupe the hit list on a field,
    * keeping each group's best hit plus the group's total hit count
    * (the inner_hits summary). The rank window partitions by the
    * collapse FIELD — per-user partitions, high cardinality, no global
    * sort; scales like C7/C17.
    */
  def searchCollapse(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "click" && col("value") >= 100)
      .withColumn("r", row_number().over(w))
      .withColumn("n_hits", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .filter(col("r") === 1)
      .select(col("user_id"), col("event_id"), col("value"), col("n_hits"))
      .orderBy(col("user_id"))
  }

  val searchCollapseSql: String =
    """SELECT user_id, event_id, value, n_hits
      |FROM (
      |  SELECT user_id, event_id, value,
      |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS r,
      |    count(*) OVER (PARTITION BY user_id) AS n_hits
      |  FROM events
      |  WHERE event_type = 'click' AND value >= 100)
      |WHERE r = 1
      |ORDER BY user_id""".stripMargin

  /** C3e2 — collapse with inner_hits (the collapsed search that ALSO
    * returns each group's top-k members, not just the representative —
    * how Discover shows "top hit per user, expandable"). Same plan
    * class as C3e: ONE window pass ranks within groups (bounded heap
    * per group, no global sort of the raw hits); the group's
    * representative ordering rides the per-row rank-1 value via a
    * second windowed max — still zero extra shuffles (same partition
    * key). inner_hits size = 3.
    */
  def searchCollapseInner(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val w = byUser.orderBy(col("value").desc, col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "click" && col("value") >= 100)
      .withColumn("hit_rank", row_number().over(w).cast("long"))
      .withColumn("n_hits", count(lit(1)).over(byUser))
      .withColumn("group_best", max(col("value")).over(byUser))
      .filter(col("hit_rank") <= k)
      .select(col("user_id"), col("hit_rank"), col("event_id"),
        col("value"), col("n_hits"), col("group_best"))
      .orderBy(col("user_id"), col("hit_rank"))
  }

  val searchCollapseInnerSql: String =
    """SELECT user_id, hit_rank, event_id, value, n_hits, group_best
      |FROM (
      |  SELECT user_id, event_id, value,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS hit_rank,
      |    count(*) OVER (PARTITION BY user_id) AS n_hits,
      |    max(value) OVER (PARTITION BY user_id) AS group_best
      |  FROM events
      |  WHERE event_type = 'click' AND value >= 100)
      |WHERE hit_rank <= 3
      |ORDER BY user_id, hit_rank""".stripMargin

  // ---- C2g: range aggregation -----------------------------------------

  /** C2g — range agg (OpenSearch `range` with explicit bounds): value
    * buckets with irregular, user-supplied edges — the latency-band /
    * price-band dashboard tile that a fixed-interval histogram (C16)
    * can't express. One conditional bucket label in the scan projection
    * + one map-side-combined aggregate; the float sum is rounded per
    * the cross-partition-order playbook.
    */
  def rangeAgg(spark: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("value") < 50, "*-50")
      .when(col("value") < 200, "50-200")
      .when(col("value") < 500, "200-500")
      .otherwise("500-*")
    Tables.events(spark, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("bucket"))
  }

  val rangeAggSql: String =
    """SELECT CASE WHEN value < 50 THEN '*-50'
      |            WHEN value < 200 THEN '50-200'
      |            WHEN value < 500 THEN '200-500'
      |            ELSE '500-*' END AS bucket,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ---- C2m: global aggregation ----------------------------------------

  /** C2m — global agg (OpenSearch `global`: a bucket that ignores the
    * query scope, so a tile can say "errors are X of ALL Y events"
    * while the rest of the dashboard stays filtered). Spark-first this
    * is ONE conditional-aggregate pass — the scoped metrics are
    * when()-guarded sums beside the unguarded globals, no second scan
    * and no join; the share divides two exact longs.
    */
  def globalAgg(spark: SparkSession, dir: String): DataFrame = {
    val scoped = col("event_type") === "error"
    Tables.events(spark, dir)
      .agg(
        sum(when(scoped, 1L).otherwise(0L)).as("n_scoped"),
        count(lit(1)).as("n_global"),
        round(sum(when(scoped, col("value")).otherwise(0.0)), 4).as("scoped_value"),
        round(sum(col("value")), 4).as("global_value"))
      .withColumn("scoped_share",
        col("n_scoped").cast("double") / col("n_global"))
  }

  val globalAggSql: String =
    """SELECT
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_scoped,
      |  count(*) AS n_global,
      |  round(sum(CASE WHEN event_type = 'error' THEN value ELSE 0 END), 4) AS scoped_value,
      |  round(sum(value), 4) AS global_value,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS scoped_share
      |FROM events""".stripMargin

  // ---- C2h: date_range aggregation ------------------------------------

  /** C2h — date_range agg (OpenSearch `date_range`): irregular,
    * user-supplied DATE bounds — the "this week / last week / older"
    * dashboard tile C1's fixed interval can't express. Same shape as
    * C2g: one conditional label in the scan projection, one map-side-
    * combined aggregate; the timestamp comparisons are pushable range
    * predicates if a bucket filter is added above.
    */
  def dateRangeAgg(spark: SparkSession, dir: String): DataFrame = {
    def d(s: String) = lit(s).cast("timestamp")
    val bucket = when(col("ts") < d("2024-01-08"), "*-01-08")
      .when(col("ts") < d("2024-01-15"), "01-08-01-15")
      .when(col("ts") < d("2024-01-22"), "01-15-01-22")
      .otherwise("01-22-*")
    Tables.events(spark, dir)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("bucket"))
  }

  val dateRangeAggSql: String =
    """SELECT CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00' THEN '*-01-08'
      |            WHEN ts < TIMESTAMP '2024-01-15 00:00:00' THEN '01-08-01-15'
      |            WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN '01-15-01-22'
      |            ELSE '01-22-*' END AS bucket,
      |  count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // ---- C2i: missing aggregation ---------------------------------------

  /** C2i — missing agg (OpenSearch `missing`): per bucket, how many
    * documents LACK a field. The field here is the OS extracted from
    * the parsed user-agent — curl UAs genuinely carry no OS token, so
    * the extraction yields null for them (the honest missing-field
    * case in this corpus, matching OpenSearch's dynamic-mapping
    * behavior where unparseable fields are simply absent). The whole
    * parse battery runs in the scan projection; one aggregate.
    */
  def missingAgg(spark: SparkSession, dir: String): DataFrame = {
    val agent = ApacheLog.agent(col("line"))
    val osOrNull = when(agent.contains("Windows"), "Windows")
      .when(agent.contains("Mac OS X"), "macOS")
      .when(agent.contains("Linux") || agent.contains("X11"), "Linux")
    LogLines.apacheLines(spark, dir)
      .select(ApacheLog.browser(agent).as("browser"), osOrNull.as("os"))
      .groupBy(col("browser"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("os").isNull, 1L).otherwise(0L)).as("n_missing"),
        count(col("os")).as("n_present"))
      .orderBy(col("browser"))
  }

  val missingAggSql: String =
    """SELECT
      |  CASE user_id % 4 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Safari'
      |                   WHEN 2 THEN 'curl' ELSE 'Firefox' END AS browser,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN user_id % 4 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
      |  CAST(sum(CASE WHEN user_id % 4 = 2 THEN 0 ELSE 1 END) AS BIGINT) AS n_present
      |FROM events
      |GROUP BY 1
      |ORDER BY browser""".stripMargin

  // ---- C2k: sampler / diversified_sampler -----------------------------

  /** C2k — sampler + diversified_sampler aggs: a bounded, DETERMINISTIC
    * per-bucket document sample (OpenSearch's sampler caps docs per
    * shard; diversified_sampler additionally caps docs per key to
    * de-bias the sample). Random-but-reproducible order comes from an
    * md5 over the row id — a seeded hash, not rand(), so both engines
    * and every rerun agree. The rank windows partition by event_type
    * (bounded cardinality × depth-k heaps); diversification first
    * collapses to one best row per (bucket, user) then re-ranks.
    */
  /** C2q — random_sampler aggregation (OpenSearch 2.x: aggregate over
    * a probabilistic subset and scale the results back by 1/p — the
    * "make this dashboard render on 100 TB" knob). The sample draw is
    * the house seeded md5 16-bit bucket (deterministic — rand() would
    * break re-runs AND the oracle), applied in the SCAN as a pushable-
    * shape filter, so the aggregate touches p of the data; counts and
    * exact-cents sums scale by the integer 1/p — estimates stay exact
    * integers, bit-stable cross-engine.
    */
  def randomSamplerAgg(spark: SparkSession, dir: String, invP: Int = 8): DataFrame = {
    val u16 = expr(Curation.bucket16ExprOf("concat('rs', CAST(event_id AS STRING))"))
    Tables.events(spark, dir)
      .filter(u16 < lit(65536 / invP))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(round(col("value") * 100).cast("long")).as("cents_sampled"))
      .select(col("event_type"), col("n_sampled"),
        (col("n_sampled") * invP).as("n_est"),
        (col("cents_sampled") * invP).as("cents_est"))
      .orderBy(col("event_type"))
  }

  val randomSamplerAggSql: String = {
    val u16 = SqlPatch(
      Curation.bucket16ExprOf("concat('rs', CAST(event_id AS VARCHAR))"),
      "instr", "strpos")
    s"""SELECT event_type,
       |  count(*) AS n_sampled,
       |  CAST(count(*) * 8 AS BIGINT) AS n_est,
       |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) * 8 AS BIGINT) AS cents_est
       |FROM events
       |WHERE $u16 < 8192
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  def samplerAgg(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val h = md5(concat(lit("smp"), col("event_id").cast("string")))
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("user_id"), h.as("h"))
    val plain = base
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))))
      .filter(col("r") <= k)
      .select(lit("sampler").as("mode"), col("event_type"), col("event_id"), col("user_id"))
    val perUser = base
      .withColumn("ru", row_number().over(
        Window.partitionBy(col("event_type"), col("user_id")).orderBy(col("h"), col("event_id"))))
      .filter(col("ru") === 1)
    val divers = perUser
      .withColumn("r", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("h"), col("event_id"))))
      .filter(col("r") <= k)
      .select(lit("diversified").as("mode"), col("event_type"), col("event_id"), col("user_id"))
    plain.unionByName(divers).orderBy(col("mode"), col("event_type"), col("event_id"))
  }

  val samplerAggSql: String =
    """WITH base AS (
      |  SELECT event_type, event_id, user_id,
      |    md5(concat('smp', CAST(event_id AS VARCHAR))) AS h
      |  FROM events),
      |plain AS (
      |  SELECT 'sampler' AS mode, event_type, event_id, user_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS r
      |  FROM base),
      |peruser AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type, user_id ORDER BY h, event_id) AS ru
      |  FROM base),
      |divers AS (
      |  SELECT 'diversified' AS mode, event_type, event_id, user_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS r
      |  FROM peruser WHERE ru = 1)
      |SELECT mode, event_type, event_id, user_id FROM plain WHERE r <= 5
      |UNION ALL
      |SELECT mode, event_type, event_id, user_id FROM divers WHERE r <= 5
      |ORDER BY mode, event_type, event_id""".stripMargin

  // ---- C53: categorize_text (log-template mining) ------------------------

  /** C53 — categorize_text (the OpenSearch ML agg that clusters raw
    * log MESSAGES into templates — "group my million errors into the
    * twelve distinct failures"). The deterministic Spark-first core of
    * Drain-class template miners: mask the variable parts (digit runs
    * → `<num>`), group by the masked skeleton. Parse battery + mask
    * run in the scan projection; one map-side-combined aggregate; the
    * example is the lexicographic min (deterministic, no first()).
    */
  def categorizeText(spark: SparkSession, dir: String): DataFrame = {
    val msg = ApacheErrorLog.msg(col("line"))
    LogLines.errorLines(spark, dir)
      .select(msg.as("msg"),
        regexp_replace(msg, "[0-9]+", "<num>").as("template"))
      .groupBy(col("template"))
      .agg(count(lit(1)).as("n"), min(col("msg")).as("example"))
      .orderBy(col("n").desc, col("template"))
  }

  val categorizeTextSql: String =
    """WITH msgs AS (
      |  SELECT concat('File does not exist: /var/www/', event_type, '/',
      |                CAST(event_id % 100 AS VARCHAR)) AS msg,
      |         concat('File does not exist: /var/www/', event_type, '/<num>') AS template
      |  FROM events)
      |SELECT template, count(*) AS n, min(msg) AS example
      |FROM msgs
      |GROUP BY template
      |ORDER BY n DESC, template""".stripMargin

  // ---- C8b: session-duration statistics ---------------------------------

  /** C8b — session statistics (the dashboard beside C8's session list:
    * how long and how big is a typical session). Composes C8's
    * sessionization with C5's exact percentiles: duration percentiles
    * over the session-cardinality aggregate (already far smaller than
    * the fact table), durations in integral seconds so the
    * interpolated quartiles stay bit-exact cross-engine.
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionize(spark, dir)
      .select(
        (unix_timestamp(col("session_end")) - unix_timestamp(col("session_start")))
          .as("dur_s"),
        col("n_events"))
      .agg(
        count(lit(1)).as("n_sessions"),
        expr("percentile(dur_s, array(0.5, 0.9, 0.99))").as("ps"),
        (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_events"))
      .select(col("n_sessions"),
        element_at(col("ps"), 1).as("dur_p50"),
        element_at(col("ps"), 2).as("dur_p90"),
        element_at(col("ps"), 3).as("dur_p99"),
        col("avg_events"))

  // lazy: sessionizeSql is declared later in the file — an eager val
  // here would capture null during object init
  lazy val sessionStatsSql: String =
    s"""WITH sess AS ($sessionizeSql),
       |d AS (
       |  SELECT epoch(session_end) - epoch(session_start) AS dur_s, n_events
       |  FROM sess),
       |agg AS (
       |  SELECT count(*) AS n_sessions,
       |    quantile_cont(dur_s, [0.5, 0.9, 0.99]) AS ps,
       |    CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events
       |  FROM d)
       |SELECT n_sessions, ps[1] AS dur_p50, ps[2] AS dur_p90, ps[3] AS dur_p99,
       |  avg_events
       |FROM agg""".stripMargin

  // ---- C3i: ids query ---------------------------------------------------

  /** C3i — ids query (OpenSearch `ids`: fetch documents by id list —
    * the "open these N hits" round-trip every Discover click issues).
    * The literal id list pushes into the parquet scan as an `In`
    * filter (row-group stats prune on the id range); nothing else
    * runs. Trivial by design — the point is that point lookups stay
    * scan-pruned reads, not jobs.
    */
  def idsQuery(spark: SparkSession, dir: String,
               ids: Seq[Long] = Seq(3, 11, 4242, 77, 5000)): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_id").isin(ids: _*))
      .select(col("event_id"), col("event_type"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  val idsQuerySql: String =
    """SELECT event_id, event_type, user_id, value
      |FROM events
      |WHERE event_id IN (3, 11, 4242, 77, 5000)
      |ORDER BY event_id""".stripMargin

  // ---- C3g: search_after deep pagination -------------------------------

  /** C3g — search_after: cursor pagination over a sorted hit list (the
    * scalable replacement for from+size deep paging — OpenSearch
    * forbids from beyond 10k precisely because a global skip-sort
    * cannot scale). The cursor is the LAST HIT's sort key, so the page
    * predicate `(value, event_id) after (v0, e0)` filters BEFORE the
    * top-k: Spark plans orderBy+limit as TakeOrderedAndProject (a
    * per-partition heap + k-row merge), and the value half of the
    * cursor is a pushable range predicate — each page reads less, not
    * more, as paging deepens.
    */
  def searchAfter(spark: SparkSession, dir: String,
                  afterValue: Double = 400.0, afterId: Long = 0L,
                  pageSize: Int = 20): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "click" &&
        (col("value") < afterValue ||
          (col("value") === afterValue && col("event_id") > afterId)))
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(pageSize)

  val searchAfterSql: String =
    """SELECT event_id, user_id, value
      |FROM events
      |WHERE event_type = 'click'
      |  AND (value < 400.0 OR (value = 400.0 AND event_id > 0))
      |ORDER BY value DESC, event_id
      |LIMIT 20""".stripMargin

  // ---- C3f: search-result highlighting --------------------------------

  /** C3f — hit highlighting: the snippet Discover renders beside every
    * hit (reference README:295-312's analyze step) — a fixed-width
    * window around the FIRST match with the matched term bracketed.
    *
    * Pure codegen'd string builtins evaluated in the scan's project
    * (locate + two substrings + concat), zero shuffle, and the
    * `contains` pre-filter means position arithmetic only runs on
    * actual hits. Snippet width is character-based (OpenSearch's
    * highlighter fragment_size) — deterministic, no tokenization
    * needed.
    */
  def searchHighlight(spark: SparkSession, dir: String,
                      term: String = "merge", width: Int = 40): DataFrame = {
    val pos = locate(term, col("text"))
    val start = greatest(pos - width, lit(1))
    Tables.documents(spark, dir)
      .filter(col("text").contains(term))
      .select(
        col("doc_id"),
        pos.cast("long").as("pos"),
        concat(
          col("text").substr(start, pos - start),
          lit(s"[$term]"),
          col("text").substr(pos + term.length, lit(width))).as("highlight"))
      .orderBy(col("doc_id"))
  }

  val searchHighlightSql: String =
    """SELECT doc_id,
      |  CAST(strpos(text, 'merge') AS BIGINT) AS pos,
      |  substr(text, greatest(strpos(text, 'merge') - 40, 1),
      |         strpos(text, 'merge') - greatest(strpos(text, 'merge') - 40, 1))
      |    || '[merge]'
      |    || substr(text, strpos(text, 'merge') + 5, 40) AS highlight
      |FROM documents
      |WHERE strpos(text, 'merge') > 0
      |ORDER BY doc_id""".stripMargin

  // ---- C4: error-rate monitoring -------------------------------------

  def errorRate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(when(col("event_type") === "error", 1).otherwise(0)).cast("double") * 100 / count(lit(1)), 4)
          .as("error_rate_pct"))
      .orderBy(col("day"))

  val errorRateSql: String =
    """SELECT date_trunc('day', ts) AS day, count(*) AS n,
      |  round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) * 100 / count(*), 4)
      |    AS error_rate_pct
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  // ---- C5: percentiles metric ----------------------------------------

  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.9)"), 4).as("p90"),
        round(expr("percentile(value, 0.99)"), 4).as("p99"))
      .orderBy(col("event_type"))

  val percentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  round(quantile_cont(value, 0.99), 4) AS p99
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Scale path for C5: a fixed-granularity histogram quantile sketch
    * (the HDR-histogram/DDSketch family — the same family OpenSearch's
    * percentiles agg offers via `hdr`). One map-side-combined count per
    * (group, bucket) where bucket = floor(value·S): mergeable, one
    * pass, memory bounded by value-range·S buckets per group at any
    * scale, worst-case error 1/S of a value unit (0.01 here — ~0.03%
    * of this table's p50, vs the 5% ApproxSpec contract). ★ (r13, was
    * ☆ on the opaque approx_percentile GK sketch): every count, rank
    * cut, and bucket edge is exact integer arithmetic, so the estimate
    * itself is DuckDB-replayable — the q_cardinality_approx recipe
    * applied to quantiles.
    */
  def percentilesApprox(spark: SparkSession, dir: String): DataFrame = {
    val s = 100
    val buckets = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        floor(col("value") * lit(s)).cast("long").as("b"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("b"))
    val wAll = Window.partitionBy(col("event_type"))
    def pick(q: Double) =
      (min(when(col("cum") >= ceil(lit(q) * col("n")), col("b"))) / s).as(s"p${(q * 100).toInt}")
    buckets
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("event_type"))
      .agg(pick(0.5), pick(0.9), pick(0.99))
      .orderBy(col("event_type"))
  }

  val percentilesApproxSql: String =
    """WITH b AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS b, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, b, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
      |    sum(c) OVER (PARTITION BY event_type) AS n
      |  FROM b)
      |SELECT event_type,
      |  -- q literals CAST to DOUBLE: DuckDB's DECIMAL 0.9*n is exact
      |  -- while Spark's double 0.9*n is a hair above, and ceil diverges
      |  -- whenever q*n lands on an integer (n divisible by 10)
      |  CAST(min(CASE WHEN cum >= ceil(CAST(0.5 AS DOUBLE) * n) THEN b END) AS DOUBLE) / 100 AS p50,
      |  CAST(min(CASE WHEN cum >= ceil(CAST(0.9 AS DOUBLE) * n) THEN b END) AS DOUBLE) / 100 AS p90,
      |  CAST(min(CASE WHEN cum >= ceil(CAST(0.99 AS DOUBLE) * n) THEN b END) AS DOUBLE) / 100 AS p99
      |FROM cum
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C5c — percentile_ranks (OpenSearch's inverse-percentile metric):
    * for fixed value thresholds, the fraction of each group at or below
    * them — "what share of requests were under 200 ms". Exact one-pass
    * conditional aggregate: each rank is a map-side-combined sum, so the
    * whole metric costs one scan + one tiny shuffle at any scale (the
    * same shape as C4's error rate, and cheaper than any percentile
    * inversion — which is also why ApproxRewrite leaves reverse
    * percentiles exact: THIS is the scale path for them).
    */
  def percentileRanks(spark: SparkSession, dir: String,
                      thresholds: Seq[Int] = Seq(25, 50, 75)): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        thresholds.map(t =>
          round(sum(when(col("value") <= t, 1).otherwise(0)).cast("double") /
            count(lit(1)), 4).as(s"pr_$t")): _*)
      .orderBy(col("event_type"))

  val percentileRanksSql: String = {
    val ranks = Seq(25, 50, 75).map(t =>
      s"round(CAST(sum(CASE WHEN value <= $t THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS pr_$t")
      .mkString(",\n      |  ")
    s"""SELECT event_type, count(*) AS n,
      |  $ranks
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  }

  // ---- C6: cardinality metric ----------------------------------------

  def cardinality(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("users"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val cardinalitySql: String =
    """SELECT event_type, count(DISTINCT user_id) AS users, count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Scale path for C6: an EXPLICIT HyperLogLog built from register
    * arithmetic (Flajolet et al. 2007) — the OpenSearch `cardinality`
    * agg's structure, laid bare as two aggregates instead of an opaque
    * sketch buffer. Register index = low 14 bits of a 60-bit md5-
    * derived hash (p=14 → 16384 registers, rsd ≈ 0.8%), rank = leading
    * zeros of the remaining 46 bits + 1 via `length(bin(w))` (integer-
    * string arithmetic — no float log, no cross-engine ulp risk). The
    * register table IS a mergeable sketch: max() combines map-side
    * like any HLL union, and the shuffled grain is ≤ groups × 16384
    * rows regardless of corpus size — the exact-distinct shuffle never
    * happens. The harmonic sum is kept EXACT by scaling each 2^-M term
    * to the integer 2^(47-M) (long addition is order-independent;
    * doubles would round past 53 bits), and the standard small-range
    * linear-counting branch applies under 2.5·m.
    *
    * ★ (r12, was ☆): every step — hash, registers, ranks, scaled
    * harmonic sum, bias constant, linear counting — is plain integer/
    * double arithmetic identical in DuckDB, so the sketch ESTIMATE
    * itself is oracle-checked, not just bounded by ApproxSpec.
    */
  private[operators] def hexU60(inner: String, strposFn: String): String =
    // every multiplier CAST AS BIGINT: the sub-2^31 ones would parse as
    // INT and the digit*multiplier product overflows 32 bits (ANSI throws)
    (1 to 15).map(i =>
      s"($strposFn('0123456789abcdef', substr(md5($inner), $i, 1)) - 1)" +
        s" * CAST(${1L << (4 * (15 - i))} AS BIGINT)")
      .mkString("(", " + ", ")")

  /** Finisher over (keys..., vp, sp) rows: the bias-corrected harmonic
    * estimate + linear-counting branch; adds `users`, drops vp/sp.
    */
  private[operators] def hllEstimate(df: DataFrame): DataFrame = {
    val m = 16384
    df.withColumn("e_raw",
        lit(0.7213 / (1.0 + 1.079 / m)) * lit(16384.0 * 16384.0 * 140737488355328.0)
          / (col("sp") + (lit(m.toLong) - col("vp")) * lit(1L << 47)).cast("double"))
      .withColumn("users",
        // round to 6 dp before floor: JVM Math.log and libm ln are each
        // only ~1-ulp accurate, and floor flips across engines when
        // m*ln(...) lands within an ulp of an integer (winsorizedStats
        // precedent)
        when(col("e_raw") <= lit(2.5 * m) && col("vp") < m,
          floor(round(lit(m.toDouble) * log(lit(m.toDouble) / (lit(m.toLong) - col("vp")).cast("double")), 6)))
          .otherwise(floor(col("e_raw"))).cast("long"))
      .drop("e_raw", "sp", "vp")
  }

  def cardinalityApprox(spark: SparkSession, dir: String): DataFrame = {
    val m = 16384L
    val regs = Tables.events(spark, dir)
      .select(col("event_type"),
        expr(hexU60("CAST(user_id AS STRING)", "instr")).as("u"))
      .select(col("event_type"),
        pmod(col("u"), lit(m)).as("idx"),
        expr("u div 16384").as("w"))
      .select(col("event_type"), col("idx"),
        when(col("w") === 0L, lit(47L))
          .otherwise(lit(47L) - length(bin(col("w")))).as("rho"))
      .groupBy(col("event_type"), col("idx"))
      .agg(max(col("rho")).as("mr"), count(lit(1)).as("cnt"))
    hllEstimate(
      regs.groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          count(lit(1)).as("vp"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(47 - mr AS INT))")).as("sp")))
      .select(col("event_type"), col("users"), col("n"))
      .orderBy(col("event_type"))
  }

  val cardinalityApproxSql: String = {
    val u = hexU60("CAST(user_id AS VARCHAR)", "strpos")
    s"""WITH h AS (SELECT event_type, $u AS u FROM events),
      |r AS (
      |  SELECT event_type, u % 16384 AS idx,
      |    CASE WHEN u // 16384 = 0 THEN 47
      |         ELSE 47 - length(bin(u // 16384)) END AS rho
      |  FROM h),
      |r2 AS (
      |  SELECT event_type, idx, max(rho) AS mr, count(*) AS cnt
      |  FROM r GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n, count(*) AS vp,
      |    CAST(sum(CAST(1 AS BIGINT) << CAST(47 - mr AS INT)) AS BIGINT) AS sp
      |  FROM r2 GROUP BY 1),
      |e AS (
      |  -- every constant CAST to DOUBLE: DuckDB parses bare decimal
      |  -- literals as DECIMAL and the product overflows DECIMAL(18)
      |  -- (and would diverge from Spark's double arithmetic anyway)
      |  SELECT event_type, n, vp,
      |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(16384 AS DOUBLE)))
      |      * (CAST(16384 AS DOUBLE) * CAST(16384 AS DOUBLE) * CAST(140737488355328 AS DOUBLE))
      |      / CAST(sp + (16384 - vp) * (CAST(1 AS BIGINT) << 47) AS DOUBLE) AS e_raw
      |  FROM g)
      |SELECT event_type,
      |  CAST(CASE WHEN e_raw <= CAST(${2.5 * 16384} AS DOUBLE) AND vp < 16384
      |       THEN floor(round(CAST(16384 AS DOUBLE) * ln(CAST(16384 AS DOUBLE) / CAST(16384 - vp AS DOUBLE)), 6))
      |       ELSE floor(e_raw) END AS BIGINT) AS users,
      |  n
      |FROM e
      |ORDER BY event_type""".stripMargin
  }

  // ---- C7: top-N per group -------------------------------------------

  def topUsersPerType(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(round(sum(col("value")), 2).as("total_value"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("total_value").desc, col("user_id"))
    agg.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy(col("event_type"), col("rank"))
  }

  val topUsersPerTypeSql: String =
    """WITH agg AS (
      |  SELECT event_type, user_id, round(sum(value), 2) AS total_value
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY event_type ORDER BY total_value DESC, user_id) AS rank
      |  FROM agg)
      |SELECT event_type, user_id, total_value, rank
      |FROM r WHERE rank <= 3
      |ORDER BY event_type, rank""".stripMargin

  // ---- C8: sessionization (gap-based, batch) -------------------------

  /** 30-minute-gap sessionization via lag + running sum of session-start
    * flags — one shuffle on user_id; the same semantics run streaming in
    * LogPipeline via flatMapGroupsWithState (C11).
    * ts pre-truncated to seconds on both sides (parquet ns vs micros).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tss"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        date_trunc("second", col("ts")).as("tss"))
      .withColumn("prev", lag(col("tss"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_timestamp(col("tss")) - unix_timestamp(col("prev")) > 1800, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_s")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"),
        min(col("tss")).as("session_start"),
        max(col("tss")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val sessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, value, date_trunc('second', ts) AS tss FROM events),
      |l AS (
      |  SELECT *, lag(tss) OVER (PARTITION BY user_id ORDER BY tss, event_id) AS prev FROM e),
      |f AS (
      |  SELECT *, CASE WHEN prev IS NULL OR epoch(tss) - epoch(prev) > 1800
      |                 THEN 1 ELSE 0 END AS new_s FROM l),
      |s AS (
      |  SELECT *, sum(new_s) OVER (
      |    PARTITION BY user_id ORDER BY tss, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
      |  round(sum(value), 2) AS session_value,
      |  min(tss) AS session_start, max(tss) AS session_end
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---- C9: enrichment join (logs × user dim) -------------------------

  /** events ⋈ customer on user_id — dim side broadcast: at 100 TB the
    * fact table never shuffles for this join.
    */
  def enrichJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("c_mktsegment"), col("event_type"))

  val enrichJoinSql: String =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  round(sum(value), 2) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** C28 — derivative pipeline agg (OpenSearch `derivative`): the
    * day-over-day delta of the daily event count via lag over the
    * (small) aggregated series. First day's delta is null, as in
    * OpenSearch.
    */
  def derivative(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("delta", col("n") - lag(col("n"), 1).over(w))
      .orderBy(col("day"))
  }

  val derivativeSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1)
      |SELECT day, n, n - lag(n) OVER (ORDER BY day) AS delta
      |FROM daily
      |ORDER BY day""".stripMargin

  /** C29 — anomaly days: flag daily buckets whose event count deviates
    * from the series mean by more than 2σ (population stddev — matches
    * OpenSearch's aggregate-then-threshold alerting shape). The global
    * stats are a one-row broadcast over the tiny aggregated series.
    */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.agg(
      avg(col("n")).as("mean_n"), stddev_pop(col("n")).as("sd_n"))
    daily.crossJoin(broadcast(stats))
      .withColumn("z", round((col("n") - col("mean_n")) / col("sd_n"), 4))
      .filter(abs(col("z")) > 2)
      .select(col("day"), col("n"), col("z"))
      .orderBy(col("day"))
  }

  val anomalyDaysSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1),
      |stats AS (
      |  SELECT avg(n) AS mean_n, stddev_pop(n) AS sd_n FROM daily)
      |SELECT day, n, round((n - mean_n) / sd_n, 4) AS z
      |FROM daily CROSS JOIN stats
      |WHERE abs(round((n - mean_n) / sd_n, 4)) > 2
      |ORDER BY day""".stripMargin

  /** C30 — terms agg with an "Other" bucket (OpenSearch terms agg
    * reports `sum_other_doc_count`): top-2 user_ids per count plus one
    * aggregated remainder row. Top-k and remainder come from the SAME
    * one-row aggregate over the per-key counts: the raw stream is
    * shuffled once, and the top-k is the F5 TopKAgg bounded aggregator
    * (tie order n DESC, user_id ASC — identical to a rank window), so
    * a key-cardinality-sized table never single-partition-sorts. The
    * remainder is total − Σ(top-k n) from the same row.
    */
  def termsWithOther(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val topk = graft.plans.TopKAgg.udafFor[Long](k)
    // one pass over the per-key aggregate: bounded top-k buffer + total
    val top = perUser
      .agg(topk(col("user_id"), col("n").cast("double")).as("top"),
        sum(col("n")).as("total"))
      .select(col("total"), posexplode(col("top")))
      .select(col("total"), col("col._2").as("user_id"),
        col("col._1").cast("long").as("n"), (col("pos") + 1).cast("long").as("rank"))
    val topOut = top.select(col("user_id").cast("string").as("term"),
      col("n"), col("rank"))
    // Degenerate case (distinct keys <= k): the remainder is an empty
    // set, and SQL sum() over zero rows is NULL — emit NULL, not 0, so
    // both engines agree. nullif is safe because every surviving key
    // has n >= 1: a zero remainder can only mean "no keys left".
    val other = top
      .agg(nullif(first(col("total")) - sum(col("n")), lit(0L)).as("n"))
      .select(lit("__other__").as("term"), col("n"), lit(k + 1).cast("long").as("rank"))
    topOut.unionByName(other).orderBy(col("rank"))
  }

  val termsWithOtherSql: String =
    """WITH perUser AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
      |ranked AS (
      |  SELECT user_id, n, row_number() OVER (ORDER BY n DESC, user_id) AS rank
      |  FROM perUser)
      |SELECT CAST(user_id AS VARCHAR) AS term, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 2
      |UNION ALL
      |SELECT '__other__' AS term, CAST(sum(n) AS BIGINT) AS n, CAST(3 AS BIGINT) AS rank
      |FROM ranked WHERE rank > 2
      |ORDER BY rank""".stripMargin

  /** C1b — auto_date_histogram (OpenSearch's adaptive-interval
    * histogram): pick the smallest interval from a fixed ladder
    * (1h/6h/1d/7d/30d) whose ALIGNED bucket count fits the target,
    * then histogram at that interval. Two-phase single plan: a one-row
    * min/max aggregate broadcast into the bucketing scan — the same
    * one-row-stats shape as anomaly detection, so the whole query is
    * two passes over the column and one tiny shuffle at any scale.
    * Bucket count is computed on the aligned grid (`u1 div i − u0 div
    * i + 1`), not the raw span, so the choice is exactly reproducible.
    */
  def autoDateHistogram(spark: SparkSession, dir: String,
                        targetBuckets: Int = 25): DataFrame = {
    val ladder = Seq(3600L, 21600L, 86400L, 604800L, 2592000L)
    val ev = Tables.events(spark, dir)
      .select(col("ts").cast("long").as("u"))
    val fits = (i: Long) =>
      expr(s"(u1 div $i) - (u0 div $i) + 1") <= targetBuckets
    val interval = ladder.init.foldRight(lit(ladder.last)) {
      (i, acc) => when(fits(i), lit(i)).otherwise(acc)
    }
    val stats = ev.agg(min(col("u")).as("u0"), max(col("u")).as("u1"))
      .select(interval.as("ivl"))
    ev.crossJoin(broadcast(stats))
      .groupBy(expr("timestamp_seconds((u div ivl) * ivl)").as("bucket"),
        col("ivl").cast("long").as("interval_sec"))
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"), col("n"), col("interval_sec"))
      .orderBy(col("bucket"))
  }

  val autoDateHistogramSql: String =
    """WITH u AS (SELECT epoch_us(ts) // 1000000 AS u FROM events),
      |st AS (SELECT min(u) AS u0, max(u) AS u1 FROM u),
      |iv AS (SELECT CASE
      |    WHEN (u1 // 3600)   - (u0 // 3600)   + 1 <= 25 THEN 3600
      |    WHEN (u1 // 21600)  - (u0 // 21600)  + 1 <= 25 THEN 21600
      |    WHEN (u1 // 86400)  - (u0 // 86400)  + 1 <= 25 THEN 86400
      |    WHEN (u1 // 604800) - (u0 // 604800) + 1 <= 25 THEN 604800
      |    ELSE 2592000 END AS ivl FROM st)
      |SELECT make_timestamp((u.u // iv.ivl) * iv.ivl * 1000000) AS bucket,
      |  count(*) AS n, CAST(iv.ivl AS BIGINT) AS interval_sec
      |FROM u, iv
      |GROUP BY 1, 3
      |ORDER BY bucket""".stripMargin

  /** C2d — composite aggregation with keyset pagination (OpenSearch
    * `composite` + `after_key`): page a huge terms agg in key order
    * without ever materializing the full bucket set in one result.
    *
    * The scale shape: each page is `orderBy(key).limit(pageSize)` over
    * the aggregate — TakeOrderedAndProject, a bounded pageSize-row heap
    * per partition, never a global sort or an OFFSET scan. The next
    * page's `key > after_key` is a deterministic predicate on the
    * GROUPING column, so Catalyst pushes it below the aggregate into
    * the scan: page N+1 doesn't even aggregate the keys already paged
    * out (with a key-sorted/partitioned store that's partition pruning).
    * The after_key handoff is one scalar per page — exactly what the
    * OpenSearch API returns to the client.
    */
  def termsPaged(spark: SparkSession, dir: String, pageSize: Int = 10): DataFrame = {
    def bucketAgg = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 10).cast("long")).as("total"))
    val page1 = bucketAgg.orderBy(col("user_id")).limit(pageSize)
    // the API's after_key: the last key of the page just served (a
    // pageSize-row driver action, same cost as returning the page)
    val afterKey = page1.agg(max(col("user_id"))).collect()(0).getLong(0)
    val page2 = bucketAgg
      .filter(col("user_id") > afterKey) // pushed below the aggregate
      .orderBy(col("user_id")).limit(pageSize)
    page1.withColumn("page", lit(1L))
      .unionByName(page2.withColumn("page", lit(2L)))
      .orderBy(col("page"), col("user_id"))
  }

  val termsPagedSql: String =
    """WITH agg AS (
      |  SELECT user_id, count(*) AS n,
      |    CAST(sum(CAST(floor(value * 10) AS BIGINT)) AS BIGINT) AS total
      |  FROM events GROUP BY user_id),
      |p1 AS (
      |  SELECT user_id, n, total, CAST(1 AS BIGINT) AS page
      |  FROM agg ORDER BY user_id LIMIT 10),
      |k AS (SELECT max(user_id) AS after_key FROM p1),
      |p2 AS (
      |  SELECT user_id, n, total, CAST(2 AS BIGINT) AS page
      |  FROM agg, k WHERE user_id > after_key
      |  ORDER BY user_id LIMIT 10)
      |SELECT * FROM p1
      |UNION ALL
      |SELECT * FROM p2
      |ORDER BY page, user_id""".stripMargin

  /** C31 — date histogram with empty-bucket fill (OpenSearch
    * `min_doc_count: 0`): generate the full day sequence between min
    * and max and left-join the counts, so gap days appear as zeros.
    * The spine generation is O(days) — driver-free, from the one-row
    * min/max aggregate via `sequence`.
    */
  def dateHistogramFilled(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      // a sparse slice so gaps actually exist: only high-value events
      .filter(col("value") > 450)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val spine = Tables.events(spark, dir)
      .agg(min(date_trunc("day", col("ts"))).as("d0"),
        max(date_trunc("day", col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("INTERVAL 1 DAY"))).as("day"))
    spine.join(purchases, Seq("day"), "left")
      .select(col("day"), coalesce(col("cnt"), lit(0)).as("n"))
      .orderBy(col("day"))
  }

  val dateHistogramFilledSql: String =
    """WITH p AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS cnt
      |  FROM events WHERE event_type = 'purchase' AND value > 450
      |  GROUP BY 1),
      |spine AS (
      |  SELECT unnest(generate_series(min(date_trunc('day', ts)), max(date_trunc('day', ts)), INTERVAL 1 DAY)) AS day
      |  FROM events)
      |SELECT spine.day AS day, coalesce(p.cnt, 0) AS n
      |FROM spine LEFT JOIN p ON spine.day = p.day
      |ORDER BY day""".stripMargin
}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.sources.Tables

/** Additional analytics shapes (SURVEY §2 C/D extensions): exists /
  * missing (semi/anti joins), multi-level aggregation (rollup), trend
  * smoothing (moving average), numeric histogram binning, latest-event
  * per key — the remaining OpenSearch-dashboard query vocabulary.
  */
object Extras {

  /** C12 — "exists" query: customers that do have orders (left-semi) +
    * their order count via join-free aggregation comparison.
    */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  val customersWithOrdersSql: String =
    """SELECT c_mktsegment, count(*) AS n_customers
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** C3p — terms lookup query (OpenSearch `terms` with a lookup body:
    * the value list is FETCHED from another index's document at query
    * time — "events from users in this saved segment" — instead of
    * inlined by the caller; the list can be thousands of ids, far past
    * what a hand-written terms array carries). Spark-first: the lookup
    * is a filtered dimension scan broadcast into a LEFT-SEMI join —
    * the fact side never shuffles, exactly the "big scan probes a tiny
    * membership set" shape the lookup API exists to enable; the agg
    * afterwards is the only exchange at any scale.
    */
  def termsLookup(spark: SparkSession, dir: String,
                  segment: String = "BUILDING"): DataFrame = {
    val keys = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === segment)
      .select(col("c_custkey").as("user_id"))
    Tables.events(spark, dir)
      .join(broadcast(keys), Seq("user_id"), "left_semi")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val termsLookupSql: String =
    """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
      |FROM events
      |WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** C59 — join-field has_child query with min_children (OpenSearch
    * parent/child mapping: return PARENT documents having at least N
    * children matching a child-level filter — the relational gap the
    * join field exists to close, and distinct from C12's plain exists:
    * the match-count floor makes it an aggregated semi-join, not a
    * semi-join). Spark-first shape: filter + COUNT the child side FIRST
    * (map-side-combined, child table never joins at raw width), then
    * one key-equi join of the ≥N survivors to parents — the aggregate
    * prunes before the join, so the join input is bounded by qualifying
    * parents at any scale. has_parent is the same join read the other
    * direction (child rows kept when the parent matches) and rides
    * every enrichment join in this suite already (C9).
    */
  def hasChild(spark: SparkSession, dir: String,
               minQty: Double = 45, minChildren: Int = 2): DataFrame = {
    val matching = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= minQty)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_matching_children"))
      .filter(col("n_matching_children") >= minChildren)
    Tables.orders(spark, dir)
      .join(matching, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("n_matching_children"))
      .orderBy(col("o_orderkey"))
  }

  val hasChildSql: String =
    """SELECT o_orderkey, o_orderpriority, n_matching_children
      |FROM orders JOIN (
      |  SELECT l_orderkey, count(*) AS n_matching_children
      |  FROM lineitem WHERE l_quantity >= 45
      |  GROUP BY l_orderkey
      |  HAVING count(*) >= 2) m ON o_orderkey = m.l_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** C13 — "missing" query: customers with no URGENT orders (left-anti;
    * the right side is pre-filtered so the result is non-degenerate at
    * every scale factor — every customer has SOME order in this data).
    */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val urgent = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** C14 — multi-level aggregation (OpenSearch nested terms aggs) via
    * ROLLUP: (segment, priority) → (segment) → grand total.
    */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .rollup(col("c_mktsegment"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  val rollupRevenueSql: String =
    """SELECT c_mktsegment, o_orderpriority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
      |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** C15 — 7-row moving average of daily event volume (dashboard trend
    * line). Frame is row-based (deterministic) over the daily series.
    */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
    daily.select(
        col("day"), col("n"),
        round(avg(col("n")).over(w), 4).as("n_ma7"),
        round(avg(col("v")).over(w), 4).as("v_ma7"))
      .orderBy(col("day"))
  }

  val movingAvgSql: String =
    """WITH daily AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS n, sum(value) AS v
      |  FROM events GROUP BY 1)
      |SELECT day, n,
      |  round(avg(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS n_ma7,
      |  round(avg(v) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS v_ma7
      |FROM daily
      |ORDER BY day""".stripMargin

  /** C16 — numeric histogram agg: fixed-width bins over event value. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy((floor(col("value") / 20) * 20).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("bin"))

  val valueHistogramSql: String =
    """SELECT CAST(floor(value / 20) * 20 AS BIGINT) AS bin,
      |  count(*) AS n, round(avg(value), 4) AS avg_value
      |FROM events
      |GROUP BY 1
      |ORDER BY bin""".stripMargin

  /** C16b — histogram with extended_bounds (OpenSearch `histogram` +
    * `extended_bounds`/`min_doc_count: 0`): EMPTY bins materialize over
    * the user-declared range, so chart axes stay stable when data is
    * sparse. The bin skeleton is a `spark.range` (20 rows), the counts
    * are one map-side-combined aggregate, and the gap-fill is a left
    * join of two bounded aggregates — C31's shape with numeric bins.
    */
  def histogramBounds(spark: SparkSession, dir: String,
                      lo: Long = 0, hi: Long = 1000, width: Long = 50): DataFrame = {
    val bins = spark.range(lo / width, hi / width)
      .select((col("id") * width).as("bin"))
    val counts = Tables.events(spark, dir)
      .filter(col("value") >= lo && col("value") < hi)
      .groupBy((floor(col("value") / width) * width).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    bins.join(counts, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy(col("bin"))
  }

  val histogramBoundsSql: String =
    """WITH bins AS (SELECT i * 50 AS bin FROM range(0, 20) t(i)),
      |counts AS (
      |  SELECT CAST(floor(value / 50) * 50 AS BIGINT) AS bin, count(*) AS cnt
      |  FROM events WHERE value >= 0 AND value < 1000
      |  GROUP BY 1)
      |SELECT b.bin, coalesce(cnt, 0) AS n
      |FROM bins b LEFT JOIN counts c ON b.bin = c.bin
      |ORDER BY b.bin""".stripMargin

  /** C16c — variable-width histogram (OpenSearch
    * `variable_width_histogram`: bucket bounds adapt to the data).
    * The deterministic Spark-first form is equal-frequency binning:
    * cut points are the exact k-quantiles (ONE aggregate row,
    * broadcast), each row's bin = how many cuts lie below it — an
    * array fold in the scan projection, no second shuffle before the
    * final bounded groupBy. The interpolated quantile doubles are
    * bit-identical cross-engine (the C5 percentile parity), so bin
    * assignment is exact.
    */
  def histogramVarWidth(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val fracs = (1 until k).map(i => i.toDouble / k).mkString(", ")
    // cuts rounded to 6 decimals: the interpolated quantile double can
    // differ from DuckDB's in the last ulp at small N (different
    // lerp operation order), flipping a `value > cut` at an exact tie;
    // 6-decimal cuts are identical cross-engine and equally valid
    // equal-frequency bounds
    val cuts = Tables.events(spark, dir)
      .agg(transform(expr(s"percentile(value, array($fracs))"),
        c => round(c, 6)).as("cuts"))
    Tables.events(spark, dir)
      .crossJoin(broadcast(cuts))
      .select(
        aggregate(col("cuts"), lit(0),
          (acc, c) => acc + when(col("value") > c, 1).otherwise(0))
          .cast("long").as("bin"),
        col("value"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 4).as("lo"),
        round(max(col("value")), 4).as("hi"))
      .orderBy(col("bin"))
  }

  val histogramVarWidthSql: String = {
    val fracs = (1 until 8).map(i => i / 8.0).mkString(", ")
    s"""WITH cuts AS (
       |  SELECT list_transform(quantile_cont(value, [$fracs]),
       |    c -> round(c, 6)) AS qs FROM events)
       |SELECT CAST(len(list_filter(qs, c -> value > c)) AS BIGINT) AS bin,
       |  count(*) AS n, round(min(value), 4) AS lo, round(max(value), 4) AS hi
       |FROM events CROSS JOIN cuts
       |GROUP BY 1
       |ORDER BY bin""".stripMargin
  }

  /** C18 — as-of join: for every purchase, the latest view by the same
    * user at-or-before the purchase time (attribution: "which page view
    * led to this purchase").
    *
    * Spark has no native ASOF JOIN; the Spark-first form is the
    * union-tag-window composition: union both sides tagged, sort each
    * user's timeline once, carry the last-seen view with
    * `last(_, ignoreNulls=true)` — ONE shuffle on user_id, no
    * range-join explosion, scales to any timeline length. Views are
    * pre-deduped to one per (user, second) so tie semantics are
    * deterministic and identical to DuckDB's native ASOF JOIN oracle.
    */
  def asofViewBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        date_trunc("second", col("ts")).as("tss"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("tss"))
      .agg(max(col("event_id")).as("view_id"))
      .select(col("user_id"), col("tss"), col("view_id"), lit(0).as("tag"))
      .withColumn("event_id", lit(null).cast("long"))
      .withColumn("value", lit(null).cast("double"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("tss"), lit(null).cast("long").as("view_id"),
        lit(1).as("tag"), col("event_id"), col("value"))
    // views sort before purchases at equal tss → "at or before" semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tss"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value"), col("last_view_id").as("view_id"))
      .orderBy(col("purchase_id"))
  }

  val asofViewBeforePurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, date_trunc('second', ts) AS tss FROM events),
      |views AS (
      |  SELECT user_id, tss, max(event_id) AS view_id
      |  FROM e WHERE event_type = 'view' GROUP BY 1, 2),
      |purchases AS (
      |  SELECT user_id, event_id, value, tss FROM e WHERE event_type = 'purchase')
      |SELECT p.event_id AS purchase_id, p.user_id, p.value, v.view_id
      |FROM purchases p ASOF LEFT JOIN views v
      |  ON p.user_id = v.user_id AND p.tss >= v.tss
      |ORDER BY purchase_id""".stripMargin

  /** C17 — "top hits" agg: the latest event per user (deterministic
    * tiebreak on event_id).
    */
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tss").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        date_trunc("second", col("ts")).as("tss"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("tss"))
      .orderBy(col("user_id"))
  }

  val latestEventPerUserSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, value, date_trunc('second', ts) AS tss,
      |    row_number() OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_id, event_type, value, tss
      |FROM e WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** C20 — pivot (crosstab): daily counts per event type as columns —
    * the dashboard "stacked series" shape. One shuffle on day; the
    * pivot itself is a conditional-agg projection (no extra exchange).
    */
  val eventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", eventTypes)
      .count()
      .na.fill(0, eventTypes)
      .orderBy(col("day"))

  val pivotEventsSql: String =
    """SELECT date_trunc('day', ts) AS day,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'error') AS error,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'view') AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** C21 — CUBE: all grouping-set combinations of (segment, order
    * year) in one pass — partial aggregation handles the expansion
    * map-side, one shuffle total.
    */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
    ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_year"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment").asc_nulls_first, col("o_year").asc_nulls_first)
  }

  val cubeRevenueSql: String =
    """SELECT c_mktsegment, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE (c_mktsegment, CAST(year(o_orderdate) AS BIGINT))
      |ORDER BY c_mktsegment ASC NULLS FIRST, o_year ASC NULLS FIRST""".stripMargin

  /** Distributed global rank: range-partition on the sort key, sort
    * within partitions (parallel), then stamp contiguous global
    * indices — the "range-partitioned sort + per-partition offset"
    * plan, vs an empty-PARTITION-BY window which moves EVERY row into
    * a single task. Range partition boundaries come from sampling, but
    * the global index is invariant to where the cuts land because the
    * ordering is total (callers must pass a unique sort key).
    *
    * The whole thing is ONE SQL-visible query, fully codegen'd — no
    * RDD drop, no driver collect:
    *   1. range-shuffle + in-partition sort, then stamp
    *      `monotonically_increasing_id()` — its documented layout
    *      (partition index in the upper bits, a 0-based row counter in
    *      the lower 33) gives (pid, local_rank) for free in row order;
    *   2. per-pid counts feed a `parts`-row cumulative window — the
    *      only single-partition step, over one row PER RANGE PARTITION
    *      (thousands at cluster scale, never data-sized) — yielding
    *      each partition's prefix offset and the global total;
    *   3. a broadcast join on pid stamps rank = offset + local + 1 and
    *      `n_rows` (callers need N for percent_rank/ntile arithmetic).
    *
    * The shuffle+sort is paid once: both consumers (counts and the
    * final stamping) sit over the SAME range exchange, which Spark
    * de-duplicates via ReusedExchange (windowRanks' EntrySpec test
    * asserts it). The explicit numPartitions pins the partitioning
    * against AQE re-planning (REPARTITION_BY_NUM is never coalesced),
    * keeping pid meanings identical across the two sides of the join.
    *
    * CONTRACT (round-11 finding): correctness DOES hinge on that
    * reuse. Any single evaluation stamps true global ranks (off and
    * mid derive from the same boundaries), but if the offsets arm and
    * the probe arm compile into SEPARATE range exchanges, their
    * SAMPLED boundaries can disagree and a suffix of ranks shifts by
    * a partition's worth of rows (observed ±64 at sf0.1). A caller
    * must therefore consume this output in ONE downstream subtree;
    * a multi-aggregate fan-out (q_batch_mix's first form) or an
    * upstream broadcast cross join (E101's cuts) can defeat reuse —
    * those call sites use the E13b/E13d value-based bucket-offset
    * cumsum instead, which is safe under any fan-out.
    */
  private[operators] def rankedByRange(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    val parts = math.max(df.sparkSession.sparkContext.defaultParallelism / 2, 2)
    val localMask = (1L << 33) - 1
    val stamped = df
      .repartitionByRange(parts, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mid"), 33))
    val cumW = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = stamped.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(cumW), lit(0L)))
      .withColumn("n_rows", sum(col("cnt")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("pid"), col("off"), col("n_rows"))
    stamped.join(broadcast(offsets), "pid")
      .withColumn("rank", col("off") + col("mid").bitwiseAND(lit(localMask)) + 1)
      .drop("mid", "pid", "off")
  }

  /** C22 — distribution ranks: quartile (ntile), percent_rank and
    * cume_dist of customers by account balance. Unique (balance, key)
    * ordering keeps every rank function deterministic cross-engine.
    * Global ranks are the semantics, but the plan is the distributed
    * `rankedByRange` (no single-partition sort); ntile/percent_rank/
    * cume_dist derive from (rank, N) arithmetically — with a unique
    * ordering there are no ties, so cume_dist = rank/N exactly and
    * ntile follows the standard larger-buckets-first fill.
    */
  def windowRanks(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    rankedByRange(base, Seq("c_acctbal", "c_custkey"))
      // ntile(4): q = N div 4 rows per bucket, first r = N mod 4
      // buckets take one extra row (greatest() guards the DIV when
      // q = 0 — that branch is unreachable then, but ANSI division
      // must not see a zero)
      .withColumn("quartile",
        when(col("rank") <= expr("(n_rows % 4) * (n_rows DIV 4 + 1)"),
          expr("(rank - 1) DIV (n_rows DIV 4 + 1) + 1"))
        .otherwise(expr(
          "n_rows % 4 + (rank - (n_rows % 4) * (n_rows DIV 4 + 1) - 1) DIV greatest(n_rows DIV 4, 1) + 1"))
        .cast("long"))
      // greatest(n-1, 1) guards the single-row frame: percent_rank
      // defines 0.0 there (rank-1 = 0 regardless of the divisor), while
      // a bare n-1 divisor yields 0/0 = NaN and diverges from SQL.
      .withColumn("pct_rank",
        round((col("rank") - 1).cast("double") / greatest(col("n_rows") - 1, lit(1L)), 6))
      .withColumn("cume", round(col("rank").cast("double") / col("n_rows"), 6))
      .select(col("c_custkey"), col("c_acctbal"), col("quartile"),
        col("pct_rank"), col("cume"))
      .orderBy(col("c_custkey"))
  }

  val windowRanksSql: String =
    """SELECT c_custkey, c_acctbal,
      |  CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile,
      |  round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 6) AS pct_rank,
      |  round(cume_dist() OVER (ORDER BY c_acctbal, c_custkey), 6) AS cume
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** C32 — FULL OUTER join: reconcile per-day purchase revenue against
    * per-day error counts — days present on either side survive with
    * nulls coalesced (the "compare two metric streams" dashboard
    * shape).
    */
  def fullOuterDaily(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("event_type"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase" && col("value") > 150)
      .groupBy(col("day")).agg(round(sum(col("value")), 2).as("revenue"))
    val errors = e.filter(col("event_type") === "error" && col("value") > 150)
      .groupBy(col("day")).agg(count(lit(1)).as("n_errors"))
    purchases.join(errors, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .orderBy(col("day"))
  }

  val fullOuterDailySql: String =
    """WITH p AS (
      |  SELECT date_trunc('day', ts) AS day, round(sum(value), 2) AS revenue
      |  FROM events WHERE event_type = 'purchase' AND value > 150 GROUP BY 1),
      |e AS (
      |  SELECT date_trunc('day', ts) AS day, count(*) AS n_errors
      |  FROM events WHERE event_type = 'error' AND value > 150 GROUP BY 1)
      |SELECT coalesce(p.day, e.day) AS day,
      |  coalesce(p.revenue, 0.0) AS revenue,
      |  CAST(coalesce(e.n_errors, 0) AS BIGINT) AS n_errors
      |FROM p FULL OUTER JOIN e ON p.day = e.day
      |ORDER BY day""".stripMargin

  /** C33 — set operations: users who purchased but never errored
    * (EXCEPT) and users who did both (INTERSECT), as one tagged union.
    * Spark plans set ops as aggregates/joins — no special operator
    * needed at scale.
    */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String) = e.filter(col("event_type") === t).select(col("user_id"))
    // scalar count per cohort (not groupBy) so an EMPTY cohort still
    // reports 0 — count over an empty relation is one row in SQL too
    val both = users("purchase").intersect(users("error"))
      .agg(count(lit(1)).as("n_users"))
      .select(lit("purchase_and_error").as("cohort"), col("n_users"))
    val only = users("purchase").except(users("error"))
      .agg(count(lit(1)).as("n_users"))
      .select(lit("purchase_no_error").as("cohort"), col("n_users"))
    both.unionByName(only).orderBy(col("cohort"))
  }

  val setOpsSql: String =
    """WITH b AS (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'error'),
      |o AS (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'error')
      |SELECT 'purchase_and_error' AS cohort, count(*) AS n_users FROM b
      |UNION ALL
      |SELECT 'purchase_no_error' AS cohort, count(*) AS n_users FROM o
      |ORDER BY cohort""".stripMargin

  /** C27 — JSON field extraction + aggregation over the `props` JSON
    * string column (OpenSearch documents ARE JSON — this is the
    * "extract a dynamic field and aggregate it" dashboard shape).
    * `get_json_object` is a codegen'd builtin; the parse happens once
    * per row inside the scan→agg codegen span.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        round(expr("percentile(k, 0.5)"), 4).as("k_p50"))
      .orderBy(col("event_type"))

  val jsonExtractSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(avg(CAST(props->>'$.k' AS BIGINT)), 4) AS avg_k,
      |  min(CAST(props->>'$.k' AS BIGINT)) AS min_k,
      |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
      |  round(quantile_cont(CAST(props->>'$.k' AS BIGINT), 0.5), 4) AS k_p50
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C40 — ratio-to-report: each market segment's share of total order
    * revenue — the "percent of total" dashboard metric. Sums run in
    * exact integer cents (see Tpch D7 note) and the share divides two
    * exact integers, so both engines produce the identical double; one
    * unpartitioned window over the 5-row aggregate.
    */
  def segmentShare(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    val perSeg = ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
    val w = Window.partitionBy()
    perSeg
      .withColumn("revenue", col("rev_cents").cast("double") / 100.0)
      .withColumn("share",
        round(col("rev_cents").cast("double") / sum(col("rev_cents")).over(w), 6))
      .select(col("c_mktsegment"), col("revenue"), col("share"))
      .orderBy(col("c_mktsegment"))
  }

  val segmentShareSql: String =
    """WITH perSeg AS (
      |  SELECT c_mktsegment,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT c_mktsegment,
      |  CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
      |  round(CAST(rev_cents AS DOUBLE) / CAST(sum(rev_cents) OVER () AS DOUBLE), 6) AS share
      |FROM perSeg
      |ORDER BY c_mktsegment""".stripMargin

  /** C34 — statistical aggregates (OpenSearch extended_stats + matrix
    * stats): sample stddev/variance of the value metric and its
    * correlation/covariance with the JSON `k` property, per type. All
    * sample (n-1) definitions — identical across engines.
    */
  def statsAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        get_json_object(col("props"), "$.k").cast("double").as("k"))
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")), 4).as("sd_value"),
        round(var_samp(col("value")), 4).as("var_value"),
        round(corr(col("value"), col("k")), 4).as("corr_vk"),
        round(covar_samp(col("value"), col("k")), 4).as("covar_vk"))
      .orderBy(col("event_type"))

  val statsAggSql: String =
    """SELECT event_type,
      |  round(stddev_samp(value), 4) AS sd_value,
      |  round(var_samp(value), 4) AS var_value,
      |  round(corr(value, CAST(props->>'$.k' AS DOUBLE)), 4) AS corr_vk,
      |  round(covar_samp(value, CAST(props->>'$.k' AS DOUBLE)), 4) AS covar_vk
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C25 — gap sessions via Spark's native `session_window` (the
    * declarative twin of the lag/sum formulation in `q_sessionize` and
    * the stateful streaming version): dynamic-gap windows merge inside
    * one aggregation — a single shuffle on user_id, no window-function
    * sort pass. Spark semantics reproduced in the oracle: window end =
    * last event + gap, and an event at EXACTLY the previous window's
    * end still merges (the oracle breaks only on gap > interval —
    * verified against an exact-gap pair in the sf0.1 data).
    */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("second", col("ts")).as("tss"))
      .groupBy(session_window(col("tss"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"))
      .orderBy(col("user_id"), col("session_start"))

  val sessionWindowsSql: String =
    """WITH e AS (
      |  SELECT user_id, date_trunc('second', ts) AS tss FROM events),
      |s AS (
      |  SELECT user_id, tss,
      |    CASE WHEN tss - lag(tss) OVER (PARTITION BY user_id ORDER BY tss)
      |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (
      |  SELECT user_id, tss,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY tss ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM s)
      |SELECT user_id, min(tss) AS session_start,
      |  max(tss) + INTERVAL 30 MINUTE AS session_end, count(*) AS n
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** C26 — heavy hitters, two-pass: the mergeable Misra–Gries sketch
    * (F7) produces a bounded candidate set in one streaming pass (any
    * item with true frequency > n/(k+1) is guaranteed to survive), then
    * a second pass counts ONLY the candidates exactly (left-semi against
    * the broadcast candidate list — at most k values). This is the
    * scale pattern for terms aggregation over high-cardinality fields:
    * no full groupBy of the key space, and — unlike raw sketch output,
    * which depends on merge order — the verified result is exact and
    * deterministic, so it IS oracle-checked. The item is a
    * deterministically skewed key (floor∘sqrt of a uniform value: item v
    * appears ~2v+1 times), since the raw test columns are near-uniform.
    * ExtensionSpec separately proves the sketch's frequency guarantee.
    */
  def freqItems(spark: SparkSession, dir: String, k: Int = 60): DataFrame = {
    val fi = graft.plans.FreqItemsAgg.udafFor(k)
    val keyed = Tables.events(spark, dir)
      .select(floor(sqrt(col("event_id") % 10000)).cast("long").as("item"))
    val cands = keyed.agg(fi(col("item")).as("top"))
      .select(explode(col("top")).as("c"))
      .select(col("c._1").as("cand"))
    val total = keyed.agg(count(lit(1)).as("n_total"))
    keyed.join(broadcast(cands), col("item") === col("cand"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("n_total")) // integer compare: cnt > n/k
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("item"))).cast("long"))
      .select(col("item"), col("cnt"), col("rank"))
      .orderBy(col("rank"))
  }

  val freqItemsSql: String =
    """WITH keyed AS (
      |  SELECT CAST(floor(sqrt(event_id % 10000)) AS BIGINT) AS item FROM events),
      |c AS (SELECT item, count(*) AS cnt FROM keyed GROUP BY item),
      |t AS (SELECT count(*) AS n_total FROM keyed)
      |SELECT item, cnt,
      |  CAST(row_number() OVER (ORDER BY cnt DESC, item) AS BIGINT) AS rank
      |FROM c CROSS JOIN t
      |WHERE cnt * 60 > n_total
      |ORDER BY rank""".stripMargin

  /** C23 — batch interval join (the batch complement of the C19
    * stream-stream interval join): per purchase, how many views the
    * same user made in the preceding hour. Equi-join on user_id with a
    * residual time-range predicate — a hash join, never a cross
    * product; per-user timelines bound the pair fan-out.
    */
  def viewsBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        date_trunc("second", col("ts")).as("tss"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("tss").as("pts"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("tss").as("vts"))
    p.join(v,
        col("user_id") === col("v_user_id") &&
          col("vts") <= col("pts") && col("vts") > col("pts") - expr("INTERVAL 1 HOUR"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"), col("pts"))
      .agg(count(col("view_id")).as("n_views_1h"))
      .orderBy(col("purchase_id"))
  }

  val viewsBeforePurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, date_trunc('second', ts) AS tss FROM events),
      |p AS (SELECT user_id, event_id AS purchase_id, tss AS pts FROM e WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, event_id AS view_id, tss AS vts FROM e WHERE event_type = 'view')
      |SELECT p.purchase_id, p.user_id, p.pts, count(v.view_id) AS n_views_1h
      |FROM p LEFT JOIN v
      |  ON p.user_id = v.user_id AND v.vts <= p.pts AND v.vts > p.pts - INTERVAL 1 HOUR
      |GROUP BY p.purchase_id, p.user_id, p.pts
      |ORDER BY purchase_id""".stripMargin

  /** C55 — nested/object-field query (OpenSearch `nested` mapping +
    * query semantics, ref README.md:295-314 dashboards over JSON docs):
    * each user's events become an array-of-structs column, and the
    * nested query requires ONE element to satisfy the whole conjunction
    * (event_type='purchase' AND value>200). The `object_match` column
    * evaluates the same conjunction under flattened object-field
    * semantics — each predicate may match a DIFFERENT element — which
    * is exactly the false-positive class nested mappings exist to
    * eliminate; the output keeps flat-matching users so the gap is
    * visible (nested_match=false rows are the false positives).
    *
    * Scale shape: one user_id exchange builds the arrays; all
    * per-element work is codegen'd higher-order functions
    * (exists/filter/aggregate) over the array — no explode, no second
    * shuffle. Matching revenue accumulates in exact integer cents so
    * both engines agree bit-for-bit.
    */
  def nestedField(spark: SparkSession, dir: String): DataFrame = {
    val nested = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("event_type"), col("value"))).as("items"),
        count(lit(1)).as("n_items"))
    val isHit = (e: org.apache.spark.sql.Column) =>
      e.getField("event_type") === "purchase" && e.getField("value") > 200
    nested.select(
        col("user_id"),
        col("n_items"),
        exists(col("items"), isHit).as("nested_match"),
        (exists(col("items"), e => e.getField("event_type") === "purchase") &&
          exists(col("items"), e => e.getField("value") > 200)).as("object_match"),
        aggregate(filter(col("items"), isHit), lit(0L),
          (acc, e) => acc + round(e.getField("value") * 100).cast("long"))
          .as("match_cents"))
      .filter(col("object_match"))
      .orderBy(col("user_id"))
  }

  /** C56 — query_string / DQL search (the Discover search-bar grammar)
    * compiled by functions/QueryString into a NATIVE Column predicate:
    * the grammar below lands in the parquet scan as ordinary
    * PushedFilters (EntrySpec asserts the value range is pushed) — the
    * DSL costs nothing at execution time.
    */
  val queryStringDemo =
    "(event_type:p* OR event_type:view) AND value:[100 TO 300} AND NOT user_id:<10"

  def queryStringSearch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(graft.functions.QueryString.compile(ev, queryStringDemo))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val queryStringSearchSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE (event_type LIKE 'p%' OR event_type = 'view')
      |  AND value >= 100 AND value < 300 AND NOT user_id < 10
      |ORDER BY event_id""".stripMargin

  /** C56d — simple_query_string search (the forgiving grammar:
    * `+must -mustnot "a phrase" optional...` — what applications
    * expose to end users because it never throws). Compiled by
    * functions/QueryString.compileSimple into the same pushable
    * Column predicate class as C56: +spark must match, slow must
    * not, and at least one of {"hash join", stream} must.
    */
  val simpleQueryDemo = "+spark -slow \"hash join\" stream"

  def simpleQuerySearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.filter(graft.functions.QueryString.compileSimple(
        docs, simpleQueryDemo, defaultFields = Seq("text")))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val simpleQuerySearchSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE contains(text, 'spark')
      |  AND NOT contains(text, 'slow')
      |  AND (contains(text, 'hash join') OR contains(text, 'stream'))
      |ORDER BY doc_id""".stripMargin

  /** C82 — Query DSL (`_search` body) search: the STRUCTURED JSON
    * grammar clients and dashboards POST (C56 covers the search-bar
    * string grammar). functions/QueryDsl compiles the whole tree to
    * one native Column predicate — the conjunctive legs (terms, the
    * value range) land in the parquet scan as PushedFilters, so the
    * DSL surface costs nothing at execution time.
    */
  val queryDslDemo: String =
    """{"query": {"bool": {
      |  "must":     [{"terms": {"event_type": ["purchase", "view"]}}],
      |  "filter":   [{"range": {"value": {"gte": 100, "lt": 300}}}],
      |  "must_not": [{"wildcard": {"props": "*\"k\": 1*"}}],
      |  "should":   [{"term": {"user_id": 7}},
      |               {"range": {"user_id": {"gte": 100, "lte": 200}}}],
      |  "minimum_should_match": 1
      |}}}""".stripMargin

  def queryDslSearch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(graft.functions.QueryDsl.compile(ev, queryDslDemo))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val queryDslSearchSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_type IN ('purchase', 'view')
      |  AND value >= 100 AND value < 300
      |  AND NOT coalesce(props LIKE '%"k": 1%', false)
      |  AND (CAST(coalesce(user_id = 7, false) AS INT)
      |     + CAST(coalesce(user_id >= 100 AND user_id <= 200, false) AS INT)) >= 1
      |ORDER BY event_id""".stripMargin

  /** C67 — rolling-window distinct users (the WAU tile: distinct
    * actives over the TRAILING 7 days per day — C45j's cumulative
    * cardinality answers "to date", this answers "last week", and a
    * sliding distinct has no per-bucket decomposition an engine can
    * exploit directly). Spark-first shape: collapse events to DISTINCT
    * (user, day) pairs first (one map-side-combined aggregate — the
    * only event-sized exchange), then each pair map-side EXPANDS to
    * the ≤7 window-end days it serves and one distinct count per day
    * closes it. The ×7 expansion happens on the user×day collapsed
    * set, orders of magnitude below raw events — the honest exact form
    * at 100 TB (the approximate form would merge per-day HLL sketches
    * under F6's rewrite instead).
    */
  def rollingDistinct(spark: SparkSession, dir: String, windowDays: Int = 7): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(to_date(date_trunc("day", col("ts"))).as("day"), col("user_id"))
      .distinct()
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    ud.select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("k"), col("day"))
      .select(date_add(col("day"), col("k")).as("day"), col("user_id"))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("max_day"))
      .groupBy(col("day").cast("timestamp").as("day"))
      .agg(countDistinct(col("user_id")).as("users_7d"))
      .orderBy(col("day"))
  }

  val rollingDistinctSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
      |mx AS (SELECT max(day) AS max_day FROM ud),
      |exp AS (
      |  SELECT ud.day + CAST(k AS INTEGER) AS day, ud.user_id
      |  FROM ud, range(7) t(k), mx
      |  WHERE ud.day + CAST(k AS INTEGER) <= mx.max_day)
      |SELECT CAST(day AS TIMESTAMP) AS day, count(DISTINCT user_id) AS users_7d
      |FROM exp
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** C67 scale path — the same WAU tile as a TRUE mergeable-sketch
    * plan (the 100 TB form the exact row's design note promises):
    * one pass folds events to per-DAY HLL register tables (≤ days ×
    * 16384 rows — the C6 explicit-register sketch), and the 7-day
    * window unions day sketches by register-wise max (exactly the HLL
    * union property). The window explode replicates REGISTERS, not
    * users, so the shuffled volume after the first fold is
    * independent of corpus size — strictly better than windowing an
    * opaque approx_count_distinct, which re-expands the distinct user
    * set per window day before sketching.
    *
    * ★ (r12, was ☆): built on the C6 register arithmetic, so the
    * day sketches, the window union, and the estimates are all
    * oracle-checked; ApproxSpec still pins the ≤5% error vs the
    * exact tile.
    */
  def rollingDistinctApprox(spark: SparkSession, dir: String,
                            windowDays: Int = 7): DataFrame = {
    val m = 16384L
    val dayRegs = Tables.events(spark, dir)
      .select(to_date(date_trunc("day", col("ts"))).as("day"),
        expr(LogAnalytics.hexU60("CAST(user_id AS STRING)", "instr")).as("u"))
      .select(col("day"), pmod(col("u"), lit(m)).as("idx"),
        expr("u div 16384").as("w"))
      .select(col("day"), col("idx"),
        when(col("w") === 0L, lit(47L))
          .otherwise(lit(47L) - length(bin(col("w")))).as("rho"))
      .groupBy(col("day"), col("idx")).agg(max(col("rho")).as("mr"))
    val maxDay = dayRegs.agg(max(col("day")).as("max_day"))
    LogAnalytics.hllEstimate(
      dayRegs
        .select(col("day"), col("idx"), col("mr"),
          explode(sequence(lit(0), lit(windowDays - 1))).as("k"))
        .select(date_add(col("day"), col("k")).as("day"), col("idx"), col("mr"))
        .crossJoin(broadcast(maxDay))
        .filter(col("day") <= col("max_day"))
        .groupBy(col("day"), col("idx"))
        .agg(max(col("mr")).as("mr"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("vp"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(47 - mr AS INT))")).as("sp")))
      .select(col("day").cast("timestamp").as("day"),
        col("users").as("users_7d"))
      .orderBy(col("day"))
  }

  val rollingDistinctApproxSql: String = {
    val u = LogAnalytics.hexU60("CAST(user_id AS VARCHAR)", "strpos")
    s"""WITH h AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, $u AS u FROM events),
      |r AS (
      |  SELECT day, u % 16384 AS idx,
      |    CASE WHEN u // 16384 = 0 THEN 47
      |         ELSE 47 - length(bin(u // 16384)) END AS rho
      |  FROM h),
      |dr AS (SELECT day, idx, max(rho) AS mr FROM r GROUP BY 1, 2),
      |mx AS (SELECT max(day) AS max_day FROM dr),
      |wr AS (
      |  SELECT dr.day + CAST(k AS INTEGER) AS day, idx, max(mr) AS mr
      |  FROM dr, range(7) t(k), mx
      |  WHERE dr.day + CAST(k AS INTEGER) <= mx.max_day
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT day, count(*) AS vp,
      |    CAST(sum(CAST(1 AS BIGINT) << CAST(47 - mr AS INT)) AS BIGINT) AS sp
      |  FROM wr GROUP BY 1),
      |e AS (
      |  SELECT day, vp,
      |    (CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / CAST(16384 AS DOUBLE)))
      |      * (CAST(16384 AS DOUBLE) * CAST(16384 AS DOUBLE) * CAST(140737488355328 AS DOUBLE))
      |      / CAST(sp + (16384 - vp) * (CAST(1 AS BIGINT) << 47) AS DOUBLE) AS e_raw
      |  FROM g)
      |SELECT CAST(day AS TIMESTAMP) AS day,
      |  CAST(CASE WHEN e_raw <= CAST(40960.0 AS DOUBLE) AND vp < 16384
      |       THEN floor(round(CAST(16384 AS DOUBLE) * ln(CAST(16384 AS DOUBLE) / CAST(16384 - vp AS DOUBLE)), 6))
      |       ELSE floor(e_raw) END AS BIGINT) AS users_7d
      |FROM e
      |ORDER BY day""".stripMargin
  }

  /** C66 — `_msearch` (the multi-search API: applications batch many
    * queries into one round trip). The Spark-first execution is the
    * C2b/C49b device scaled to a query batch: every compiled DQL
    * predicate becomes a PAIR of conditional aggregates in ONE scan
    * pass — N queries cost one corpus read + one tiny aggregate row,
    * not N jobs — and `stack` unpivots the row to the per-query
    * response list. Metrics in exact integer cents.
    */
  val msearchQueries: Seq[(String, String)] = Seq(
    ("errors_hi", "event_type:error AND value:>=100"),
    ("purchase_band", "event_type:purchase AND value:[150 TO 400]"),
    ("early_views", "(event_type:view OR event_type:click) AND user_id:<50"))

  def msearch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val arms = msearchQueries.map { case (id, q) =>
      (id, graft.functions.QueryString.compile(ev, q))
    }
    val aggs = arms.flatMap { case (id, p) => Seq(
      sum(when(p, 1L).otherwise(0L)).as(s"n_$id"),
      sum(when(p, round(col("value") * 100).cast("long")).otherwise(0L)).as(s"c_$id"))
    }
    val one = ev.agg(aggs.head, aggs.tail: _*)
    val stackArgs = arms.flatMap { case (id, _) =>
      Seq(lit(id), col(s"n_$id"), col(s"c_$id"))
    }
    one.select(stack((lit(arms.size) +: stackArgs): _*)
        .as(Seq("query_id", "n_hits", "value_cents")))
      .orderBy(col("query_id"))
  }

  val msearchSql: String =
    """WITH m AS (
      |  SELECT
      |    sum(CASE WHEN event_type = 'error' AND value >= 100 THEN 1 ELSE 0 END) AS n_errors_hi,
      |    sum(CASE WHEN event_type = 'error' AND value >= 100 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS c_errors_hi,
      |    sum(CASE WHEN event_type = 'purchase' AND value >= 150 AND value <= 400 THEN 1 ELSE 0 END) AS n_purchase_band,
      |    sum(CASE WHEN event_type = 'purchase' AND value >= 150 AND value <= 400 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS c_purchase_band,
      |    sum(CASE WHEN (event_type = 'view' OR event_type = 'click') AND user_id < 50 THEN 1 ELSE 0 END) AS n_early_views,
      |    sum(CASE WHEN (event_type = 'view' OR event_type = 'click') AND user_id < 50 THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS c_early_views
      |  FROM events)
      |SELECT 'errors_hi' AS query_id, CAST(n_errors_hi AS BIGINT) AS n_hits, CAST(c_errors_hi AS BIGINT) AS value_cents FROM m
      |UNION ALL
      |SELECT 'purchase_band', CAST(n_purchase_band AS BIGINT), CAST(c_purchase_band AS BIGINT) FROM m
      |UNION ALL
      |SELECT 'early_views', CAST(n_early_views AS BIGINT), CAST(c_early_views AS BIGINT) FROM m
      |ORDER BY query_id""".stripMargin

  /** C56c — query-time synonym expansion (the `synonym_graph` token
    * filter applied at search time — OpenSearch's recommended mode, so
    * the synonym table can change without reindexing). The DQL
    * compiler expands a plain term clause to the OR of its synonym
    * row at COMPILE time on the driver: `join fast` with
    * join→{join,merge}, fast→{fast,quick} matches documents saying
    * "merge" as readily as "join". The emitted plan is the identical
    * pushed/codegen'd OR predicate the hand-expanded query gets — the
    * synonym layer costs nothing at execution.
    */
  val querySynonymsDemo = "join fast"
  val querySynonyms: Map[String, Seq[String]] = Map(
    "join" -> Seq("join", "merge"),
    "fast" -> Seq("fast", "quick"))

  def querySynonymsSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.filter(graft.functions.QueryString.compile(
        docs, querySynonymsDemo, defaultFields = Seq("text"),
        synonyms = querySynonyms))
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  val querySynonymsSearchSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE (contains(text, 'join') OR contains(text, 'merge'))
      |  AND (contains(text, 'fast') OR contains(text, 'quick'))
      |ORDER BY doc_id""".stripMargin

  /** C56b — runtime fields in the query string (OpenSearch runtime
    * mappings: a Discover user defines `dow` as a script over `ts` and
    * filters on it like any stored field). The mapping is name →
    * (declared type, derived Column); the compiler resolves it BEFORE
    * the stored schema — runtime mappings shadow — and the derived
    * expression inlines into the predicate, so the filter codegens
    * like a hand-written one (no per-row script engine).
    */
  def queryStringRuntime(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.IntegerType
    val ev = Tables.events(spark, dir)
    val runtime = Map(
      "dow" -> ((IntegerType: org.apache.spark.sql.types.DataType),
        dayofweek(col("ts"))))
    ev.filter(graft.functions.QueryString.compile(
        ev, "(dow:1 OR dow:7) AND value:>=5", runtimeFields = runtime))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("event_type"))
  }

  /** DuckDB oracle: dayofweek is 0=Sunday there vs 1=Sunday in Spark. */
  val queryStringRuntimeSql: String =
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
      |FROM events
      |WHERE (dayofweek(ts) + 1 = 1 OR dayofweek(ts) + 1 = 7) AND value >= 5
      |GROUP BY 1
      |ORDER BY event_type""".stripMargin

  /** C63 — search templates (OpenSearch `_search/template`: stored
    * mustache-parameterized queries rendered server-side, so
    * applications ship params, not query strings — the make-a-query-
    * reusable layer on top of C56). Rendering is a driver-time string
    * substitution ({{var}} → param, unbound var → driver-time error —
    * never a runtime surprise); the rendered DQL then compiles through
    * the C56 parser into an ordinary pushable/codegen'd predicate, so
    * the template layer costs nothing at execution time at any scale.
    */
  def renderTemplate(template: String, params: Map[String, String]): String =
    "\\{\\{([A-Za-z0-9_]+)\\}\\}".r.replaceAllIn(template, m =>
      scala.util.matching.Regex.quoteReplacement(
        params.getOrElse(m.group(1), throw new IllegalArgumentException(
          s"unbound template parameter: ${m.group(1)}"))))

  val searchTemplateDemo =
    "event_type:{{type}} AND value:[{{min_value}} TO {{max_value}}]"

  def searchTemplate(spark: SparkSession, dir: String): DataFrame = {
    val rendered = renderTemplate(searchTemplateDemo,
      Map("type" -> "purchase", "min_value" -> "150", "max_value" -> "400"))
    val ev = Tables.events(spark, dir)
    ev.filter(graft.functions.QueryString.compile(ev, rendered))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
  }

  val searchTemplateSql: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_type = 'purchase' AND value >= 150 AND value <= 400
      |ORDER BY event_id""".stripMargin

  /** C57 — PPL pipeline (OpenSearch Observability's piped language)
    * through functions/Ppl: parse once, compile to the identical
    * DataFrame operators a hand-written query uses. The demo pipe is
    * the canonical triage query — filter, per-user stats, rank, top-N.
    * min/max metrics keep it exact cross-engine (avg would ride on
    * double summation order).
    */
  val pplDemo: String =
    "search source=events | where value > 100 and event_type = 'purchase' " +
      "| stats count() as n, min(value) as min_v, max(value) as max_v by user_id " +
      "| sort - n, + user_id | head 20"

  def pplSearch(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Ppl.run(spark, dir, pplDemo)

  /** C57 (second entry) — the round-out command tier: `parse` regex
    * field extraction feeding a grouped `top`. The pipe compiles to
    * regexp_extract in the scan + one hash aggregate + a per-group rank
    * window — the same plan the hand query gets; the trailing `sort`
    * fixes cross-group emission order for the oracle compare.
    */
  val pplTopDemo: String =
    "search source=events | parse props 'k\": (?<kv>[0-9]+)' " +
      "| top 3 kv by event_type | sort + event_type, - count, + kv"

  def pplTopSearch(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Ppl.run(spark, dir, pplTopDemo)

  /** C57b (third entry) — `eventstats` + `rename`: per-group metrics
    * joined back to EVERY event (the enrich-then-filter idiom real
    * PPL triage uses: "show each type's record events"). Compiles to
    * window aggregates partitioned by the group key — shard-parallel,
    * the same single exchange `stats by` pays — then an ordinary
    * filter; `rename` is a free projection. The max-equality filter
    * compares stored doubles for identity (no arithmetic), so ties
    * emit deterministically on both engines.
    */
  val pplEventstatsDemo: String =
    "search source=events | eventstats count() as type_n, max(value) as type_max by event_type " +
      "| where value = type_max | rename type_max as peak " +
      "| fields event_id, event_type, value, peak, type_n | sort + event_id"

  def pplEventstats(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Ppl.run(spark, dir, pplEventstatsDemo)

  val pplEventstatsSql: String =
    """WITH w AS (
      |  SELECT event_id, event_type, value,
      |    count(*) OVER (PARTITION BY event_type) AS type_n,
      |    max(value) OVER (PARTITION BY event_type) AS peak
      |  FROM events)
      |SELECT event_id, event_type, value, peak, type_n
      |FROM w WHERE value = peak
      |ORDER BY event_id""".stripMargin

  /** C57c (fourth entry) — `span()` time bucketing in `stats by`: the
    * PPL date_histogram ("errors per day by type"), the single most
    * common Observability pipe. Compiles to date_trunc in the grouping
    * projection + one map-side-combined aggregate — the identical plan
    * C1's hand-written date_histogram gets.
    */
  val pplSpanDemo: String =
    "search source=events | stats count() as n, dc(user_id) as nu by span(ts, 1d), event_type " +
      "| sort + span_ts, + event_type"

  def pplSpan(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Ppl.run(spark, dir, pplSpanDemo)

  val pplSpanSql: String =
    """SELECT date_trunc('day', ts) AS span_ts, event_type,
      |  count(*) AS n, count(DISTINCT user_id) AS nu
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY span_ts, event_type""".stripMargin

  /** C57d (fifth entry) — the `patterns` command: strip alphanumerics,
    * group the punctuation/whitespace skeletons (PPL's log-template
    * grouping, the pipe form of C53 categorize_text). Over `documents`
    * the skeleton is the doc's whitespace shape, so the stats tail
    * buckets docs by token count — one projection + one hash aggregate.
    */
  val pplPatternsDemo: String =
    "search source=documents | patterns text " +
      "| stats count() as n_docs by patterns_field | sort + patterns_field"

  def pplPatterns(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Ppl.run(spark, dir, pplPatternsDemo)

  val pplPatternsSql: String =
    """SELECT regexp_replace(text, '[a-zA-Z0-9]', '', 'g') AS patterns_field,
      |  count(*) AS n_docs
      |FROM documents
      |GROUP BY 1
      |ORDER BY patterns_field""".stripMargin

  val pplTopSearchSql: String =
    """WITH p AS (
      |  SELECT event_type, regexp_extract(props, 'k": ([0-9]+)', 1) AS kv
      |  FROM events),
      |c AS (SELECT event_type, kv, count(*) AS "count" FROM p GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER
      |        (PARTITION BY event_type ORDER BY "count" DESC, kv) AS rk
      |      FROM c)
      |SELECT event_type, kv, "count" FROM r WHERE rk <= 3
      |ORDER BY event_type, "count" DESC, kv""".stripMargin

  val pplSearchSql: String =
    """SELECT user_id, count(*) AS n, min(value) AS min_v, max(value) AS max_v
      |FROM events
      |WHERE value > 100 AND event_type = 'purchase'
      |GROUP BY user_id
      |ORDER BY n DESC, user_id
      |LIMIT 20""".stripMargin

  /** C58 — SQL query surface (the OpenSearch SQL plugin / `_sql`
    * endpoint: the third query language reference users type, beside
    * C56's DQL and C57's PPL). Spark IS a SQL engine, so the
    * "implementation" is the honest one: register the stores as temp
    * views and hand the user's ANSI text to `spark.sql` — it compiles
    * through the same Catalyst pipeline as every DataFrame query here
    * (pushdown, broadcast of the small dims, whole-stage codegen),
    * with zero translation layer to maintain. The demo is a
    * Discover-style dashboard query: month × nation order counts and
    * exact-cents revenue over a 3-table star join with a HAVING floor.
    * The oracle runs the IDENTICAL text in DuckDB — for this row the
    * capability under test is precisely "both engines agree on the
    * same user program", the strongest parity statement available.
    * Revenue sums in BIGINT cents → deterministic at any scale.
    */
  val sqlSurfaceText: String =
    """SELECT n_name AS nation, date_trunc('month', o_orderdate) AS month,
      |  count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY 1, 2
      |HAVING count(*) >= 2
      |ORDER BY nation, month""".stripMargin

  /** The views live in a fresh session over the same context, so the
    * caller's session keeps its own temp views and gains none. That
    * session starts from the context's configuration, not the caller's
    * runtime settings; the result does not depend on either.
    */
  def sqlSurface(spark: SparkSession, dir: String): DataFrame = {
    val own = spark.newSession()
    Tables.orders(own, dir).createOrReplaceTempView("orders")
    Tables.customer(own, dir).createOrReplaceTempView("customer")
    Tables.nation(own, dir).createOrReplaceTempView("nation")
    own.sql(sqlSurfaceText)
  }

  /** C55b — nested + reverse_nested AGGREGATION: bucket the nested
    * elements themselves (per-element value bands × event_type),
    * compute metrics in the nested context, then `reverse_nested` back
    * to the parent level (how many parent docs contribute to each
    * nested bucket). The explode is not incidental — per-element
    * bucketing over separate hidden documents IS how OpenSearch
    * executes nested aggs; here it feeds one hash aggregate, and the
    * parent count rides the same pass as a distinct-count.
    */
  def nestedAgg(spark: SparkSession, dir: String): DataFrame = {
    val nested = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("event_type"), col("value"))).as("items"))
    nested
      .select(col("user_id"), explode(col("items")).as("e"))
      .select(col("user_id"), col("e.event_type").as("event_type"),
        // range-agg bands within the nested context
        when(col("e.value") < 10, "lt10")
          .when(col("e.value") < 100, "10-100")
          .otherwise("gte100").as("value_band"),
        col("e.value").as("value"))
      .groupBy(col("event_type"), col("value_band"))
      .agg(count(lit(1)).as("n_elements"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"),
        countDistinct(col("user_id")).as("n_parent_docs"))
      .orderBy(col("event_type"), col("value_band"))
  }

  val nestedAggSql: String =
    """SELECT event_type,
      |  CASE WHEN value < 10 THEN 'lt10'
      |       WHEN value < 100 THEN '10-100'
      |       ELSE 'gte100' END AS value_band,
      |  count(*) AS n_elements,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
      |  count(DISTINCT user_id) AS n_parent_docs
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, value_band""".stripMargin

  val nestedFieldSql: String =
    """SELECT user_id,
      |  count(*) AS n_items,
      |  bool_or(event_type = 'purchase' AND value > 200) AS nested_match,
      |  (bool_or(event_type = 'purchase') AND bool_or(value > 200)) AS object_match,
      |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
      |    FILTER (WHERE event_type = 'purchase' AND value > 200), 0) AS BIGINT) AS match_cents
      |FROM events
      |GROUP BY user_id
      |HAVING object_match
      |ORDER BY user_id""".stripMargin
  /** C3w — distance_feature query (OpenSearch `distance_feature` on a
    * date field: boost relevance by CLOSENESS to an origin timestamp —
    * the "prefer recent docs" scoring device Discover users wrap
    * around every search). The upstream formula is reciprocal decay,
    * score = boost * pivot / (pivot + |field - origin|); must-clauses
    * here are FILTER context (score 0, exactly OpenSearch's filter
    * semantics), so the ranking comes entirely from the decay term.
    *
    * Determinism across engines: timestamps truncate to whole seconds
    * first (the sessionize playbook), making |ts - origin| an exact
    * BIGINT; the score is scaled to micro-units by INTEGER division
    * (boost*pivot*1e6 div (pivot+d)) — no float division, no rounding
    * boundary. Scale shape: the filter + distance arithmetic live in
    * the scan projection (the range filter pushes down), and the only
    * exchange is the O(k) mergeable TopKAgg.
    */
  def distanceFeature(spark: SparkSession, dir: String,
                      eventType: String = "click",
                      origin: String = "2024-01-15 00:00:00",
                      pivotS: Long = 604800L, k: Int = 20): DataFrame = {
    val originS = java.time.LocalDateTime
      .parse(origin.replace(' ', 'T'))
      .toEpochSecond(java.time.ZoneOffset.UTC)
    // `div` (true integer division) — float division + floor can land a
    // near-integer quotient on the wrong side of the boundary
    val scoreU = expr(
      s"(2000000L * ${pivotS}L) div (${pivotS}L + abs(cast(ts as long) - ${originS}L))")
    val scored = Tables.events(spark, dir)
      .filter(col("event_type") === eventType)
      .select(col("event_id"), scoreU.as("score_u"))
    graft.plans.TopKAgg.rank(scored, k, "event_id", col("score_u").cast("double"))
      .select(col("event_id"), col("score").cast("long").as("score_u"), col("rank"))
      .orderBy(col("rank"))
  }

  val distanceFeatureSql: String =
    """WITH e AS (
      |  SELECT event_id,
      |    abs(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
      |        - CAST(epoch(TIMESTAMP '2024-01-15 00:00:00') AS BIGINT)) AS d
      |  FROM events WHERE event_type = 'click'),
      |scored AS (
      |  SELECT event_id,
      |    (CAST(2000000 AS BIGINT) * 604800) // (604800 + d) AS score_u FROM e),
      |ranked AS (
      |  SELECT event_id, CAST(score_u AS BIGINT) AS score_u,
      |    CAST(row_number() OVER (ORDER BY score_u DESC, event_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT event_id, score_u, rank FROM ranked
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin
}

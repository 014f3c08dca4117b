package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Tables}

/** C75/C76/C78 — event-correlation tier: the EQL-style sequence query,
  * the Graph-explore hop expansion, and the high-cardinality (HCAD)
  * per-entity anomaly detector. These are the security-analytics reads
  * a unified-log store serves on the SAME event indexes the dashboards
  * aggregate (reference: aws-samples/unified-log-aggregation-and-
  * analytics feeds one store that both dashboards and detections read).
  */
object EventCorrelation {

  // ---------------------------------------------------------------- C75

  /** C75 — EQL-style sequence query:
    * `sequence by user_id with maxspan=7d [view] [click] [purchase]`.
    *
    * Unlike the C35 funnel (ONE first-conversion row per user), a
    * sequence query enumerates EVERY completed instance — each
    * `purchase` that closes a `view → click → purchase` chain emits a
    * match row carrying all three timestamps. Semantics (deterministic,
    * documented): one left-to-right pass per key in (ts, event_id)
    * order; each step binds to the LATEST completed prefix strictly
    * before it, and the whole chain must fit inside `maxspan`
    * (first event → last event). Matching is non-consuming: two
    * purchases may close over the same prefix (the state-machine view:
    * the newest partial sequence is kept per key, never popped).
    *
    * Spark shape: NO self-joins — the per-key state machine compiles to
    * two window passes over ONE user-keyed sort. Pass 1: `s1` = running
    * max of prior `view` times. Pass 2: a `click` within span of `s1`
    * forms a prefix-completion struct `(c2us, c2start)`; the running
    * max of that STRUCT (lexicographic, so "latest click, then latest
    * start" — both engines order structs identically) carries the
    * latest open prefix AND its start time to every later row, which is
    * what lets the whole-span bound be checked at the final step
    * without a join back. Both window specs share the partition+order,
    * so the plan pays one exchange and one sort. At 100 TB the state
    * per row is O(1) and the only data movement is the user-keyed
    * shuffle every sessionization-class operator already pays.
    *
    * Determinism: all comparisons on integer epoch-micros; ties broken
    * by event_id in the sort and by struct lexicographic order in the
    * running max.
    */
  def eqlSequence(spark: SparkSession, dir: String,
                  spanDays: Int = 7): DataFrame =
    eqlChain(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us")),
      spanDays.toLong * 86400L * 1000000L)

  /** Core of C75 on a pre-projected (user_id, event_id, event_type, us)
    * frame — unit-testable on hand-built rows.
    */
  private[graft] def eqlChain(ev: DataFrame, spanUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("s1",
        max(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("c2",
        when(col("event_type") === "click" && col("us") - col("s1") <= spanUs,
          struct(col("us").as("c2us"), col("s1").as("c2start"))))
      .withColumn("s2", max(col("c2")).over(w))
      .filter(col("event_type") === "purchase" &&
        col("us") - col("s2.c2start") <= spanUs)
      .select(col("user_id"),
        timestamp_micros(col("s2.c2start")).as("t_view"),
        timestamp_micros(col("s2.c2us")).as("t_click"),
        timestamp_micros(col("us")).as("t_purchase"))
      .orderBy(col("user_id"), col("t_purchase"))
  }

  val eqlSequenceSql: String = {
    val span = 7L * 86400L * 1000000L
    s"""WITH ev AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
       |w1 AS (
       |  SELECT *, max(CASE WHEN event_type = 'view' THEN us END)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s1
       |  FROM ev),
       |w2 AS (
       |  SELECT *, CASE WHEN event_type = 'click' AND us - s1 <= $span
       |    THEN struct_pack(c2us := us, c2start := s1) END AS c2
       |  FROM w1),
       |w3 AS (
       |  SELECT *, max(c2)
       |    OVER (PARTITION BY user_id ORDER BY us, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s2
       |  FROM w2)
       |SELECT user_id,
       |  make_timestamp(s2.c2start) AS t_view,
       |  make_timestamp(s2.c2us) AS t_click,
       |  make_timestamp(us) AS t_purchase
       |FROM w3
       |WHERE event_type = 'purchase' AND us - s2.c2start <= $span
       |ORDER BY user_id, t_purchase""".stripMargin
  }

  // ---------------------------------------------------------------- C76

  /** C76 — Graph explore (the `_plugins/_graph/explore` hop expansion:
    * "starting from these seed vertices, what is connected within N
    * hops?"). Vertices are users; two users are adjacent when they
    * purchased under the same (props.k, day) — a co-occurrence graph
    * derived on the fly from the SAME event index, which is exactly
    * what the explore API does with field co-occurrence.
    *
    * Spark shape — the scale-critical choice: the frontier expands
    * THROUGH the (k, day) hub keys (frontier → hubs → users, two
    * equi-join shuffles on bounded-cardinality keys) and never
    * materializes the user×user edge list, which is quadratic in the
    * largest co-purchase bucket and is the classic explode at 100 TB.
    * Per hop the data moved is O(|active pairs|), the same bound the
    * LSH band joins in the dedup tier rely on. The hop loop
    * `localCheckpoint`s per round (BpeTrain loop discipline) so the
    * plan stays constant-size; BFS depth is a small constant (3) as in
    * the API's `hop` parameter. First-reach labels (min hop) come from
    * the `except` against all previously reached — each user is
    * expanded exactly once, the textbook frontier invariant.
    *
    * Oracle: a recursive CTE computes the same reachability closure
    * and takes min(hop) per user — dedup semantics match because UNION
    * recursion dedups (user, hop) states and depth is bounded.
    */
  def graphExplore(spark: SparkSession, dir: String,
                   maxHops: Int = 3): DataFrame = {
    val pu = Materialize(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        concat(get_json_object(col("props"), "$.k"), lit(":"),
          col("ts").cast("date").cast("string")).as("hub"))
      .distinct(), "graph-explore-hubs", eager = false)
    var dist = Materialize(pu.select(col("user_id")).distinct()
      .filter(col("user_id") % 53 === 0)
      .withColumn("hop", lit(0L)), "graph-explore-hop", eager = false)
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hop") === h - 1).select("user_id")
      val hubs = pu.join(frontier, "user_id").select("hub").distinct()
      val reached = pu.join(hubs, "hub").select("user_id").distinct()
      val newly = reached.except(dist.select("user_id"))
        .withColumn("hop", lit(h.toLong))
      dist = Materialize(dist.unionByName(newly), "graph-explore-hop", eager = false)
    }
    dist.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_users"),
        min(col("user_id")).as("first_user"),
        max(col("user_id")).as("last_user"))
      .orderBy(col("hop"))
  }

  val graphExploreSql: String =
    """WITH RECURSIVE pu AS (
      |  SELECT DISTINCT user_id,
      |    (props->>'$.k') || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS hub
      |  FROM events WHERE event_type = 'purchase'),
      |reach(user_id, hop) AS (
      |  SELECT DISTINCT user_id, 0 FROM pu WHERE user_id % 53 = 0
      |  UNION
      |  SELECT b.user_id, r.hop + 1
      |  FROM reach r
      |  JOIN pu a ON a.user_id = r.user_id
      |  JOIN pu b ON b.hub = a.hub
      |  WHERE r.hop < 3),
      |first_reach AS (
      |  SELECT user_id, min(hop) AS hop FROM reach GROUP BY user_id)
      |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_users,
      |  min(user_id) AS first_user, max(user_id) AS last_user
      |FROM first_reach
      |GROUP BY hop
      |ORDER BY hop""".stripMargin

  // ---------------------------------------------------------------- C78

  /** C78 — high-cardinality per-entity anomaly detection (the HCAD
    * face of the anomaly-detection plugin: ONE detector, a model PER
    * category value). C29 fits one global baseline; here every entity
    * (the `event_type` category — the shape is entity-keyed and
    * cardinality-agnostic) gets its own daily-count baseline, and an
    * entity-day is anomalous when its count exceeds the entity's mean
    * by 2 entity-σ.
    *
    * Cross-engine exactness — no float threshold at all: with integer
    * daily counts n, per-entity N = active days, S = Σn, Q = Σn², the
    * condition  n > μ + 2σ_samp  is equivalently
    *     (n·N − S) > 0  AND  (n·N − S)²·(N−1) > 4·N·(N·Q − S²)
    * — pure int64 arithmetic (bounded here by n ≤ 1e4, N ≤ 366; at
    * counts beyond ~1e9·N the compare would move to DECIMAL(38)).
    * The reported mean/σ are display-only doubles.
    *
    * Spark shape: one entity×day aggregate (map-side combined), one
    * entity-level rollup of (N, S, Q), and an entity-keyed broadcast
    * join back — the second aggregate and the join share the first
    * shuffle's entity partitioning lineage. State per entity is three
    * longs, so a million-entity detector is a few MB per executor.
    */
  def hcadAnomalies(spark: SparkSession, dir: String,
                    minDays: Int = 14): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nd"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("q"))
      .filter(col("nd") >= minDays)
    daily.join(stats, "event_type")
      .withColumn("dev", col("n") * col("nd") - col("s"))
      .filter(col("dev") > 0 &&
        col("dev") * col("dev") * (col("nd") - 1) >
          lit(4) * col("nd") * (col("nd") * col("q") - col("s") * col("s")))
      .select(col("event_type"), col("day"), col("n"),
        round(col("s").cast("double") / col("nd"), 4).as("mean_n"),
        col("nd").as("n_days"))
      .orderBy(col("event_type"), col("day"))
  }

  // ---------------------------------------------------------------- C79

  /** C79 — anomaly localization (the ML-commons localization API: a
    * dashboard aggregate spiked — WHICH entity drove it?). For each
    * C29-anomalous day (rounded |z| > 2, spike side), decompose the
    * day's excess over baseline by event_type and report the top
    * contributor with its share of the global excess.
    *
    * Exact arithmetic: with N = day count, S = total events, S_t =
    * type-t total, a type's excess on day d is `n_td·N − S_t` and the
    * day's is `n_d·N − S` — pure int64 (scaled by N, so shares divide
    * once at the end). A type absent on day d would have excess −S_t,
    * which can never beat a present type's `n·N − S_t ≥ −S_t`, so NO
    * zero-fill join is needed — the absent-entity case the naive
    * mean-join gets wrong. Day selection gates on the same rounded z
    * the C29 oracle uses.
    *
    * Spark shape: the typed daily aggregate is ONE map-side-combined
    * shuffle; type totals roll up from it; global stats are a one-row
    * broadcast; the top contributor is a per-day rank over ≤|types|
    * rows. Nothing here scales with raw event count beyond the first
    * aggregate.
    */
  def anomalyLocalization(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val typed = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_t"))
    val daily = typed.groupBy(col("day")).agg(sum(col("n_t")).as("n"))
    val tstats = typed.groupBy(col("event_type")).agg(sum(col("n_t")).as("s_t"))
    val stats = daily.agg(count(lit(1)).as("nd"), sum(col("n")).as("s"),
      avg(col("n")).as("mean_n"), stddev_pop(col("n")).as("sd_n"))
    val spikes = daily.crossJoin(broadcast(stats))
      .withColumn("z", round((col("n") - col("mean_n")) / col("sd_n"), 4))
      .filter(col("z") > 2)
    spikes
      .join(typed, "day")
      .join(broadcast(tstats), "event_type")
      .withColumn("excess", col("n_t") * col("nd") - col("s_t"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("day"))
          .orderBy(col("excess").desc, col("event_type"))))
      .filter(col("rk") === 1)
      .select(col("day"), col("n"), col("z"),
        col("event_type").as("top_type"), col("excess").as("top_excess"),
        round(col("excess").cast("double") /
          (col("n") * col("nd") - col("s")).cast("double"), 4).as("share"))
      .orderBy(col("day"))
  }

  val anomalyLocalizationSql: String =
    """WITH typed AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n_t
      |  FROM events GROUP BY 1, 2),
      |daily AS (
      |  SELECT day, CAST(sum(n_t) AS BIGINT) AS n FROM typed GROUP BY 1),
      |tstats AS (
      |  SELECT event_type, CAST(sum(n_t) AS BIGINT) AS s_t FROM typed GROUP BY 1),
      |stats AS (
      |  SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS s,
      |    avg(n) AS mean_n, stddev_pop(n) AS sd_n
      |  FROM daily),
      |spikes AS (
      |  SELECT day, n, round((n - mean_n) / sd_n, 4) AS z, nd, s
      |  FROM daily CROSS JOIN stats
      |  WHERE round((n - mean_n) / sd_n, 4) > 2),
      |contrib AS (
      |  SELECT sp.day, sp.n, sp.z, t.event_type,
      |    t.n_t * sp.nd - ts.s_t AS excess,
      |    sp.n * sp.nd - sp.s AS g_excess,
      |    row_number() OVER (PARTITION BY sp.day
      |      ORDER BY t.n_t * sp.nd - ts.s_t DESC, t.event_type) AS rk
      |  FROM spikes sp
      |  JOIN typed t ON t.day = sp.day
      |  JOIN tstats ts ON ts.event_type = t.event_type)
      |SELECT day, n, z, event_type AS top_type,
      |  CAST(excess AS BIGINT) AS top_excess,
      |  round(CAST(excess AS DOUBLE) / CAST(g_excess AS DOUBLE), 4) AS share
      |FROM contrib WHERE rk = 1
      |ORDER BY day""".stripMargin

  val hcadAnomaliesSql: String =
    """WITH daily AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT event_type, count(*) AS nd,
      |    CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS q
      |  FROM daily GROUP BY 1
      |  HAVING count(*) >= 14)
      |SELECT d.event_type, d.day, d.n,
      |  round(CAST(s AS DOUBLE) / nd, 4) AS mean_n,
      |  nd AS n_days
      |FROM daily d JOIN stats st ON d.event_type = st.event_type
      |WHERE (d.n * nd - s) > 0
      |  AND (d.n * nd - s) * (d.n * nd - s) * (nd - 1) > 4 * nd * (nd * q - s * s)
      |ORDER BY d.event_type, d.day""".stripMargin
}

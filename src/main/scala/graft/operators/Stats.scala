package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Remaining OpenSearch metric-aggregation family members (SURVEY §2
  * C5d–C5g): weighted_avg, boxplot, t_test, rate. All one- or two-pass
  * conditional/percentile aggregates — map-side combined, one tiny
  * shuffle, no windows — so each streams at any scale.
  */
object Stats {

  /** C5d — weighted_avg (OpenSearch `weighted_avg` agg): Σ(v·w)/Σ(w)
    * per group, with a deterministic per-row sample weight. One
    * map-side-combined aggregate.
    */
  def weightedAvg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("w", (col("user_id") % 5 + 1).cast("double"))
      .groupBy(col("event_type"))
      .agg(
        round(sum(col("value") * col("w")) / sum(col("w")), 4).as("wavg"),
        round(avg(col("value")), 4).as("avg"))
      .orderBy(col("event_type"))

  val weightedAvgSql: String =
    """SELECT event_type,
      |  round(sum(value * CAST(user_id % 5 + 1 AS DOUBLE))
      |        / sum(CAST(user_id % 5 + 1 AS DOUBLE)), 4) AS wavg,
      |  round(avg(value), 4) AS avg
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C5e — boxplot (OpenSearch `boxplot` agg): min/q1/median/q3/max +
    * IQR per group. Exact linear-interpolation percentiles (the same
    * parity as C5) in ONE aggregate pass.
    */
  def boxplot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(min(col("value")), 4).as("vmin"),
        round(expr("percentile(value, 0.25)"), 4).as("q1"),
        round(expr("percentile(value, 0.5)"), 4).as("q2"),
        round(expr("percentile(value, 0.75)"), 4).as("q3"),
        round(max(col("value")), 4).as("vmax"),
        round(expr("percentile(value, 0.75) - percentile(value, 0.25)"), 4).as("iqr"))
      .orderBy(col("event_type"))

  val boxplotSql: String =
    """SELECT event_type,
      |  round(min(value), 4) AS vmin,
      |  round(quantile_cont(value, 0.25), 4) AS q1,
      |  round(quantile_cont(value, 0.5), 4) AS q2,
      |  round(quantile_cont(value, 0.75), 4) AS q3,
      |  round(max(value), 4) AS vmax,
      |  round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 4) AS iqr
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C5f — t_test (OpenSearch `t_test` agg, Welch's unpaired variant):
    * does the `purchase` cohort's value differ from the `error`
    * cohort's? Closed form from per-cohort (n, mean, sample variance) —
    * one conditional-aggregate pass, one output row; the
    * Welch–Satterthwaite degrees of freedom come from the same four
    * sufficient statistics.
    */
  def tTest(spark: SparkSession, dir: String,
            cohortA: String = "purchase", cohortB: String = "error"): DataFrame = {
    val stats = Tables.events(spark, dir)
      .filter(col("event_type").isin(cohortA, cohortB))
      .groupBy()
      .agg(
        count(when(col("event_type") === cohortA, 1)).cast("double").as("n1"),
        avg(when(col("event_type") === cohortA, col("value"))).as("m1"),
        var_samp(when(col("event_type") === cohortA, col("value"))).as("v1"),
        count(when(col("event_type") === cohortB, 1)).cast("double").as("n2"),
        avg(when(col("event_type") === cohortB, col("value"))).as("m2"),
        var_samp(when(col("event_type") === cohortB, col("value"))).as("v2"))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    stats.select(
      col("n1").cast("long").as("n1"),
      col("n2").cast("long").as("n2"),
      round((col("m1") - col("m2")) / sqrt(se2), 4).as("t"),
      round(se2 * se2 /
        (col("v1") * col("v1") / (col("n1") * col("n1") * (col("n1") - 1)) +
         col("v2") * col("v2") / (col("n2") * col("n2") * (col("n2") - 1))), 4).as("df"))
  }

  val tTestSql: String =
    """WITH s AS (
      |  SELECT
      |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE) AS n1,
      |    avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
      |    var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
      |    CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE) AS n2,
      |    avg(CASE WHEN event_type = 'error' THEN value END) AS m2,
      |    var_samp(CASE WHEN event_type = 'error' THEN value END) AS v2
      |  FROM events WHERE event_type IN ('purchase', 'error'))
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t,
      |  round((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) /
      |        (v1 * v1 / (n1 * n1 * (n1 - 1)) + v2 * v2 / (n2 * n2 * (n2 - 1))), 4) AS df
      |FROM s""".stripMargin

  /** C2e — adjacency_matrix agg (OpenSearch `adjacency_matrix`):
    * counts for each named filter AND each pairwise intersection, in
    * ONE scan pass — every cell is a conditional aggregate over the
    * same row stream, then `stack` unpivots the single row to
    * (bucket, n) rows. The OpenSearch shape for "how do my segments
    * overlap" without N scans.
    */
  def adjacencyMatrix(spark: SparkSession, dir: String): DataFrame = {
    val a = col("event_type") === "error" // filter a: errors
    val b = col("value") >= 250           // filter b: high-value
    val c = hour(col("ts")) >= 12         // filter c: afternoon
    Tables.events(spark, dir)
      .agg(
        sum(when(a, 1).otherwise(0)).as("na"),
        sum(when(b, 1).otherwise(0)).as("nb"),
        sum(when(c, 1).otherwise(0)).as("nc"),
        sum(when(a && b, 1).otherwise(0)).as("nab"),
        sum(when(a && c, 1).otherwise(0)).as("nac"),
        sum(when(b && c, 1).otherwise(0)).as("nbc"))
      .select(expr(
        "stack(6, 'a', na, 'b', nb, 'c', nc, 'a&b', nab, 'a&c', nac, 'b&c', nbc) AS (bucket, n)"))
      .orderBy(col("bucket"))
  }

  val adjacencyMatrixSql: String =
    """WITH m AS (
      |  SELECT
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS na,
      |    sum(CASE WHEN value >= 250 THEN 1 ELSE 0 END) AS nb,
      |    sum(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END) AS nc,
      |    sum(CASE WHEN event_type = 'error' AND value >= 250 THEN 1 ELSE 0 END) AS nab,
      |    sum(CASE WHEN event_type = 'error' AND hour(ts) >= 12 THEN 1 ELSE 0 END) AS nac,
      |    sum(CASE WHEN value >= 250 AND hour(ts) >= 12 THEN 1 ELSE 0 END) AS nbc
      |  FROM events)
      |SELECT bucket, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'a' AS bucket, na AS n FROM m
      |  UNION ALL SELECT 'b', nb FROM m
      |  UNION ALL SELECT 'c', nc FROM m
      |  UNION ALL SELECT 'a&b', nab FROM m
      |  UNION ALL SELECT 'a&c', nac FROM m
      |  UNION ALL SELECT 'b&c', nbc FROM m)
      |ORDER BY bucket""".stripMargin

  /** C2f — multi_terms agg (OpenSearch `multi_terms`): terms over a
    * COMPOSITE key, top-k buckets by doc count. `orderBy().limit()`
    * plans TakeOrderedAndProject — a bounded k-row heap per partition
    * after the one keyed aggregate, never a global sort.
    */
  def multiTerms(spark: SparkSession, dir: String, k: Int = 12): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), (col("user_id") % 8).as("cohort"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type"), col("cohort"))
      .limit(k)

  val multiTermsSql: String =
    """SELECT event_type, user_id % 8 AS cohort, count(*) AS n
      |FROM events
      |GROUP BY event_type, user_id % 8
      |ORDER BY n DESC, event_type, cohort
      |LIMIT 12""".stripMargin

  /** C5g — rate (OpenSearch `rate` agg): events per day per group,
    * normalized by the group's own active day span (first to last day
    * inclusive). One aggregate pass; the span comes from the same
    * min/max the group already computes.
    */
  def rate(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        (datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1)
          .cast("long").as("days"))
      .select(col("event_type"), col("n"), col("days"),
        round(col("n").cast("double") / col("days"), 4).as("per_day"))
      .orderBy(col("event_type"))

  val rateSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1 AS BIGINT) AS days,
      |  round(CAST(count(*) AS DOUBLE) /
      |        (date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1), 4) AS per_day
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** C5h — median_absolute_deviation (OpenSearch `median_absolute_
    * deviation` agg, exact flavor): MAD = median(|x − median(x)|) per
    * group. Two grouped exact-percentile passes with the tiny per-group
    * median BROADCAST back between them — the fact table shuffles on
    * the group key twice, never globally. Determinism: quantities are
    * integral doubles, so the interpolated median is x or x+0.5 exactly
    * and deviations stay exact halves — both engines compute identical
    * bits with no quantization needed.
    */
  def mad(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_quantity"))
    val med = q.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"))
    q.join(broadcast(med), "l_returnflag")
      .select(col("l_returnflag"), col("med_qty"),
        abs(col("l_quantity") - col("med_qty")).as("dev"))
      .groupBy(col("l_returnflag"))
      .agg(first(col("med_qty")).as("med_qty"),
        expr("percentile(dev, 0.5)").as("mad_qty"))
      .orderBy(col("l_returnflag"))
  }

  val madSql: String =
    """WITH med AS (
      |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, any_value(med_qty) AS med_qty,
      |  quantile_cont(abs(l_quantity - med_qty), 0.5) AS mad_qty
      |FROM lineitem l JOIN med USING (l_returnflag)
      |GROUP BY l.l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** C5i — string_stats (OpenSearch `string_stats` agg with
    * show_distribution's entropy): count, length min/max/avg, and the
    * Shannon entropy of the field's CHARACTER distribution. Lengths
    * aggregate in one pass; entropy needs the per-character counts —
    * a second aggregate over exploded characters, whose key space is
    * the alphabet (bounded), so the explode collapses map-side.
    * Cross-engine floats: each character class's −p·ln(p) term is
    * computed from INTEGER (c, n) identically in both engines and
    * floored to integer micro-nats BEFORE the sum (the unigram-LM
    * playbook) — the final entropy re-derives from that integer sum.
    */
  def stringStats(spark: SparkSession, dir: String, field: String = "event_type"): DataFrame = {
    val vals = Tables.events(spark, dir).select(col(field).as("s"))
    val lens = vals.agg(
      count(lit(1)).as("n_values"),
      min(length(col("s"))).cast("long").as("min_len"),
      max(length(col("s"))).cast("long").as("max_len"),
      (sum(length(col("s"))).cast("double") / count(lit(1))).as("avg_len"))
    // the empty-string filter guards Spark's regex-split trailing
    // artifact; DuckDB's char split never emits one
    val chars = vals.select(explode(split(col("s"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("ch")).agg(count(lit(1)).as("c"))
    val entropy = chars
      .crossJoin(broadcast(chars.agg(sum(col("c")).as("n"))))
      .select(floor((col("c").cast("double") / col("n")) *
        log(col("n").cast("double") / col("c")) * 1e6).cast("long").as("e_u"))
      .agg((sum(col("e_u")).cast("double") / 1e6).as("entropy"))
    lens.crossJoin(broadcast(entropy))
  }

  val stringStatsSql: String =
    """WITH chars AS (
      |  SELECT ch, count(*) AS c
      |  FROM events, unnest(string_split(event_type, '')) AS t(ch)
      |  GROUP BY ch),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM chars),
      |ent AS (
      |  SELECT CAST(sum(CAST(floor((CAST(c AS DOUBLE) / n) *
      |      ln(CAST(n AS DOUBLE) / c) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000
      |    AS entropy
      |  FROM chars CROSS JOIN tot)
      |SELECT count(*) AS n_values,
      |  CAST(min(len(event_type)) AS BIGINT) AS min_len,
      |  CAST(max(len(event_type)) AS BIGINT) AS max_len,
      |  CAST(sum(len(event_type)) AS DOUBLE) / count(*) AS avg_len,
      |  any_value(entropy) AS entropy
      |FROM events CROSS JOIN ent""".stripMargin

  /** C5k — matrix_stats (the OpenSearch multi-field numeric matrix agg:
    * per-field count/mean/variance/skewness/kurtosis plus pairwise
    * covariance and correlation — `/root/reference` users get it from
    * the analytics plugin over Discover numeric fields).
    *
    * Spark-first shape: ONE map-side-combined aggregate collects the
    * raw power sums (n, Σx, Σx², Σx³, Σx⁴ per field, Σxy per pair) —
    * the textbook streaming-moments decomposition, so the shuffle is a
    * single tiny row no matter the scale, and every downstream number
    * is a closed-form expression over that row (no second pass, no
    * window). The fields are small-integer-valued (quantity 1–50,
    * discount/tax in hundredths), so the power sums stay exact in
    * BIGINT through ~10¹² rows — determinism comes from exact integer
    * sums feeding a fixed-order double expression, the same device as
    * C45h/E30 (at larger magnitudes the same plan holds with
    * DECIMAL(38,0) sums). The 3×3 output matrix is built by exploding
    * literal structs over the one stats row — no collect, no union of
    * scans.
    */
  def matrixStats(spark: SparkSession, dir: String): DataFrame = {
    val fields = Seq("quantity", "discount_h", "tax_h")
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("f_quantity"),
      round(col("l_discount") * 100, 0).cast("long").as("f_discount_h"),
      round(col("l_tax") * 100, 0).cast("long").as("f_tax_h"))
    val sums: Seq[org.apache.spark.sql.Column] =
      Seq(count(lit(1)).as("n")) ++
        fields.flatMap { f =>
          val c = col(s"f_$f")
          Seq(sum(c).as(s"s1_$f"), sum(c * c).as(s"s2_$f"),
            sum(c * c * c).as(s"s3_$f"), sum(c * c * c * c).as(s"s4_$f"))
        } ++
        fields.combinations(2).map { case Seq(a, b) =>
          sum(col(s"f_$a") * col(s"f_$b")).as(s"sp_${a}_$b")
        }.toSeq
    val agg = li.agg(sums.head, sums.tail: _*)
    def d(c: String) = col(c).cast("double")
    val nd = d("n")
    // per-field central moments, each stored once so every matrix cell
    // reads the identical double (mirrors the oracle's derived CTE)
    val derived = fields.flatMap { f =>
      val mean = d(s"s1_$f") / nd
      val m2 = d(s"s2_$f") / nd - mean * mean
      val m3 = d(s"s3_$f") / nd - lit(3.0) * mean * (d(s"s2_$f") / nd) +
        lit(2.0) * mean * mean * mean
      val m4 = d(s"s4_$f") / nd - lit(4.0) * mean * (d(s"s3_$f") / nd) +
        lit(6.0) * mean * mean * (d(s"s2_$f") / nd) -
        lit(3.0) * mean * mean * mean * mean
      Seq(mean.as(s"mean_$f"), m2.as(s"m2_$f"), m3.as(s"m3_$f"), m4.as(s"m4_$f"))
    }
    val stats = agg.select(col("*") +: derived: _*)
    def spCol(a: String, b: String) =
      if (a == b) col(s"s2_$a")
      else if (fields.indexOf(a) < fields.indexOf(b)) col(s"sp_${a}_$b")
      else col(s"sp_${b}_$a")
    val cells = for (fx <- fields; fy <- fields) yield {
      val covNum = spCol(fx, fy).cast("double") - d(s"s1_$fx") * d(s"s1_$fy") / nd
      val varX = d(s"s2_$fx") - d(s"s1_$fx") * d(s"s1_$fx") / nd
      val varY = d(s"s2_$fy") - d(s"s1_$fy") * d(s"s1_$fy") / nd
      struct(
        lit(fx).as("field_x"), lit(fy).as("field_y"), col("n").as("n"),
        round(col(s"mean_$fx"), 6).as("mean_x"),
        round(varX / (nd - lit(1.0)), 6).as("variance_x"),
        round(col(s"m3_$fx") / sqrt(col(s"m2_$fx") * col(s"m2_$fx") * col(s"m2_$fx")), 6).as("skewness_x"),
        round(col(s"m4_$fx") / (col(s"m2_$fx") * col(s"m2_$fx")), 6).as("kurtosis_x"),
        round(covNum / (nd - lit(1.0)), 6).as("covariance"),
        round(covNum / sqrt(varX * varY), 6).as("correlation"))
    }
    stats.select(explode(array(cells: _*)).as("r")).select("r.*")
      .orderBy(col("field_x"), col("field_y"))
  }

  val matrixStatsSql: String = {
    val fields = Seq("quantity", "discount_h", "tax_h")
    val srcCols =
      """CAST(l_quantity AS BIGINT) AS f_quantity,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS f_discount_h,
        |    CAST(round(l_tax * 100, 0) AS BIGINT) AS f_tax_h""".stripMargin
    val sumCols = fields.map { f =>
      s"""CAST(sum(f_$f) AS BIGINT) AS s1_$f,
         |    CAST(sum(f_$f * f_$f) AS BIGINT) AS s2_$f,
         |    CAST(sum(f_$f * f_$f * f_$f) AS BIGINT) AS s3_$f,
         |    CAST(sum(f_$f * f_$f * f_$f * f_$f) AS BIGINT) AS s4_$f""".stripMargin
    }.mkString(",\n    ")
    val pairCols = fields.combinations(2).map { case Seq(a, b) =>
      s"CAST(sum(f_$a * f_$b) AS BIGINT) AS sp_${a}_$b"
    }.mkString(",\n    ")
    val derivedCols = fields.map { f =>
      s"""CAST(s1_$f AS DOUBLE) / nd AS mean_$f,
         |    CAST(s2_$f AS DOUBLE) / nd - (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) AS m2_$f,
         |    CAST(s3_$f AS DOUBLE) / nd - 3.0 * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s2_$f AS DOUBLE) / nd) + 2.0 * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) AS m3_$f,
         |    CAST(s4_$f AS DOUBLE) / nd - 4.0 * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s3_$f AS DOUBLE) / nd) + 6.0 * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s2_$f AS DOUBLE) / nd) - 3.0 * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) * (CAST(s1_$f AS DOUBLE) / nd) AS m4_$f""".stripMargin
    }.mkString(",\n    ")
    def sp(a: String, b: String) =
      if (a == b) s"s2_$a"
      else if (fields.indexOf(a) < fields.indexOf(b)) s"sp_${a}_$b"
      else s"sp_${b}_$a"
    val cells = (for (fx <- fields; fy <- fields) yield {
      val covNum = s"(CAST(${sp(fx, fy)} AS DOUBLE) - CAST(s1_$fx AS DOUBLE) * CAST(s1_$fy AS DOUBLE) / nd)"
      val varX = s"(CAST(s2_$fx AS DOUBLE) - CAST(s1_$fx AS DOUBLE) * CAST(s1_$fx AS DOUBLE) / nd)"
      val varY = s"(CAST(s2_$fy AS DOUBLE) - CAST(s1_$fy AS DOUBLE) * CAST(s1_$fy AS DOUBLE) / nd)"
      s"""SELECT '$fx' AS field_x, '$fy' AS field_y, n,
         |  round(mean_$fx, 6) AS mean_x,
         |  round($varX / (nd - 1.0), 6) AS variance_x,
         |  round(m3_$fx / sqrt(m2_$fx * m2_$fx * m2_$fx), 6) AS skewness_x,
         |  round(m4_$fx / (m2_$fx * m2_$fx), 6) AS kurtosis_x,
         |  round($covNum / (nd - 1.0), 6) AS covariance,
         |  round($covNum / sqrt($varX * $varY), 6) AS correlation
         |FROM derived""".stripMargin
    }).mkString("\nUNION ALL\n")
    s"""WITH src AS (
       |  SELECT $srcCols
       |  FROM lineitem),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    $sumCols,
       |    $pairCols
       |  FROM src),
       |derived AS (
       |  SELECT *,
       |    $derivedCols
       |  FROM (SELECT *, CAST(n AS DOUBLE) AS nd FROM sums))
       |$cells
       |ORDER BY field_x, field_y""".stripMargin
  }

  /** C5l — scripted_metric aggregation (OpenSearch's escape hatch for
    * per-bucket metrics the built-ins lack, defined as init/map/
    * combine/reduce scripts). Spark-first the same contract is: map =
    * per-row scalar expressions (codegen'd, run once per row inside the
    * scan), combine = associative exact-integer sums (so the aggregate
    * is MERGEABLE — map-side partials work on every shard, exactly the
    * property the OpenSearch API demands of a user's combine script),
    * reduce = closed-form finishers over the combined state. The demo
    * battery is two metrics no built-in provides: the harmonic mean
    * (reciprocals in integer 1e-10 units of 1/value — exact BIGINT
    * sums, headroom ~10⁶ rows per bucket at max reciprocal; the 100 TB
    * variant widens to DECIMAL(38,0)) and the RMS (squares in exact
    * integer cents²; sqrt is IEEE-exact on both engines). ONE
    * map-side-combined groupBy at any scale.
    */
  def scriptedMetric(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      // the map script defines its own domain: a harmonic mean needs a
      // representable reciprocal, so sub-cent values (incl. exact 0) are
      // excluded — the same guard an OpenSearch map script would carry
      .filter(col("cents") >= 1)
      .select(col("event_type"), col("cents"),
        expr("1000000000000 div cents").as("recip"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("recip")).as("s_recip"),
        sum(col("cents") * col("cents")).as("s_sq"))
      .select(col("event_type"), col("n"),
        round(col("n").cast("double") * 1e10 / col("s_recip").cast("double"), 6)
          .as("harmonic_mean"),
        round(sqrt(col("s_sq").cast("double") / col("n").cast("double")) / 100.0, 6)
          .as("rms"))
      .orderBy(col("event_type"))

  val scriptedMetricSql: String =
    """WITH mapped AS (
      |  SELECT event_type,
      |    CAST(round(value * 100) AS BIGINT) AS cents,
      |    1000000000000 // CAST(round(value * 100) AS BIGINT) AS recip
      |  FROM events
      |  WHERE CAST(round(value * 100) AS BIGINT) >= 1),
      |combined AS (
      |  SELECT event_type, count(*) AS n,
      |    CAST(sum(recip) AS BIGINT) AS s_recip,
      |    CAST(sum(cents * cents) AS BIGINT) AS s_sq
      |  FROM mapped GROUP BY event_type)
      |SELECT event_type, n,
      |  round(CAST(n AS DOUBLE) * 1e10 / CAST(s_recip AS DOUBLE), 6) AS harmonic_mean,
      |  round(sqrt(CAST(s_sq AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0, 6) AS rms
      |FROM combined
      |ORDER BY event_type""".stripMargin
  /** C6b — theta/KMV sketch set operations (the DataSketches family
    * OpenSearch ships for "distinct users in segment A AND B" — plain
    * HLL (C6's approx path) gives per-set cardinality but CANNOT
    * intersect; the k-minimum-values theta sketch can: keep the k
    * smallest hashes per set, θ = h_(k)/2^48, |A| ≈ (k−1)/θ, and set
    * algebra happens ON THE SKETCHES — union = k smallest of the
    * merged retained sets, intersection = matching retained hashes
    * below min(θ_A, θ_B) scaled by 1/θ. The 100 TB story: per-segment
    * sketches are O(k) mergeable aggregates (map-side combined — the
    * sketch IS the F5 TopKAgg carrying −hash), and every cross-segment
    * distinct question afterwards is list arithmetic on k-row state —
    * no re-scan per segment pair.
    *
    * Determinism: the hash is the portable 48-bit md5 prefix (the E13
    * stratified-sample playbook — lowercase hex is lexicographic-
    * numeric), estimates are INTEGER divisions, and the exact
    * intersection rides along as the accuracy column the spec checks.
    */
  def thetaSketch(spark: SparkSession, dir: String,
                  typeA: String = "click", typeB: String = "purchase",
                  k: Int = 64): DataFrame = {
    val two48 = 281474976710656L // 2^48
    // entity = user-DAY visit (user_id alone degenerates here: every
    // user eventually fires every event type, making A ≡ B — user-days
    // keep the two sets partially overlapping at every SF, which is
    // the case set-operation sketches exist for)
    val ent = concat(col("user_id").cast("string"), lit(":"),
      date_format(col("ts"), "yyyy-MM-dd"))
    val h = conv(substring(md5(ent), 1, 12), 16, 10).cast("long")
    // distinct hashes per set first (KMV retains DISTINCT minima; the
    // duplicate cut is the only data-sized shuffle)
    val distinctH = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), h.as("h"))
      .distinct()
    val topk = graft.plans.TopKAgg.udafFor[Long](k)
    // k smallest = TopKAgg on score −h; retained ids back out of _2
    val sketches = distinctH
      .groupBy(col("event_type"))
      .agg(topk(col("h"), -col("h").cast("double")).as("top"))
      .select(col("event_type"),
        sort_array(transform(col("top"), t => t.getField("_2"))).as("hs"))
    val row = sketches.agg(
      first(when(col("event_type") === typeA, col("hs")), ignoreNulls = true).as("hs_a"),
      first(when(col("event_type") === typeB, col("hs")), ignoreNulls = true).as("hs_b"))
    // exact intersection (the accuracy column): user-days seen in BOTH
    val exact = Tables.events(spark, dir)
      .filter(col("event_type").isin(typeA, typeB))
      .select(col("event_type"), ent.as("ent")).distinct()
      .groupBy(col("ent"))
      .agg(count(lit(1)).as("n_types"))
      .filter(col("n_types") === 2)
      .agg(count(lit(1)).as("exact_inter"))
    def est(hs: org.apache.spark.sql.Column) =
      when(size(hs) < k, size(hs).cast("long"))
        .otherwise(expr(s"(${k - 1}L * ${two48}L) div element_at(${hs.toString}, $k)"))
    row.crossJoin(exact)
      .withColumn("hs_u", slice(array_sort(array_union(col("hs_a"), col("hs_b"))), 1, k))
      .withColumn("hmax_c",
        least(
          when(size(col("hs_a")) < k, two48).otherwise(element_at(col("hs_a"), k)),
          when(size(col("hs_b")) < k, two48).otherwise(element_at(col("hs_b"), k))))
      .withColumn("matches",
        size(filter(array_intersect(col("hs_a"), col("hs_b")), x => x < col("hmax_c"))).cast("long"))
      .select(
        est(col("hs_a")).as("est_a"),
        est(col("hs_b")).as("est_b"),
        est(col("hs_u")).as("est_union"),
        expr(s"(matches * ${two48}L) div hmax_c").as("est_inter"),
        col("exact_inter"))
  }

  val thetaSketchSql: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type,
      |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||
      |      strftime(ts, '%Y-%m-%d')), 1, 12) AS BIGINT) AS h
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |ranked AS (
      |  SELECT event_type, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      |  FROM h),
      |sk AS (
      |  SELECT event_type, list(h ORDER BY h) AS hs
      |  FROM ranked WHERE rk <= 64 GROUP BY event_type),
      |ab AS (
      |  SELECT
      |    (SELECT hs FROM sk WHERE event_type = 'click') AS hs_a,
      |    (SELECT hs FROM sk WHERE event_type = 'purchase') AS hs_b),
      |exact AS (
      |  SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
      |    SELECT ent FROM (
      |      SELECT DISTINCT event_type,
      |        CAST(user_id AS VARCHAR) || ':' || strftime(ts, '%Y-%m-%d') AS ent
      |      FROM events
      |      WHERE event_type IN ('click', 'purchase'))
      |    GROUP BY ent HAVING count(*) = 2)),
      |calc AS (
      |  SELECT hs_a, hs_b,
      |    list_sort(list_distinct(hs_a || hs_b))[1:64] AS hs_u,
      |    least(
      |      CASE WHEN len(hs_a) < 64 THEN 281474976710656 ELSE hs_a[64] END,
      |      CASE WHEN len(hs_b) < 64 THEN 281474976710656 ELSE hs_b[64] END) AS hmax_c
      |  FROM ab),
      |m AS (
      |  SELECT *,
      |    CAST(len(list_filter(list_intersect(hs_a, hs_b), x -> x < hmax_c)) AS BIGINT) AS matches
      |  FROM calc)
      |SELECT
      |  CAST(CASE WHEN len(hs_a) < 64 THEN len(hs_a)
      |       ELSE (CAST(63 AS BIGINT) * 281474976710656) // hs_a[64] END AS BIGINT) AS est_a,
      |  CAST(CASE WHEN len(hs_b) < 64 THEN len(hs_b)
      |       ELSE (CAST(63 AS BIGINT) * 281474976710656) // hs_b[64] END AS BIGINT) AS est_b,
      |  CAST(CASE WHEN len(hs_u) < 64 THEN len(hs_u)
      |       ELSE (CAST(63 AS BIGINT) * 281474976710656) // hs_u[64] END AS BIGINT) AS est_union,
      |  CAST((matches * 281474976710656) // hmax_c AS BIGINT) AS est_inter,
      |  exact_inter
      |FROM m CROSS JOIN exact""".stripMargin

  // ---- E129: Benford first-digit audit ---------------------------------

  /** Benford's-law conformance audit over the transaction values
    * (Newcomb 1881 / Benford 1938; Nigrini 2012 is the standard
    * fraud-audit reference: organically-generated multi-scale numeric
    * data has first significant digit d with probability
    * log₁₀(1+1/d) — fabricated or truncated feeds deviate, so the
    * per-digit deviation table is a data-QUALITY gate on ingested
    * numeric columns, the numeric sibling of the text-side E18/E31
    * template detectors). Reports observed first-digit counts, shares,
    * Benford's expected shares, and each digit's chi-square
    * contribution.
    *
    * Determinism: the first significant digit comes from the STRING
    * head of the exact integer cents (round(value·100) — the store's
    * exact-cents idiom; ×100 shifts the decimal point and never
    * changes the leading digit), so no float log/pow touches the
    * digit; expected shares are the same ln-constant expression in
    * both engines; deviations floor to micro from identical doubles.
    *
    * Scale shape: one codegen'd projection + ONE 9-row aggregate
    * (map-side combined) + a one-row total broadcast (allowlisted).
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.events(spark, dir)
      .filter(col("value") >= 0.01)
      .select(substring(round(col("value") * 100).cast("long").cast("string"),
        1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val total = digits.agg(sum(col("n_d")).as("n"))
    digits.crossJoin(broadcast(total))
      .withColumn("p_d",
        log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)))
      .withColumn("e_d", col("n").cast("double") * col("p_d"))
      .select(col("digit"), col("n_d"),
        expr("n_d * 10000 div n").as("share_bp"),
        floor(col("p_d") * 10000).cast("long").as("benford_bp"),
        floor((col("n_d").cast("double") - col("e_d"))
          * (col("n_d").cast("double") - col("e_d")) / col("e_d") * 1e6)
          .cast("long").as("dev_micro"))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
      |           1, 1) AS BIGINT) AS digit,
      |    CAST(count(*) AS BIGINT) AS n_d
      |  FROM events WHERE value >= 0.01
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM digits)
      |SELECT digit, n_d,
      |  CAST(n_d * 10000 // n AS BIGINT) AS share_bp,
      |  CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 10000)
      |    AS BIGINT) AS benford_bp,
      |  CAST(floor((CAST(n_d AS DOUBLE) - CAST(n AS DOUBLE)
      |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |    * (CAST(n_d AS DOUBLE) - CAST(n AS DOUBLE)
      |      * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)))
      |    / (CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / CAST(digit AS DOUBLE))
      |      / ln(10.0))) * 1e6) AS BIGINT) AS dev_micro
      |FROM digits CROSS JOIN tot
      |ORDER BY digit""".stripMargin
}

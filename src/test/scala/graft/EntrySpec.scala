package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke: entry + every declared query runs and yields rows at sf0.001,
  * and exactly the declared rows-only queries lack a DuckDB oracle.
  */
class EntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("only the rows-only queries lack an oracle; every other oracle is non-blank") {
    val rowsOnly = SparkEntry.registry.collect { case (n, e) if e.oracle.isEmpty => n }.toSet
    assert(rowsOnly == Set("q_anomaly_stream", "q_compression_ratio"), s"rows-only: $rowsOnly")
    val blank = SparkEntry.registry.collect { case (n, e) if e.oracle.exists(_.trim.isEmpty) => n }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val n = fn(spark, TestSpark.sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("search_after pages are disjoint and stitch into the global top-k (C3g contract)") {
    import org.apache.spark.sql.functions._
    val ops = graft.operators.LogAnalytics
    val page1 = ops.searchAfter(spark, TestSpark.sf,
      afterValue = Double.MaxValue, afterId = 0L, pageSize = 20).collect()
    val last = page1.last
    val page2 = ops.searchAfter(spark, TestSpark.sf,
      afterValue = last.getAs[Double]("value"),
      afterId = last.getAs[Long]("event_id"), pageSize = 20).collect()
    val ids1 = page1.map(_.getAs[Long]("event_id")).toSet
    val ids2 = page2.map(_.getAs[Long]("event_id")).toSet
    assert((ids1 & ids2).isEmpty, "pages overlap")
    val top40 = graft.sources.Tables.events(spark, TestSpark.sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(40).collect().map(_.getAs[Long]("event_id")).toSeq
    assert((page1 ++ page2).map(_.getAs[Long]("event_id")).toSeq == top40,
      "stitched pages differ from the direct global top-40")
  }

  test("terms_shard_error bound dominates the true undercount (C2n contract)") {
    import org.apache.spark.sql.functions._
    val reported = graft.operators.LogAnalytics
      .termsShardError(spark, TestSpark.sf).collect()
    val truth = graft.sources.Tables.events(spark, TestSpark.sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("c")).toMap
    reported.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val missed = truth(u) - r.getAs[Long]("doc_count")
      assert(missed >= 0, s"user $u: reported more than truth")
      assert(missed <= r.getAs[Long]("doc_count_error_ub"),
        s"user $u: true undercount $missed exceeds claimed bound " +
          s"${r.getAs[Long]("doc_count_error_ub")}")
    }
  }

  test("matrix_stats diagonal: cov(x,x)=var(x), corr(x,x)=1 (C5k contract)") {
    val rows = graft.operators.Stats.matrixStats(spark, TestSpark.sf).collect()
    rows.filter(r => r.getAs[String]("field_x") == r.getAs[String]("field_y"))
      .foreach { r =>
        assert(math.abs(r.getAs[Double]("covariance") - r.getAs[Double]("variance_x")) < 1e-6)
        assert(math.abs(r.getAs[Double]("correlation") - 1.0) < 1e-6)
      }
    assert(rows.length == 9)
  }

  test("top_metrics picks the max-sort-key row even on timestamp ties (C5j contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ts = java.sql.Timestamp.valueOf("2024-01-05 10:00:00")
    val df = Seq(
      (1L, ts, 10L, "a", 1.0, "{}"), (2L, ts, 20L, "a", 2.0, "{}"),
      (3L, ts, 30L, "a", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = java.nio.file.Files.createTempDirectory("graft-topm").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.operators.PipelineAggs.topMetrics(spark, dir).collect().head
    // all three share the timestamp: the event_id suffix of the sort
    // key must break the tie toward the HIGHEST id
    assert(r.getAs[Double]("latest_value") == 3.0 && r.getAs[Long]("latest_user") == 30L)
  }

  test("q_search_wildcard pushes the LIKE prefix into the parquet scan") {
    val plan = graft.operators.LogAnalytics.searchWildcard(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the prefix arm must reach the scan as a StartsWith data-source
    // filter; the regexp arm stays a residual filter above it
    assert(plan.contains("StartsWith(event_type,pu"), s"no pushed prefix in:\n$plan")
  }

  test("q_returned_items / q_nation_volume push their date filters into the scan") {
    // D7/D8 carried year()-wrapped filters through round 6 — residual
    // filters parquet row-group pruning never sees. The fix is half-open
    // timestamp ranges; these asserts pin the pushdown so it can't
    // silently regress back to a function-wrapped column.
    val d7 = graft.operators.Tpch.returnedItems(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(d7.contains("GreaterThanOrEqual(o_orderdate") &&
      d7.contains("LessThan(o_orderdate"),
      s"o_orderdate range not pushed in:\n$d7")
    val d8 = graft.operators.Tpch.nationVolume(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(d8.contains("GreaterThanOrEqual(l_shipdate") &&
      d8.contains("LessThan(l_shipdate"),
      s"l_shipdate range not pushed in:\n$d8")
  }

  test("q_nested_field distinguishes nested from flattened object semantics") {
    val rows = graft.operators.Extras.nestedField(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    // every row flat-matches by construction; the nested semantics must
    // strictly refine it (false positives the nested mapping eliminates)
    val nestedHits = rows.count(_.getAs[Boolean]("nested_match"))
    assert(nestedHits < rows.length, "nested set should be a strict subset")
    // a single-element conjunction hit implies cents were accumulated
    rows.filter(_.getAs[Boolean]("nested_match"))
      .foreach(r => assert(r.getAs[Long]("match_cents") > 0))
    // no explode: per-element work stays as higher-order functions
    val plan = graft.operators.Extras.nestedField(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode in plan:\n$plan")
  }

  test("q_search_template's rendered predicate reaches the scan; q_terms_by_metric's size cut is a bounded heap") {
    val tpl = graft.operators.Extras.searchTemplate(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the PushedFilters list truncates in toString — assert the stable
    // prefix (the range bound values are covered by the oracle rows)
    assert(tpl.contains("EqualTo(event_type,purchase)") &&
      tpl.contains("GreaterThanOrEqual(value,"),
      s"rendered template not pushed in:\n$tpl")
    val tbm = graft.operators.LogAnalytics.termsByMetric(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(tbm.contains("TakeOrderedAndProject"), s"size cut not a bounded heap:\n$tbm")
  }

  test("q_rescore: the secondary query touches only the window (C60 contract)") {
    import org.apache.spark.sql.functions._
    // rescoring never ejects a window doc's base ordering entirely: the
    // output is a permutation of the primary top-window's best k by
    // combined score, and combined = base + 2.0*phrase exactly
    val out = graft.operators.TextAnalysis.rescore(spark, TestSpark.sf).collect()
    assert(out.length > 0 && out.length <= 20)
    out.foreach { r =>
      val expect = math.round((r.getAs[Double]("base_score") +
        2.0 * r.getAs[Double]("rescore")) * 1e6) / 1e6
      assert(math.abs(r.getAs[Double]("score") - expect) < 1e-9)
    }
    // window containment: every emitted doc is in the primary top-50
    val win = graft.operators.TextAnalysis.searchRanked(spark, TestSpark.sf, k = 50)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out.map(_.getAs[Long]("doc_id")).forall(win))
  }

  test("q_msearch runs the whole query batch in ONE scan pass (C66 contract)") {
    val plan = graft.operators.Extras.msearch(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"N queries must not mean N scans, got $scans in:\n$plan")
  }

  test("q_random_sampler's seeded draw filters BEFORE the aggregate (C2q contract)") {
    val plan = graft.operators.LogAnalytics.randomSamplerAgg(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    // the filter node sits below the partial aggregate: the sketch of
    // the plan is Scan -> Filter(md5 bucket) -> HashAggregate
    val fi = plan.indexOf("Filter")
    val ag = plan.lastIndexOf("HashAggregate")
    assert(fi >= 0 && ag >= 0 && fi > ag,
      s"sample filter must evaluate below (after in text order) the aggregate:\n$plan")
  }

  test("q_ip_enrich is a bucketed hash join, not a nested-loop range join") {
    val plan = graft.operators.Network.ipEnrich(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join on the /16 bucket in:\n$plan")
  }

  test("q_geo_polygon_holes: hole interior excluded, annulus included, outside excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val pts = Seq(
      ("hole_center", 0.0, -60.0),      // dead center of the hole ring → OUT
      ("in_hole", 5.0, -58.0),          // inside hole → parity even → OUT
      ("annulus_w", -80.0, -60.0),      // between outer and hole → IN
      ("annulus_s", 0.0, -80.0),        // southern annulus → IN
      ("outside_n", 0.0, -20.0),        // north of the outer ring → OUT
      ("outside_e", 150.0, -60.0)       // east of the outer ring → OUT
    ).toDF("name", "lon", "lat")
    val in = pts.filter(graft.operators.Geo.insideWithHoles(col("lon"), col("lat")))
      .select("name").as[String].collect().toSet
    assert(in == Set("annulus_w", "annulus_s"), s"got $in")
  }

  test("q_window_ranks is SQL-native: no RDD scan, range shuffle paid once") {
    val df = graft.operators.Extras.windowRanks(spark, TestSpark.sf)
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Scan ExistingRDD") && !plan.contains("RDDScan"),
      s"RDD drop in:\n$plan")
    // both consumers of the range exchange (per-pid counts and the rank
    // stamping) must share ONE shuffle
    assert(plan.contains("ReusedExchange"), s"range exchange not reused in:\n$plan")
  }

  test("q_burn_rate computes every window in ONE fact scan (C4b contract)") {
    val df = graft.operators.Slo.burnRate(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    // one scan for the conditional aggregate + one for the max(ts) row
    assert(scans <= 2, s"expected <=2 events scans, got $scans:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("cross-surface parity: DQL, PPL, and SQL answer the same three questions identically") {
    // The three user-facing query languages (C56 Discover DQL, C57 PPL,
    // C58 SQL) have always been oracle-checked separately but never
    // against EACH OTHER. Same logical question per language, collected
    // rows must match exactly. DQL is a filter grammar, so its arm pairs
    // the compiled predicate with the canonical DataFrame aggregation —
    // exactly how Discover composes filter-bar + aggregation UI.
    import org.apache.spark.sql.functions._
    import graft.functions.{Ppl, QueryString}
    val dir = TestSpark.sf
    val ev = graft.sources.Tables.events(spark, dir)
    ev.createOrReplaceTempView("events")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)

    // Q1 — band-filtered selection
    val s1dql = ev.filter(QueryString.compile(ev, "event_type:purchase AND value:[150 TO 400]"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))
    val s1ppl = Ppl.run(spark, dir,
      "search source=events | where event_type = 'purchase' and value >= 150 and value <= 400 " +
        "| fields event_id, user_id, event_type, value | sort + event_id")
    val s1sql = spark.sql(
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_type = 'purchase' AND value >= 150 AND value <= 400
        |ORDER BY event_id""".stripMargin)
    assert(rows(s1dql).nonEmpty && rows(s1dql) == rows(s1ppl) && rows(s1ppl) == rows(s1sql))

    // Q2 — filtered per-user stats, ranked (exact min/max metrics)
    val s2dql = ev.filter(QueryString.compile(ev, "event_type:purchase AND value:>100"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("n").desc, col("user_id")).limit(20)
    val s2ppl = Ppl.run(spark, dir,
      "search source=events | where value > 100 and event_type = 'purchase' " +
        "| stats count() as n, min(value) as min_v, max(value) as max_v by user_id " +
        "| sort - n, + user_id | head 20")
    val s2sql = spark.sql(
      """SELECT user_id, count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events WHERE value > 100 AND event_type = 'purchase'
        |GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20""".stripMargin)
    assert(rows(s2dql).nonEmpty && rows(s2dql) == rows(s2ppl) && rows(s2ppl) == rows(s2sql))

    // Q3 — daily histogram with distinct users over a 2-type filter
    val s3dql = ev.filter(QueryString.compile(ev, "event_type:view OR event_type:click"))
      .groupBy(date_trunc("day", col("ts")).as("span_ts"), col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nu"))
      .orderBy(col("span_ts"), col("event_type"))
    val s3ppl = Ppl.run(spark, dir,
      "search source=events | where event_type = 'view' or event_type = 'click' " +
        "| stats count() as n, dc(user_id) as nu by span(ts, 1d), event_type " +
        "| sort + span_ts, + event_type")
    val s3sql = spark.sql(
      """SELECT date_trunc('day', ts) AS span_ts, event_type,
        |  count(*) AS n, count(DISTINCT user_id) AS nu
        |FROM events WHERE event_type IN ('view', 'click')
        |GROUP BY 1, 2 ORDER BY span_ts, event_type""".stripMargin)
    assert(rows(s3dql).nonEmpty && rows(s3dql) == rows(s3ppl) && rows(s3ppl) == rows(s3sql))
  }
}

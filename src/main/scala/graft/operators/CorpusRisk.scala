package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Tables}

/** Corpus-risk audit tier: memorization-exposure scoring and
  * excess-loss domain reweighting — the two numbers a pretraining-data
  * owner reads before fixing the mixture. Public anchors: Lee et al.
  * 2022 ("Deduplicating Training Data Makes Language Models Better" —
  * duplicated-passage memorization), Xie et al. 2023 (DoReMi domain
  * reweighting by excess loss).
  */
object CorpusRisk {

  /** E108 — duplicated-passage exposure (Lee et al. 2022: passages
    * duplicated across documents are the ones models memorize and
    * regurgitate; the per-document risk number is the fraction of its
    * 8-gram passages that also occur in ANOTHER document). Distinct
    * per-doc 8-grams → cross-corpus spread count → per-doc exposed
    * fraction in exact basis points. Complements E18 (within-doc
    * repetition) and E20d (substring REMOVAL): this is the audit that
    * says which surviving docs still carry shared passages.
    *
    * Scale shape: grams travel as 60-bit md5-prefix keys (16-byte
    * strings never shuffle); ONE corpus pass and ONE gram-table
    * exchange — the raw gram stream repartitions by gk once and the
    * per-doc dedup, the per-gram spread count (a window over the same
    * partitioning), and the per-doc rollup all ride that exchange.
    * The r14-measured predecessor computed the scan+explode+md5
    * subtree TWICE (the spread-join's two branches never reuse their
    * exchange: lambda-bearing subtrees defeat plan canonicalization)
    * and its inner join inferred isnotnull(gk), re-running the md5 per
    * gram in a pushed filter; the window form has no join to infer
    * from. The token array also binds to its own projected column so
    * the shingle lambda slices a materialized array instead of
    * re-splitting the text once per window position.
    */
  def dupExposure(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // compute-width repartition BEFORE the explode: the gram explode +
    // md5 is the dominant cost and the parquet input is byte-small (a
    // single row group locally), so without it the whole corpus pass
    // runs in ONE task (r14 Probe: two serial 2.5 s single-task jobs =
    // 80% of the query). No-op at real scale where the scan is already
    // wide (atComputeParallelism short-circuits).
    val grams = Tables.atComputeParallelism(Tables.documents(spark, dir))
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), greatest(size(col("w")) - (n - 1), lit(1))),
        i => array_join(slice(col("w"), i, lit(n)), " "))).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("gk"))
      .repartition(col("gk"))
      .distinct()
    grams
      .withColumn("n_docs_gram", count(lit(1)).over(Window.partitionBy(col("gk"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("n_docs_gram") >= 2).cast("long")).as("n_shared"))
      .withColumn("exposure_bp", expr("n_shared * 10000 div n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"), col("exposure_bp"))
      .orderBy(col("doc_id"))
  }

  val dupExposureSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15))::BIGINT AS gk
      |  FROM t, unnest(generate_series(1, greatest(len(w) - 7, 1))) AS u(i)),
      |s AS (SELECT gk, count(*) AS n_docs_gram FROM g GROUP BY 1)
      |SELECT doc_id,
      |  count(*) AS n_grams,
      |  CAST(sum(CASE WHEN n_docs_gram >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
      |  CAST(sum(CASE WHEN n_docs_gram >= 2 THEN 1 ELSE 0 END) * 10000
      |    // count(*) AS BIGINT) AS exposure_bp
      |FROM g JOIN s USING (gk)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** E111 — Kneser-Ney bigram LM scoring (Kneser & Ney 1995; Chen &
    * Goodman 1998's interpolated form with fixed discount d = 0.75 —
    * the KenLM-style fluency scorer CCNet (Wenzek et al. 2020) filters
    * web text with; the unigram E10e/logprob family's context-aware
    * upgrade). The model trains on the corpus itself and every doc is
    * scored by its mean bigram NLL:
    *   P(w2|w1) = (c(w1w2) − d)/c(w1) + (d·N1+(w1·)/c(w1)) · N1+(·w2)/B
    * with B the distinct-bigram count. All counts are exact integers;
    * the float expression tree is pinned operand-for-operand in the
    * oracle, per-bigram NLL floors to integer micro-nats before the
    * doc sum (the unigram-LM playbook), and the final per-token figure
    * is a ratio of exact integers. Docs shorter than 2 tokens score
    * NULL (no bigram evidence).
    *
    * Scale shape: bigram generation is one codegen'd arrays_zip pass
    * (no self-join; LAMBDA-FREE on purpose — lambda-bearing subtrees
    * never canonicalize equal, so with the old zip_with form none of
    * the bigram-table consumers could reuse the bc exchange and the
    * corpus explode re-ran once per consumer: five single-task scan
    * stages in the r14 Probe); the count/statistic joins are all
    * BIGRAM-TABLE-sized (vocab²-bounded, never corpus-sized); the
    * distinct-bigram total rides the plan as a broadcast one-row frame
    * instead of a separate driver count() action (one fewer full
    * pass); compute-width repartition precedes the explode (a local
    * single-row-group input scans as ONE task otherwise); doc scoring
    * joins on 60-bit md5-prefix bigram keys so token text never
    * re-shuffles.
    */
  def knBigramNll(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.atComputeParallelism(Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val bg = docs
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1))).as("p"))
      .select(col("doc_id"),
        col("p").getField("0").as("w1"), col("p").getField("1").as("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_b"))
    val c1 = bc.groupBy(col("w1"))
      .agg(sum(col("c_b")).as("c_1"), count(lit(1)).as("n1f"))
    val cw2 = bc.groupBy(col("w2")).agg(count(lit(1)).as("n_prec"))
    val nbbDf = bc.groupBy().agg(count(lit(1)).as("nbb"))
    val bkey = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      conv(substring(md5(concat(a, lit("\u0001"), b)), 1, 15), 16, 10).cast("long")
    val prob = bc
      .join(c1.hint("shuffle_hash"), "w1")
      .join(cw2.hint("shuffle_hash"), "w2")
      .crossJoin(broadcast(nbbDf))
      .withColumn("lp_micro",
        floor(log(
          (col("c_b").cast("double") - lit(0.75)) / col("c_1") +
            (lit(0.75) * col("n1f")) / col("c_1") *
              (col("n_prec").cast("double") / col("nbb"))) * 1e6).cast("long"))
      .select(bkey(col("w1"), col("w2")).as("bk"), col("lp_micro"))
    bg.select(col("doc_id"), bkey(col("w1"), col("w2")).as("bk"))
      .join(prob.hint("shuffle_hash"), "bk")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("s").cast("double") / 1e6 / col("n_bigrams")).as("nll_per_token"))
      // 1-token docs have no bigram rows: reattach with NULL score
      .join(docs.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("nll_per_token"))
      .orderBy(col("doc_id"))
  }

  val knBigramNllSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i+1])) AS w1,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i+2])) AS w2
      |  FROM d),
      |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_b FROM bg GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c_b) AS BIGINT) AS c_1,
      |              CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY 1),
      |cw2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM bc GROUP BY 1),
      |nbb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bc),
      |prob AS (
      |  SELECT
      |    ('0x' || substr(md5(bc.w1 || chr(1) || bc.w2), 1, 15))::BIGINT AS bk,
      |    CAST(floor(ln(
      |      (CAST(c_b AS DOUBLE) - 0.75) / c_1 +
      |      (0.75 * n1f) / c_1 * (CAST(n_prec AS DOUBLE) / (SELECT n FROM nbb))
      |    ) * 1e6) AS BIGINT) AS lp_micro
      |  FROM bc JOIN c1 USING (w1) JOIN cw2 USING (w2)),
      |s AS (
      |  SELECT doc_id, count(*) AS n_bigrams, CAST(sum(lp_micro) AS BIGINT) AS s
      |  FROM (SELECT doc_id,
      |          ('0x' || substr(md5(w1 || chr(1) || w2), 1, 15))::BIGINT AS bk
      |        FROM bg) g
      |  JOIN prob USING (bk)
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  -CAST(s.s AS DOUBLE) / 1e6 / s.n_bigrams AS nll_per_token
      |FROM d LEFT JOIN s ON d.doc_id = s.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** E109 — DoReMi-style excess-loss domain weights (Xie et al. 2023:
    * upweight the domains whose loss under the shared model most
    * exceeds their loss under a per-domain reference — the domains the
    * mixture is under-serving). One-shot static analogue with the E10e
    * unigram-LM pair as proxy/reference: proxy loss = corpus-global
    * add-1 unigram NLL, reference loss = the domain's OWN unigram NLL,
    * both summed in exact integer micro-nats (the unigram-LM
    * playbook); weight ∝ token-share × exp(η · excess-per-token),
    * normalized over an alphabetical fixed-order fold (the E13c
    * denominator device) and rounded to 6.
    *
    * Scale shape: both NLL sums are VOCABULARY-sized joins (per-domain
    * count × per-token logprob — token occurrences never re-shuffle);
    * the final fold runs driver-side on the source-cardinality handful
    * (the sqParams bounded-collect contract).
    */
  def doremiWeights(spark: SparkSession, dir: String,
                    eta: Double = 1.0): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val domCounts = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))
    val globCounts = domCounts.groupBy(col("token"))
      .agg(sum(col("c_st")).as("c_t"))
    val globTotals = globCounts
      .agg(sum(col("c_t")).as("n_total"), count(lit(1)).as("v"))
    val domTotals = domCounts.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"),
        count(lit(1)).as("v_s"))
    val globLp = globCounts.crossJoin(broadcast(globTotals))
      .select(col("token"),
        floor(log((col("c_t") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")) * 1e6).cast("long")
          .as("glp_micro"))
    val rows = domCounts
      .join(globLp.hint("shuffle_hash"), "token")
      .join(broadcast(domTotals), "source")
      .withColumn("dlp_micro",
        floor(log((col("c_st") + 1).cast("double") /
          (col("n_s") + col("v_s")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_toks"),
        (-sum(col("c_st") * col("glp_micro"))).as("proxy_mnats"),
        (-sum(col("c_st") * col("dlp_micro"))).as("ref_mnats"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)

    val nAll = rows.map(_._2).sum
    val raw = rows.map { case (s, n, proxy, ref) =>
      val excess = math.max(0L, proxy - ref)
      val w = (n.toDouble / nAll) * math.exp(eta * (excess.toDouble / n / 1e6))
      (s, n, proxy, ref, proxy - ref, w)
    }
    val denom = raw.foldLeft(0.0)(_ + _._6)
    val out = raw.map { case (s, n, proxy, ref, excess, w) =>
      (s, n, proxy, ref, excess,
        BigDecimal(w / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    spark.createDataFrame(out.toIndexedSeq)
      .toDF("source", "n_toks", "proxy_mnats", "ref_mnats", "excess_mnats", "weight")
      .orderBy(col("source"))
  }

  val doremiWeightsSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |dc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c_st
      |       FROM toks GROUP BY 1, 2),
      |gc AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM dc GROUP BY 1),
      |gt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total,
      |              CAST(count(*) AS BIGINT) AS v FROM gc),
      |dt AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
      |              CAST(count(*) AS BIGINT) AS v_s FROM dc GROUP BY 1),
      |glp AS (
      |  SELECT token,
      |    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / (n_total + v)) * 1e6) AS BIGINT)
      |      AS glp_micro
      |  FROM gc, gt),
      |agg AS (
      |  SELECT dc.source,
      |    CAST(min(dt.n_s) AS BIGINT) AS n_toks,
      |    CAST(-sum(dc.c_st * glp.glp_micro) AS BIGINT) AS proxy_mnats,
      |    CAST(-sum(dc.c_st *
      |      CAST(floor(ln(CAST(dc.c_st + 1 AS DOUBLE) / (dt.n_s + dt.v_s)) * 1e6)
      |        AS BIGINT)) AS BIGINT) AS ref_mnats
      |  FROM dc JOIN glp USING (token) JOIN dt ON dc.source = dt.source
      |  GROUP BY 1),
      |w AS (
      |  SELECT source, n_toks, proxy_mnats, ref_mnats,
      |    proxy_mnats - ref_mnats AS excess_mnats,
      |    (CAST(n_toks AS DOUBLE) / (SELECT sum(n_toks) FROM agg))
      |      * exp(greatest(proxy_mnats - ref_mnats, 0) / CAST(n_toks AS DOUBLE) / 1e6)
      |      AS w_raw
      |  FROM agg),
      |d AS (SELECT list_reduce(
      |        list_prepend(0.0, list(w_raw ORDER BY source)),
      |        (a, b) -> a + b) AS denom FROM w)
      |SELECT source, n_toks, proxy_mnats, ref_mnats, excess_mnats,
      |  round(w_raw / denom, 6) AS weight
      |FROM w, d
      |ORDER BY source""".stripMargin

  // ---- E125: deleted-interpolation LM fit (Jelinek–Mercer EM) ---------

  /** Jelinek–Mercer deleted interpolation (Jelinek & Mercer 1980;
    * Chen & Goodman 1998 §2.5): the bigram LM smoothed as
    * λ₁·P_ML(w₂|w₁) + λ₂·P_ML(w₂) + λ₃·(1/V), with the mixture
    * weights FIT by EM on a held-out split — the classical way to
    * learn how much context to trust, and the ancestor of every
    * interpolated LM the corpus-quality tier uses (E10e, E111). Docs
    * are deleted into a 10% held-out set by md5 lottery; three
    * unrolled EM iterations re-estimate (λ₁, λ₂, λ₃); each output row
    * reports the lambdas USED that iteration and the held-out NLL
    * under them, so the spec can assert EM's monotone improvement.
    *
    * Determinism: component probabilities are divisions of exact
    * integers; per-event posteriors floor to micro-units and SUM AS
    * LONGS (order-independent), so the re-estimated lambdas are
    * ratios of exact longs — the Spark driver fold and the oracle's
    * unrolled CTE chain compute bit-identical doubles; NLL uses
    * per-bigram-type floors weighted by exact counts.
    *
    * Scale shape: train counts are vocab²-bounded aggregates; the
    * held-out join is (held-out bigram types) × thin keys; each EM
    * iteration is ONE aggregate collapsing to a single row
    * (bounded-collect contract, the doremi device); one-row totals
    * broadcast (allowlisted).
    */
  def jmInterpolation(spark: SparkSession, dir: String,
                      iters: Int = 3): DataFrame = {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"),
        (conv(substring(md5(concat(lit("jm-v1:"), col("doc_id").cast("string"))),
          1, 4), 16, 10).cast("long") % 10L === 0L).as("held"))
    // ONE bigram explode + (w1, w2) aggregate carries BOTH splits as
    // conditional counts (r14: the old shape exploded the corpus twice
    // — once for the train counts, once for the held-out counts — and
    // paid the bigram exchange twice). c12 = 0 from the fused aggregate
    // is value-identical to the old left-join's NULL→coalesce(0), and
    // c_1 = 0 takes the same pbg = 0.0 branch the old NULL did.
    val bgc = docs
      .select(col("held"), explode(seqPairsExpr).as("p"))
      .select(col("held"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(sum(when(!col("held"), 1L).otherwise(0L)).as("c12"),
        sum(when(col("held"), 1L).otherwise(0L)).as("n_h"))
    val c1 = bgc.groupBy(col("w1")).agg(sum(col("c12")).as("c_1"))
    val ug = docs.filter(!col("held"))
      .select(explode(col("w")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c2"))
    val totals = ug.agg(sum(col("c2")).as("n"), count(lit(1)).as("v"))
    val joined = bgc.filter(col("n_h") > 0L)
      .join(c1.hint("shuffle_hash"), Seq("w1"), "left")
      .join(ug.hint("shuffle_hash").withColumnRenamed("token", "w2"),
        Seq("w2"), "left")
      .crossJoin(broadcast(totals))
      .select(col("n_h"),
        when(coalesce(col("c_1"), lit(0L)) > 0L,
          col("c12").cast("double") / col("c_1").cast("double"))
          .otherwise(lit(0.0)).as("pbg"),
        (coalesce(col("c2"), lit(0L)).cast("double") / col("n").cast("double"))
          .as("pug"),
        (lit(1.0) / col("v").cast("double")).as("puni"))

    // EM reads `joined` once per iteration: persist so the bigram
    // explosion + count joins compute ONCE and the 3 iterations
    // re-aggregate the cached held-out TYPE table (vocab²-bounded,
    // spills to disk if large) — the r14 measurement had the whole
    // upstream pipeline re-running per iteration (34 construction
    // jobs; 3× the corpus passes the fit needs)
    val out = Materialize.within(joined, "jm-interpolation-em") { em =>
      var l = (0.4, 0.4, 0.2)
      (1 to iters).map { it =>
        val d = lit(l._1) * col("pbg") + lit(l._2) * col("pug") +
          lit(l._3) * col("puni")
        val row = em.agg(
          sum(floor(col("n_h") * (lit(l._1) * col("pbg") / d) * 1e6).cast("long"))
            .as("s1"),
          sum(floor(col("n_h") * (lit(l._2) * col("pug") / d) * 1e6).cast("long"))
            .as("s2"),
          sum(floor(col("n_h") * (lit(l._3) * col("puni") / d) * 1e6).cast("long"))
            .as("s3"),
          (-sum(col("n_h") * floor(log(d) * 1e6).cast("long"))).as("nll"),
          sum(col("n_h")).as("n_events")).collect().head
        val (s1, s2, s3) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val used = l
        val tot = s1 + s2 + s3
        l = (s1.toDouble / tot, s2.toDouble / tot, s3.toDouble / tot)
        (it.toLong, math.floor(used._1 * 1e6).toLong,
          math.floor(used._2 * 1e6).toLong, math.floor(used._3 * 1e6).toLong,
          row.getLong(3), row.getLong(4))
      }
    }
    out.toDF("iter", "l1_micro", "l2_micro", "l3_micro",
      "heldout_nll_micro", "n_events")
      .orderBy(col("iter"))
  }

  val jmInterpolationSql: String = {
    // one EM pass at lambdas (l1e, l2e, l3e) given as SQL expressions
    def pass(name: String, l1e: String, l2e: String, l3e: String): String =
      s"""$name AS (
         |  SELECT
         |    CAST(sum(CAST(floor(n_h * ($l1e * pbg /
         |      ($l1e * pbg + $l2e * pug + $l3e * puni)) * 1e6) AS BIGINT))
         |      AS BIGINT) AS s1,
         |    CAST(sum(CAST(floor(n_h * ($l2e * pug /
         |      ($l1e * pbg + $l2e * pug + $l3e * puni)) * 1e6) AS BIGINT))
         |      AS BIGINT) AS s2,
         |    CAST(sum(CAST(floor(n_h * ($l3e * puni /
         |      ($l1e * pbg + $l2e * pug + $l3e * puni)) * 1e6) AS BIGINT))
         |      AS BIGINT) AS s3,
         |    CAST(-sum(n_h * CAST(floor(ln($l1e * pbg + $l2e * pug
         |      + $l3e * puni) * 1e6) AS BIGINT)) AS BIGINT) AS nll,
         |    CAST(sum(n_h) AS BIGINT) AS n_events,
         |    CAST(floor($l1e * 1e6) AS BIGINT) AS l1_micro,
         |    CAST(floor($l2e * 1e6) AS BIGINT) AS l2_micro,
         |    CAST(floor($l3e * 1e6) AS BIGINT) AS l3_micro
         |  FROM joined)""".stripMargin
    val l2 = Seq("s1", "s2", "s3").map(k =>
      s"(SELECT CAST($k AS DOUBLE) / (s1 + s2 + s3) FROM it1)")
    val l3 = Seq("s1", "s2", "s3").map(k =>
      s"(SELECT CAST($k AS DOUBLE) / (s1 + s2 + s3) FROM it2)")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS w,
       |    ('0x' || substr(md5('jm-v1:' || doc_id), 1, 4))::BIGINT % 10 = 0
       |      AS held
       |  FROM documents),
       |bg AS (
       |  SELECT held,
       |    unnest(list_transform(range(len(w) - 1), i -> w[i+1])) AS w1,
       |    unnest(list_transform(range(len(w) - 1), i -> w[i+2])) AS w2
       |  FROM d),
       |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |       FROM bg WHERE NOT held GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c_1 FROM bc GROUP BY 1),
       |ug AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS c2
       |  FROM (SELECT unnest(w) AS token FROM d WHERE NOT held) GROUP BY 1),
       |tot AS (SELECT CAST(sum(c2) AS BIGINT) AS n,
       |               CAST(count(*) AS BIGINT) AS v FROM ug),
       |hb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_h
       |       FROM bg WHERE held GROUP BY 1, 2),
       |joined AS (
       |  SELECT n_h,
       |    CASE WHEN coalesce(c_1, 0) > 0
       |         THEN CAST(coalesce(c12, 0) AS DOUBLE) / CAST(c_1 AS DOUBLE)
       |         ELSE 0.0 END AS pbg,
       |    CAST(coalesce(c2, 0) AS DOUBLE) / CAST(n AS DOUBLE) AS pug,
       |    1.0 / CAST(v AS DOUBLE) AS puni
       |  FROM hb LEFT JOIN bc USING (w1, w2) LEFT JOIN c1 USING (w1)
       |          LEFT JOIN (SELECT token AS w2, c2 FROM ug) USING (w2)
       |          CROSS JOIN tot),
       |${pass("it1", "0.4", "0.4", "0.2")},
       |${pass("it2", l2(0), l2(1), l2(2))},
       |${pass("it3", l3(0), l3(1), l3(2))}
       |SELECT CAST(1 AS BIGINT) AS iter, l1_micro, l2_micro, l3_micro,
       |       nll AS heldout_nll_micro, n_events FROM it1
       |UNION ALL
       |SELECT 2, l1_micro, l2_micro, l3_micro, nll, n_events FROM it2
       |UNION ALL
       |SELECT 3, l1_micro, l2_micro, l3_micro, nll, n_events FROM it3
       |ORDER BY iter""".stripMargin
  }

  // ---- E121: doc-level excess-loss selection (RHO-style) --------------

  /** Learnability-ordered document selection (Mindermann et al. 2022
    * RHO-loss; Lin et al. 2024 RHO-1 apply it token-wise at scale:
    * prioritize training points whose loss under the CURRENT/proxy
    * model most exceeds their loss under a REFERENCE model — high
    * excess = learnable-and-not-yet-learned, low/negative = already
    * learned or noise). E109 ranks DOMAINS by this signal; this ranks
    * DOCUMENTS, with the same static LM pair: proxy = corpus-global
    * add-1 unigram NLL, reference = the doc's own-source add-1 unigram
    * NLL. The top-k excess-per-token docs are the selection batch.
    *
    * Determinism: both logprob tables floor to integer micro-nats
    * (E10e playbook); per-doc sums are exact longs; the per-token
    * ranking key is a division of exact integers (identical doubles
    * cross-engine) with a doc_id tiebreak.
    *
    * Scale shape: (doc, token) counts join two VOCAB-keyed logprob
    * tables (token occurrences never re-shuffle); one doc-keyed
    * aggregate; TakeOrdered top-k. One-row corpus-totals broadcast
    * (allowlisted).
    */
  def rhoSelect(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("token"))
    val dt = toks.groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("n_dt"))
    val domCounts = dt.groupBy(col("source"), col("token"))
      .agg(sum(col("n_dt")).as("c_st"))
    val globCounts = domCounts.groupBy(col("token"))
      .agg(sum(col("c_st")).as("c_t"))
    val globTotals = globCounts
      .agg(sum(col("c_t")).as("n_total"), count(lit(1)).as("v"))
    val domTotals = domCounts.groupBy(col("source"))
      .agg(sum(col("c_st")).as("n_s"), count(lit(1)).as("v_s"))
    val glp = globCounts.crossJoin(broadcast(globTotals))
      .select(col("token"),
        floor(log((col("c_t") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")) * 1e6).cast("long")
          .as("glp_micro"))
    val dlp = domCounts.join(broadcast(domTotals), "source")
      .select(col("source"), col("token"),
        floor(log((col("c_st") + 1).cast("double") /
          (col("n_s") + col("v_s")).cast("double")) * 1e6).cast("long")
          .as("dlp_micro"))
    dt
      .join(glp.hint("shuffle_hash"), "token")
      .join(dlp.hint("shuffle_hash"), Seq("source", "token"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("n_dt")).as("n_toks"),
        (-sum(col("n_dt") * col("glp_micro"))).as("proxy_mnats"),
        (-sum(col("n_dt") * col("dlp_micro"))).as("ref_mnats"))
      .withColumn("excess_micro", col("proxy_mnats") - col("ref_mnats"))
      .withColumn("excess_per_tok",
        round(col("excess_micro").cast("double") / col("n_toks").cast("double")
          / 1e6, 6))
      .orderBy(col("excess_per_tok").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("proxy_mnats"), col("ref_mnats"), col("excess_micro"),
        col("excess_per_tok"))
  }

  val rhoSelectSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |dt AS (SELECT doc_id, source, token, CAST(count(*) AS BIGINT) AS n_dt
      |       FROM toks GROUP BY 1, 2, 3),
      |dc AS (SELECT source, token, CAST(sum(n_dt) AS BIGINT) AS c_st
      |       FROM dt GROUP BY 1, 2),
      |gc AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t FROM dc GROUP BY 1),
      |gt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_total,
      |              CAST(count(*) AS BIGINT) AS v FROM gc),
      |dtot AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
      |                CAST(count(*) AS BIGINT) AS v_s FROM dc GROUP BY 1),
      |glp AS (
      |  SELECT token,
      |    CAST(floor(ln(CAST(c_t + 1 AS DOUBLE) / (n_total + v)) * 1e6)
      |      AS BIGINT) AS glp_micro
      |  FROM gc, gt),
      |dlp AS (
      |  SELECT dc.source, dc.token,
      |    CAST(floor(ln(CAST(c_st + 1 AS DOUBLE) / (n_s + v_s)) * 1e6)
      |      AS BIGINT) AS dlp_micro
      |  FROM dc JOIN dtot ON dc.source = dtot.source),
      |agg AS (
      |  SELECT doc_id, dt.source,
      |    CAST(sum(n_dt) AS BIGINT) AS n_toks,
      |    CAST(-sum(n_dt * glp_micro) AS BIGINT) AS proxy_mnats,
      |    CAST(-sum(n_dt * dlp_micro) AS BIGINT) AS ref_mnats
      |  FROM dt JOIN glp USING (token)
      |          JOIN dlp ON dt.source = dlp.source AND dt.token = dlp.token
      |  GROUP BY 1, 2)
      |SELECT doc_id, source, n_toks, proxy_mnats, ref_mnats,
      |  proxy_mnats - ref_mnats AS excess_micro,
      |  round(CAST(proxy_mnats - ref_mnats AS DOUBLE)
      |    / CAST(n_toks AS DOUBLE) / 1e6, 6) AS excess_per_tok
      |FROM agg
      |ORDER BY excess_per_tok DESC, doc_id
      |LIMIT 50""".stripMargin

  // ---- E119: canary-exposure memorization audit -----------------------

  private val seqPairsExpr = expr(
    "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
      " (a, b) -> struct(a AS w1, b AS w2))")

  /** Secret-Sharer canary exposure (Carlini et al. 2019, USENIX
    * Security: plant unique canary sequences at known repetition
    * counts, then measure how far each canary's model score climbs
    * above a reference population of NEVER-inserted sequences —
    * exposure = log₂|R+1| − log₂ rank). The memorization-risk dial a
    * data owner reads next to E108's duplicated-passage exposure:
    * E108 says what the corpus repeats, this says what a model
    * TRAINED on it would leak. The "model" is the add-one bigram LM
    * over the PLANTED corpus (documents ∪ canaries×repeats) — a pure
    * counting model, so the whole audit stays an exact-arithmetic
    * query.
    *
    * Determinism: canary/reference sequences derive from md5 lotteries
    * over the alphabetical vocab rank (the E110 device); all LM counts
    * are exact integers, per-bigram logprobs floor to micro-nats
    * before summing, and rank/exposure are integer functions of those
    * longs.
    *
    * Scale shape: vocab ranking is the E25 distributed range-rank; the
    * corpus contributes ONE bigram-count aggregate (vocab²-bounded);
    * sequences are O((nCanaries+nRefs)·seqLen) rows throughout; the
    * rank join is a bounded 8×64 non-equi nest (allowlisted).
    *
    * The three data-DERIVED intermediates that every downstream branch
    * consumes — vocab ranks, the planted bigram table `bc`, and the
    * canary/ref sequences — are localCheckpoint'd: each is bounded
    * (vocab / vocab² / 72 rows), and without the cut the composite's
    * fan-out re-derived the documents scan per consumer (36 parquet
    * scans, 180 exchanges in the compiled plan — a 36-pass corpus read
    * at 100 TB). Materializing them makes the corpus contribute
    * exactly TWO passes: one for vocab, one for the bigram counts.
    * The vocab checkpoint also discharges rankedByRange's single-
    * subtree contract by construction — ranks are computed once,
    * physically, before any fan-out can split the range exchange.
    */
  def canaryExposure(spark: SparkSession, dir: String,
                     nCanaries: Int = 8, nRefs: Int = 64,
                     seqLen: Int = 6): DataFrame = {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val vocab = Materialize(Extras.rankedByRange(
      docs.select(explode(col("w")).as("token")).distinct(), Seq("token"))
      .select(col("token"), col("rank")), "canary-vocab")
    val v = vocab.count() // free: the checkpoint already materialized it

    val ids = ((0 until nCanaries).map(i => ("canary", i.toLong)) ++
      (0 until nRefs).map(i => ("ref", i.toLong))).toDF("kind", "sid")
    val seqs = Materialize(ids
      .withColumn("pos", explode(sequence(lit(1), lit(seqLen))))
      .withColumn("rank",
        conv(substring(md5(concat(col("kind"), lit("-v1:"),
          col("sid").cast("string"), lit(":"), col("pos").cast("string"))),
          1, 6), 16, 10).cast("long") % v + 1L)
      .join(vocab.hint("shuffle_hash"), "rank")
      .groupBy(col("kind"), col("sid"))
      .agg(array_join(transform(array_sort(collect_list(
        struct(col("pos"), col("token")))), t => t.getField("token")), " ")
        .as("seq")), "canary-seqs")
    val seqBg = seqs
      .select(col("kind"), col("sid"), split(col("seq"), " ").as("w"))
      .select(col("kind"), col("sid"), explode(seqPairsExpr).as("p"))
      .select(col("kind"), col("sid"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))

    val corpusBc = docs.select(explode(seqPairsExpr).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val insBc = seqBg.filter(col("kind") === "canary")
      .withColumn("r",
        expr("shiftleft(cast(1 as bigint), cast(sid % 4 as int))"))
      .groupBy(col("w1"), col("w2")).agg(sum(col("r")).as("c"))
    val bc = Materialize(corpusBc.unionByName(insBc)
      .groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("c_b")), "canary-bigrams")
    // c_1 derives from the MATERIALIZED bigram table — a vocab²-row
    // re-aggregate, not another corpus pass
    val c1 = bc.groupBy(col("w1")).agg(sum(col("c_b")).as("c_1"))

    val scored = seqBg
      .join(bc.hint("shuffle_hash"), Seq("w1", "w2"), "left")
      .join(c1.hint("shuffle_hash"), Seq("w1"), "left")
      .withColumn("lp_micro",
        floor(log((coalesce(col("c_b"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(col("c_1"), lit(0L)) + lit(v)).cast("double")) * 1e6)
          .cast("long"))
      .groupBy(col("kind"), col("sid"))
      .agg((-sum(col("lp_micro"))).as("nll_micro"))
    val can = scored.filter(col("kind") === "canary")
      .select(col("sid").as("canary_id"), col("nll_micro"))
    val refs = scored.filter(col("kind") === "ref")
      .select(col("nll_micro").as("ref_nll"))
    can.join(broadcast(refs), col("ref_nll") < col("nll_micro"), "left")
      .groupBy(col("canary_id"), col("nll_micro"))
      .agg((count(col("ref_nll")) + 1L).as("rank"))
      .join(broadcast(seqs.filter(col("kind") === "canary")
        .select(col("sid").as("canary_id"), col("seq"))), "canary_id")
      .select(col("canary_id"),
        expr("shiftleft(cast(1 as bigint), cast(canary_id % 4 as int))")
          .as("repeats"),
        col("seq"), col("nll_micro"), col("rank"),
        floor((log(lit((nRefs + 1).toDouble)) - log(col("rank").cast("double")))
          / log(lit(2.0)) * 100).cast("long").as("exposure_cb"))
      .orderBy(col("canary_id"))
  }

  val canaryExposureSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |vocab AS (
      |  SELECT token, row_number() OVER (ORDER BY token) AS rank
      |  FROM (SELECT DISTINCT unnest(w) AS token FROM d)),
      |vn AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
      |ids AS (
      |  SELECT 'canary' AS kind, CAST(unnest(range(8)) AS BIGINT) AS sid
      |  UNION ALL
      |  SELECT 'ref', CAST(unnest(range(64)) AS BIGINT)),
      |st AS (
      |  SELECT kind, sid, pos,
      |    ('0x' || substr(md5(kind || '-v1:' || sid || ':' || pos), 1, 6))::BIGINT
      |      % (SELECT v FROM vn) + 1 AS rank
      |  FROM ids, unnest(range(1, 7)) AS u(pos)),
      |sq AS (
      |  SELECT kind, sid, string_agg(token, ' ' ORDER BY pos) AS seq
      |  FROM st JOIN vocab USING (rank) GROUP BY 1, 2),
      |sbg AS (
      |  SELECT kind, sid,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i+1])) AS w1,
      |    unnest(list_transform(range(len(w) - 1), i -> w[i+2])) AS w2
      |  FROM (SELECT kind, sid, string_split(seq, ' ') AS w FROM sq)),
      |cbg AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(list_transform(range(len(w) - 1), i -> w[i+1])) AS w1,
      |           unnest(list_transform(range(len(w) - 1), i -> w[i+2])) AS w2
      |    FROM d) GROUP BY 1, 2),
      |ins AS (
      |  SELECT w1, w2, CAST(sum(1 << CAST(sid % 4 AS INT)) AS BIGINT) AS c
      |  FROM sbg WHERE kind = 'canary' GROUP BY 1, 2),
      |bc AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS c_b
      |       FROM (SELECT * FROM cbg UNION ALL SELECT * FROM ins)
      |       GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(sum(c_b) AS BIGINT) AS c_1 FROM bc GROUP BY 1),
      |scored AS (
      |  SELECT kind, sid,
      |    CAST(-sum(CAST(floor(ln(
      |      CAST(coalesce(c_b, 0) + 1 AS DOUBLE) /
      |      CAST(coalesce(c_1, 0) + (SELECT v FROM vn) AS DOUBLE)) * 1e6)
      |      AS BIGINT)) AS BIGINT) AS nll_micro
      |  FROM sbg LEFT JOIN bc USING (w1, w2) LEFT JOIN c1 USING (w1)
      |  GROUP BY 1, 2),
      |can AS (SELECT sid AS canary_id, nll_micro FROM scored
      |        WHERE kind = 'canary'),
      |refs AS (SELECT nll_micro AS ref_nll FROM scored WHERE kind = 'ref'),
      |rk AS (
      |  SELECT canary_id, nll_micro,
      |    CAST(1 + (SELECT count(*) FROM refs WHERE ref_nll < c.nll_micro)
      |      AS BIGINT) AS rank
      |  FROM can c)
      |SELECT r.canary_id,
      |  CAST(1 << CAST(r.canary_id % 4 AS INT) AS BIGINT) AS repeats,
      |  q.seq, r.nll_micro, r.rank,
      |  CAST(floor((ln(65.0) - ln(CAST(r.rank AS DOUBLE))) / ln(2.0) * 100)
      |    AS BIGINT) AS exposure_cb
      |FROM rk r JOIN sq q ON q.kind = 'canary' AND q.sid = r.canary_id
      |ORDER BY r.canary_id""".stripMargin
}

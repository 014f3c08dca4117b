package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFns
import graft.sources.{Materialize, Tables}

/** Training-data curation suite (SURVEY §2 E13–E16): the selection /
  * filtering / scrubbing passes a large-scale pipeline runs between raw
  * ingest and dedup. All pure column expressions — each query is one
  * codegen'd scan + (at most) one shuffle, so every pass streams at
  * 100 TB.
  */
object Curation {

  /** E13 — deterministic stratified sampling: per-language rates via a
    * content-keyed hash bucket. The bucket is derived from md5 hex chars
    * (engine-portable, unlike xxhash64), so the SAME rows are selected
    * on every engine, every run, at any parallelism — reproducible
    * training mixtures. English is downsampled (over-represented
    * stratum), everything else keeps a higher rate.
    *
    * The bucket uses the first FOUR hex nibbles decoded to a uniform
    * 0..65535 value (hex-char position lookup — instr/strpos compute
    * identically in Spark and DuckDB), so bucket probabilities deviate
    * from uniform by at most 1/65536: nominal 10%/50% rates are real
    * rates, unlike an ascii-pair bucket (256 combos onto 100 buckets =
    * 2/256-vs-3/256 per-bucket bias, i.e. 8.6–11.7% for a nominal 10%).
    */
  /** First four md5 hex nibbles of `inner` decoded to a uniform
    * 0..65535 value (engine-portable: instr/strpos agree).
    */
  private[operators] def bucket16ExprOf(inner: String): String =
    Seq(1, 2, 3, 4).map(i =>
      s"(instr('0123456789abcdef', substr(md5($inner), $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString("(", " + ", ")")

  private val bucket16Expr: String = bucket16ExprOf("text")

  private val bucketExpr: String = s"$bucket16Expr % 100"

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(bucketExpr))
      .withColumn("rate", when(col("lang") === "en", 10).otherwise(50))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"), col("bucket").cast("long").as("bucket"))
      .orderBy(col("doc_id"))

  val stratifiedSampleSql: String = {
    val b = bucketExpr.replace("instr", "strpos")
    s"""SELECT doc_id, lang, CAST($b AS BIGINT) AS bucket
       |FROM documents
       |WHERE $b < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
       |ORDER BY doc_id""".stripMargin
  }

  /** E13b — token-BUDGET mixture sampling: where E13 samples by RATE,
    * a training run is specified by per-domain token budgets ("5M
    * English tokens, 15M of everything else"). Deterministic greedy
    * fill: per language, take docs in content-hash order until the
    * running token total exceeds the budget (the doc that crosses the
    * line is kept — budgets are floors, standard for mixture specs).
    *
    * Scale shape — two-pass bucket-offset cumsum, NOT a per-language
    * window: language cardinality is tiny, so `PARTITION BY lang` would
    * put the dominant language's ENTIRE corpus (50+ TB of English at
    * web scale) into one window task. Instead the md5 sort order is cut
    * into 4096 contiguous ranges by its first 3 hex chars (a PREFIX of
    * the sort key, so buckets are ranges of the order, not arbitrary
    * hash bins): (1) per-(lang, bucket) token sums — a tiny partial
    * aggregate; (2) prefix offsets cumsum'd on that langs×4096-row
    * frame and broadcast back; (3) the wide window runs only within
    * (lang, bucket) with each row's global cumsum = bucket offset +
    * within-bucket cumsum. Identical result to the single window —
    * the oracle SQL is unchanged. Bonus prune: a bucket whose offset
    * already meets the budget can't contribute a kept row
    * (cum − n_toks ≥ off), so it's filtered BEFORE the window — at
    * scale only ~budget's worth of head buckets pay the sort.
    * Hash order makes the selection reproducible on any engine at any
    * parallelism, like E13.
    */
  def tokenBudgetMix(spark: SparkSession, dir: String,
                     enBudget: Long = 5000, otherBudget: Long = 15000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = when(col("lang") === "en", enBudget).otherwise(otherBudget)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        md5(col("text")).as("h"))
      // 3 lowercase hex chars: lexicographic == numeric, so bucket
      // order is exactly the h order cut at 4096 boundaries.
      .withColumn("bkt", conv(substring(col("h"), 1, 3), 16, 10).cast("long"))
    val offsets = docs
      .groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_toks")).as("b_toks"))
      .withColumn("off",
        coalesce(
          sum(col("b_toks")).over(
            Window.partitionBy(col("lang")).orderBy(col("bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("lang"), col("bkt"), col("off"))
    val w = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("h"), col("doc_id"))
    docs.join(broadcast(offsets), Seq("lang", "bkt"))
      .filter(col("off") < budget)
      .withColumn("cum_toks", col("off") + sum(col("n_toks")).over(w))
      .filter(col("cum_toks") - col("n_toks") < budget)
      .select(col("doc_id"), col("lang"), col("n_toks"), col("cum_toks"))
      .orderBy(col("doc_id"))
  }

  val tokenBudgetMixSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    CAST(sum(len(string_split(text, ' ')))
      |      OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS BIGINT) AS cum_toks
      |  FROM documents)
      |SELECT doc_id, lang, n_toks, cum_toks
      |FROM t
      |WHERE cum_toks - n_toks < CASE WHEN lang = 'en' THEN 5000 ELSE 15000 END
      |ORDER BY doc_id""".stripMargin

  /** E13c — temperature-based mixture sampling (public anchor: the
    * multilingual (n_l/N)^α sampling of Conneau & Lample 2019 / mT5):
    * per-language keep rates ∝ sqrt(share), upweighting low-resource
    * languages relative to proportional sampling. α is fixed at 0.5 so
    * every float step is a correctly-rounded IEEE op (sqrt/div/mul),
    * and the denominator is a FIXED-ORDER alphabetical fold on both
    * engines — the 16-bit cutoffs are bit-identical cross-engine.
    *
    * The per-language count collect is bounded by language cardinality
    * (same driver-bounded class as composite pagination's after_key);
    * selection is one broadcast-joined scan filter.
    */
  def temperatureMix(spark: SparkSession, dir: String, target: Long = 250): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("bkt16", expr(bucket16Expr))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val denom = counts.foldLeft(0.0) { case (a, (_, n)) => a + math.sqrt(n.toDouble) }
    val cutoffs = counts.map { case (l, n) =>
      val rate = math.min(1.0, target * (math.sqrt(n.toDouble) / denom) / n)
      (l, n, math.floor(rate * 65536).toLong)
    }
    val cutoffDf = spark.createDataFrame(cutoffs.toIndexedSeq)
      .toDF("lang", "n_docs", "cutoff")
    val kept = docs.join(broadcast(cutoffDf.select(col("lang"), col("cutoff"))), "lang")
      .filter(col("bkt16") < col("cutoff"))
      .groupBy(col("lang")).agg(count(lit(1)).as("k"))
    cutoffDf.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("cutoff"),
        coalesce(col("k"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** DuckDB oracle: same α=0.5 arithmetic; the denominator fold is
    * pinned to alphabetical order via an ordered list aggregate +
    * list_reduce, matching the Scala foldLeft exactly.
    */
  val temperatureMixSql: String =
    s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
       |d AS (SELECT list_reduce(
       |        list_prepend(0.0, list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)),
       |        (a, b) -> a + b) AS denom FROM c),
       |k AS (SELECT lang, n,
       |        CAST(floor(least(1.0, 250 * (sqrt(CAST(n AS DOUBLE)) / denom) / n) * 65536) AS BIGINT) AS cutoff
       |      FROM c, d),
       |b AS (SELECT doc_id, lang, $bucket16Expr AS bkt FROM documents),
       |kept AS (
       |  SELECT b.lang, count(*) AS n_kept
       |  FROM b JOIN k USING (lang) WHERE b.bkt < k.cutoff GROUP BY 1)
       |SELECT k.lang, k.n AS n_docs, k.cutoff, COALESCE(kept.n_kept, 0) AS n_kept
       |FROM k LEFT JOIN kept USING (lang)
       |ORDER BY lang""".stripMargin.replace("instr", "strpos")

  /** E13d — sequence packing (concatenate-then-chop, the standard
    * GPT-style pretraining packing): per language, docs concatenate in
    * content-hash order and are chopped into fixed seqLen-token
    * training sequences; each doc reports the sequence it starts in
    * and its offset there. Same two-pass bucket-offset cumsum shape as
    * E13b — the dominant language never lands in one window partition.
    */
  def sequencePack(spark: SparkSession, dir: String, seqLen: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        md5(col("text")).as("h"))
      .withColumn("bkt", conv(substring(col("h"), 1, 3), 16, 10).cast("long"))
    val offsets = docs
      .groupBy(col("lang"), col("bkt"))
      .agg(sum(col("n_toks")).as("b_toks"))
      .withColumn("off",
        coalesce(
          sum(col("b_toks")).over(
            Window.partitionBy(col("lang")).orderBy(col("bkt"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("lang"), col("bkt"), col("off"))
    val w = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(offsets), Seq("lang", "bkt"))
      .withColumn("start", col("off") + coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        floor(col("start") / seqLen).cast("long").as("seq_no"),
        (col("start") % seqLen).as("seq_off"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle: one plain per-lang window (the oracle may be
    * lazy; the ENGINE may not) — same order key (md5, doc_id).
    */
  val sequencePackSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    COALESCE(CAST(sum(len(string_split(text, ' ')))
      |      OVER (PARTITION BY lang ORDER BY md5(text), doc_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS s
      |  FROM documents)
      |SELECT doc_id, lang, n_toks, s // 512 AS seq_no, s % 512 AS seq_off
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** E13d2 — boundary-respecting sequence packing, first-fit-decreasing
    * (the packing used when documents must NOT span sequence
    * boundaries — cross-doc attention contamination — and truncation
    * waste matters; E13d's concatenate-then-chop is the spanning
    * sibling). FFD is Johnson's classic bin packing (≤ 11/9·OPT + 6/9
    * bins): sort pieces descending, place each into the first bin it
    * fits, open a new bin otherwise. The bin state is a sequential
    * recurrence with NO declarative (window/cumsum) form, so this is
    * genuine per-group imperative logic: documents bucket
    * DETERMINISTICALLY (md5 prefix, bounded group size), FFD runs per
    * (lang, bucket) group via typed flatMapGroups, and bins are
    * bucket-local — zero cross-group coordination, compute
    * parallelism = bucket count at any corpus size. Docs longer than
    * seqLen get a single-doc overflow bin (truncation is the caller's
    * mixture policy, not the packer's). ★ oracle-checked since r11:
    * FFD is deterministic, so the DuckDB replica runs the SAME
    * sequential recurrence as a recursive CTE per (lang, bucket) group
    * — bin-fill state carried as a list, one item placed per recursion
    * step (sequencePackFfdSql); PackingSpec still asserts the
    * invariants (every doc placed once, no bin overflows, ≥ chop-path
    * efficiency) and determinism.
    */
  def sequencePackFfd(spark: SparkSession, dir: String,
                      seqLen: Int = 512, nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        (conv(substring(md5(col("text")), 1, 3), 16, 10).cast("long") % nBuckets).as("bkt"))
      .as[(Long, String, Long, Long)]
    docs.groupByKey(r => (r._2, r._4))
      .flatMapGroups { (key: (String, Long), it: Iterator[(Long, String, Long, Long)]) =>
        val (lang, bkt) = key
        // FFD: descending size, deterministic tiebreak on doc_id
        val sorted = it.toSeq.sortBy { case (id, _, n, _) => (-n, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        sorted.map { case (id, _, n, _) =>
          val bin =
            if (n > seqLen) { fills += seqLen; fills.length - 1 } // overflow bin, full
            else {
              val slot = fills.indexWhere(_ + n <= seqLen)
              if (slot >= 0) { fills(slot) += n; slot }
              else { fills += n; fills.length - 1 }
            }
          (id, lang, bkt, bin.toLong, n)
        }
      }
      .toDF("doc_id", "lang", "bkt", "bin_no", "n_toks")
      .orderBy(col("doc_id"))
  }

  /** The identical FFD recurrence in DuckDB: items of each (lang,
    * bucket) group ordered (n desc, doc_id), ONE placed per recursion
    * step against the carried bin-fill list; first-fit =
    * `list_position` over fills+n<=cap (NULLIF: 0 = no fit), the
    * fill update is an indexed `list_transform`. Loop vs declarative
    * recursion agreeing bin-for-bin is the cross-engine check for a
    * genuinely sequential algorithm.
    */
  val sequencePackFfdSql: String =
    """WITH RECURSIVE d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
      |    ('0x' || substr(md5(text), 1, 3))::BIGINT % 64 AS bkt
      |  FROM documents),
      |ordered AS (
      |  SELECT *, row_number() OVER (PARTITION BY lang, bkt
      |      ORDER BY n_toks DESC, doc_id) AS rn,
      |    count(*) OVER (PARTITION BY lang, bkt) AS cnt
      |  FROM d),
      |ffd(lang, bkt, rn, cnt, fills, bins) AS (
      |  SELECT lang, bkt, CAST(0 AS BIGINT), cnt,
      |    CAST([] AS BIGINT[]),
      |    CAST([] AS STRUCT(doc_id BIGINT, bin_no BIGINT, n_toks BIGINT)[])
      |  FROM (SELECT DISTINCT lang, bkt, cnt FROM ordered)
      |  UNION ALL
      |  SELECT f.lang, f.bkt, f.rn + 1, f.cnt,
      |    CASE WHEN o.n_toks > 512 THEN list_append(f.fills, CAST(512 AS BIGINT))
      |         WHEN slot IS NOT NULL THEN list_transform(f.fills,
      |           (x, i) -> CASE WHEN i = slot THEN x + o.n_toks ELSE x END)
      |         ELSE list_append(f.fills, o.n_toks) END,
      |    list_append(f.bins, {'doc_id': o.doc_id,
      |      'bin_no': CAST(CASE WHEN o.n_toks > 512 THEN len(f.fills)
      |                          WHEN slot IS NOT NULL THEN slot - 1
      |                          ELSE len(f.fills) END AS BIGINT),
      |      'n_toks': o.n_toks})
      |  FROM (SELECT f0.*,
      |          NULLIF(list_position(
      |            list_transform(f0.fills, x -> x + o0.n_toks <= 512), true), 0) AS slot
      |        FROM ffd f0 JOIN ordered o0
      |          ON o0.lang = f0.lang AND o0.bkt = f0.bkt AND o0.rn = f0.rn + 1
      |        WHERE f0.rn < f0.cnt) f
      |  JOIN ordered o ON o.lang = f.lang AND o.bkt = f.bkt AND o.rn = f.rn + 1),
      |placed AS (
      |  SELECT lang, bkt, unnest(bins) AS u FROM ffd WHERE rn = cnt)
      |SELECT u.doc_id AS doc_id, lang, bkt, u.bin_no AS bin_no, u.n_toks AS n_toks
      |FROM placed
      |ORDER BY doc_id""".stripMargin

  /** E13e — data-constrained epoch planning (Muennighoff et al. 2023:
    * when a source's available tokens fall short of its mixture
    * target, the pipeline REPEATS the source for multiple epochs — with
    * a repetition cap (~4) beyond which extra epochs stop helping; the
    * plan table says per source how many epochs to run, what that
    * yields, and the unfillable shortfall the mixture must reweigh).
    * One map-side-combined per-source token aggregate (source
    * cardinality-sized output), then pure scalar arithmetic: exact
    * BIGINT token sums, one double division for epochs_needed, integer
    * least/ceil for the plan — deterministic at any scale.
    */
  def epochMix(spark: SparkSession, dir: String,
               targetTokens: Long = 12000, maxEpochs: Int = 4): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).as("available_tokens"))
      .select(col("source"), col("available_tokens"),
        lit(targetTokens).as("target_tokens"),
        round(lit(targetTokens).cast("double") / col("available_tokens"), 6)
          .as("epochs_needed"),
        least(ceil(lit(targetTokens).cast("double") / col("available_tokens")),
          lit(maxEpochs.toLong)).cast("long").as("epochs"),
        least(lit(targetTokens), col("available_tokens") * maxEpochs)
          .as("planned_tokens"),
        greatest(lit(targetTokens) - col("available_tokens") * maxEpochs,
          lit(0L)).as("shortfall"))
      .orderBy(col("source"))

  val epochMixSql: String =
    """WITH a AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS available_tokens
      |  FROM documents GROUP BY source)
      |SELECT source, available_tokens,
      |  CAST(12000 AS BIGINT) AS target_tokens,
      |  round(CAST(12000 AS DOUBLE) / available_tokens, 6) AS epochs_needed,
      |  CAST(least(ceil(CAST(12000 AS DOUBLE) / available_tokens), 4) AS BIGINT) AS epochs,
      |  least(12000, available_tokens * 4) AS planned_tokens,
      |  greatest(12000 - available_tokens * 4, 0) AS shortfall
      |FROM a
      |ORDER BY source""".stripMargin

  /** E13f — UniMax budget allocation (Chung et al. 2023, "UniMax:
    * Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining": spread the token budget as uniformly as
    * possible across languages, capping each at maxEpochs repeats of
    * its available data — the principled alternative to temperature
    * sampling whose knob E13c exposes). Exact integer water-filling:
    * languages ascend by capacity; each takes min(cap, floor(remaining
    * / remaining_langs)) — floor division keeps every allocation an
    * exact BIGINT so the plan is bit-identical cross-engine (the E94
    * integer-arithmetic discipline).
    *
    * Spark shape: ONE map-side-combined per-language aggregate
    * (|langs| rows out — plan-sized), then the sequential fill runs
    * driver-side on that collected handful (the sqParams bounded-
    * collect contract; the recurrence has no window form because each
    * quota depends on every earlier allocation).
    */
  def unimaxMix(spark: SparkSession, dir: String,
                budgetTokens: Long = 12000L, maxEpochs: Int = 4): DataFrame = {
    val s = spark
    import s.implicits._
    val perLang = Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("avail"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (l, a) => (a, l) }
    var remaining = budgetTokens
    var k = perLang.length
    val rows = perLang.map { case (lang, avail) =>
      val cap = avail * maxEpochs
      val alloc = math.min(cap, remaining / k)
      remaining -= alloc; k -= 1
      (lang, avail, cap, alloc, alloc == cap)
    }
    rows.toSeq.toDF("lang", "available_tokens", "cap_tokens", "alloc_tokens", "capped")
      .withColumn("epochs",
        round(col("alloc_tokens").cast("double") / col("available_tokens"), 6))
      .orderBy(col("lang"))
  }

  /** The identical water-filling recurrence as a recursive CTE over the
    * capacity-ascending language order (state: remaining budget).
    */
  val unimaxMixSql: String =
    """WITH RECURSIVE cap AS (
      |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1),
      |ordered AS (
      |  SELECT lang, avail, avail * 4 AS cap,
      |    row_number() OVER (ORDER BY avail, lang) AS rn,
      |    count(*) OVER () AS n
      |  FROM cap),
      |alloc(rn, rem, lang, avail, cap, a) AS (
      |  SELECT CAST(0 AS BIGINT), CAST(12000 AS BIGINT), CAST(NULL AS VARCHAR),
      |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
      |  UNION ALL
      |  SELECT o.rn, al.rem - least(o.cap, al.rem // (o.n - al.rn)),
      |         o.lang, o.avail, o.cap, least(o.cap, al.rem // (o.n - al.rn))
      |  FROM alloc al JOIN ordered o ON o.rn = al.rn + 1)
      |SELECT lang, avail AS available_tokens, cap AS cap_tokens,
      |  a AS alloc_tokens, a = cap AS capped,
      |  round(CAST(a AS DOUBLE) / avail, 6) AS epochs
      |FROM alloc WHERE rn > 0
      |ORDER BY lang""".stripMargin

  /** E53 — budgeted quality selection (the greedy knapsack a
    * data-constrained run uses to SPEND a token budget on the best
    * documents, rather than filter-then-hope: rank by quality density
    * — E9 quality per token — and take documents until the budget is
    * exhausted; the greedy is the standard density heuristic for
    * knapsack when items are small vs capacity). Deterministic: density
    * rounded to 6 then (density, doc_id) total order, exact BIGINT
    * token cumsum decides the cut.
    *
    * Scale shape: one scan computes density; the global order is ONE
    * sort of (density, doc_id, n_toks) THIN rows — at 100 TB the same
    * cut comes from the E25/E13d two-pass bucket-offset cumsum
    * (density-band bucket counts broadcast, rank within bucket), so no
    * single task ever holds the corpus order.
    */
  def qualitySelect(spark: SparkSession, dir: String,
                    budgetTokens: Long = 6000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_toks"),
        round(graft.functions.TextFns.qualityScore(col("text")), 4).as("quality"))
      .withColumn("density",
        round(col("quality") / col("n_toks"), 6))
    val w = Window.orderBy(col("density").desc, col("doc_id"))
    docs
      .withColumn("sel_rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum(col("n_toks")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("n_toks"), col("quality"), col("density"),
        col("sel_rank"), col("cum_tokens"))
      .orderBy(col("sel_rank"))
  }

  val qualitySelectSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |q AS (
      |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_toks,
      |    round(ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)), 4) AS quality
      |  FROM t),
      |d AS (
      |  SELECT *, round(quality / n_toks, 6) AS density FROM q),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY density DESC, doc_id) AS BIGINT) AS sel_rank,
      |    CAST(sum(n_toks) OVER (ORDER BY density DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |  FROM d)
      |SELECT doc_id, n_toks, quality, density, sel_rank, cum_tokens
      |FROM r WHERE cum_tokens <= 6000
      |ORDER BY sel_rank""".stripMargin

  /** E100 — session-transcript materialization (the agent-trajectory /
    * chat-SFT shape: sessionize an event stream per user on an
    * inactivity gap, render each event as a typed turn, assemble turns
    * in event-time order into one transcript per session, and truncate
    * at the context cap — exactly how interaction logs become
    * supervised trajectories). Determinism: (ts, event_id) total order
    * inside a session (the C75 tiebreak), fixed-point decimal turn
    * rendering (the B-tier syslog lesson: a raw double cast goes
    * scientific off-range), exact micro-second gap arithmetic.
    *
    * Scale shape: ONE shuffle on user_id drives both windows (gap
    * lag + cumsum, then per-session rank — same partitioning, Catalyst
    * reuses the exchange); the transcript is a per-session bounded
    * aggregate (≤ maxTurns rendered turns survive the cap), so state
    * never exceeds cap × turn bytes per group.
    */
  def sessionTranscripts(spark: SparkSession, dir: String,
                         gapMin: Int = 30, maxTurns: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        concat(lit("["), col("event_type"), lit("] v="),
          col("value").cast("decimal(10,2)").cast("string")).as("turn"))
    val gapUs = gapMin * 60L * 1000000L
    val ws = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("us"), col("event_id"))
    ev
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull || col("us") - col("prev") > gapUs).cast("long"))
      .withColumn("session_no", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("turn_rank", row_number().over(ws))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("turn_rank") <= maxTurns, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("turn_rank") <= maxTurns,
            struct(col("us"), col("event_id"), col("turn"))))),
          s => s.getField("turn")), " | ").as("transcript"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))
      .select(col("user_id"), col("session_no"), col("n_turns"), col("n_kept"),
        (col("n_turns") > maxTurns).as("truncated"), col("transcript"),
        expr("(max_us - min_us) div 1000000").as("span_sec"))
      .orderBy(col("user_id"), col("session_no"))
  }

  val sessionTranscriptsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    '[' || event_type || '] v=' ||
      |      CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS turn
      |  FROM events),
      |s AS (
      |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000
      |                 THEN 1 ELSE 0 END AS new_s
      |  FROM (SELECT *, lag(us) OVER (PARTITION BY user_id
      |                                ORDER BY us, event_id) AS prev FROM e)),
      |s2 AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_no
      |  FROM s),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, session_no
      |                               ORDER BY us, event_id) AS turn_rank
      |  FROM s2)
      |SELECT user_id, session_no,
      |  count(*) AS n_turns,
      |  CAST(sum(CASE WHEN turn_rank <= 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  count(*) > 16 AS truncated,
      |  coalesce(string_agg(turn, ' | ' ORDER BY us, event_id)
      |    FILTER (WHERE turn_rank <= 16), '') AS transcript,
      |  (max(us) - min(us)) // 1000000 AS span_sec
      |FROM r
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** E101 — preference-pair construction (the DPO/RLHF data shape:
    * (chosen, rejected) document pairs with a quality margin — built
    * here from the E9 scalar judge the way weak-supervision pipelines
    * bootstrap preference data before human labels exist; public
    * anchor: Rafailov et al. 2023 consume exactly this pair schema).
    * Within each language the i-th best document pairs with the i-th
    * worst (maximal-margin matching under a rank bijection), pairs
    * below the margin floor drop, and a document never appears on both
    * sides (the top/bottom halves are disjoint by construction).
    *
    * Scale shape: two window ranks over the SAME (lang)-partitioned
    * order + one equi-join on (lang, pair_rank) — rank rows are thin;
    * the self-join key is the rank, so no pair blow-up is possible.
    */
  def preferencePairs(spark: SparkSession, dir: String,
                      minMargin: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        round(graft.functions.TextFns.qualityScore(col("text")), 4).as("q"))
    val best = Window.partitionBy(col("lang")).orderBy(col("q").desc, col("doc_id"))
    val worst = Window.partitionBy(col("lang")).orderBy(col("q").asc, col("doc_id").desc)
    val ranked = scored
      .withColumn("r_best", row_number().over(best).cast("long"))
      .withColumn("r_worst", row_number().over(worst).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
    val chosen = ranked.filter(col("r_best") <= expr("n div 2"))
      .select(col("lang"), col("r_best").as("pair_rank"),
        col("doc_id").as("chosen_id"), col("q").as("chosen_q"))
    val rejected = ranked.filter(col("r_worst") <= expr("n div 2"))
      .select(col("lang"), col("r_worst").as("pair_rank"),
        col("doc_id").as("rejected_id"), col("q").as("rejected_q"))
    chosen.join(rejected, Seq("lang", "pair_rank"))
      .withColumn("margin", round(col("chosen_q") - col("rejected_q"), 4))
      .filter(col("margin") >= minMargin)
      .select(col("lang"), col("pair_rank"), col("chosen_id"), col("chosen_q"),
        col("rejected_id"), col("rejected_q"), col("margin"))
      .orderBy(col("lang"), col("pair_rank"))
  }

  val preferencePairsSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    round(ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)), 4) AS q
      |  FROM t),
      |r AS (
      |  SELECT *,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS BIGINT) AS r_best,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY q ASC, doc_id DESC) AS BIGINT) AS r_worst,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM s),
      |c AS (SELECT lang, r_best AS pair_rank, doc_id AS chosen_id, q AS chosen_q
      |      FROM r WHERE r_best <= n // 2),
      |j AS (SELECT lang, r_worst AS pair_rank, doc_id AS rejected_id, q AS rejected_q
      |      FROM r WHERE r_worst <= n // 2)
      |SELECT c.lang AS lang, c.pair_rank AS pair_rank,
      |  chosen_id, chosen_q, rejected_id, rejected_q,
      |  round(chosen_q - rejected_q, 4) AS margin
      |FROM c JOIN j ON c.lang = j.lang AND c.pair_rank = j.pair_rank
      |WHERE round(chosen_q - rejected_q, 4) >= 0.5
      |ORDER BY c.lang, c.pair_rank""".stripMargin

  /** E14 — quality-filter battery (Gopher-style rules, Rae et al. 2021,
    * public): word-count bounds, mean-word-length bounds, symbol ratio,
    * stopword presence. Flags are kept per-rule (a real pipeline audits
    * WHICH rule fired before dropping) plus the combined keep bit.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("double")
    val meanWordLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nWords
    val symbolRatio =
      length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double") /
        length(col("text"))
    val stopRatio = graft.functions.TextFns.stopwordRatio(col("text"))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        round(meanWordLen, 4).as("mean_word_len"),
        round(symbolRatio, 4).as("symbol_ratio"),
        (nWords >= 5 && nWords <= 1000).cast("int").as("ok_words"),
        (meanWordLen >= 2 && meanWordLen <= 12).cast("int").as("ok_word_len"),
        (symbolRatio <= 0.1).cast("int").as("ok_symbols"),
        (stopRatio > 0).cast("int").as("ok_stopwords"))
      .withColumn("keep",
        (col("ok_words") === 1 && col("ok_word_len") === 1 &&
         col("ok_symbols") === 1 && col("ok_stopwords") === 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  val qualityFilterSql: String =
    """WITH t AS (
      |  SELECT doc_id, text,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
      |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mwl,
      |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS sym,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stopr
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  round(mwl, 4) AS mean_word_len,
      |  round(sym, 4) AS symbol_ratio,
      |  CAST(n_words >= 5 AND n_words <= 1000 AS INT) AS ok_words,
      |  CAST(mwl >= 2 AND mwl <= 12 AS INT) AS ok_word_len,
      |  CAST(sym <= 0.1 AS INT) AS ok_symbols,
      |  CAST(stopr > 0 AS INT) AS ok_stopwords,
      |  CAST(n_words >= 5 AND n_words <= 1000 AND mwl >= 2 AND mwl <= 12
      |       AND sym <= 0.1 AND stopr > 0 AS INT) AS keep
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** E15 — PII scrubbing: redact emails and long digit runs. The corpus
    * has no organic PII, so each doc gets a deterministic synthetic
    * contact line appended IN the query (same expression in the oracle)
    * — the scrub regexes then have real work to do. Patterns are
    * RE2-safe (no backrefs/lookaround) so Spark (java.util.regex) and
    * any RE2 engine agree.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val numRe = "[0-9]{6,}"
    Tables.documents(spark, dir)
      .withColumn("raw",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com ref "),
          expr("repeat('7', CAST(6 + doc_id % 4 AS INT))")))
      .select(
        col("doc_id"),
        size(expr(s"regexp_extract_all(raw, '$emailRe', 0)")).cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(raw, '$numRe', 0)")).cast("long").as("n_nums"),
        substring(
          regexp_replace(regexp_replace(col("raw"), emailRe, "[EMAIL]"), numRe, "[NUM]"),
          1, 80).as("scrubbed_head"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id || '@example.com ref ' || repeat('7', CAST(6 + doc_id % 4 AS INT)) AS raw
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(raw, '[0-9]{6,}')) AS BIGINT) AS n_nums,
      |  substr(regexp_replace(regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'), '[0-9]{6,}', '[NUM]', 'g'), 1, 80) AS scrubbed_head
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** E102 — span-corruption objective materialization (T5, Raffel et
    * al. 2020 §3.1.4: mask ~15% of tokens, CONSECUTIVE masked tokens
    * collapse into one sentinel — the pretraining-target generation a
    * data pipeline runs ahead of training, not in the training loop).
    * The mask decision is the C71c md5-lottery per (doc, pos) — so the
    * corruption is replay-deterministic across retries/executors, the
    * property a resumable 100 TB materialization job needs — and spans
    * come from gaps-and-islands windows over the token order (run
    * starts counted by a prefix sum; continuation tokens drop, starts
    * become `<Xk>` sentinels). Corrupted text reassembles via an
    * order-preserving collect (null pieces — the continuations — are
    * skipped by collect in BOTH engines).
    *
    * Scale shape: one doc-keyed window pass over the exploded tokens
    * (the shuffle every positional text operator pays), then one
    * doc-keyed aggregate; state per row O(1).
    */
  def spanCorruption(spark: SparkSession, dir: String, pct: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val thresh = pct * 65536 / 100
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .withColumn("m",
        conv(substring(md5(concat(lit("mask-v1:"), col("doc_id"), lit(":"), col("pos"))),
          1, 4), 16, 10).cast("long") < thresh)
      .withColumn("span_start", col("m") && !lag(col("m"), 1, false).over(w))
      .withColumn("span_id", sum(when(col("span_start"), 1L).otherwise(0L)).over(run))
      .withColumn("piece",
        when(!col("m"), col("token"))
          .when(col("span_start"), concat(lit("<X"), col("span_id"), lit(">"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("m").cast("long")).as("n_masked"),
        max(col("span_id")).as("n_spans"),
        round(sum(col("m").cast("long")).cast("double") / count(lit(1)), 4).as("mask_ratio"),
        substring(array_join(expr(
          "transform(array_sort(collect_list(struct(pos, piece))), x -> x.piece)"),
          " "), 1, 80).as("corrupted_head"))
      .orderBy(col("doc_id"))
  }

  val spanCorruptionSql: String = {
    val thresh = 15 * 65536 / 100
    s"""WITH toks AS (
       |  SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS token
       |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)),
       |marked AS (
       |  SELECT doc_id, pos, token,
       |    ('0x' || substr(md5('mask-v1:' || doc_id || ':' || pos), 1, 4))::BIGINT < $thresh AS m
       |  FROM toks),
       |runs AS (
       |  SELECT *,
       |    m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), false) AS span_start
       |  FROM marked),
       |ids AS (
       |  SELECT *,
       |    sum(CASE WHEN span_start THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS span_id
       |  FROM runs),
       |pieces AS (
       |  SELECT *,
       |    CASE WHEN NOT m THEN token
       |         WHEN span_start THEN '<X' || span_id || '>' END AS piece
       |  FROM ids)
       |SELECT doc_id, count(*) AS n_tokens,
       |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
       |  CAST(max(span_id) AS BIGINT) AS n_spans,
       |  round(CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS mask_ratio,
       |  substr(string_agg(piece, ' ' ORDER BY pos), 1, 80) AS corrupted_head
       |FROM pieces
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** E95 — checksum-validated PII detection (Luhn mod-10 over 16-digit
    * candidates — the validation layer a production scrubber runs so a
    * random digit run doesn't mask as a credit card; ISO/IEC 7812).
    * E15's regex face finds digit runs; this DECIDES. Cards are planted
    * deterministically ('4' + zero-padded doc_id + a doc_id%10 check
    * digit), so validity is a pure arithmetic property both engines
    * recompute — roughly one in ten plants passes. Valid cards mask to
    * a PCI-style last-4 token; invalid runs are left alone (they are
    * not PII, and over-masking destroys training text).
    *
    * Shape: the Luhn sum unrolls to a FIXED 16-term integer expression
    * over substr() digits — one codegen'd projection, no UDF, no
    * per-digit explode (the explode would shuffle 16× corpus rows at
    * 100 TB for what is a scalar kernel).
    */
  def luhnPii(spark: SparkSession, dir: String): DataFrame = {
    val luhnSum = (1 to 16).map { i =>
      val d = substring(col("cand"), i, 1).cast("int")
      if (i % 2 == 1) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
    }.reduce(_ + _)
    Tables.documents(spark, dir)
      .withColumn("raw",
        concat(col("text"), lit(" card "),
          lit("4"), lpad(col("doc_id").cast("string"), 14, "0"),
          (col("doc_id") % 10).cast("string")))
      .withColumn("cand", regexp_extract(col("raw"), "[0-9]{16}", 0))
      .withColumn("luhn_valid", (luhnSum % 10 === 0).cast("long"))
      .select(col("doc_id"), col("luhn_valid"),
        when(col("luhn_valid") === 1,
          concat(lit("[CARD-"), substring(col("cand"), 13, 4), lit("]")))
          .otherwise(col("cand")).as("masked"))
      .orderBy(col("doc_id"))
  }

  val luhnPiiSql: String = {
    val terms = (1 to 16).map { i =>
      val d = s"CAST(substr(cand, $i, 1) AS INT)"
      if (i % 2 == 1) s"(CASE WHEN $d * 2 > 9 THEN $d * 2 - 9 ELSE $d * 2 END)"
      else d
    }.mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    regexp_extract(
       |      text || ' card 4' || lpad(CAST(doc_id AS VARCHAR), 14, '0') || CAST(doc_id % 10 AS VARCHAR),
       |      '[0-9]{16}', 0) AS cand
       |  FROM documents),
       |v AS (
       |  SELECT doc_id, cand,
       |    CASE WHEN ($terms) % 10 = 0 THEN 1 ELSE 0 END AS luhn_valid
       |  FROM t)
       |SELECT doc_id, CAST(luhn_valid AS BIGINT) AS luhn_valid,
       |  CASE WHEN luhn_valid = 1
       |    THEN '[CARD-' || substr(cand, 13, 4) || ']' ELSE cand END AS masked
       |FROM v
       |ORDER BY doc_id""".stripMargin
  }

  /** E18 — repetition metrics (the Gopher repetition rules, Rae et al.
    * 2021 §A1.1: fraction of content inside the most-frequent n-gram
    * and inside duplicated n-grams — high values flag boilerplate /
    * degenerate generations). Bigrams come from the native NgramHashes
    * kernel (one pass, no shingle strings); per-doc ratios are integer
    * counts divided once, so the string-bigram DuckDB oracle agrees
    * exactly (64-bit hash collisions within a document are ~1e-16).
    * Two shuffles: (doc, gram) then doc.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.atComputeParallelism(Tables.documents(spark, dir))
      .select(col("doc_id"),
        explode(graft.plans.Sketches.ngramHashes(
          split(col("text"), " "), 2, distinct = false)).as("g"))
    val counts = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).cast("long").as("n_grams"),
        round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 4)
          .as("top_frac"),
        round(sum(when(col("c") > 1, col("c")).otherwise(0)).cast("double") /
          sum(col("c")).cast("double"), 4).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(greatest(len(w) - 1, 1)),
      |    i -> w[i+1] || ' ' || w[i+2])) AS g
      |  FROM w),
      |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
      |  round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_frac,
      |  round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
      |        / CAST(sum(c) AS DOUBLE), 4) AS dup_frac
      |FROM c GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** E16 — benchmark-contamination check: which corpus documents share
    * 8-gram shingles with a held-out benchmark set (stand-in: doc_id <
    * 20). The join key is the 64-bit shingle hash — the benchmark
    * shingle set is tiny and broadcast, so the corpus side is one
    * streaming scan at any scale. Overlap counts are hash-set
    * cardinalities, so the string-based DuckDB oracle agrees.
    */
  // ---- E23: URL canonicalization + URL-level dedup --------------------

  /** Deterministic raw-URL synthesis from doc columns (the LogLines
    * pattern: the corpus has no URL column, so one is derived with the
    * messy variants a crawler actually sees — uppercase hosts, utm_*
    * tracking params, fragments, trailing slashes, a cdn subdomain).
    * The oracle derives the expected CANONICAL form straight from the
    * same columns, so the parse+canonicalize round-trip is verified
    * without shared code.
    */
  private def rawUrl = {
    val num = col("doc_id")
    val hostBase = concat(col("source"), lit(".example.com"))
    val host0 = when(num % 9 === 0, concat(lit("cdn."), hostBase)).otherwise(hostBase)
    val host = when(num % 5 === 0, upper(host0)).otherwise(host0)
    val path = concat(lit("/docs/"), (num % 100).cast("string"),
      when(num % 4 === 0, "/").otherwise(""))
    val query = when(num % 6 === 0, "?ref=kept&utm_campaign=x")
      .when(num % 3 === 0, "?utm_source=feed")
      .otherwise("")
    val frag = when(num % 7 === 0, "#sec2").otherwise("")
    concat(lit("https://"), host, path, query, frag)
  }

  /** E23 — URL canonicalization + exact URL dedup (the FIRST dedup
    * stage of every web-crawl pipeline — e.g. Common Crawl dedups on
    * canonical URL before any content pass). Canonicalize = lowercase
    * host, drop the fragment, strip utm_* tracking params (keeping
    * real params), strip the trailing slash — all `parse_url` + array
    * builtins in the scan projection. Dedup = one groupBy on the
    * canonical key keeping the smallest doc_id (deterministic keeper),
    * exactly E1's shape with the canonical URL as the hash key.
    */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    val url = rawUrl
    val host = lower(parse_url(url, lit("HOST")))
    val path = regexp_replace(parse_url(url, lit("PATH")), "/$", "")
    val keptQ = array_join(
      filter(split(parse_url(url, lit("QUERY")), "&"),
        t => !t.startsWith("utm_")), "&")
    val canon = concat(lit("https://"), host, path,
      when(keptQ.isNotNull && keptQ =!= "", concat(lit("?"), keptQ)).otherwise(""))
    Tables.documents(spark, dir)
      .select(col("doc_id"), canon.as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_variants"))
      .orderBy(col("url_canon"))
  }

  val urlDedupSql: String =
    """WITH canon AS (
      |  SELECT doc_id,
      |    concat('https://',
      |      CASE WHEN doc_id % 9 = 0 THEN 'cdn.' ELSE '' END,
      |      source, '.example.com/docs/', CAST(doc_id % 100 AS VARCHAR),
      |      CASE WHEN doc_id % 6 = 0 THEN '?ref=kept' ELSE '' END) AS url_canon
      |  FROM documents)
      |SELECT url_canon, min(doc_id) AS keeper, count(*) AS n_variants
      |FROM canon
      |GROUP BY url_canon
      |ORDER BY url_canon""".stripMargin

  /** E24 — domain blocklist filter (the quality pipeline's allowlist/
    * blocklist pass): a host is blocked when it EQUALS a blocklist
    * entry or is a subdomain of one (dot-suffix match — the public-
    * suffix rule, not substring match: "example.com" must not block
    * "notexample.com"). The blocklist is a literal array broadcast
    * into the scan as an `exists` over suffix tests — zero joins,
    * zero shuffles before the summary aggregate.
    */
  def domainFilter(spark: SparkSession, dir: String,
                   blocklist: Seq[String] = Seq("src3.example.com", "src7.example.com")): DataFrame = {
    val host = lower(parse_url(rawUrl, lit("HOST")))
    val entries = array(blocklist.map(lit): _*)
    val blocked = exists(entries,
      b => host === b || host.endsWith(concat(lit("."), b)))
    Tables.documents(spark, dir)
      .select(col("source"), blocked.as("blocked"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"))
      .orderBy(col("source"))
  }

  val domainFilterSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN source IN ('src3', 'src7') THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** E25 — seeded deterministic global shuffle (every training run
    * needs a reproducible corpus order — same seed, same order, on
    * any engine at any parallelism). Order key = md5(seed ‖ doc_id);
    * the global position comes from the E13b/E13d two-pass
    * bucket-offset cumsum: the md5 order is cut into 256 contiguous
    * ranges by its first 2 hex chars (a PREFIX of the sort key, so
    * buckets are ranges of the order), within-bucket ranks come from
    * a partition-parallel window, and bucket offsets from a cumsum
    * over the 256-row count frame broadcast back. Positions are a
    * pure function of VALUES, so they are identical at any
    * parallelism and under any downstream fan-out — no reliance on
    * the id-stamping rankedByRange's exchange-reuse contract
    * (retired here after the round-11 hazard finding). A global sort
    * at 100 TB stays a range-partitioned sort; the md5 prefix is
    * uniform by construction, so the 256 buckets are balanced.
    */
  def shuffleOrder(spark: SparkSession, dir: String, seed: String = "seed42"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(concat(lit(seed + "-"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val offsets = hashed.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    hashed
      .withColumn("lr", row_number().over(
        Window.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))).cast("long"))
      .join(broadcast(offsets), "bkt")
      .select(col("doc_id"), (col("off") + col("lr")).as("pos"))
      .orderBy(col("pos"))
  }

  val shuffleOrderSql: String =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(concat('seed42-', CAST(doc_id AS VARCHAR))), doc_id) AS BIGINT) AS pos
      |FROM documents
      |ORDER BY pos""".stripMargin

  // ---- E120: batch-composition shuffle-quality audit -------------------

  /** Shuffle-quality audit over training batches (the data-order check
    * behind shard-interleaving bugs: a bad shuffle yields source-
    * clumped batches, and batch-level domain clumping measurably hurts
    * optimization — the motivation for global shuffles in T5/Pile-
    * style pipelines). Cuts the E33 seeded shuffle order into batches
    * of `batchSize` and scores each batch's source composition against
    * corpus shares with a chi-square statistic, reporting the k worst
    * batches.
    *
    * Determinism: chi² = Σ_s n_bs²·N/(n_b·n_s) − n_b (the algebraic
    * form over PRESENT sources only — absent sources contribute 0 to
    * Σ n²/e, so no batch × source densification); each term floors to
    * micro-units from exact integer operands before the long sum.
    *
    * Scale shape: position = the E13b/E13d two-pass bucket-offset
    * cumsum (within-md5-prefix-bucket window ranks + a bounded 256-row
    * offset table broadcast back) — NOT the id-stamping rankedByRange,
    * whose two branches must see the same sampled range boundaries;
    * this operator's multi-aggregate fan-out defeated exchange reuse
    * exactly as E101's broadcast-cuts upstream did (suffix ranks
    * shifted ±64 at sf0.1). Then ONE (batch, source) aggregate
    * (map-side combined), batch-/source-keyed margins, a |sources|
    * broadcast + one-row grand-total broadcast (allowlisted), and a
    * TakeOrdered top-k.
    */
  def batchMix(spark: SparkSession, dir: String,
               batchSize: Int = 32, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        md5(concat(lit("seed42-"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))
    val offW = org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("bkt"), col("off"))
    val bs = docs
      .withColumn("lr", row_number().over(w).cast("long"))
      .join(broadcast(offsets), "bkt")
      .withColumn("batch", expr(s"(off + lr - 1) div $batchSize"))
      .groupBy(col("batch"), col("source"))
      .agg(count(lit(1)).as("n_bs"))
    val bTot = bs.groupBy(col("batch"))
      .agg(sum(col("n_bs")).as("n_b"), count(lit(1)).as("n_sources"))
    val sTot = bs.groupBy(col("source")).agg(sum(col("n_bs")).as("n_s"))
    val grand = sTot.agg(sum(col("n_s")).as("n"))
    bs
      .join(broadcast(sTot), "source")
      .join(bTot.hint("shuffle_hash"), "batch")
      .crossJoin(broadcast(grand))
      .withColumn("term",
        floor((col("n_bs") * col("n_bs")).cast("double") * col("n").cast("double")
          / (col("n_b") * col("n_s")).cast("double") * 1e6).cast("long"))
      .groupBy(col("batch"))
      .agg(sum(col("term")).as("s"),
        first(col("n_b")).as("n_docs"), first(col("n_sources")).as("n_sources"))
      .select(col("batch"), col("n_docs"), col("n_sources"),
        (col("s") - col("n_docs") * lit(1000000L)).as("chi2_micro"))
      .orderBy(col("chi2_micro").desc, col("batch"))
      .limit(k)
  }

  // ---- E124: weighted sampling without replacement ----------------------

  /** Efraimidis–Spirakis priority sampling (2006: draw u~U(0,1] per
    * item, key = u^(1/w), keep the k largest — a one-pass weighted
    * reservoir, THE distributed primitive for sampling without
    * replacement proportional to weight). Token-weighted here, so the
    * drawn subset is token-budget-proportional: long documents enter
    * with proportionally higher probability — the sampling step a
    * quality/length-weighted subset selection actually executes (the
    * deterministic E40-style quota samplers stratify; this one draws).
    *
    * Determinism: u derives from a 48-bit md5 lottery ((h+1)/2^48 ∈
    * (0,1], never ln 0); the ranking key uses the equivalent log form
    * ln(u)/w (monotone in u^(1/w), no pow), floored to integer
    * nano-units from identical doubles cross-engine; k largest with
    * doc_id tiebreak.
    *
    * Scale shape: one codegen'd projection over the scan + a
    * TakeOrdered top-k (bounded per-partition heap + driver merge) —
    * no shuffle at all beyond the top-k exchange.
    */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("w"),
        conv(substring(md5(concat(lit("ws-v1:"), col("doc_id").cast("string"))),
          1, 12), 16, 10).cast("long").as("h48"))
      .withColumn("key_nano",
        floor(log((col("h48") + 1).cast("double") / lit(math.pow(2.0, 48)))
          / col("w").cast("double") * 1e9).cast("long"))
      .orderBy(col("key_nano").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("w"), col("key_nano"))

  val weightedSampleSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    ('0x' || substr(md5('ws-v1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
      |      AS h48
      |  FROM documents)
      |SELECT doc_id, w,
      |  CAST(floor(ln(CAST(h48 + 1 AS DOUBLE) / 281474976710656.0)
      |    / CAST(w AS DOUBLE) * 1e9) AS BIGINT) AS key_nano
      |FROM d
      |ORDER BY key_nano DESC, doc_id
      |LIMIT 100""".stripMargin

  // ---- E123: context-length packing sweep -------------------------------

  /** Context-length planning sweep (the GPT-2/3 concat-and-chop
    * packing: shuffle docs, concatenate with EOS, chop into L-token
    * chunks — Radford et al. 2019 §2 / Brown et al. 2020 B.1; the
    * planning question is L: longer contexts cut tail waste but split
    * MORE documents across chunk boundaries, diluting attention with
    * cross-document fragments). For each candidate L this reports the
    * chunk count, boundary-crossing document share, and tail padding —
    * the table a pipeline owner reads before fixing the context.
    *
    * Determinism: document offsets are exact-integer prefix sums over
    * the E33 seeded shuffle order; crossing = floor(start/L) ≠
    * floor((end−1)/L) on nonneg integers (div and // agree); waste is
    * integer arithmetic.
    *
    * Scale shape: offsets via the E13b/E13d two-pass bucket-offset
    * cumsum (the batchMix device — value-based, safe under
    * multi-consumer fan-out); the L sweep is a 4-row literal explode
    * (a Generate, no join); ONE L-keyed aggregate out.
    */
  def contextSweep(spark: SparkSession, dir: String,
                   lengths: Seq[Int] = Seq(32, 64, 128, 256)): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("len"),
        md5(concat(lit("seed42-"), col("doc_id").cast("string"))).as("h"))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val w = W.partitionBy(col("bkt")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offW = W.orderBy(col("bkt"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("bkt")).agg(sum(col("len")).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("bkt"), col("off"))
    val placed = docs
      .withColumn("local", coalesce(sum(col("len")).over(w), lit(0L)))
      .join(broadcast(offsets), "bkt")
      .select(col("doc_id"), col("len"),
        (col("off") + col("local")).as("start"))
    placed
      .select(col("doc_id"), col("len"), col("start"),
        explode(array(lengths.map(l => lit(l.toLong)): _*)).as("l"))
      .withColumn("crossing",
        (expr("start div l") =!= expr("(start + len - 1) div l")).cast("long"))
      .groupBy(col("l"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len")).as("total_toks"),
        sum(col("crossing")).as("n_crossing"))
      .select(col("l"),
        expr("(total_toks + l - 1) div l").as("n_chunks"),
        col("n_docs"), col("total_toks"), col("n_crossing"),
        expr("n_crossing * 10000 div n_docs").as("crossing_bp"),
        expr("(total_toks + l - 1) div l * l - total_toks").as("tail_waste"))
      .orderBy(col("l"))
  }

  val contextSweepSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
      |    md5('seed42-' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |placed AS (
      |  SELECT doc_id, len,
      |    CAST(coalesce(sum(len) OVER (ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS start
      |  FROM d),
      |sweep AS (
      |  SELECT doc_id, len, start, CAST(unnest([32, 64, 128, 256]) AS BIGINT) AS l
      |  FROM placed),
      |agg AS (
      |  SELECT l,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len) AS BIGINT) AS total_toks,
      |    CAST(sum(CASE WHEN start // l <> (start + len - 1) // l
      |             THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
      |  FROM sweep GROUP BY 1)
      |SELECT l,
      |  CAST((total_toks + l - 1) // l AS BIGINT) AS n_chunks,
      |  n_docs, total_toks, n_crossing,
      |  CAST(n_crossing * 10000 // n_docs AS BIGINT) AS crossing_bp,
      |  CAST((total_toks + l - 1) // l * l - total_toks AS BIGINT) AS tail_waste
      |FROM agg
      |ORDER BY l""".stripMargin

  val batchMixSql: String =
    """WITH d AS (
      |  SELECT doc_id, source,
      |    md5('seed42-' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |p AS (
      |  SELECT source,
      |    CAST((row_number() OVER (ORDER BY h, doc_id) - 1) // 32 AS BIGINT)
      |      AS batch
      |  FROM d),
      |bs AS (SELECT batch, source, CAST(count(*) AS BIGINT) AS n_bs
      |       FROM p GROUP BY 1, 2),
      |bt AS (SELECT batch, CAST(sum(n_bs) AS BIGINT) AS n_b,
      |              CAST(count(*) AS BIGINT) AS n_sources
      |       FROM bs GROUP BY 1),
      |stot AS (SELECT source, CAST(sum(n_bs) AS BIGINT) AS n_s
      |         FROM bs GROUP BY 1),
      |g AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM stot),
      |terms AS (
      |  SELECT batch,
      |    CAST(floor(CAST(n_bs * n_bs AS DOUBLE) * CAST(n AS DOUBLE)
      |      / CAST(n_b * n_s AS DOUBLE) * 1e6) AS BIGINT) AS term
      |  FROM bs JOIN stot USING (source) JOIN bt USING (batch) CROSS JOIN g),
      |c AS (SELECT batch, CAST(sum(term) AS BIGINT) AS s FROM terms GROUP BY 1)
      |SELECT c.batch, bt.n_b AS n_docs, bt.n_sources,
      |  CAST(c.s - bt.n_b * 1000000 AS BIGINT) AS chi2_micro
      |FROM c JOIN bt USING (batch)
      |ORDER BY chi2_micro DESC, batch
      |LIMIT 20""".stripMargin

  // ---- E31: n-gram diversity audit -------------------------------------

  /** E31 — n-gram diversity (trigram type-token ratio per source — the
    * corpus-diversity audit beside E18's within-doc repetition: a
    * source whose TTR collapses is template spam even when individual
    * docs look clean). Trigrams are cut in the scan as array
    * expressions (the E30 sequence+element_at shape); one source-keyed
    * aggregate with a distinct count; ttr divides two exact integers.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("source"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("ws")) - 2),
          i => concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1), element_at(col("ws"), i + 2)))).as("gram"))
    grams.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(col("gram")).as("n_distinct"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_grams"))
      .orderBy(col("source"))
  }

  val ngramDiversitySql: String =
    """WITH grams AS (
      |  SELECT source, concat(ws[i], ' ', ws[i+1], ' ', ws[i+2]) AS gram
      |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents
      |        WHERE len(string_split(text, ' ')) >= 3) d,
      |       unnest(range(1, len(ws) - 1)) AS t(i))
      |SELECT source, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct,
      |  CAST(count(DISTINCT gram) AS DOUBLE) / count(*) AS ttr
      |FROM grams
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // ---- E32: compression-ratio quality signal ---------------------------

  /** E32 — compression-ratio filter (the Gopher/C4-class rule: text
    * that deflates too well is boilerplate or repetition; too poorly,
    * binary junk). The JDK Deflater is a per-row native kernel exactly
    * like E12's image/audio codecs — `mapPartitions` with ONE reused
    * Deflater per partition (allocation amortized, fully parallel, no
    * shuffle). ☆ no_oracle: DuckDB has no deflate — `TextFnsSpec` pins
    * the signal's direction on planted repetitive vs varied text.
    */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame = {
    val s = spark
    import s.implicits._
    Tables.atComputeParallelism(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
        val buf = new Array[Byte](1 << 16)
        // native zlib memory is reclaimed only at finalization unless
        // end() is called — release it deterministically when the
        // partition's iterator drains (hasNext turning false)
        new Iterator[(Long, Long, Long, Double)] {
          def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): (Long, Long, Long, Double) = {
            val (id, text) = rows.next()
            val raw = text.getBytes("UTF-8")
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var comp = 0L
            while (!deflater.finished()) comp += deflater.deflate(buf)
            (id, raw.length.toLong, comp,
              math.round(comp.toDouble / math.max(raw.length, 1) * 1e4) / 1e4)
          }
        }
      }
      .toDF("doc_id", "raw_bytes", "deflate_bytes", "ratio")
      .orderBy(col("doc_id"))
  }

  // ---- E29: distribution drift (PSI) -----------------------------------

  /** E29 — population stability index between a reference and a
    * current window (the drift monitor every continuously-ingesting
    * training pipeline runs: has this week's data shifted against the
    * reference distribution?). Bins = the REFERENCE window's exact
    * deciles (one broadcast aggregate row — the C16c machinery); each
    * window bins with the same array fold, so both histograms share
    * boundaries by construction. PSI term per bin =
    * (p_cur − p_ref)·ln(p_cur/p_ref) with Laplace smoothing — every
    * probability derives from exact integers, both engines compute
    * identical doubles, and the term is floored at 1e-9 so the
    * reported values are bit-stable. Σ(psi_term) is the headline PSI
    * (>0.2 = action threshold in common practice).
    */
  def distributionDrift(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    def window(from: String, until: String) = Tables.events(spark, dir)
      .filter(col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(until).cast("timestamp"))
    val ref = window("2024-01-01", "2024-01-08")
    val cur = window("2024-01-22", "2024-01-29")
    val fracs = (1 until k).map(i => i.toDouble / k).mkString(", ")
    val cuts = ref.agg(expr(s"percentile(value, array($fracs))").as("cuts"))
    def binned(df: DataFrame, as: String) = df.crossJoin(broadcast(cuts))
      .select(aggregate(col("cuts"), lit(0),
        (acc, c) => acc + when(col("value") > c, 1).otherwise(0))
        .cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(as))
    val joined = binned(ref, "n_ref")
      .join(binned(cur, "n_cur"), Seq("bin"), "full")
      .select(col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.agg(
      sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val pRef = (col("n_ref") + 1).cast("double") / (col("tr") + k)
    val pCur = (col("n_cur") + 1).cast("double") / (col("tc") + k)
    joined.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        (floor((pCur - pRef) * log(pCur / pRef) * 1e9) / 1e9).as("psi_term"))
      .orderBy(col("bin"))
  }

  val distributionDriftSql: String = {
    val fracs = (1 until 10).map(i => i / 10.0).mkString(", ")
    s"""WITH ref AS (
       |  SELECT value FROM events
       |  WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-01-08 00:00:00'),
       |cur AS (
       |  SELECT value FROM events
       |  WHERE ts >= TIMESTAMP '2024-01-22 00:00:00' AND ts < TIMESTAMP '2024-01-29 00:00:00'),
       |cuts AS (SELECT quantile_cont(value, [$fracs]) AS qs FROM ref),
       |br AS (
       |  SELECT CAST(len(list_filter(qs, c -> value > c)) AS BIGINT) AS bin, count(*) AS n_ref
       |  FROM ref CROSS JOIN cuts GROUP BY 1),
       |bc AS (
       |  SELECT CAST(len(list_filter(qs, c -> value > c)) AS BIGINT) AS bin, count(*) AS n_cur
       |  FROM cur CROSS JOIN cuts GROUP BY 1),
       |j AS (
       |  SELECT coalesce(br.bin, bc.bin) AS bin,
       |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
       |  FROM br FULL JOIN bc ON br.bin = bc.bin),
       |tot AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM j)
       |SELECT bin, n_ref, n_cur,
       |  floor((CAST(n_cur + 1 AS DOUBLE) / (tc + 10) - CAST(n_ref + 1 AS DOUBLE) / (tr + 10)) *
       |    ln((CAST(n_cur + 1 AS DOUBLE) / (tc + 10)) / (CAST(n_ref + 1 AS DOUBLE) / (tr + 10))) * 1000000000) / 1000000000 AS psi_term
       |FROM j CROSS JOIN tot
       |ORDER BY bin""".stripMargin
  }

  // ---- E26: DSIR-style importance resampling ---------------------------

  /** E26 — importance resampling (DSIR, Xie et al. 2023: select raw
    * data whose unigram distribution looks like a TARGET corpus, by
    * importance weight p_target(x)/p_raw(x)). Target here = the
    * English slice; raw = the whole corpus. Both unigram LMs share one
    * vocabulary pass: conditional counts give target and raw in the
    * SAME token aggregate (one shuffle, the E19 shape), each token's
    * log-ratio is floored to integer micro-nats BEFORE the per-doc sum
    * (order-independent — the cross-engine float playbook), and the
    * top-N selection is orderBy+limit = TakeOrderedAndProject, a
    * bounded heap.
    */
  def importanceResample(spark: SparkSession, dir: String, n: Int = 50): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang") === "en", explode(split(col("text"), " ")).as("token"))
      .toDF("doc_id", "is_tgt", "token")
    val counts = toks.groupBy(col("token")).agg(
      sum(when(col("is_tgt"), 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val totals = counts.agg(
      sum(col("ct")).as("nt"), sum(col("cr")).as("nr"), count(lit(1)).as("v"))
    // add-1 smoothing on the shared vocabulary; the log-ratio is one
    // fixed expression over exact integers, so both engines compute
    // identical doubles before the floor
    val wMicro = floor(
      (log((col("ct") + 1).cast("double") / (col("nt") + col("v")).cast("double")) -
       log((col("cr") + 1).cast("double") / (col("nr") + col("v")).cast("double"))) * 1e6)
      .cast("long")
    toks.join(counts.hint("shuffle_hash"), "token")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(wMicro).as("s"), count(lit(1)).cast("long").as("n_toks"))
      .select(col("doc_id"), col("n_toks"),
        (col("s").cast("double") / 1e6).as("log_importance"))
      .orderBy(col("log_importance").desc, col("doc_id"))
      .limit(n)
  }

  val importanceResampleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang = 'en' AS is_tgt,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |counts AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct,
      |    count(*) AS cr
      |  FROM toks GROUP BY token),
      |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr,
      |               count(*) AS v FROM counts),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_toks,
      |    CAST(sum(CAST(floor((ln(CAST(c.ct + 1 AS DOUBLE) / CAST(tot.nt + tot.v AS DOUBLE)) -
      |      ln(CAST(c.cr + 1 AS DOUBLE) / CAST(tot.nr + tot.v AS DOUBLE))) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN counts c USING (token) CROSS JOIN tot
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_toks, CAST(s AS DOUBLE) / 1000000.0 AS log_importance
      |FROM scored
      |ORDER BY log_importance DESC, doc_id
      |LIMIT 50""".stripMargin

  def contamination(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val docs = Tables.atComputeParallelism(Tables.documents(spark, dir))
      .filter(size(split(col("text"), " ")) >= n)
      .select(col("doc_id"), explode(HashFns.shingleHashSet(col("text"), n)).as("h"))
    val bench = docs.filter(col("doc_id") < 20)
      .select(col("doc_id").as("bench_id"), col("h"))
    val corpus = docs.filter(col("doc_id") >= 20)
    corpus.join(broadcast(bench), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_overlap"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .orderBy(col("doc_id"))
  }

  val contaminationSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8),
      |sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 7),
      |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' ||
      |         w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8]))) AS s
      |  FROM w)
      |SELECT c.doc_id AS doc_id,
      |  count(DISTINCT c.s) AS n_overlap,
      |  count(DISTINCT b.doc_id) AS n_bench_docs
      |FROM sh c JOIN sh b ON c.s = b.s AND b.doc_id < 20 AND c.doc_id >= 20
      |GROUP BY c.doc_id
      |ORDER BY doc_id""".stripMargin

  /** E16b — EMBEDDING-space contamination check: the n-gram pass (E16)
    * misses paraphrased or lightly-reworded benchmark leakage; the
    * standard second line (e.g. the Llama/GPT-4 eval-contamination
    * reports) scores corpus embeddings against the benchmark's and
    * flags anything above a similarity floor. Shape = E6's broadcast
    * kernel: the benchmark set is tiny (rides as a broadcast), the
    * corpus never shuffles, and the per-doc verdict is one map-side
    * aggregate over its benchmark hits. At 100 TB the IVF cells bound
    * candidates exactly as they do for E22 semantic dedup.
    */
  def contaminationEmbedding(spark: SparkSession, dir: String,
                             minScore: Double = 0.35): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val bench = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("bench_id"), col("embedding").as("b_emb"))
    val corpus = Tables.atComputeParallelism(e).filter(col("vec_id") >= 20)
      .select(col("vec_id"), col("embedding").as("c_emb"))
    corpus.join(broadcast(bench))
      .withColumn("cos_sim",
        round(graft.plans.CosineSim(col("c_emb"), col("b_emb")), 6))
      .filter(col("cos_sim") >= minScore)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cos_sim")).as("max_cos"))
      .orderBy(col("vec_id"))
  }

  val contaminationEmbeddingSql: String =
    """WITH b AS (SELECT vec_id AS bench_id, CAST(embedding AS DOUBLE[]) AS b_emb FROM embeddings WHERE vec_id < 20),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings WHERE vec_id >= 20),
      |hits AS (
      |  SELECT vec_id, round(list_cosine_similarity(c_emb, b_emb), 6) AS cos_sim
      |  FROM c CROSS JOIN b
      |  WHERE round(list_cosine_similarity(c_emb, b_emb), 6) >= 0.35)
      |SELECT vec_id, count(*) AS n_bench_hits, max(cos_sim) AS max_cos
      |FROM hits GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** E38 — coordination-free duplication-weighted sampling: each member
    * of a dup cluster keeps itself with probability 1/|cluster| via a
    * deterministic per-doc hash draw, so every cluster contributes ONE
    * survivor in expectation WITHOUT electing a canonical member — the
    * streaming-friendly alternative to E5b's keep-min rule (no second
    * coordination pass, and the survivor is a uniform-random cluster
    * member rather than always the min id, which avoids biasing the kept
    * corpus toward early-crawled copies). Composes the E1+E4 component
    * resolution; the only additions are one cluster-keyed count (cluster
    * sizes are capped by the dup-graph skew caps) and a codegen'd hash
    * draw — both vanish next to the pair mining.
    */
  def dupWeightedSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the memoized E5b mapping: components are resolved once per data
    // dir; selection passes like this one read the mapping like an index
    val canon = Dedup.canonicalMapping(spark, dir)
    canon
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("keep_id"))))
      .withColumn("u16", expr(bucket16ExprOf("CAST(doc_id AS STRING)")))
      .filter(col("u16") * col("cluster_size") < lit(65536L))
      .select(col("doc_id"), col("keep_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  val dupWeightedSampleSql: String = {
    val u16 = SqlPatch(bucket16ExprOf("CAST(doc_id AS VARCHAR)"), "instr", "strpos")
    SqlPatch(Dedup.canonicalCorpusSql,
      "\nSELECT s AS doc_id, min(d) AS keep_id FROM reach GROUP BY s ORDER BY doc_id",
      s""",
         |canon AS (SELECT s AS doc_id, min(d) AS keep_id FROM reach GROUP BY s),
         |sized AS (
         |  SELECT doc_id, keep_id, count(*) OVER (PARTITION BY keep_id) AS cluster_size
         |  FROM canon)
         |SELECT doc_id, keep_id, cluster_size FROM sized
         |WHERE $u16 * cluster_size < 65536
         |ORDER BY doc_id""".stripMargin)
  }

  /** E35 — corpus token statistics (the one-page corpus health report a
    * curation run publishes before mixing: Zipf slope of the rank-
    * frequency curve — natural text sits near −1, template spam and
    * boilerplate flatten or steepen it (Piantadosi 2014) — plus
    * type-token ratio and hapax share, the vocabulary-growth signals
    * behind Heaps' law).
    *
    * Scale shape: ONE token-keyed aggregate builds the frequency table
    * (map-side combined); ranking is a sort over the VOCABULARY — ≪
    * corpus size, the same bounded-side sort every search engine's
    * dictionary build does — and the regression consumes only the top-K
    * ranks. Determinism: ln(rank)/ln(freq) are floored to integer
    * micro-logs per term (exact BIGINT sums, products bounded ~1e17 at
    * K=1000), and the least-squares slope is ONE fixed-order double
    * expression over those exact sums — the scale factors cancel in the
    * ratio. Corpus totals are exact counts; every emitted double is a
    * closed form over integers, rounded at 6dp.
    */
  def corpusStats(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    val freqs = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
    val totals = freqs.agg(
      sum(col("f")).as("total_tokens"),
      count(lit(1)).as("vocab_size"),
      sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax_count"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("f").desc, col("token"))
    val slope = freqs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(
        floor(log(col("rank").cast("double")) * 1e6).cast("long").as("xu"),
        floor(log(col("f").cast("double")) * 1e6).cast("long").as("yu"))
      .agg(count(lit(1)).as("k"), sum(col("xu")).as("sx"), sum(col("yu")).as("sy"),
        sum(col("xu") * col("yu")).as("sxy"), sum(col("xu") * col("xu")).as("sxx"))
      .select(col("k"),
        // cast the EXACT sums to double before combining: k·Σxy would
        // overflow BIGINT (~1e20); one fixed-order double product chain
        // over exact integers is still bit-identical cross-engine
        ((col("k").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("k").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))).as("zs"))
    totals.crossJoin(broadcast(slope))
      .select(
        col("total_tokens"), col("vocab_size"), col("hapax_count"),
        round(col("vocab_size").cast("double") / col("total_tokens"), 6).as("ttr"),
        round(col("hapax_count").cast("double") / col("vocab_size"), 6).as("hapax_share"),
        col("k").as("n_ranks"), round(col("zs"), 6).as("zipf_slope"))
  }

  val corpusStatsSql: String =
    """WITH freqs AS (
      |  SELECT token, count(*) AS f
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |  WHERE token <> ''
      |  GROUP BY token),
      |totals AS (
      |  SELECT CAST(sum(f) AS BIGINT) AS total_tokens,
      |    CAST(count(*) AS BIGINT) AS vocab_size,
      |    CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count
      |  FROM freqs),
      |ranked AS (
      |  SELECT CAST(floor(ln(CAST(row_number() OVER (ORDER BY f DESC, token) AS DOUBLE)) * 1000000) AS BIGINT) AS xu,
      |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS yu,
      |    row_number() OVER (ORDER BY f DESC, token) AS rank
      |  FROM freqs),
      |reg AS (
      |  SELECT CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(xu) AS BIGINT) AS sx, CAST(sum(yu) AS BIGINT) AS sy,
      |    CAST(sum(xu * yu) AS BIGINT) AS sxy, CAST(sum(xu * xu) AS BIGINT) AS sxx
      |  FROM ranked WHERE rank <= 1000)
      |SELECT total_tokens, vocab_size, hapax_count,
      |  round(CAST(vocab_size AS DOUBLE) / total_tokens, 6) AS ttr,
      |  round(CAST(hapax_count AS DOUBLE) / vocab_size, 6) AS hapax_share,
      |  k AS n_ranks,
      |  round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |        (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope
      |FROM totals CROSS JOIN reg""".stripMargin

  /** E52 — quality-score calibration (does the cheap continuous score
    * agree with the rule battery? — the check run before swapping a
    * rule AND for a thresholded score in a mixture): corpus deciled by
    * the E9 composite score, per-decile pass rate of the E14 Gopher
    * keep bit. A well-calibrated score shows the keep rate rising
    * monotonically with the decile.
    *
    * No global sort: decile cuts come from ONE exact-percentile
    * broadcast row (C16c's device), each row's decile is an array
    * fold counting cuts below; cuts round to 9 decimals so a 1-ulp
    * interpolation divergence cannot flip a document at a boundary.
    * Rates divide exact integers.
    */
  def qualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("double")
    val meanWordLen = length(regexp_replace(col("text"), " ", "")).cast("double") / nWords
    val symbolRatio =
      length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double") /
        length(col("text"))
    val stopRatio = graft.functions.TextFns.stopwordRatio(col("text"))
    val keep = (nWords >= 5 && nWords <= 1000 &&
      meanWordLen >= 2 && meanWordLen <= 12 &&
      symbolRatio <= 0.1 && stopRatio > 0).cast("long")
    val scored = Tables.documents(spark, dir)
      .select(graft.functions.TextFns.qualityScore(col("text")).as("score"),
        keep.as("keep"))
    val cuts = scored.agg(
      expr("percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("cuts"))
      .select(transform(col("cuts"), c => round(c, 9)).as("cuts"))
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile",
        (size(filter(col("cuts"), c => col("score") > c)) + 1).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("keep")).as("n_keep"))
      .withColumn("keep_rate", col("n_keep").cast("double") / col("n_docs"))
      .orderBy(col("decile"))
  }

  val qualityCalibrationSql: String =
    """WITH t AS (
      |  SELECT string_split(text, ' ') AS w, text FROM documents),
      |scored AS (
      |  SELECT
      |    ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)) AS score,
      |    CAST(len(w) >= 5 AND len(w) <= 1000
      |      AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) >= 2
      |      AND CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w) <= 12
      |      AND CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) <= 0.1
      |      AND CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w) > 0
      |      AS BIGINT) AS keep
      |  FROM t),
      |cuts AS (
      |  SELECT list_transform(
      |    quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    c -> round(c, 9)) AS cuts
      |  FROM scored)
      |SELECT CAST(len(list_filter(cuts, c -> score > c)) + 1 AS BIGINT) AS decile,
      |  count(*) AS n_docs,
      |  CAST(sum(keep) AS BIGINT) AS n_keep,
      |  CAST(sum(keep) AS DOUBLE) / count(*) AS keep_rate
      |FROM scored CROSS JOIN cuts
      |GROUP BY 1
      |ORDER BY decile""".stripMargin

  /** E55 — curriculum training order (curriculum learning: present
    * high-quality documents first, shuffled WITHIN each quality tier —
    * the export order a quality-staged pretraining run consumes;
    * Bengio et al. 2009's schedule applied with E52's deciles as the
    * difficulty proxy). Tier from the one-row exact-percentile cuts
    * (no global sort to bin), position from the distributed
    * range-partitioned rank (E25's rankedByRange — a 100 TB global
    * order is a range-partitioned sort, never one task), ordered
    * best-decile-first with the seeded md5 draw breaking up
    * within-tier correlations.
    */
  def curriculumOrder(spark: SparkSession, dir: String,
                      seed: String = "cur42"): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.functions.TextFns.qualityScore(col("text")).as("score"))
    val cuts = scored.agg(
      expr("percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("cuts"))
      .select(transform(col("cuts"), c => round(c, 9)).as("cuts"))
    // Global position via the E13b/E13d two-pass bucket-offset cumsum,
    // NOT the id-stamping rankedByRange: the stamping relies on
    // exchange reuse between its two branches, which the broadcast-cuts
    // cross join upstream defeated here (positions grew gaps at
    // sf0.1). This form is deterministic on BOTH branches regardless
    // of reuse: within-(tier, md5-prefix-bucket) ranks come from a
    // partition-parallel window, offsets from a cumsum over the
    // bounded (10 × 256)-row count table broadcast back.
    val tiered = scored.crossJoin(broadcast(cuts))
      .withColumn("decile",
        (size(filter(col("cuts"), c => col("score") > c)) + 1).cast("long"))
      .withColumn("neg_dec", -col("decile"))
      .withColumn("h", md5(concat(lit(seed + "-"), col("doc_id").cast("string"))))
      .withColumn("bkt", substring(col("h"), 1, 2))
      .select(col("doc_id"), col("decile"), col("neg_dec"), col("h"), col("bkt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("neg_dec"), col("bkt")).orderBy(col("h"), col("doc_id"))
    val offW = org.apache.spark.sql.expressions.Window
      .orderBy(col("neg_dec"), col("bkt"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = tiered.groupBy(col("neg_dec"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("neg_dec"), col("bkt"), col("off"))
    tiered
      .withColumn("lr", row_number().over(w).cast("long"))
      .join(broadcast(offsets), Seq("neg_dec", "bkt"))
      .select(col("doc_id"), col("decile"), (col("off") + col("lr")).as("pos"))
      .orderBy(col("pos"))
  }

  val curriculumOrderSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |scored AS (
      |  SELECT doc_id,
      |    ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)) AS score
      |  FROM t),
      |cuts AS (
      |  SELECT list_transform(
      |    quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    c -> round(c, 9)) AS cuts
      |  FROM scored),
      |tiered AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(cuts, c -> score > c)) + 1 AS BIGINT) AS decile,
      |    md5(concat('cur42-', CAST(doc_id AS VARCHAR))) AS h
      |  FROM scored CROSS JOIN cuts)
      |SELECT doc_id, decile,
      |  CAST(row_number() OVER (ORDER BY decile DESC, h, doc_id) AS BIGINT) AS pos
      |FROM tiered
      |ORDER BY pos""".stripMargin

  /** E56 — tokenizer fertility table (chars per token by language —
    * the table every multilingual-tokenizer paper reports: a language
    * with low chars/token burns budget faster; the per-language
    * complement of E10's per-doc counts, at the approximation tier the
    * oracle can replicate — whitespace and the regex BPE-ish split;
    * the REAL BPE/byte-BPE fertility columns live on E10b/E10d's ☆
    * entries). One scan, exact integer sums, two divisions.
    */
  def fertilityTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), length(col("text")).cast("long").as("n_chars_t"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("ws"),
        graft.functions.TextFns.bpeTokenCount(col("text")).cast("long").as("bp"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars_t")).as("chars"),
        sum(col("ws")).as("ws_tokens"), sum(col("bp")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"),
        (col("chars").cast("double") / col("ws_tokens")).as("chars_per_ws_token"),
        (col("chars").cast("double") / col("bpe_tokens")).as("chars_per_bpe_token"))
      .orderBy(col("lang"))

  val fertilityTableSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS DOUBLE)
      |    / sum(len(string_split_regex(trim(text), '\s+'))) AS chars_per_ws_token,
      |  CAST(sum(length(text)) AS DOUBLE)
      |    / sum(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS chars_per_bpe_token
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** E42 — tokenizer vocabulary-coverage curve: how many vocabulary
    * entries cover 50/90/99% of all token occurrences (the
    * vocab-sizing question every tokenizer design starts from; the
    * long tail past k99 is what byte-fallback exists for). One
    * token-keyed aggregate builds the frequency table; the cumulative
    * share ranks only the VOCABULARY (E35's contract); each threshold
    * is decided by exact integer cross-multiplication (cum·100 ≥
    * total·pct), so no float CDF comparison can flake at a boundary.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = freq
      .withColumn("rank", row_number().over(Window.orderBy(col("c").desc, col("token"))).cast("long"))
      .withColumn("cum", sum(col("c")).over(w))
    val tot = ranked.agg(max(col("cum")).as("total"), count(lit(1)).as("vocab_size"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("total"), col("vocab_size"))
      .agg(
        min(when(col("cum") * 100 >= col("total") * 50, col("rank"))).as("k50"),
        min(when(col("cum") * 100 >= col("total") * 90, col("rank"))).as("k90"),
        min(when(col("cum") * 100 >= col("total") * 99, col("rank"))).as("k99"))
      .select(col("vocab_size"), col("total").as("total_tokens"),
        col("k50"), col("k90"), col("k99"))
  }

  val vocabCoverageSql: String =
    """WITH freq AS (
      |  SELECT tok AS token, count(*) AS c
      |  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT token, c,
      |    CAST(row_number() OVER (ORDER BY c DESC, token) AS BIGINT) AS rank,
      |    CAST(sum(c) OVER (ORDER BY c DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM freq),
      |tot AS (SELECT max(cum) AS total, count(*) AS vocab_size FROM ranked)
      |SELECT vocab_size, total AS total_tokens,
      |  min(CASE WHEN cum * 100 >= total * 50 THEN rank END) AS k50,
      |  min(CASE WHEN cum * 100 >= total * 90 THEN rank END) AS k90,
      |  min(CASE WHEN cum * 100 >= total * 99 THEN rank END) AS k99
      |FROM ranked CROSS JOIN tot
      |GROUP BY vocab_size, total""".stripMargin

  /** E41 — dataset card (the per-source datasheet every corpus release
    * ships: volume, token counts, length profile, language mix, and
    * exact-duplication rate in one table — "Datasheets for Datasets"
    * operationalized as a query). TWO passes joined on the
    * source-cardinality key: a text-scan aggregate (docs, tokens,
    * chars, languages — all exact integers collapsed map-side) and
    * E27's content-hash pass for the dup columns; every ratio divides
    * exact integers, so the card is bit-stable at any partitioning.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val text = Tables.documents(spark, dir)
      .select(col("source"), col("lang"), col("n_chars"),
        graft.functions.TextFns.wsTokenCount(col("text")).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
    val dups = graft.operators.Dedup.dedupStats(spark, dir)
      .select(col("source"), col("n_removed"))
    text.join(dups, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"),
        col("n_langs"),
        (col("n_en").cast("double") / col("n_docs")).as("en_share"),
        col("n_removed").as("n_exact_dups"),
        (col("n_removed").cast("double") / col("n_docs")).as("dup_rate"))
      .orderBy(col("source"))
  }

  val datasetCardSql: String =
    """WITH text AS (
      |  SELECT source,
      |    count(*) AS n_docs,
      |    CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |    count(DISTINCT lang) AS n_langs,
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
      |  FROM documents GROUP BY source),
      |h AS (SELECT doc_id, source, md5(text) AS hh FROM documents),
      |g AS (SELECT hh, min(doc_id) AS keeper FROM h GROUP BY hh),
      |dups AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dups
      |  FROM h JOIN g USING (hh) GROUP BY source)
      |SELECT source, n_docs, total_tokens,
      |  CAST(total_chars AS DOUBLE) / n_docs AS mean_chars,
      |  n_langs,
      |  CAST(n_en AS DOUBLE) / n_docs AS en_share,
      |  n_exact_dups,
      |  CAST(n_exact_dups AS DOUBLE) / n_docs AS dup_rate
      |FROM text JOIN dups USING (source)
      |ORDER BY source""".stripMargin

  // ---- E63: end-to-end curation pipeline -----------------------------

  /** E63 — the composed curation pipeline as ONE operator (the "can a
    * user actually run the whole thing" integration the per-stage rows
    * imply): raw → quality battery (E14) → exact dedup (E1) → near-dup
    * canonicalization (E5b's connected components, elected among the
    * SURVIVORS of the earlier stages) → benchmark decontamination
    * (E16). Emits the per-stage funnel report (docs + tokens) every
    * production pipeline publishes. Composition semantics pinned here:
    * dedup keys/components are mined on the FULL corpus (the mapping
    * is stage-independent), but each stage's keeper election runs on
    * the docs still alive — the canonical member of a cluster whose
    * keeper was quality-filtered falls to the next surviving member,
    * not to nothing. At 100 TB each stage's survivor set is persisted
    * between stages — and the plan does exactly that: every stage's
    * id set (and the shared token projection) is localCheckpoint'd, so
    * stage N's funnel row and stage N+1's input read N's MATERIALIZED
    * survivors instead of re-running the whole upstream lineage per
    * consumer (the lazy form compiled to 34 documents scans; this
    * shape pays one corpus pass per mining stage and joins narrow id
    * lists thereafter).
    */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val toks = Materialize(Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"),
        md5(col("text")).as("h")), "curation-tokens")
    val s1 = toks.select(col("doc_id"))
    val s2 = Materialize(qualityFilter(spark, dir).filter(col("keep") === 1).select(col("doc_id")),
      "curation-quality")
    val s3 = Materialize(toks.join(s2, "doc_id")
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")), "curation-exact-dedup")
    val s4 = Materialize(s3.join(Dedup.canonicalMapping(spark, dir), "doc_id")
      .groupBy(col("keep_id")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id")), "curation-near-dedup")
    val flagged = contamination(spark, dir).select(col("doc_id"))
    val s5 = s4.join(flagged, Seq("doc_id"), "left_anti")
    val stages = Seq(
      ("1_raw", s1), ("2_quality", s2), ("3_exact_dedup", s3),
      ("4_near_dedup", s4), ("5_decontaminated", s5))
    stages.map { case (lbl, ids) =>
      ids.join(toks, "doc_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .select(lit(lbl).as("stage"), col("n_docs"), col("n_tokens"))
    }.reduce(_ unionByName _)
      .orderBy(col("stage"))
  }

  lazy val curationPipelineSql: String = {
    // the E5b mapping CTE chain, final SELECT folded into a `canon`
    // CTE (SqlPatch asserts the surgery still matches the source)
    val canon = SqlPatch(Dedup.canonicalCorpusSql,
      "SELECT s AS doc_id, min(d) AS keep_id FROM reach GROUP BY s ORDER BY doc_id",
      "").stripPrefix("WITH RECURSIVE ").trim
    s"""WITH RECURSIVE $canon,
       |canon AS (
       |  SELECT s AS doc_id, min(d) AS keep_id FROM reach GROUP BY s),
       |toks AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents),
       |q AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mwl,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) AS sym,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stopr
       |  FROM documents),
       |s2 AS (
       |  SELECT doc_id FROM q
       |  WHERE n_words >= 5 AND n_words <= 1000 AND mwl >= 2 AND mwl <= 12
       |    AND sym <= 0.1 AND stopr > 0),
       |s3 AS (
       |  SELECT min(w.doc_id) AS doc_id
       |  FROM words w JOIN s2 USING (doc_id)
       |  GROUP BY w.h),
       |s4 AS (
       |  SELECT min(s3.doc_id) AS doc_id
       |  FROM s3 JOIN canon USING (doc_id)
       |  GROUP BY canon.keep_id),
       |cw AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |  WHERE len(string_split(text, ' ')) >= 8),
       |csh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 7),
       |    i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] || ' ' ||
       |         w[i+5] || ' ' || w[i+6] || ' ' || w[i+7] || ' ' || w[i+8]))) AS s
       |  FROM cw),
       |flagged AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM csh c JOIN csh b ON c.s = b.s AND b.doc_id < 20 AND c.doc_id >= 20),
       |s5 AS (
       |  SELECT doc_id FROM s4
       |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
       |report AS (
       |  SELECT '1_raw' AS stage, count(*) AS n_docs,
       |    CAST(sum(n_toks) AS BIGINT) AS n_tokens FROM toks
       |  UNION ALL
       |  SELECT '2_quality', count(*), CAST(sum(n_toks) AS BIGINT)
       |  FROM s2 JOIN toks USING (doc_id)
       |  UNION ALL
       |  SELECT '3_exact_dedup', count(*), CAST(sum(n_toks) AS BIGINT)
       |  FROM s3 JOIN toks USING (doc_id)
       |  UNION ALL
       |  SELECT '4_near_dedup', count(*), CAST(sum(n_toks) AS BIGINT)
       |  FROM s4 JOIN toks USING (doc_id)
       |  UNION ALL
       |  SELECT '5_decontaminated', count(*), CAST(sum(n_toks) AS BIGINT)
       |  FROM s5 JOIN toks USING (doc_id))
       |SELECT stage, n_docs, n_tokens FROM report
       |ORDER BY stage""".stripMargin
  }

  // ---- E58: DoReMi-style domain reweighting --------------------------

  /** E58 — domain reweighting from excess loss (public anchor: Xie et
    * al. 2023, "DoReMi: Optimizing Data Mixtures Speeds Up Language
    * Model Pretraining", arXiv:2305.10429): upweight the domains the
    * current model finds HARD relative to a reference. One
    * exponentiated-gradient step from uniform, with the smoothing mix
    * back toward uniform the paper uses:
    *
    *   Λ_i = max(0, L_i − L_ref),  w ∝ u·exp(η·Λ),
    *   w' = (1−ε)·w/Σw + ε·u
    *
    * The proxy/reference losses are served by the corpus itself — E19's
    * unigram LM as the proxy, the corpus-wide per-token NLL as the
    * reference — so the mechanics are exact while the loss plug-in is
    * swappable for real model scores. Determinism: per-domain token
    * log-probs floor to integer micro-nats BEFORE summing (E19's
    * device), so L_i and Λ_i are bit-identical cross-engine; exp/round
    * is the only post-integer float step. Scale: one vocab-keyed
    * shuffle-hash join (never broadcast a web-scale vocab) + one
    * domain-keyed aggregate; the EG step runs on |domains| rows.
    */
  def domainReweight(spark: SparkSession, dir: String, eta: Double = 1.0,
                     eps: Double = 0.1): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
    // |domains| rows; pin ONE evaluation of the vocab-join pass — the
    // ref/Z/weight stages all re-read this
    val perDomain = Materialize(toks.join(counts.hint("shuffle_hash"), "token")
      .crossJoin(broadcast(totals))
      .withColumn("lp_micro",
        floor(log((col("c") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_micro")).as("s"))
      .withColumn("nll", -col("s").cast("double") / 1e6 / col("n_tokens")), "domain-nll")
    val ref = perDomain.agg(
      (-sum(col("s")).cast("double") / 1e6 / sum(col("n_tokens"))).as("nll_ref"))
    val stepped = perDomain.crossJoin(broadcast(ref))
      .withColumn("excess", greatest(lit(0.0), col("nll") - col("nll_ref")))
      .withColumn("raw_w", exp(lit(eta) * col("excess")))
    val z = stepped.agg(sum(col("raw_w")).as("z"), count(lit(1)).as("k"))
    stepped.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"), col("nll"), col("excess"),
        round(lit(1.0 - eps) * col("raw_w") / col("z") + lit(eps) / col("k"), 6)
          .as("weight"))
      .orderBy(col("source"))
  }

  val domainReweightSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM counts),
      |dom AS (
      |  SELECT t.source, count(*) AS n_tokens,
      |    CAST(sum(CAST(floor(ln(CAST(c.c + 1 AS DOUBLE) /
      |      CAST(tot.n_total + tot.v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN counts c USING (token) CROSS JOIN tot
      |  GROUP BY t.source),
      |l AS (
      |  SELECT source, n_tokens, -CAST(s AS DOUBLE) / 1000000.0 / n_tokens AS nll,
      |    -CAST(sum(s) OVER () AS DOUBLE) / 1000000.0 / sum(n_tokens) OVER () AS nll_ref
      |  FROM dom),
      |e AS (
      |  SELECT source, n_tokens, nll,
      |    greatest(0.0, nll - nll_ref) AS excess,
      |    exp(1.0 * greatest(0.0, nll - nll_ref)) AS raw_w
      |  FROM l)
      |SELECT source, n_tokens, nll, excess,
      |  round(0.9 * raw_w / sum(raw_w) OVER () + 0.1 / count(*) OVER (), 6) AS weight
      |FROM e
      |ORDER BY source""".stripMargin
  /** E76 — two-phase anneal mix (the WSD decay-phase recipe: MiniCPM
    * — Hu et al. 2024 §4 — and the Llama-3 report both anneal the LAST
    * few percent of training on a quality-upweighted mix; the stable
    * phase samples sources by natural token mass). The plan table says,
    * per source: its stable-phase token allocation (∝ tokens), whether
    * it qualifies for the anneal phase (mean quality above the corpus
    * mean), and its anneal-phase allocation (∝ tokens over qualifying
    * sources only).
    *
    * Determinism discipline: per-doc quality quantizes to integer
    * micro-units at the DOC (round(q·1e4), the same expression the
    * ★-green E9 row rounds), so source sums are exact BIGINTs; "above
    * corpus mean" compares cross-multiplied sums (sum_s·n_total >
    * sum_total·n_s) — no float division anywhere; allocations are
    * integer div of BIGINT budgets. One corpus pass + a one-row totals
    * broadcast.
    */
  def annealMix(spark: SparkSession, dir: String,
                stableBudget: Long = 100000000L,
                annealBudget: Long = 10000000L): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        round(graft.functions.TextFns.qualityScore(col("text")) * 10000).cast("long").as("q_u"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("toks"),
        sum(col("q_u")).as("q_sum_u"))
    val totals = perSource.agg(
      sum(col("n_docs")).as("n_total"), sum(col("toks")).as("toks_total"),
      sum(col("q_sum_u")).as("q_total_u"))
    val flagged = perSource.crossJoin(broadcast(totals))
      .withColumn("hq", col("q_sum_u") * col("n_total") > col("q_total_u") * col("n_docs"))
    val hqTotal = flagged.agg(
      sum(when(col("hq"), col("toks")).otherwise(0L)).as("hq_toks_total"))
    flagged.crossJoin(broadcast(hqTotal))
      .select(col("source"), col("n_docs"), col("toks"), col("hq"),
        expr(s"(${stableBudget}L * toks) div toks_total").as("stable_alloc"),
        when(col("hq"), expr(s"(${annealBudget}L * toks) div hq_toks_total"))
          .otherwise(0L).as("anneal_alloc"))
      .orderBy(col("source"))
  }

  val annealMixSql: String =
    """WITH d AS (
      |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
      |    CAST(round(ln(CAST(len(string_split(text, ' ')) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')))
      |      * (1.0 - CAST(len(list_filter(string_split(text, ' '),
      |            x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |          / len(string_split(text, ' '))) * 10000) AS BIGINT) AS q_u
      |  FROM documents),
      |per_source AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(toks) AS BIGINT) AS toks, CAST(sum(q_u) AS BIGINT) AS q_sum_u
      |  FROM d GROUP BY source),
      |totals AS (
      |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
      |    CAST(sum(toks) AS BIGINT) AS toks_total,
      |    CAST(sum(q_sum_u) AS BIGINT) AS q_total_u
      |  FROM per_source),
      |flagged AS (
      |  SELECT p.*, t.toks_total,
      |    p.q_sum_u * t.n_total > t.q_total_u * p.n_docs AS hq
      |  FROM per_source p CROSS JOIN totals t),
      |hqt AS (
      |  SELECT CAST(sum(CASE WHEN hq THEN toks ELSE 0 END) AS BIGINT) AS hq_toks_total
      |  FROM flagged)
      |SELECT source, n_docs, toks, hq,
      |  CAST((CAST(100000000 AS BIGINT) * toks) // toks_total AS BIGINT) AS stable_alloc,
      |  CAST(CASE WHEN hq THEN (CAST(10000000 AS BIGINT) * toks) // hq_toks_total
      |            ELSE 0 END AS BIGINT) AS anneal_alloc
      |FROM flagged CROSS JOIN hqt
      |ORDER BY source""".stripMargin

  // ---- E92: k-anonymity audit ----------------------------------------

  /** E92 — k-anonymity audit over quasi-identifiers (Sweeney 2002: a
    * record is k-anonymous if its quasi-identifier combination is
    * shared by ≥ k records; the privacy review a training corpus with
    * user-derived fields runs beside E15's direct-identifier scrub).
    * Quasi-identifiers here: (nation, market segment, account-balance
    * band) on the customer dim. ONE group-count of the QI tuple, then
    * a bounded histogram over equivalence-class sizes — re-identifiable
    * rows are exactly those in classes below k. Both aggregates are
    * map-side combined; at 100 TB the shuffle carries |QI classes|.
    */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
      .agg(count(lit(1)).as("cls"))
    classes
      .select(
        when(col("cls") === 1, "k=1 (unique)")
          .when(col("cls") < k, s"k<$k (small)")
          .otherwise(s"k>=$k (anonymous)").as("bucket"),
        col("cls"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_classes"), sum(col("cls")).as("n_rows"))
      .crossJoin(broadcast(
        Tables.customer(spark, dir).agg(count(lit(1)).as("total"))))
      .select(col("bucket"), col("n_classes"), col("n_rows"),
        round(col("n_rows").cast("double") / col("total"), 6).as("row_share"))
      .orderBy(col("bucket"))
  }

  val kAnonymitySql: String =
    """WITH cls AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    count(*) AS cls
      |  FROM customer
      |  GROUP BY 1, 2, 3),
      |h AS (
      |  SELECT CASE WHEN cls = 1 THEN 'k=1 (unique)'
      |              WHEN cls < 5 THEN 'k<5 (small)'
      |              ELSE 'k>=5 (anonymous)' END AS bucket,
      |    count(*) AS n_classes, CAST(sum(cls) AS BIGINT) AS n_rows
      |  FROM cls GROUP BY 1)
      |SELECT bucket, n_classes, n_rows,
      |  round(CAST(n_rows AS DOUBLE) / (SELECT count(*) FROM customer), 6) AS row_share
      |FROM h
      |ORDER BY bucket""".stripMargin

  /** E105 — l-diversity audit (Machanavajjhala et al. 2007: k-anonymity
    * bounds class SIZE but a class can still be homogeneous in the
    * sensitive attribute — every member shares one segment — and then
    * membership alone discloses it; l-diversity requires ≥l distinct
    * sensitive values per QI class). QI here = (nation, balance band),
    * sensitive = market segment — E92's QI minus the sensitive column.
    *
    * Scale shape: one distinct-count aggregate over the QI tuple (the
    * only data-sized shuffle — |QI classes| rows out), then a bounded
    * histogram over diversity levels. Shares divide exact longs.
    */
  def lDiversity(spark: SparkSession, dir: String, l: Int = 3): DataFrame = {
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
        col("c_mktsegment"))
      .groupBy(col("c_nationkey"), col("bal_band"))
      .agg(count(lit(1)).as("cls"), countDistinct(col("c_mktsegment")).as("ldiv"))
    classes
      .select(
        when(col("ldiv") === 1, "l=1 (homogeneous)")
          .when(col("ldiv") < l, s"l<$l (low)")
          .otherwise(s"l>=$l (diverse)").as("bucket"),
        col("cls"), col("ldiv"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_classes"), sum(col("cls")).as("n_rows"),
        min(col("ldiv")).as("min_l"))
      .crossJoin(broadcast(
        Tables.customer(spark, dir).agg(count(lit(1)).as("total"))))
      .select(col("bucket"), col("n_classes"), col("n_rows"), col("min_l"),
        round(col("n_rows").cast("double") / col("total"), 6).as("row_share"))
      .orderBy(col("bucket"))
  }

  val lDiversitySql: String =
    """WITH cls AS (
      |  SELECT c_nationkey,
      |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
      |    count(*) AS cls,
      |    count(DISTINCT c_mktsegment) AS ldiv
      |  FROM customer
      |  GROUP BY 1, 2),
      |h AS (
      |  SELECT CASE WHEN ldiv = 1 THEN 'l=1 (homogeneous)'
      |              WHEN ldiv < 3 THEN 'l<3 (low)'
      |              ELSE 'l>=3 (diverse)' END AS bucket,
      |    count(*) AS n_classes, CAST(sum(cls) AS BIGINT) AS n_rows,
      |    CAST(min(ldiv) AS BIGINT) AS min_l
      |  FROM cls GROUP BY 1)
      |SELECT bucket, n_classes, n_rows, min_l,
      |  round(CAST(n_rows AS DOUBLE) / (SELECT count(*) FROM customer), 6) AS row_share
      |FROM h
      |ORDER BY bucket""".stripMargin

  /** E103 — training-shard export manifest (the last step of every
    * corpus materialization: split the corpus into N shards a data
    * loader can stream, and emit the manifest — doc/token/byte counts
    * and a content fingerprint per shard — that downstream training
    * jobs pin for reproducibility; the WebDataset/Parquet-shard
    * convention). Shard assignment is the coordination-free md5 draw
    * (content-keyed on doc_id, never round-robin — a re-run on
    * different parallelism must produce the SAME shards), and the
    * fingerprint is an ORDER-INDEPENDENT sum of per-doc 32-bit hashes
    * (commutative, so any partitioning/merge order yields the same
    * manifest — the property a distributed writer needs).
    *
    * Scale shape: one map-side-combined aggregate on a 4-bit key; the
    * skew audit (max/mean token ratio) rides the same pass via a
    * one-row broadcast of totals.
    */
  def shardManifest(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        (conv(substring(md5(concat(lit("shard-v1:"), col("doc_id"))), 1, 4), 16, 10)
          .cast("long") % nShards).as("shard_id"),
        (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")).as("doc_fp"))
    val shards = docs.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"), sum(col("doc_fp")).as("fingerprint"))
    shards
      .crossJoin(broadcast(shards.agg(
        sum(col("n_tokens")).as("tok_total"), count(lit(1)).as("n_sh"))))
      .select(col("shard_id"), col("n_docs"), col("n_tokens"), col("n_bytes"),
        col("fingerprint"),
        round(col("n_tokens") * col("n_sh") / col("tok_total").cast("double"), 4)
          .as("balance"))
      .orderBy(col("shard_id"))
  }

  val shardManifestSql: String =
    """WITH d AS (
      |  SELECT doc_id, n_chars,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    ('0x' || substr(md5('shard-v1:' || doc_id), 1, 4))::BIGINT % 16 AS shard_id,
      |    ('0x' || substr(md5(text), 1, 8))::BIGINT AS doc_fp
      |  FROM documents),
      |s AS (
      |  SELECT shard_id, count(*) AS n_docs,
      |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(n_chars) AS BIGINT) AS n_bytes,
      |    CAST(sum(doc_fp) AS BIGINT) AS fingerprint
      |  FROM d GROUP BY 1)
      |SELECT shard_id, n_docs, n_tokens, n_bytes, fingerprint,
      |  round(n_tokens * (SELECT count(*) FROM s)
      |    / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM s), 4) AS balance
      |FROM s
      |ORDER BY shard_id""".stripMargin

  /** E104 — length-grouped batch assembly audit (the `group_by_length`
    * device every trainer uses: batching similar-length sequences
    * together so per-batch padding-to-max wastes less compute;
    * Transformer-era folklore, e.g. fairseq/HF trainers). Both arms —
    * length-sorted batches vs content-hash "random" batches — are
    * computed in one query so the saving is the deliverable.
    *
    * Padding waste per batch = rows·max(len) − Σlen (the last partial
    * batch pads to its own max over its own rows). The oracle-checked
    * form uses a global (len, doc_id) order; at 100 TB the same
    * assignment comes from the E25/E13d two-pass bucket-offset cumsum
    * (rank within length-band buckets + broadcast bucket offsets), so
    * the dominant length band never lands in one task.
    */
  def lengthGroupedBatches(spark: SparkSession, dir: String, batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"),
        md5(concat(lit("batch-v1:"), col("doc_id"))).as("rk"))
    def arm(name: String, order: Seq[org.apache.spark.sql.Column]) = {
      val w = Window.orderBy(order: _*)
      docs
        .withColumn("batch", ((row_number().over(w) - 1) / batchSize).cast("long"))
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("rows"), max(col("len")).as("mx"), sum(col("len")).as("toks"))
        .agg(count(lit(1)).as("n_batches"),
          sum(col("toks")).as("real_tokens"),
          sum(col("rows") * col("mx") - col("toks")).as("pad_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"), col("real_tokens"),
          col("pad_tokens"),
          round(col("pad_tokens") / (col("pad_tokens") + col("real_tokens"))
            .cast("double"), 6).as("waste"))
    }
    arm("grouped", Seq(col("len").desc, col("doc_id")))
      .unionByName(arm("random", Seq(col("rk"), col("doc_id"))))
      .orderBy(col("strategy"))
  }

  val lengthGroupedBatchesSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len,
      |    md5('batch-v1:' || doc_id) AS rk
      |  FROM documents),
      |g AS (
      |  SELECT CAST((row_number() OVER (ORDER BY len DESC, doc_id) - 1) // 32 AS BIGINT) AS batch, len FROM d),
      |r AS (
      |  SELECT CAST((row_number() OVER (ORDER BY rk, doc_id) - 1) // 32 AS BIGINT) AS batch, len FROM d),
      |gb AS (
      |  SELECT batch, count(*) AS rows_, max(len) AS mx, sum(len) AS toks FROM g GROUP BY 1),
      |rb AS (
      |  SELECT batch, count(*) AS rows_, max(len) AS mx, sum(len) AS toks FROM r GROUP BY 1),
      |s AS (
      |  SELECT 'grouped' AS strategy, count(*) AS n_batches,
      |    CAST(sum(toks) AS BIGINT) AS real_tokens,
      |    CAST(sum(rows_ * mx - toks) AS BIGINT) AS pad_tokens
      |  FROM gb
      |  UNION ALL
      |  SELECT 'random', count(*),
      |    CAST(sum(toks) AS BIGINT), CAST(sum(rows_ * mx - toks) AS BIGINT)
      |  FROM rb)
      |SELECT strategy, n_batches, real_tokens, pad_tokens,
      |  round(pad_tokens / CAST(pad_tokens + real_tokens AS DOUBLE), 6) AS waste
      |FROM s
      |ORDER BY strategy""".stripMargin

  // ---- E93: text normalization battery -------------------------------

  /** E93 — text normalization (the canonicalization pass every corpus
    * runs before dedup/tokenization: case-fold, collapse whitespace
    * runs, trim — so byte-identical content hashes identically
    * regardless of formatting noise). Dirt is planted deterministically
    * (upper-cased / double-spaced by doc_id band) so the oracle
    * reproduces both the dirty input and the clean output; the
    * normalizer itself is three codegen'd string expressions, linear
    * in corpus bytes, no shuffle before the summary aggregate.
    */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val dirty = when(col("doc_id") % 3 === 0, upper(col("text")))
      .when(col("doc_id") % 3 === 1,
        regexp_replace(col("text"), " ", "  "))
      .otherwise(col("text"))
    Tables.documents(spark, dir)
      .withColumn("dirty", dirty)
      .withColumn("norm",
        trim(regexp_replace(lower(col("dirty")), "\\s+", " ")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dirty") =!= col("norm"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("dirty")) - length(col("norm"))).cast("long").as("bytes_removed"),
        sum(when(col("norm") === col("text"), 1L).otherwise(0L)).as("n_restored"))
      .orderBy(col("source"))
  }

  /** E44 — encoding-artifact repair (the ftfy-class pass web corpora
    * run before anything else: double-encoded UTF-8 read back as
    * latin-1/cp1252 litters text with "Ã©"-style digraphs, smart
    * punctuation arrives as "â€™", NBSP as "Â ", and stray control
    * bytes break tokenizers; public reference: the ftfy
    * "fixes-by-example" catalogue). Like E93 the dirt is planted
    * deterministically by doc band next to its INTENDED form, so both
    * engines reproduce corruption, repair, and the restored check; the
    * repair battery itself is four codegen'd string rewrites — linear
    * in corpus bytes, no shuffle before the summary.
    */
  def mojibakeRepair(spark: SparkSession, dir: String): DataFrame = {
    val intended = when(col("doc_id") % 5 === 0, regexp_replace(col("text"), "e", "é"))
      .when(col("doc_id") % 5 === 1, regexp_replace(col("text"), "a", "’"))
      .otherwise(col("text"))
    val dirty = when(col("doc_id") % 5 === 0, regexp_replace(col("text"), "e", "Ã©"))
      .when(col("doc_id") % 5 === 1, regexp_replace(col("text"), "a", "â€™"))
      .when(col("doc_id") % 5 === 2, regexp_replace(col("text"), " ", "Â "))
      .when(col("doc_id") % 5 === 3, concat(col("text"), lit("\u0007\u0001")))
      .otherwise(col("text"))
    def repair(c: Column): Column =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(c, "Ã©", "é"),
            "â€™", "’"),
          "Â ", " "),
        "[\\x01-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")
    Tables.documents(spark, dir)
      .withColumn("intended", intended)
      .withColumn("dirty", dirty)
      .withColumn("repaired", repair(col("dirty")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("dirty") =!= col("intended"), 1L).otherwise(0L)).as("n_corrupted"),
        sum(when(col("repaired") =!= col("dirty"), 1L).otherwise(0L)).as("n_fixed"),
        sum(when(col("repaired") === col("intended"), 1L).otherwise(0L)).as("n_restored"),
        sum(length(col("dirty")) - length(col("repaired"))).cast("long").as("chars_removed"))
      .orderBy(col("source"))
  }

  val mojibakeRepairSql: String =
    """WITH t AS (
      |  SELECT source, doc_id, text,
      |    CASE WHEN doc_id % 5 = 0 THEN replace(text, 'e', 'é')
      |         WHEN doc_id % 5 = 1 THEN replace(text, 'a', '’')
      |         ELSE text END AS intended,
      |    CASE WHEN doc_id % 5 = 0 THEN replace(text, 'e', 'Ã©')
      |         WHEN doc_id % 5 = 1 THEN replace(text, 'a', 'â€™')
      |         WHEN doc_id % 5 = 2 THEN replace(text, ' ', 'Â ')
      |         WHEN doc_id % 5 = 3 THEN text || chr(7) || chr(1)
      |         ELSE text END AS dirty
      |  FROM documents),
      |r AS (
      |  SELECT source, intended, dirty,
      |    regexp_replace(
      |      replace(replace(replace(dirty, 'Ã©', 'é'), 'â€™', '’'), 'Â ', ' '),
      |      '[\x01-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS repaired
      |  FROM t)
      |SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN dirty <> intended THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupted,
      |  CAST(sum(CASE WHEN repaired <> dirty THEN 1 ELSE 0 END) AS BIGINT) AS n_fixed,
      |  CAST(sum(CASE WHEN repaired = intended THEN 1 ELSE 0 END) AS BIGINT) AS n_restored,
      |  CAST(sum(length(dirty) - length(repaired)) AS BIGINT) AS chars_removed
      |FROM r
      |GROUP BY source
      |ORDER BY source""".stripMargin

  val textNormalizeSql: String =
    """WITH t AS (
      |  SELECT source, text,
      |    CASE WHEN doc_id % 3 = 0 THEN upper(text)
      |         WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ')
      |         ELSE text END AS dirty
      |  FROM documents),
      |n AS (
      |  SELECT source, text, dirty,
      |    trim(regexp_replace(lower(dirty), '\s+', ' ', 'g')) AS norm
      |  FROM t)
      |SELECT source,
      |  count(*) AS n_docs,
      |  CAST(sum(CASE WHEN dirty <> norm THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(sum(length(dirty) - length(norm)) AS BIGINT) AS bytes_removed,
      |  CAST(sum(CASE WHEN norm = text THEN 1 ELSE 0 END) AS BIGINT) AS n_restored
      |FROM n
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** E103 — fill-in-the-middle restructuring (Bavarian et al. 2022,
    * arXiv:2207.14255: move a random middle span to the end so an
    * autoregressive model learns infilling "for free"; the transform
    * every code-model data pipeline applies at ~0.5 rate). Per doc the
    * two cut points and the PSM-vs-SPM choice derive from md5 of the
    * doc id (the E16 mask-v1 device), so the restructuring is a pure
    * deterministic projection: same doc → same split on any run, any
    * partitioning, any engine. Docs under the minimum length pass
    * through in plain autoregressive form, as do the (1 - fim_rate)
    * unselected docs. Sentinel layout follows the paper: PSM =
    * pre+suf+mid, SPM = suf+pre+mid (mid always last so the model
    * completes it).
    *
    * Scale shape: one scan, zero exchanges — every column is codegen'd
    * string/hash arithmetic in the projection; at 100 TB this runs at
    * source parallelism and the sink sees the same row count in.
    */
  def fimSplit(spark: SparkSession, dir: String): DataFrame = {
    val n = length(col("text"))
    val hMode = conv(substring(md5(concat(lit("fim-v1:"), col("doc_id"))), 1, 4), 16, 10)
      .cast("long")
    val span = greatest(n - 1, lit(1))
    val c1 = lit(1) + conv(substring(md5(concat(lit("fimc1-v1:"), col("doc_id"))), 1, 6), 16, 10)
      .cast("long") % span
    val c2 = lit(1) + conv(substring(md5(concat(lit("fimc2-v1:"), col("doc_id"))), 1, 6), 16, 10)
      .cast("long") % span
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    val fimmed = n >= 10 && hMode % 100 < 50
    // (h % 200) >= 100  ⟺  floor(h/100) is odd — the SPM coin
    val spm = hMode % 200 >= 100
    val pre = expr("substring(text, 1, CAST(cut_lo AS INT))")
    val mid = expr("substring(text, CAST(cut_lo AS INT) + 1, CAST(cut_hi - cut_lo AS INT))")
    val suf = expr("substring(text, CAST(cut_hi AS INT) + 1)")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), n.cast("long").as("n_chars_in"),
        when(fimmed, when(spm, lit("spm")).otherwise(lit("psm")))
          .otherwise(lit("ar")).as("mode"),
        when(fimmed, lo).otherwise(lit(0L)).as("cut_lo"),
        when(fimmed, hi).otherwise(lit(0L)).as("cut_hi"))
      .select(col("doc_id"), col("mode"), col("cut_lo"), col("cut_hi"),
        when(col("mode") === "psm",
          concat(lit("<|fim_pre|>"), pre, lit("<|fim_suf|>"), suf, lit("<|fim_mid|>"), mid))
          .when(col("mode") === "spm",
            concat(lit("<|fim_suf|>"), suf, lit("<|fim_pre|>"), pre, lit("<|fim_mid|>"), mid))
          .otherwise(col("text")).as("rendered"),
        (col("cut_hi") - col("cut_lo")).as("n_middle"),
        col("n_chars_in"))
      .withColumn("n_chars_out", length(col("rendered")).cast("long"))
      .orderBy(col("doc_id"))
  }

  val fimSplitSql: String =
    """WITH b AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    ('0x' || substr(md5('fim-v1:' || doc_id), 1, 4))::BIGINT AS h_mode,
      |    1 + ('0x' || substr(md5('fimc1-v1:' || doc_id), 1, 6))::BIGINT % greatest(length(text) - 1, 1) AS c1,
      |    1 + ('0x' || substr(md5('fimc2-v1:' || doc_id), 1, 6))::BIGINT % greatest(length(text) - 1, 1) AS c2
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, text, n,
      |    CASE WHEN n >= 10 AND h_mode % 100 < 50
      |         THEN CASE WHEN (h_mode % 200) >= 100 THEN 'spm' ELSE 'psm' END
      |         ELSE 'ar' END AS mode,
      |    CASE WHEN n >= 10 AND h_mode % 100 < 50 THEN least(c1, c2) ELSE 0 END AS cut_lo,
      |    CASE WHEN n >= 10 AND h_mode % 100 < 50 THEN greatest(c1, c2) ELSE 0 END AS cut_hi
      |  FROM b),
      |r AS (
      |  SELECT doc_id, mode, cut_lo, cut_hi,
      |    CASE WHEN mode = 'psm' THEN
      |           '<|fim_pre|>' || substr(text, 1, CAST(cut_lo AS INT))
      |        || '<|fim_suf|>' || substr(text, CAST(cut_hi AS INT) + 1)
      |        || '<|fim_mid|>' || substr(text, CAST(cut_lo AS INT) + 1, CAST(cut_hi - cut_lo AS INT))
      |         WHEN mode = 'spm' THEN
      |           '<|fim_suf|>' || substr(text, CAST(cut_hi AS INT) + 1)
      |        || '<|fim_pre|>' || substr(text, 1, CAST(cut_lo AS INT))
      |        || '<|fim_mid|>' || substr(text, CAST(cut_lo AS INT) + 1, CAST(cut_hi - cut_lo AS INT))
      |         ELSE text END AS rendered,
      |    cut_hi - cut_lo AS n_middle,
      |    CAST(n AS BIGINT) AS n_chars_in
      |  FROM c)
      |SELECT doc_id, mode, cut_lo, cut_hi, rendered, n_middle, n_chars_in,
      |  CAST(length(rendered) AS BIGINT) AS n_chars_out
      |FROM r
      |ORDER BY doc_id""".stripMargin
}

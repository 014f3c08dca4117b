package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Tables}

/** SFT / instruction-tuning data shaping tier: the operators that turn
  * interaction logs into supervised chat training data — rendered
  * transcripts with LOSS-MASK spans (train on assistant turns only),
  * role-sequence format validation, and best-of-n rejection-sampling
  * selection. Public anchors: Ouyang et al. 2022 (InstructGPT SFT
  * masking), Touvron et al. 2023 (Llama 2 rejection sampling),
  * Zheng et al. 2023 (chat-template conventions).
  *
  * Reference tie-in: the sample's interaction events land in the same
  * unified log store these operators read (aws-samples
  * unified-log-aggregation-and-analytics README:16 — one aggregated
  * event stream); the SFT shaping is the downstream consumer a
  * training pipeline bolts onto that store.
  */
object SftData {

  private val GapUs = 30L * 60L * 1000000L // 30-min inactivity gap (E100)
  private val MaxTurns = 16                // context cap (E100)

  /** Role projection: the interaction log's event types map onto chat
    * roles (requests → user, system responses → assistant). Pure
    * column CASE — deterministic on any engine.
    */
  private def roleOf(eventType: org.apache.spark.sql.Column) =
    when(eventType.isin("click", "view", "signup"), "user")
      .otherwise("assistant") // purchase, error: system-emitted outcomes

  /** Shared sessionize + turn rendering (the E100 machinery): gap
    * sessionize per user, (us, event_id) total order, fixed-point
    * decimal value rendering, context-cap truncation.
    */
  private def turns(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        col("event_type"),
        concat(roleOf(col("event_type")), lit(": ["), col("event_type"),
          lit("] v="), col("value").cast("decimal(10,2)").cast("string")).as("turn"),
        roleOf(col("event_type")).as("role"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull || col("us") - col("prev") > GapUs).cast("long"))
      .withColumn("session_no", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("turn_rank", row_number().over(
        Window.partitionBy(col("user_id"), col("session_no"))
          .orderBy(col("us"), col("event_id"))))
      .filter(col("turn_rank") <= MaxTurns)
  }

  private val turnsSql: String =
    """e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |    CASE WHEN event_type IN ('click','view','signup')
      |         THEN 'user' ELSE 'assistant' END AS role,
      |    (CASE WHEN event_type IN ('click','view','signup')
      |          THEN 'user' ELSE 'assistant' END)
      |      || ': [' || event_type || '] v='
      |      || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR) AS turn
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
      |t AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, session_no
      |                                 ORDER BY us, event_id) AS turn_rank
      |    FROM s2)
      |  WHERE turn_rank <= 16)""".stripMargin

  /** E105 — loss-mask span materialization (the SFT masking contract:
    * the model trains on ASSISTANT tokens only; user/system turns are
    * context with loss weight 0 — Ouyang et al. 2022 §3.5's supervised
    * fine-tuning setup, and the `train_on_inputs=false` convention of
    * every public SFT trainer). Renders each session's transcript
    * (newline-joined typed turns) and emits the character spans the
    * loss applies to — `start-end` offsets of every assistant turn in
    * the rendered string — plus the mask ratio in exact basis points.
    *
    * Determinism: offsets are exact-integer prefix sums of rendered
    * turn lengths over the (us, event_id) total order; the mask ratio
    * is an integer floor division — nothing floats.
    *
    * Scale shape: the ONE user_id exchange drives gap-lag, session
    * cumsum, per-session rank AND the offset prefix sum (same
    * partitioning, Spark reuses the exchange); the span aggregate is
    * bounded at cap × turn bytes per group, same as the transcript.
    */
  def lossMask(spark: SparkSession, dir: String): DataFrame = {
    val ws = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("us"), col("event_id"))
    turns(spark, dir)
      .withColumn("tlen", length(col("turn")).cast("long"))
      .withColumn("start",
        coalesce(sum(col("tlen") + 1).over(
          ws.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("end", col("start") + col("tlen"))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_turns"),
        (sum(col("tlen")) + count(lit(1)) - 1L).as("total_chars"),
        coalesce(sum(when(col("role") === "assistant", col("tlen"))), lit(0L))
          .as("train_chars"),
        array_join(transform(
          filter(
            array_sort(collect_list(struct(col("us"), col("event_id"),
              col("role"),
              concat(col("start").cast("string"), lit("-"),
                col("end").cast("string")).as("span")))),
            s => s.getField("role") === "assistant"),
          s => s.getField("span")), ";").as("train_spans"))
      .withColumn("mask_bp",
        expr("train_chars * 10000 div total_chars"))
      .select(col("user_id"), col("session_no"), col("n_turns"),
        col("total_chars"), col("train_chars"), col("mask_bp"),
        col("train_spans"))
      .orderBy(col("user_id"), col("session_no"))
  }

  val lossMaskSql: String =
    s"WITH $turnsSql,\n" +
    """o AS (
      |  SELECT *, length(turn) AS tlen,
      |    CAST(coalesce(sum(length(turn) + 1) OVER (
      |      PARTITION BY user_id, session_no ORDER BY us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s_off
      |  FROM t)
      |SELECT user_id, session_no,
      |  count(*) AS n_turns,
      |  CAST(sum(tlen) + count(*) - 1 AS BIGINT) AS total_chars,
      |  CAST(coalesce(sum(tlen) FILTER (WHERE role = 'assistant'), 0) AS BIGINT)
      |    AS train_chars,
      |  CAST(coalesce(sum(tlen) FILTER (WHERE role = 'assistant'), 0) * 10000
      |    // (sum(tlen) + count(*) - 1) AS BIGINT) AS mask_bp,
      |  coalesce(string_agg(s_off || '-' || (s_off + tlen), ';' ORDER BY us, event_id)
      |    FILTER (WHERE role = 'assistant'), '') AS train_spans
      |FROM o
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** E106 — chat-format validation (the QA gate every SFT pipeline
    * runs before training: roles must alternate, a conversation must
    * not OPEN with the assistant, and a session with no assistant turn
    * teaches nothing — sessions failing any rule are dropped or
    * repaired upstream of the trainer; the validator every public chat
    * template implementation ships).
    *
    * Scale shape: one lag over the already-paid session window + one
    * map-side-combined aggregate; flags are exact integer counts.
    */
  def chatValidate(spark: SparkSession, dir: String): DataFrame = {
    val ws = Window.partitionBy(col("user_id"), col("session_no"))
      .orderBy(col("us"), col("event_id"))
    turns(spark, dir)
      .withColumn("prev_role", lag(col("role"), 1).over(ws))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        count(lit(1)).as("n_turns"),
        coalesce(sum((col("role") === col("prev_role")).cast("long")), lit(0L))
          .as("n_breaks"),
        max(when(col("turn_rank") === 1,
          (col("role") === "assistant").cast("long"))).as("opens_assistant_i"),
        max((col("role") === "assistant").cast("long")).as("has_assistant_i"))
      .select(col("user_id"), col("session_no"), col("n_turns"),
        col("n_breaks"),
        (col("opens_assistant_i") === 1L).as("opens_assistant"),
        (col("has_assistant_i") === 1L).as("has_assistant"),
        (col("n_breaks") === 0L && col("opens_assistant_i") === 0L &&
          col("has_assistant_i") === 1L).as("valid"))
      .orderBy(col("user_id"), col("session_no"))
  }

  val chatValidateSql: String =
    s"WITH $turnsSql,\n" +
    """v AS (
      |  SELECT *, lag(role) OVER (PARTITION BY user_id, session_no
      |                            ORDER BY us, event_id) AS prev_role
      |  FROM t)
      |SELECT user_id, session_no,
      |  count(*) AS n_turns,
      |  CAST(coalesce(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_breaks,
      |  max(CASE WHEN turn_rank = 1 AND role = 'assistant' THEN 1 ELSE 0 END) = 1
      |    AS opens_assistant,
      |  max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) = 1 AS has_assistant,
      |  coalesce(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END), 0) = 0
      |    AND max(CASE WHEN turn_rank = 1 AND role = 'assistant' THEN 1 ELSE 0 END) = 0
      |    AND max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) = 1 AS valid
      |FROM v
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** E107 — best-of-n rejection-sampling selection (Touvron et al.
    * 2023 §3.2.2 / RFT: per prompt, sample n candidates, keep the
    * highest-reward one above a floor — the selection that turns a
    * scored candidate pool into an SFT corpus). Candidate pools are
    * the deterministic md5 prompt-groups within a language (the E13d2
    * bucket device standing in for prompt ids); the reward is the E9
    * scalar judge; the winner must clear the floor AND its margin over
    * the runner-up is reported (low-margin wins are ambiguous labels a
    * curator audits first).
    *
    * Scale shape: one scan scores; ONE (lang, grp) exchange drives the
    * rank and the runner-up lead — group count is bounded (langs ×
    * 16), group size corpus/groups; no self-join, no pair blow-up.
    */
  def rejectionSample(spark: SparkSession, dir: String,
                      rewardFloor: Double = 1.0): DataFrame = {
    val wg = Window.partitionBy(col("lang"), col("grp"))
      .orderBy(col("q").desc, col("doc_id"))
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat(lit("rs-v1:"), col("doc_id"))), 1, 4), 16, 10)
          .cast("long") % 16L).as("grp"),
        round(graft.functions.TextFns.qualityScore(col("text")), 4).as("q"))
      .withColumn("rk", row_number().over(wg))
      .withColumn("runner_q", lead(col("q"), 1).over(wg))
      .withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy(col("lang"), col("grp"))))
    scored.filter(col("rk") === 1)
      .withColumn("margin",
        when(col("runner_q").isNotNull, round(col("q") - col("runner_q"), 4)))
      .select(col("lang"), col("grp"), col("n_candidates"),
        col("doc_id").as("best_id"), col("q").as("best_q"),
        col("runner_q"), col("margin"),
        (col("q") >= rewardFloor).as("kept"))
      .orderBy(col("lang"), col("grp"))
  }

  /** E110 — MLM mask materialization (Devlin et al. 2018 §3.1: mask
    * 15% of positions; of those 80% become [MASK], 10% a random vocab
    * token, 10% stay — the BERT-family objective a data pipeline
    * materializes ahead of training, the encoder-side sibling of
    * E102's T5 span corruption). Every decision is an md5 lottery per
    * (doc, pos) (the E16 mask-v1 device) so corruption is
    * replay-deterministic across retries/executors; the random
    * replacement is the vocab token at a lottery-chosen GLOBAL RANK,
    * resolved through the E25 distributed range-rank (no
    * single-partition vocabulary window).
    *
    * Scale shape: flags are one codegen'd projection over exploded
    * positions; only the ~1.5% random-replacement arm joins the
    * vocab (thin int rank key), rejoined on (doc, pos); the per-doc
    * reassembly pays ONE doc-keyed exchange.
    */
  def mlmMasks(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("token"))
      .withColumn("masked",
        conv(substring(md5(concat(lit("mlm-v1:"), col("doc_id"), lit(":"), col("pos"))),
          1, 4), 16, 10).cast("long") % 100L < 15L)
      .withColumn("op",
        conv(substring(md5(concat(lit("mlmop-v1:"), col("doc_id"), lit(":"), col("pos"))),
          1, 4), 16, 10).cast("long") % 10L)
    // localCheckpoint: ranks materialize ONCE (vocab-bounded), which
    // both discharges rankedByRange's single-subtree contract by
    // construction (no fan-out can split the range exchange) and makes
    // the nVocab count below read the cached table instead of paying a
    // second corpus tokenization pass
    val vocab = Materialize(Extras.rankedByRange(
      toks.select(col("token")).distinct(), Seq("token"))
      .select(col("token").as("repl_token"), col("rank")), "mlm-vocab")
    val nVocab = vocab.agg(count(lit(1))).first().getLong(0)
    val repl = toks
      .filter(col("masked") && col("op") === 8L)
      .withColumn("rank",
        conv(substring(md5(concat(lit("mlmr-v1:"), col("doc_id"), lit(":"), col("pos"))),
          1, 6), 16, 10).cast("long") % nVocab + 1L)
      .join(vocab.hint("shuffle_hash"), "rank")
      .select(col("doc_id"), col("pos"), col("repl_token"))
    toks.join(repl, Seq("doc_id", "pos"), "left")
      .withColumn("new_token",
        when(!col("masked"), col("token"))
          .when(col("op") < 8L, lit("[MASK]"))
          .when(col("op") === 8L, col("repl_token"))
          .otherwise(col("token")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        coalesce(sum(col("masked").cast("long")), lit(0L)).as("n_masked"),
        coalesce(sum((col("masked") && col("op") < 8L).cast("long")), lit(0L))
          .as("n_mask_tok"),
        coalesce(sum((col("masked") && col("op") === 8L).cast("long")), lit(0L))
          .as("n_random"),
        coalesce(sum((col("masked") && col("op") === 9L).cast("long")), lit(0L))
          .as("n_keep"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("new_token")))),
          s => s.getField("new_token")), " ").as("corrupted"),
        array_join(transform(
          filter(array_sort(collect_list(struct(col("pos"), col("masked"),
            col("token")))), s => s.getField("masked")),
          s => s.getField("token")), " ").as("labels"))
      .orderBy(col("doc_id"))
  }

  val mlmMasksSql: String =
    """WITH toks AS (
      |  SELECT doc_id, u.token, u.pos,
      |    ('0x' || substr(md5('mlm-v1:' || doc_id || ':' || u.pos), 1, 4))::BIGINT
      |      % 100 < 15 AS masked,
      |    ('0x' || substr(md5('mlmop-v1:' || doc_id || ':' || u.pos), 1, 4))::BIGINT
      |      % 10 AS op
      |  FROM (SELECT doc_id,
      |          generate_subscripts(string_split(text, ' '), 1) AS pos,
      |          unnest(string_split(text, ' ')) AS token
      |        FROM documents) u),
      |vocab AS (
      |  SELECT token AS repl_token,
      |    row_number() OVER (ORDER BY token) AS rank
      |  FROM (SELECT DISTINCT token FROM toks)),
      |nv AS (SELECT count(*) AS n FROM vocab),
      |repl AS (
      |  SELECT doc_id, pos, repl_token
      |  FROM (SELECT doc_id, pos,
      |          ('0x' || substr(md5('mlmr-v1:' || doc_id || ':' || pos), 1, 6))::BIGINT
      |            % (SELECT n FROM nv) + 1 AS rank
      |        FROM toks WHERE masked AND op = 8)
      |  JOIN vocab USING (rank)),
      |r AS (
      |  SELECT t.doc_id, t.pos, t.token, t.masked, t.op,
      |    CASE WHEN NOT t.masked THEN t.token
      |         WHEN t.op < 8 THEN '[MASK]'
      |         WHEN t.op = 8 THEN repl.repl_token
      |         ELSE t.token END AS new_token
      |  FROM toks t LEFT JOIN repl ON t.doc_id = repl.doc_id AND t.pos = repl.pos)
      |SELECT doc_id,
      |  count(*) AS n_toks,
      |  CAST(coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_masked,
      |  CAST(coalesce(sum(CASE WHEN masked AND op < 8 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_mask_tok,
      |  CAST(coalesce(sum(CASE WHEN masked AND op = 8 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_random,
      |  CAST(coalesce(sum(CASE WHEN masked AND op = 9 THEN 1 ELSE 0 END), 0) AS BIGINT)
      |    AS n_keep,
      |  string_agg(new_token, ' ' ORDER BY pos) AS corrupted,
      |  coalesce(string_agg(token, ' ' ORDER BY pos) FILTER (WHERE masked), '')
      |    AS labels
      |FROM r
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val rejectionSampleSql: String =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |s AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5('rs-v1:' || doc_id), 1, 4))::BIGINT % 16 AS grp,
      |    round(ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)), 4) AS q
      |  FROM t),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY lang, grp ORDER BY q DESC, doc_id) AS rk,
      |    lead(q) OVER (PARTITION BY lang, grp ORDER BY q DESC, doc_id) AS runner_q,
      |    count(*) OVER (PARTITION BY lang, grp) AS n_candidates
      |  FROM s)
      |SELECT lang, grp, n_candidates, doc_id AS best_id, q AS best_q,
      |  runner_q,
      |  CASE WHEN runner_q IS NOT NULL THEN round(q - runner_q, 4) END AS margin,
      |  q >= 1.0 AS kept
      |FROM r WHERE rk = 1
      |ORDER BY lang, grp""".stripMargin

  // ---- E116: extractive-QA span materialization ----------------------

  /** Answer-span mining for extractive-QA data (the SQuAD-style
    * materialization step: given a question's answer string, locate
    * its character span in the context so the training target is a
    * (start, length) pair — Rajpurkar et al. 2016). For each probe
    * term this emits the first-match offset, the total match count,
    * and a fixed ±20-char context window, keeping the `perTerm`
    * densest documents per term.
    *
    * Determinism: offsets are exact integers (`instr`, 1-based in both
    * engines), the match count is a length-difference integer ratio,
    * and the context substring uses identical clamp semantics.
    *
    * Scale shape: the probe list rides a literal-array explode (a
    * Generate — NO join reaches the plan), the scan stays one
    * codegen'd projection + filter, and the per-term top-k is a
    * bounded window over ≤ |terms| partitions.
    */
  val spanTerms: Seq[String] = Seq("spark", "merge", "vector", "window")

  def answerSpans(spark: SparkSession, dir: String, perTerm: Int = 20): DataFrame = {
    val hits = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(array(spanTerms.map(lit): _*)).as("term"))
      .withColumn("first_pos", expr("instr(text, term)").cast("long"))
      .filter(col("first_pos") > 0)
      .withColumn("n_matches",
        ((length(col("text")) - length(expr("replace(text, term, '')"))) /
          length(col("term"))).cast("long"))
      .withColumn("context",
        expr("substring(text, greatest(1, cast(first_pos as int) - 20), 60)"))
    hits
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("term"))
          .orderBy(col("n_matches").desc, col("doc_id"))))
      .filter(col("rk") <= perTerm)
      .select(col("term"), col("doc_id"), col("first_pos"), col("n_matches"),
        col("context"))
      .orderBy(col("term"), col("doc_id"))
  }

  val answerSpansSql: String =
    """WITH t AS (SELECT unnest(['spark','merge','vector','window']) AS term),
      |hits AS (
      |  SELECT term, doc_id,
      |    CAST(instr(text, term) AS BIGINT) AS first_pos,
      |    CAST((length(text) - length(replace(text, term, '')))
      |         / length(term) AS BIGINT) AS n_matches,
      |    substr(text, greatest(1, CAST(instr(text, term) AS INT) - 20), 60)
      |      AS context
      |  FROM documents CROSS JOIN t
      |  WHERE instr(text, term) > 0),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY term
      |    ORDER BY n_matches DESC, doc_id) AS rk
      |  FROM hits)
      |SELECT term, doc_id, first_pos, n_matches, context
      |FROM r WHERE rk <= 20
      |ORDER BY term, doc_id""".stripMargin

  // ---- E117: tool-call trace validation ------------------------------

  /** Function-calling SFT validation (the schema-conformance gate a
    * tool-use corpus passes before training: does each rendered tool
    * call PARSE, does it carry the required argument keys, are the
    * argument values in range — the checks public function-calling
    * datasets run, e.g. Gorilla / BFCL's AST-parse rate, Patil et al.
    * 2023). Events render to canonical tool-call JSON; a seeded
    * md5-lottery truncates ~1/8 of them mid-string, simulating the
    * cut-off-generation failure mode the validator exists to catch.
    *
    * Determinism: the corruption lottery is the E106 md5 scheme
    * (identical hex prefixes cross-engine); validity reduces to JSON
    * parse + key-presence BOOLEANS (no extracted text is emitted —
    * engines may re-render numbers differently, so only CASTS of
    * extracted values feed comparisons); rates are exact integer
    * basis-point floors.
    *
    * Scale shape: one codegen'd render + parse projection over the
    * event scan and ONE tool-keyed hash aggregate (map-side combined);
    * nothing joins, nothing broadcasts.
    */
  /** Per-call render + validity flags over an events-shaped frame —
    * pure column expressions, shared verbatim by the batch audit and
    * the E117s streaming window (graft.streaming.LogPipeline
    * .toolCallAuditStream), so stream/batch parity is by construction.
    */
  def toolCallFlags(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_id"), col("event_type").as("tool"),
        concat(lit("{\"tool\":\""), col("event_type"),
          lit("\",\"args\":{\"value\":"),
          col("value").cast("decimal(10,2)").cast("string"),
          lit(",\"user\":"), col("user_id").cast("string"), lit("}}"))
          .as("payload"))
      .withColumn("trunc",
        conv(substring(md5(concat(lit("tool-v1:"), col("event_id").cast("string"))),
          1, 4), 16, 10).cast("long") % 8L === 0L)
      .withColumn("wire",
        when(col("trunc"), substring(col("payload"), 1, 25))
          .otherwise(col("payload")))
      .withColumn("v", get_json_object(col("wire"), "$.args.value").cast("double"))
      .withColumn("parse_ok",
        get_json_object(col("wire"), "$.tool").isNotNull &&
          get_json_object(col("wire"), "$.args.user").isNotNull &&
          col("v").isNotNull)
      .select(col("ts"), col("tool"), col("trunc"), col("parse_ok"), col("v"))

  def toolCallAudit(spark: SparkSession, dir: String): DataFrame = {
    toolCallFlags(Tables.events(spark, dir))
      .groupBy(col("tool"))
      .agg(
        count(lit(1)).as("n_calls"),
        sum(col("parse_ok").cast("long")).as("n_valid"),
        sum(col("trunc").cast("long")).as("n_truncated"),
        sum((col("parse_ok") && col("v") >= 0.0 && col("v") < 250.0).cast("long"))
          .as("n_in_range"))
      .select(col("tool"), col("n_calls"), col("n_valid"), col("n_truncated"),
        col("n_in_range"),
        expr("n_valid * 10000 div n_calls").as("valid_bp"))
      .orderBy(col("tool"))
  }

  val toolCallAuditSql: String =
    """WITH w AS (
      |  SELECT event_type AS tool,
      |    CASE WHEN ('0x' || substr(md5('tool-v1:' || event_id), 1, 4))::BIGINT
      |              % 8 = 0
      |         THEN substr(payload, 1, 25) ELSE payload END AS wire,
      |    ('0x' || substr(md5('tool-v1:' || event_id), 1, 4))::BIGINT % 8 = 0
      |      AS trunc
      |  FROM (SELECT event_id, event_type, user_id,
      |          '{"tool":"' || event_type || '","args":{"value":'
      |            || CAST(CAST(value AS DECIMAL(10,2)) AS VARCHAR)
      |            || ',"user":' || CAST(user_id AS VARCHAR) || '}}' AS payload
      |        FROM events)),
      |p AS (
      |  SELECT tool, trunc,
      |    CAST(json_extract_string(jw, '$.args.value') AS DOUBLE) AS v,
      |    json_extract_string(jw, '$.tool') IS NOT NULL
      |      AND json_extract_string(jw, '$.args.user') IS NOT NULL
      |      AND json_extract_string(jw, '$.args.value') IS NOT NULL AS parse_ok
      |  FROM (SELECT tool, trunc,
      |          CASE WHEN json_valid(wire) THEN wire END AS jw
      |        FROM w))
      |SELECT tool,
      |  CAST(count(*) AS BIGINT) AS n_calls,
      |  CAST(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      |  CAST(sum(CASE WHEN trunc THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
      |  CAST(sum(CASE WHEN parse_ok AND v >= 0.0 AND v < 250.0
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range,
      |  CAST(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) * 10000
      |       // count(*) AS BIGINT) AS valid_bp
      |FROM p
      |GROUP BY tool
      |ORDER BY tool""".stripMargin
}

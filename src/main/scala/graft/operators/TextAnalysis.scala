package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.TextFns
import graft.plans.TopKAgg
import graft.sources.{Materialize, Tables}

/** Text-analysis queries over `documents` (SURVEY §2 E8–E11). */
object TextAnalysis {

  /** E10 — whitespace + BPE-ish token counting. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      TextFns.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
      length(col("text")).cast("long").as("text_chars"))
    .orderBy(col("doc_id"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS bpe_tokens,
      |  CAST(length(text) AS BIGINT) AS text_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** E10b — budget-grade token counts from the real BPE kernel
    * (plans/BpeTokenizer, Sennrich et al. 2016) next to the regex
    * pre-token count it refines; `fertility` (BPE tokens per word, the
    * standard tokenizer metric) shows how finely the merge table splits
    * each document. ★ oracle-checked since r11: the greedy merge loop
    * IS replicated in DuckDB as a recursive CTE over the DISTINCT
    * pre-token vocabulary (see [[bpeOracleChain]]) — loop vs
    * declarative-recursion agreeing on every count is the strongest
    * cross-engine check an iterative kernel admits; KernelSpec still
    * pins exact token vectors.
    */
  def tokenCountBpe(spark: SparkSession, dir: String): DataFrame =
    Tables.atComputeParallelism(Tables.documents(spark, dir)).select(
      col("doc_id"),
      graft.plans.BpeTokenizer.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"),
      TextFns.bpeTokenCount(col("text")).cast("long").as("pre_tokens"))
    .withColumn("fertility",
      round(col("bpe_tokens").cast("double") / col("pre_tokens"), 4))
    .orderBy(col("doc_id"))

  /** E10d — BYTE-level BPE token counts (plans/BpeByteTokenizer, the
    * GPT-2-class scheme) next to E10b's char-BPE count and the true
    * UTF-8 byte length; `bytes_per_token` is the compression ratio
    * frontier tokenizer reports quote. ★ oracle-checked since r11 via
    * the same recursive-CTE merge replica as E10b, run over BOTH merge
    * systems (byte pretokens carry GPT-2's leading-space convention);
    * KernelSpec pins exact token vectors against an independent
    * replica.
    */
  def tokenCountByte(spark: SparkSession, dir: String): DataFrame =
    Tables.atComputeParallelism(Tables.documents(spark, dir)).select(
      col("doc_id"),
      graft.plans.BpeByteTokenizer.bpeByteTokenCount(col("text")).cast("long").as("byte_tokens"),
      graft.plans.BpeTokenizer.bpeTokenCount(col("text")).cast("long").as("char_tokens"),
      expr("octet_length(text)").cast("long").as("n_bytes"))
    .withColumn("bytes_per_token",
      round(col("n_bytes").cast("double") / col("byte_tokens"), 4))
    .orderBy(col("doc_id"))

  /** DuckDB replica of the greedy lowest-rank BPE merge loop
    * (BpeTokenizer.encodeWord / the shared inference loop), as a
    * recursive CTE over the DISTINCT pre-token vocabulary. Encoding
    * device: a word's symbol state is a string with every symbol
    * individually `|`-wrapped (`spark` → `|s||p||a||r||k|`), so
    * applying the best-ranked merge everywhere left-to-right is
    * DuckDB's own `replace` (left-to-right, non-overlapping — exactly
    * the kernel's skip-after-merge scan), and mid-symbol false matches
    * are impossible because the pattern carries both wrappers. The
    * recursion ends when no merge pattern occurs; token count =
    * surviving separator count + 1. Corpus text is ASCII (pinned by
    * the generator), so char-split == byte-split and `|` never appears
    * as a symbol. VALUES are generated from the LIVE merge table —
    * oracle and kernel can't drift.
    */
  private def bpeOracleChain(p: String, preRegex: String,
                             ms: Seq[(String, String)]): String = {
    val seen = scala.collection.mutable.HashSet.empty[(String, String)]
    val values = ms.zipWithIndex.flatMap { case ((a, b), i) =>
      if (seen.add((a, b))) {
        def q(s: String) = s.replace("'", "''")
        Some(s"($i, '|${q(a)}||${q(b)}|', '|${q(a)}${q(b)}|')")
      } else None // putIfAbsent: first rank wins, like ranksOf
    }.mkString(",\n    ")
    s"""${p}merges(rank, pat, rep) AS (
       |  SELECT * FROM (VALUES
       |    $values) v(rank, pat, rep)),
       |${p}words AS (
       |  SELECT DISTINCT unnest(regexp_extract_all(text, '$preRegex')) AS w
       |  FROM documents),
       |${p}enc(w, s) AS (
       |  SELECT w, regexp_replace(w, '(.)', '|${"\\"}1|', 'g') FROM ${p}words
       |  UNION ALL
       |  SELECT e.w, replace(e.s, m.pat, m.rep)
       |  FROM ${p}enc e JOIN ${p}merges m ON m.rank = (
       |    SELECT min(m2.rank) FROM ${p}merges m2 WHERE contains(e.s, m2.pat))),
       |${p}wc AS (
       |  SELECT w, length(s) - length(replace(s, '||', '|')) + 1 AS ntok
       |  FROM ${p}enc e
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}merges m WHERE contains(e.s, m.pat))),
       |${p}dw AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$preRegex')) AS w
       |  FROM documents),
       |${p}counts AS (
       |  SELECT d.doc_id, CAST(sum(wc.ntok) AS BIGINT) AS ntoks
       |  FROM ${p}dw d JOIN ${p}wc wc USING (w) GROUP BY 1)""".stripMargin
  }

  private val charPreRegex = """[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"""
  private val bytePreRegex = """ ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s"""

  val tokenCountBpeSql: String =
    s"""WITH RECURSIVE ${bpeOracleChain("c", charPreRegex, graft.plans.BpeTokenizer.merges)}
       |SELECT d.doc_id,
       |  c.ntoks AS bpe_tokens,
       |  CAST(len(regexp_extract_all(d.text, '$charPreRegex')) AS BIGINT) AS pre_tokens,
       |  round(CAST(c.ntoks AS DOUBLE)
       |    / len(regexp_extract_all(d.text, '$charPreRegex')), 4) AS fertility
       |FROM documents d JOIN ccounts c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val tokenCountByteSql: String =
    s"""WITH RECURSIVE ${bpeOracleChain("b", bytePreRegex, graft.plans.BpeByteTokenizer.merges)},
       |${bpeOracleChain("c", charPreRegex, graft.plans.BpeTokenizer.merges)}
       |SELECT d.doc_id,
       |  b.ntoks AS byte_tokens,
       |  c.ntoks AS char_tokens,
       |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       |  round(CAST(octet_length(encode(d.text)) AS DOUBLE) / b.ntoks, 4)
       |    AS bytes_per_token
       |FROM documents d
       |JOIN bcounts b USING (doc_id)
       |JOIN ccounts c USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** E9 — quality scoring: log-length × vocab diversity × stopword factor. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      round(TextFns.distinctRatio(col("text")), 4).as("distinct_ratio"),
      round(TextFns.stopwordRatio(col("text")), 4).as("stopword_ratio"),
      round(TextFns.qualityScore(col("text")), 4).as("quality"))
    .orderBy(col("doc_id"))

  val qualityScoreSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |SELECT doc_id,
      |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4) AS distinct_ratio,
      |  round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w), 4) AS stopword_ratio,
      |  round(ln(CAST(len(w) AS DOUBLE) + 1)
      |    * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |    * (1.0 - CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w)), 4) AS quality
      |FROM t
      |ORDER BY doc_id""".stripMargin

  /** E8 — language-ID heuristic vs the labeled lang column. Fully
    * deterministic builtin arithmetic, so it IS oracle-checked: the
    * DuckDB replica computes the same per-language scores in the same
    * operation order (bit-identical doubles) and reproduces the
    * argmax's tie order (the Scala fold lets the LAST equal-scoring
    * language win: en < de < es < fr). TextFnsSpec still covers
    * semantic accuracy on crafted multilingual sentences.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextFns.langId(col("text")).as("predicted_lang"),
      col("lang").as("labeled_lang"))
    .orderBy(col("doc_id"))

  val langIdSql: String = {
    val score = TextFns.langProfiles.map { case (lang, prof) =>
      val tri = TextFns.trigramProfiles.toMap.apply(lang)
      val inList = prof.map(w => s"'$w'").mkString(", ")
      val triSum = tri.map(t =>
        s"CASE WHEN contains(lower(text), '$t') THEN 1.0 ELSE 0.0 END").mkString(" + ")
      s"""    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
         |      x -> x IN ($inList))) AS DOUBLE)
         |      / greatest(len(string_split_regex(lower(text), '\\s+')), 1)
         |      + ($triSum) / ${tri.size} * 0.3 AS s_$lang""".stripMargin
    }.mkString(",\n")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |$score
       |  FROM documents),
       |best AS (
       |  SELECT *, greatest(s_en, s_de, s_es, s_fr) AS b FROM scored)
       |SELECT doc_id,
       |  CASE WHEN s_fr = b AND b > 0 THEN 'fr'
       |       WHEN s_es = b AND b > 0 THEN 'es'
       |       WHEN s_de = b AND b > 0 THEN 'de'
       |       WHEN s_en = b AND b > 0 THEN 'en'
       |       ELSE 'und' END AS predicted_lang,
       |  lang AS labeled_lang
       |FROM best
       |ORDER BY doc_id""".stripMargin
  }

  /** E11 — winnowing fingerprints (Schleimer et al., SIGMOD 2003): hash
    * word 3-grams, take the min hash of each sliding window of 4, dedupe.
    *
    * This query uses md5-hex shingle hashes so the full winnowing
    * selection is oracle-CHECKED: md5 and lexicographic min compute
    * identically in Spark and DuckDB (hex strings order like the 128-bit
    * values), so window minima — not just counts — must agree. The
    * production-scale variant is `TextFns.fingerprints` (the native
    * NgramHashes long-hash kernel, same algorithm, ~an order of
    * magnitude cheaper); FingerprintSpec asserts its near-dup-overlap
    * semantics.
    */
  /** E21 — overlapping retrieval chunking (RAG indexing prep): fixed
    * 64-word windows at stride 48 (16-word overlap so a fact spanning a
    * boundary survives in one chunk whole). Pure array expressions
    * inside the scan — chunk cutting never shuffles; the output is the
    * (doc_id, chunk) table an embedding/indexing stage consumes.
    */
  def chunkOverlap(spark: SparkSession, dir: String,
                   window: Int = 64, stride: Int = 48): DataFrame = {
    val ws = split(col("text"), " ")
    val nChunks = lit(1) +
      ceil(greatest(size(ws) - window, lit(0)).cast("double") / stride).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1),
      i => array_join(slice(ws, i * stride + lit(1), lit(window)), " "))
    Tables.atComputeParallelism(Tables.documents(spark, dir))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_words"),
        md5(col("chunk")).as("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val chunkOverlapSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, i AS chunk_id,
      |         array_to_string(ws[(i*48+1):(i*48+64)], ' ') AS chunk
      |  FROM w, unnest(range(0, 1 + CAST(ceil(greatest(len(ws) - 64, 0) / 48.0) AS BIGINT))) AS t(i))
      |SELECT doc_id, chunk_id,
      |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_words,
      |  md5(chunk) AS chunk_hash
      |FROM c
      |ORDER BY doc_id, chunk_id""".stripMargin

  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val hs = transform(
      sequence(lit(1), greatest(size(words) - 2, lit(1))),
      i => md5(concat_ws(" ",
        try_element_at(words, i), try_element_at(words, i + 1),
        try_element_at(words, i + 2))))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), hs.as("hs"))
    docs.select(
        col("doc_id"),
        transform(
          sequence(lit(1), greatest(size(col("hs")) - 3, lit(1))),
          i => array_min(slice(col("hs"), i, lit(4)))).as("wins"))
      .select(
        col("doc_id"),
        size(array_distinct(col("wins"))).cast("long").as("n_fingerprints"),
        array_min(col("wins")).as("min_fp"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |h AS (
      |  SELECT doc_id, list_transform(range(greatest(len(w) - 2, 1)),
      |    i -> md5(w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS hs
      |  FROM t),
      |wins AS (
      |  SELECT doc_id, list_transform(range(greatest(len(hs) - 3, 1)),
      |    i -> list_aggregate(hs[i+1:i+4], 'min')) AS wl
      |  FROM h)
      |SELECT doc_id,
      |  CAST(len(list_distinct(wl)) AS BIGINT) AS n_fingerprints,
      |  list_aggregate(wl, 'min') AS min_fp
      |FROM wins
      |ORDER BY doc_id""".stripMargin

  /** E17 — per-document top-3 TF-IDF terms. One explode + two
    * aggregations, both keyed so the raw token stream is shuffled exactly
    * once. The tf↔df join is a SHUFFLE join on token, not a broadcast: a
    * web-scale corpus has 10⁸–10⁹ distinct tokens, so the vocabulary is
    * NOT a broadcastable dimension — and since `df` is derived from `tf`,
    * Catalyst reuses tf's exchange for the join's left side, making the
    * shuffle-join effectively free. Only the single-row corpus count is
    * broadcast. Ranks on the ROUNDED score with a token tiebreak for
    * cross-engine determinism.
    */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("token"))
    val tf = docs.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tc"), first(col("n_toks")).as("n_toks"))
    // document frequency from the ALREADY-AGGREGATED (doc, token) pairs
    // — one row per pair by construction, so a plain count is the
    // distinct-doc count and the raw token stream is shuffled only once
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    // shuffle_hash hint: pins the shuffled join (build = per-token df
    // rows, the smaller side per partition) at every SF — without it the
    // tiny test SF's cost model picks a broadcast, which is exactly the
    // plan that cannot exist at a web-scale vocabulary
    tf.join(df.hint("shuffle_hash"), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("tc") / col("n_toks")) * log(col("n_docs") / col("df")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rank").cast("long").as("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTermsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tc, any_value(n_toks) AS n_toks
      |  FROM toks GROUP BY doc_id, token),
      |df AS (
      |  SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM toks GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token,
      |    round((tc / n_toks) * ln(n_docs / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
      |  FROM scored)
      |SELECT doc_id, token, tfidf, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** C52 — more_like_this (the OpenSearch MLT query behind Discover's
    * "find documents like this one"): pick the seed document's
    * `nTerms` most characteristic terms by tf-idf (MLT's "interesting
    * terms" step), then rank the corpus by how strongly it matches
    * them — score = Σ_matched tc(doc,term) × idf(term).
    *
    * Scale shape: the (doc,token) tf aggregate is the one token
    * shuffle; df derives from tf (Catalyst reuses the exchange). The
    * seed's tf rows are doc-length-bounded — broadcast onto the
    * vocabulary-sized df aggregate, so term selection never shuffles
    * the vocabulary; the selected ≤nTerms rows broadcast back onto tf,
    * so scoring is a map-side semi-join + one doc_id aggregate. Final
    * top-k is the bounded mergeable TopKAgg — no global sort.
    * Cross-engine parity: idf is floored to integer micro-nats BEFORE
    * the per-doc sum (integer sums are order-independent; the
    * unigram-LM playbook), and the score re-derives from the integer.
    */
  def moreLikeThis(spark: SparkSession, dir: String, seedId: Long = 7,
                   nTerms: Int = 5, k: Int = 20): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("token"))
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tc"), first(col("n_toks")).as("n_toks"))
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).cast("double").as("n_docs"))
    val seedTerms = dfT
      .join(broadcast(tf.filter(col("doc_id") === seedId)), "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round((col("tc").cast("double") / col("n_toks")) * log(col("n_docs") / col("df")), 6))
      .withColumn("idf_u", floor(log(col("n_docs") / col("df")) * 1e6).cast("long"))
      .orderBy(col("tfidf").desc, col("token"))
      .limit(nTerms)
      .select(col("token"), col("idf_u"))
    val scored = tf.filter(col("doc_id") =!= seedId)
      .join(broadcast(seedTerms), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("tc") * col("idf_u")).as("s_u"))
    TopKAgg.rank(scored, k, "doc_id", col("s_u").cast("double"))
      .select(col("doc_id"), (col("score") / 1e6).as("score"), col("rank"))
      .orderBy(col("rank"))
  }

  val moreLikeThisSql: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, token, count(*) AS tc, any_value(n_toks) AS n_toks
      |  FROM toks GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |seed AS (
      |  SELECT df.token,
      |    round((CAST(tc AS DOUBLE) / n_toks) * ln(n_docs / df), 6) AS tfidf,
      |    CAST(floor(ln(n_docs / df) * 1000000) AS BIGINT) AS idf_u
      |  FROM df JOIN tf USING (token) CROSS JOIN n
      |  WHERE tf.doc_id = 7
      |  ORDER BY tfidf DESC, df.token
      |  LIMIT 5),
      |scored AS (
      |  SELECT tf.doc_id, CAST(sum(tc * idf_u) AS BIGINT) AS s_u
      |  FROM tf JOIN seed USING (token)
      |  WHERE tf.doc_id <> 7
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT doc_id, s_u / 1000000.0 AS score,
      |    row_number() OVER (ORDER BY s_u DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT doc_id, score, CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 20
      |ORDER BY rank""".stripMargin

  /** BM25 idf (Robertson/Spärck Jones) over the stats row's n_docs:
    * log(1 + (N − df + 0.5)/(df + 0.5)).
    */
  private def bm25Idf(df: Column): Column =
    log(lit(1.0) + (col("n_docs") - df + 0.5) / (df + 0.5))

  /** BM25 tf saturation with length normalisation, k1 = 1.2, b = 0.75:
    * tf·(k1 + 1)/(tf + k1·(1 − b + b·dl/avgdl)).
    */
  private def bm25TfNorm(tf: Column, dl: Column, avgdl: Column): Column =
    tf * 2.2 / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl / avgdl))

  /** Term `t`'s (idf, tf-norm) over field `f`'s columns — `tf_f_t`,
    * `df_f_t`, `dl_f`, `avgdl_f`; `f = ""` is the whole text (`tf_t`,
    * `df_t`, `dl`, `avgdl`).
    */
  private def bm25Parts(t: String, f: String = ""): (Column, Column) = {
    val (pre, suf) = if (f.isEmpty) ("", "") else (s"${f}_", s"_$f")
    (bm25Idf(col(s"df_$pre$t")),
      bm25TfNorm(col(s"tf_$pre$t"), col(s"dl$suf"), col(s"avgdl$suf")))
  }

  /** Σ_t idf·tf-norm over field `f`: a fixed left-to-right expression
    * chain, not a float aggregation over rows, so the sum is
    * hash-stable across engines and partitionings.
    */
  private def bm25Sum(terms: Seq[String], f: String = ""): Column =
    terms.map { t => val (idf, tfNorm) = bm25Parts(t, f); idf * tfNorm }.reduce(_ + _)

  /** Every doc scored by BM25 for a fixed term list: `doc_id`, the
    * `carry` columns, `dl`, `tf_t` and the `extra` per-doc aggregates,
    * the stats row (`n_docs`, `avgdl`, `df_t`) and `score` =
    * round(Σ bm25, 6). ONE shuffle (groupBy doc_id) computes
    * the per-doc term frequencies as conditional sums — no per-term
    * pass, no token-keyed join — and the df/avgdl side collapses to a
    * single broadcast stats row, since df for a fixed term list is a
    * handful of conditional counts. tf/df/dl are integer counts.
    */
  private[operators] def bm25Scored(spark: SparkSession, dir: String, terms: Seq[String],
                                    carry: Seq[String] = Nil, extra: Seq[Column] = Nil): DataFrame = {
    val keys = col("doc_id") +: carry.map(col)
    val perDoc = Tables.documents(spark, dir)
      .select(keys :+ explode(split(col("text"), " ")).as("token"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).cast("double").as("dl"),
        terms.map(t =>
          sum(when(col("token") === t, 1).otherwise(0)).cast("double").as(s"tf_$t")) ++ extra: _*)
    // corpus stats: n_docs, avgdl (exact — integer-valued doubles sum
    // exactly), and per-term document frequencies, all in one tiny row
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl") +:
        terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("double").as(s"df_$t")): _*)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score", round(bm25Sum(terms), 6))
  }

  /** The ranked hits of a scored frame: docs with score > 0, top k by
    * the bounded TopKAgg (score DESC, doc_id ASC), unsorted.
    */
  private[operators] def topHits(scored: DataFrame, k: Int): DataFrame =
    TopKAgg.rank(scored.filter(col("score") > 0), k, "doc_id", col("score"))

  /** C3b — relevance-RANKED full-text search: BM25 (Robertson/Spärck
    * Jones, the scoring OpenSearch's `match` query uses; k1=1.2,
    * b=0.75). The boolean `search` query answers "which docs match";
    * this answers Discover's actual question, "which docs match BEST".
    *
    * Shape for scale: [[bm25Scored]]'s one doc-keyed shuffle and
    * one-row stats broadcast; the final top-k is the F5 TopKAgg
    * bounded aggregator (same tie order as a rank window: score DESC,
    * doc_id ASC) — map-side partials cut the exchange to O(k) rows and
    * there is NO single-partition sort.
    */
  def searchRanked(spark: SparkSession, dir: String,
                   terms: Seq[String] = Seq("spark", "window", "merge"),
                   k: Int = 20): DataFrame =
    topHits(bm25Scored(spark, dir, terms), k).orderBy(col("rank"))

  /** C60 — the rescore API (OpenSearch `rescore`): re-rank only the top
    * `window` hits of the primary query with a SECOND, more expensive
    * query — here a match_phrase rescorer — and combine the scores
    * (query_weight × primary + rescore_query_weight × secondary). The
    * API exists so the expensive query runs on `window` docs instead of
    * every match, and the plan keeps that property: the primary top-50
    * comes from the mergeable TopKAgg (O(window) exchange, no global
    * sort), and the phrase test touches exactly those 50 docs via a
    * window-sized broadcast semi-join back to the corpus — at 100 TB
    * the rescorer's cost is O(window), independent of corpus size. The
    * final re-rank sorts a ≤window-row list (the C3l fusion class).
    */
  def rescore(spark: SparkSession, dir: String,
              terms: Seq[String] = Seq("spark", "window", "merge"),
              phrase: String = "spark window",
              window: Int = 50, k: Int = 20,
              queryWeight: Double = 1.0, rescoreWeight: Double = 2.0): DataFrame = {
    val windowDocs = topHits(bm25Scored(spark, dir, terms), window)
      .select(col("doc_id"), col("score").as("base_score"))
    val phraseHit = when(col("text").contains(phrase), 1.0).otherwise(0.0)
    Tables.documents(spark, dir).select(col("doc_id"), col("text"))
      .join(broadcast(windowDocs), "doc_id")
      .withColumn("rescore", phraseHit)
      .withColumn("score",
        round(col("base_score") * queryWeight + col("rescore") * rescoreWeight, 6))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("base_score"), col("rescore"), col("score"), col("rank"))
      .orderBy(col("rank"))
  }

  // lazy: composes searchRankedSql, which initializes later in the file
  lazy val rescoreSql: String = {
    val inner = SqlPatch(SqlPatch(searchRankedSql,
      "WHERE rank <= 20", "WHERE rank <= 50"),
      "ORDER BY rank", "")
    s"""WITH base AS ($inner),
       |joined AS (
       |  SELECT b.doc_id, b.score AS base_score,
       |    CASE WHEN contains(d.text, 'spark window') THEN 1.0 ELSE 0.0 END AS rescore
       |  FROM base b JOIN documents d ON b.doc_id = d.doc_id),
       |rescored AS (
       |  SELECT doc_id, base_score, rescore,
       |    round(base_score * 1.0 + rescore * 2.0, 6) AS score
       |  FROM joined)
       |SELECT doc_id, base_score, rescore, score,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |FROM rescored
       |QUALIFY rank <= 20
       |ORDER BY rank""".stripMargin
  }

  val searchRankedSql: String = {
    val terms = Seq("spark", "window", "merge")
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** The title/body field split a single-column corpus allows:
    * `f_title` = the first `titleLen` tokens, `f_body` = the rest (a
    * real store would read two stored fields; the scoring pipeline is
    * identical).
    */
  private def fieldSplit(spark: SparkSession, dir: String, titleLen: Int): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        slice(col("ws"), 1, titleLen).as("f_title"),
        expr(s"slice(ws, $titleLen + 1, greatest(size(ws) - $titleLen, 0))").as("f_body"))

  /** The split's fields with their multi-field boosts, in score order. */
  private val fieldBoosts = Seq(("title", 2.0), ("body", 1.0))

  /** Per-field BM25 inputs over [[fieldSplit]]: `dl_f` and `tf_f_t` per
    * doc from array expressions in the scan projection, crossed with
    * the one-row stats broadcast (`n_docs`, `avgdl_f`, `df_f_t`).
    */
  private def fieldScored(spark: SparkSession, dir: String, terms: Seq[String],
                          titleLen: Int): DataFrame = {
    val fields = fieldBoosts.map(_._1)
    val perDoc = fieldSplit(spark, dir, titleLen)
      .select(col("doc_id") +:
        fields.flatMap { f =>
          size(col(s"f_$f")).cast("double").as(s"dl_$f") +:
            terms.map(t =>
              size(filter(col(s"f_$f"), w => w === t)).cast("double").as(s"tf_${f}_$t"))
        }: _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      fields.flatMap { f =>
        (sum(col(s"dl_$f")) / count(lit(1))).as(s"avgdl_$f") +:
          terms.map(t =>
            sum(when(col(s"tf_${f}_$t") > 0, 1).otherwise(0)).cast("double").as(s"df_${f}_$t"))
      }: _*)
    perDoc.crossJoin(broadcast(stats))
  }

  /** C3n — multi_match, most_fields mode (the OpenSearch multi-field
    * relevance query: one term list scored against several fields with
    * per-field boosts, scores summed) over the [[fieldSplit]] title/body
    * stand-in. Per field: its own dl/avgdl/df/tf — i.e. genuine
    * per-field BM25, not a concatenated pseudo-field — then score =
    * 2·bm25_title + 1·bm25_body. Determinism: integer tf/df/dl +
    * fixed-order per-term score chain + round(6), the house device for
    * float-exact cross-engine parity.
    */
  def multiMatch(spark: SparkSession, dir: String,
                 terms: Seq[String] = Seq("spark", "window", "merge"),
                 titleLen: Int = 8, k: Int = 20): DataFrame = {
    val scoreExpr = (for ((f, boost) <- fieldBoosts; t <- terms) yield {
      val (idf, tfNorm) = bm25Parts(t, f)
      lit(boost) * idf * tfNorm
    }).reduce(_ + _)
    topHits(fieldScored(spark, dir, terms, titleLen).withColumn("score", round(scoreExpr, 6)), k)
      .orderBy(col("rank"))
  }

  val multiMatchSql: String = {
    val terms = Seq("spark", "window", "merge")
    val fields = Seq(("title", "2.0"), ("body", "1.0"))
    val tfs = fields.flatMap { case (f, _) =>
      s"CAST(len(f_$f) AS DOUBLE) AS dl_$f" +:
        terms.map(t =>
          s"CAST(len(list_filter(f_$f, w -> w = '$t')) AS DOUBLE) AS tf_${f}_$t")
    }.mkString(",\n    ")
    val dfs = fields.flatMap { case (f, _) =>
      s"sum(dl_$f) / count(*) AS avgdl_$f" +:
        terms.map(t =>
          s"CAST(sum(CASE WHEN tf_${f}_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_${f}_$t")
    }.mkString(",\n    ")
    val score = (for ((f, boost) <- fields; t <- terms) yield
      s"$boost * ln(1.0 + (n_docs - df_${f}_$t + 0.5) / (df_${f}_$t + 0.5)) * " +
        s"(tf_${f}_$t * 2.2 / (tf_${f}_$t + 1.2 * (0.25 + 0.75 * dl_$f / avgdl_$f)))")
      .mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |fsplit AS (
       |  SELECT doc_id, ws[1:8] AS f_title,
       |    CASE WHEN len(ws) > 8 THEN ws[9:] ELSE [] END AS f_body
       |  FROM docs),
       |perdoc AS (
       |  SELECT doc_id,
       |    $tfs
       |  FROM fsplit),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3u — boosting query (OpenSearch `boosting`: rank by the positive
    * query, DEMOTE — don't exclude — documents matching the negative
    * query by `negative_boost`; the "prefer fresh docs but don't hide
    * stale ones" relevance tool). The negative term joins C3b's
    * conditional-count aggregate and the demotion is one `when`
    * multiplier in the same projection — zero extra exchanges.
    */
  def boostingSearch(spark: SparkSession, dir: String,
                     terms: Seq[String] = Seq("spark", "window", "merge"),
                     negTerm: String = "slow", negBoost: Double = 0.3,
                     k: Int = 20): DataFrame = {
    // the negative term rides the same aggregate; only the positive
    // terms score
    val demoted = round(bm25Sum(terms) *
      when(col(s"tf_$negTerm") > 0, negBoost).otherwise(1.0), 6)
    topHits(bm25Scored(spark, dir, terms :+ negTerm).withColumn("score", demoted), k)
      .orderBy(col("rank"))
  }

  val boostingSearchSql: String = {
    val terms = Seq("spark", "window", "merge")
    val all = terms :+ "slow"
    val tfs = all.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id,
       |    round(($score) * (CASE WHEN tf_slow > 0 THEN 0.3 ELSE 1.0 END), 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3s — the `_explain` API: WHY did this document get this score?
    * OpenSearch returns a per-term breakdown of the BM25 sum (idf ×
    * tf-norm per query term); this emits the same decomposition as
    * rows — one per (top-k doc, query term) — so a relevance engineer
    * can see which term carried each hit.
    *
    * The per-term contributions are more columns in C3b's projection
    * and the breakdown unpivots k×|terms| rows with `stack` — cost
    * identical to the ranked search it explains, at any corpus size.
    */
  def explainScore(spark: SparkSession, dir: String,
                   terms: Seq[String] = Seq("spark", "window", "merge"),
                   k: Int = 5): DataFrame = {
    val scored = bm25Scored(spark, dir, terms)
    val top = topHits(scored, k).select(col("doc_id"))
    val stackArgs = terms.flatMap { t =>
      Seq(lit(t), col(s"tf_$t").cast("long"), col(s"df_$t").cast("long"),
        round(bm25Sum(Seq(t)), 6))
    }
    scored.join(broadcast(top), "doc_id")
      .select(col("doc_id"), col("score"),
        stack((lit(terms.size) +: stackArgs): _*).as(Seq("term", "tf", "df", "contribution")))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("contribution"), col("score"))
      .orderBy(col("doc_id"), col("term"))
  }

  lazy val explainScoreSql: String = {
    val terms = Seq("spark", "window", "merge")
    val inner = SqlPatch(SqlPatch(searchRankedSql,
      "WHERE rank <= 20", "WHERE rank <= 5"), "ORDER BY rank", "")
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val arms = terms.map { t =>
      s"SELECT doc_id, '$t' AS term, CAST(tf_$t AS BIGINT) AS tf, CAST(df_$t AS BIGINT) AS df, " +
        s"round(ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS contribution " +
        "FROM perdoc2 CROSS JOIN stats2"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH topdocs AS ($inner),
       |toks2 AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc2 AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toks2 GROUP BY doc_id),
       |stats2 AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc2),
       |breakdown AS (
       |  $arms)
       |SELECT b.doc_id, b.term, b.tf, b.df, b.contribution, t.score
       |FROM breakdown b JOIN topdocs t ON b.doc_id = t.doc_id
       |ORDER BY b.doc_id, b.term""".stripMargin
  }

  /** C3t — multi_match `cross_fields` (the third combiner: TERM-centric
    * where most_fields/best_fields are field-centric — "first name in
    * one field, last name in another" must score like both in one).
    * Lucene implements it by BLENDING term statistics across the field
    * group (BlendedTermQuery): each term takes ONE idf from the blended
    * (max) document frequency over all fields, then its per-field
    * tf-norms combine under that shared idf — so a term found in ANY
    * field contributes comparable weight, instead of a rare-in-title
    * term dominating via its private idf. The per-field tf-norms are
    * SUMMED here, i.e. the `tie_breaker: 1.0` variant of cross_fields;
    * upstream's default (`tie_breaker: 0.0`) takes only the best field
    * per term group (dis_max) — swap the `.reduce(_ + _)` over fields
    * for `greatest(...)` to get that point. The blend is one
    * `greatest` in C3n's projection.
    */
  def multiMatchCross(spark: SparkSession, dir: String,
                      terms: Seq[String] = Seq("spark", "window", "merge"),
                      titleLen: Int = 8, k: Int = 20): DataFrame = {
    val scoreExpr = terms.map { t =>
      // blended statistics: ONE idf per term from the max df over the
      // field group — the defining cross_fields device
      val dfB = greatest(fieldBoosts.map { case (f, _) => col(s"df_${f}_$t") }: _*)
      val tfSum = fieldBoosts.map { case (f, boost) => lit(boost) * bm25Parts(t, f)._2 }
        .reduce(_ + _)
      bm25Idf(dfB) * tfSum
    }.reduce(_ + _)
    topHits(fieldScored(spark, dir, terms, titleLen).withColumn("score", round(scoreExpr, 6)), k)
      .orderBy(col("rank"))
  }

  val multiMatchCrossSql: String = {
    val terms = Seq("spark", "window", "merge")
    val fields = Seq(("title", "2.0"), ("body", "1.0"))
    val tfs = fields.flatMap { case (f, _) =>
      s"CAST(len(f_$f) AS DOUBLE) AS dl_$f" +:
        terms.map(t =>
          s"CAST(len(list_filter(f_$f, w -> w = '$t')) AS DOUBLE) AS tf_${f}_$t")
    }.mkString(",\n    ")
    val dfs = fields.flatMap { case (f, _) =>
      s"sum(dl_$f) / count(*) AS avgdl_$f" +:
        terms.map(t =>
          s"CAST(sum(CASE WHEN tf_${f}_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_${f}_$t")
    }.mkString(",\n    ")
    val score = terms.map { t =>
      val dfB = s"greatest(${fields.map { case (f, _) => s"df_${f}_$t" }.mkString(", ")})"
      val tfSum = fields.map { case (f, boost) =>
        s"$boost * (tf_${f}_$t * 2.2 / (tf_${f}_$t + 1.2 * (0.25 + 0.75 * dl_$f / avgdl_$f)))"
      }.mkString(" + ")
      s"ln(1.0 + (n_docs - $dfB + 0.5) / ($dfB + 0.5)) * ($tfSum)"
    }.mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |fsplit AS (
       |  SELECT doc_id, ws[1:8] AS f_title,
       |    CASE WHEN len(ws) > 8 THEN ws[9:] ELSE [] END AS f_body
       |  FROM docs),
       |perdoc AS (
       |  SELECT doc_id,
       |    $tfs
       |  FROM fsplit),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3o — dis_max / multi_match best_fields (the OTHER multi-field
    * combiner: most_fields SUMS per-field scores, best_fields takes the
    * BEST one — a doc matching one field well beats a doc matching all
    * fields weakly — with `tie_breaker` folding the losing fields back
    * in at a discount: score = best + tie_breaker·(sum − best)). Same
    * genuine per-field BM25 as C3n; the combiner is one greatest() more
    * in the same projection — zero extra exchanges.
    */
  def disMax(spark: SparkSession, dir: String,
             terms: Seq[String] = Seq("spark", "window", "merge"),
             titleLen: Int = 8, k: Int = 20, tieBreaker: Double = 0.3): DataFrame = {
    val fieldScore = fieldBoosts.map { case (f, _) => bm25Sum(terms, f) }
    val best = greatest(fieldScore: _*)
    val total = fieldScore.reduce(_ + _)
    topHits(fieldScored(spark, dir, terms, titleLen)
      .withColumn("score", round(best + lit(tieBreaker) * (total - best), 6)), k)
      .orderBy(col("rank"))
  }

  val disMaxSql: String = {
    val terms = Seq("spark", "window", "merge")
    val fields = Seq("title", "body")
    val tfs = fields.flatMap { f =>
      s"CAST(len(f_$f) AS DOUBLE) AS dl_$f" +:
        terms.map(t =>
          s"CAST(len(list_filter(f_$f, w -> w = '$t')) AS DOUBLE) AS tf_${f}_$t")
    }.mkString(",\n    ")
    val dfs = fields.flatMap { f =>
      s"sum(dl_$f) / count(*) AS avgdl_$f" +:
        terms.map(t =>
          s"CAST(sum(CASE WHEN tf_${f}_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_${f}_$t")
    }.mkString(",\n    ")
    val fieldScore = fields.map { f =>
      terms.map(t =>
        s"ln(1.0 + (n_docs - df_${f}_$t + 0.5) / (df_${f}_$t + 0.5)) * " +
          s"(tf_${f}_$t * 2.2 / (tf_${f}_$t + 1.2 * (0.25 + 0.75 * dl_$f / avgdl_$f)))")
        .mkString(" + ")
    }
    val (st, sb) = (fieldScore.head, fieldScore.last)
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |fsplit AS (
       |  SELECT doc_id, ws[1:8] AS f_title,
       |    CASE WHEN len(ws) > 8 THEN ws[9:] ELSE [] END AS f_body
       |  FROM docs),
       |perdoc AS (
       |  SELECT doc_id,
       |    $tfs
       |  FROM fsplit),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    $dfs
       |  FROM perdoc),
       |persum AS (
       |  SELECT doc_id, ($st) AS s_title, ($sb) AS s_body
       |  FROM perdoc CROSS JOIN stats),
       |scored AS (
       |  SELECT doc_id,
       |    round(greatest(s_title, s_body) +
       |          0.3 * ((s_title + s_body) - greatest(s_title, s_body)), 6) AS score
       |  FROM persum),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3m — function_score: relevance re-scored by document-property
    * modifiers, the feature real search UIs lean on (boost long-form
    * docs, decay stale ones). Composition here is the two standard
    * function types over the C3b BM25 base:
    *   - field_value_factor: ln(1 + n_chars/100) — longer docs boosted
    *     sublinearly;
    *   - gauss decay on n_chars around origin 300, scale 200 — the
    *     distance-decay family (recency decay uses the same shape on a
    *     date field).
    * final = bm25 × fvf × decay, rounded like every ranked score. The
    * modifiers are scalar expressions over n_chars, carried through
    * C3b's doc-keyed aggregate — they cost nothing extra.
    */
  def functionScore(spark: SparkSession, dir: String,
                    terms: Seq[String] = Seq("spark", "window", "merge"),
                    k: Int = 20): DataFrame = {
    val fvf = log(lit(1.0) + col("n_chars").cast("double") / 100.0)
    val decay = exp(-(col("n_chars").cast("double") - 300.0) *
      (col("n_chars").cast("double") - 300.0) / (2.0 * 200.0 * 200.0))
    topHits(bm25Scored(spark, dir, terms, carry = Seq("n_chars"))
      .withColumn("score", round(bm25Sum(terms) * fvf * decay, 6)), k)
      .orderBy(col("rank"))
  }

  val functionScoreSql: String = {
    val terms = Seq("spark", "window", "merge")
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val bm25 = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc AS (
       |  SELECT doc_id, n_chars, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toks GROUP BY doc_id, n_chars),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id,
       |    round(($bm25)
       |      * ln(1.0 + CAST(n_chars AS DOUBLE) / 100.0)
       |      * exp(-(CAST(n_chars AS DOUBLE) - 300.0) * (CAST(n_chars AS DOUBLE) - 300.0)
       |            / (2.0 * 200.0 * 200.0)), 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3k — term vectors (the `_termvectors` API: one document's term
    * statistics — tf and positions per token, the payload OpenSearch
    * computes from stored fields on demand). The doc_id literal pushes
    * into the scan (row-group pruned point read, the C3i shape); the
    * single surviving row tokenizes and aggregates in one task. No
    * index involved — exactly how the real API re-analyzes on the fly.
    */
  def termVectors(spark: SparkSession, dir: String, docId: Long = 7): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") === docId)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .groupBy(col("doc_id"), col("token"))
      // positions serialize as a comma-joined string: the oracle
      // comparator sorts rows on every cell and array cells don't hash
      .agg(count(lit(1)).as("tf"),
        array_join(sort_array(collect_list(col("pos").cast("long"))), ",").as("positions"))
      .orderBy(col("token"))

  val termVectorsSql: String =
    """SELECT doc_id, tok AS token, count(*) AS tf,
      |  array_to_string(list_sort(list(CAST(i - 1 AS BIGINT))), ',') AS positions
      |FROM (
      |  SELECT doc_id, ws[i] AS tok, i
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents WHERE doc_id = 7) d,
      |       unnest(range(1, len(ws) + 1)) AS t(i))
      |GROUP BY doc_id, tok
      |ORDER BY token""".stripMargin

  /** C3h — terms_set query (OpenSearch `terms_set`: match documents
    * containing at least `minimum_should_match` of a term list). The
    * match count is `size(array_intersect(tokens, terms))` — a pure
    * array expression in the scan projection, ZERO shuffle and zero
    * explode: the distinct-terms-present semantics (a term counts once
    * however often it repeats) is exactly what array_intersect
    * computes.
    */
  def termsSet(spark: SparkSession, dir: String,
               terms: Seq[String] = Seq("spark", "hash", "merge"),
               minMatch: Int = 2): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(array_intersect(split(col("text"), " "),
          array(terms.map(lit): _*))).cast("long").as("n_matched"))
      .filter(col("n_matched") >= minMatch)
      .orderBy(col("doc_id"))

  val termsSetSql: String =
    """SELECT doc_id,
      |  CAST(len(list_intersect(string_split(text, ' '), ['spark', 'hash', 'merge'])) AS BIGINT) AS n_matched
      |FROM documents
      |WHERE len(list_intersect(string_split(text, ' '), ['spark', 'hash', 'merge'])) >= 2
      |ORDER BY doc_id""".stripMargin

  /** C3j — rank_eval (the OpenSearch `_rank_eval` API: score a query's
    * ranking against relevance judgments). System = C3b's BM25 top-k;
    * judgments = binary token-presence relevance (docs containing the
    * held-out term). Metrics: precision@10, recall@10, MRR, DCG@10 —
    * all computed from integer ranks and counts; the DCG discount
    * 1/log2(rank+1) is rounded to integer micro-units per rank (small
    * identical libm inputs) before the order-free sum. One row out;
    * everything joins against the ≤k-row system ranking.
    */
  def rankEval(spark: SparkSession, dir: String,
               relTerm: String = "merge", k: Int = 10): DataFrame = {
    val rel = Tables.documents(spark, dir)
      .filter(array_contains(split(col("text"), " "), relTerm))
      .select(col("doc_id"))
    val nRel = rel.agg(count(lit(1)).as("n_rel"))
    val sys = searchRanked(spark, dir)
      .join(rel.withColumn("rel", lit(1L)), Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val discountMicro = round(lit(1e6) * log(lit(2.0)) / log(col("rank") + 1.0)).cast("long")
    sys.crossJoin(broadcast(nRel))
      .agg(
        (sum(when(col("rel") === 1 && col("rank") <= k, 1L).otherwise(0L))
          .cast("double") / k).as("precision_at_10"),
        (sum(when(col("rel") === 1 && col("rank") <= k, 1L).otherwise(0L))
          .cast("double") / first(col("n_rel"))).as("recall_at_10"),
        max(when(col("rel") === 1, lit(1.0) / col("rank"))).as("mrr"),
        (sum(when(col("rel") === 1 && col("rank") <= k, discountMicro).otherwise(0L))
          .cast("double") / 1e6).as("dcg_at_10"))
  }

  val rankEvalSql: String =
    s"""WITH sys AS (SELECT * FROM ($searchRankedSql)),
       |rel AS (
       |  SELECT doc_id FROM documents
       |  WHERE list_contains(string_split(text, ' '), 'merge')),
       |nrel AS (SELECT count(*) AS n_rel FROM rel),
       |flagged AS (
       |  SELECT s.doc_id, s.rank,
       |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS rel
       |  FROM sys s LEFT JOIN rel r ON s.doc_id = r.doc_id)
       |SELECT
       |  CAST(sum(CASE WHEN rel = 1 AND rank <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS precision_at_10,
       |  CAST(sum(CASE WHEN rel = 1 AND rank <= 10 THEN 1 ELSE 0 END) AS DOUBLE) / any_value(n_rel) AS recall_at_10,
       |  max(CASE WHEN rel = 1 THEN 1.0 / rank END) AS mrr,
       |  CAST(sum(CASE WHEN rel = 1 AND rank <= 10
       |    THEN CAST(round(1000000 * ln(2.0) / ln(rank + 1.0)) AS BIGINT) ELSE 0 END) AS DOUBLE) / 1000000.0 AS dcg_at_10
       |FROM flagged CROSS JOIN nrel""".stripMargin

  /** C3l — hybrid search via reciprocal-rank fusion (the OpenSearch
    * 2.x `hybrid` query: fuse a lexical ranking with a second
    * retriever; RRF is the rank-only combiner that needs no score
    * normalization across retrievers). rrf(d) = Σ 1/(k0 + rank_r(d))
    * over C3b's BM25 list and C52's more_like_this list — a full-outer
    * join of two BOUNDED (≤20-row) rankings, reciprocals of exact
    * integer ranks (identical doubles cross-engine), top-N by fused
    * score with doc_id tiebreak. The heavy retrieval work happened in
    * the two retrievers; fusion itself is list-sized.
    */
  lazy val searchHybridRrf: (SparkSession, String) => DataFrame = (spark, dir) => {
    val k0 = 60
    val lex = searchRanked(spark, dir).select(col("doc_id"), col("rank").as("r_lex"))
    val sem = moreLikeThis(spark, dir).select(col("doc_id"), col("rank").as("r_mlt"))
    lex.join(sem, Seq("doc_id"), "full")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("r_lex") + k0), lit(0.0)) +
        coalesce(lit(1.0) / (col("r_mlt") + k0), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("r_lex"), col("r_mlt"), col("rrf"))
  }

  lazy val searchHybridRrfSql: String =
    s"""WITH lex AS (SELECT doc_id, rank AS r_lex FROM ($searchRankedSql)),
       |sem AS (SELECT doc_id, rank AS r_mlt FROM ($moreLikeThisSql))
       |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_mlt,
       |  round(coalesce(1.0 / (r_lex + 60), 0) + coalesce(1.0 / (r_mlt + 60), 0), 6) AS rrf
       |FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
       |ORDER BY rrf DESC, doc_id
       |LIMIT 10""".stripMargin

  /** C3l2 — hybrid search with the `normalization-processor` (the
    * OpenSearch 2.x search-pipeline combiner that RRF exists to avoid
    * needing: min-max normalize each retriever's scores onto [0,1],
    * then weighted-arithmetic-mean combine — the default technique of
    * the hybrid query's score-based mode). Both score lists are
    * BOUNDED (≤20 rows), so the min-max stats are one-row broadcasts
    * and fusion is list-sized; a missing side contributes 0 after
    * normalization (the processor's rule). Scores were round(6)-pinned
    * upstream and the normalization is two exact picks + one division
    * — identical doubles cross-engine.
    *
    * Each arm's scored list is materialized ONCE (localCheckpoint on a
    * ≤20-row frame — the bounded-intermediate contract the build gate
    * audits). Without it every consumer (the min/max stats AND the
    * fusion join) re-derived the whole retriever pipeline, compiling
    * to 24 corpus scans for one dashboard query — at 100 TB that is
    * 24 corpus reads where two suffice.
    */
  lazy val searchHybridNorm: (SparkSession, String) => DataFrame = (spark, dir) => {
    // the two arm builds are independent Spark jobs — submit them
    // concurrently so materializing them keeps the stage overlap the
    // old lazy single-DAG had (results are frames, order-independent)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val lexF = Future(Materialize(
      searchRanked(spark, dir).select(col("doc_id"), col("score").as("s_lex")), "hybrid-lexical"))
    val semF = Future(Materialize(
      moreLikeThis(spark, dir).select(col("doc_id"), col("score").as("s_mlt")), "hybrid-semantic"))
    val lex = Await.result(lexF, Duration.Inf)
    val sem = Await.result(semF, Duration.Inf)
    val lstat = lex.agg(min(col("s_lex")).as("lmin"), max(col("s_lex")).as("lmax"))
    val sstat = sem.agg(min(col("s_mlt")).as("smin"), max(col("s_mlt")).as("smax"))
    def mm(s: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
           hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      coalesce(when(hi > lo, (s - lo) / (hi - lo)).otherwise(lit(1.0)), lit(0.0))
    lex.join(sem, Seq("doc_id"), "full")
      .crossJoin(broadcast(lstat)).crossJoin(broadcast(sstat))
      .withColumn("n_lex", round(mm(col("s_lex"), col("lmin"), col("lmax")), 6))
      .withColumn("n_mlt", round(mm(col("s_mlt"), col("smin"), col("smax")), 6))
      .withColumn("hybrid", round(col("n_lex") * 0.5 + col("n_mlt") * 0.5, 6))
      .orderBy(col("hybrid").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("n_lex"), col("n_mlt"), col("hybrid"))
  }

  lazy val searchHybridNormSql: String =
    s"""WITH lex AS (SELECT doc_id, score AS s_lex FROM ($searchRankedSql)),
       |sem AS (SELECT doc_id, score AS s_mlt FROM ($moreLikeThisSql)),
       |lstat AS (SELECT min(s_lex) AS lmin, max(s_lex) AS lmax FROM lex),
       |sstat AS (SELECT min(s_mlt) AS smin, max(s_mlt) AS smax FROM sem),
       |fused AS (
       |  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
       |    round(coalesce(CASE WHEN lmax > lmin THEN (s_lex - lmin) / (lmax - lmin) ELSE 1.0 END, 0.0), 6) AS n_lex,
       |    round(coalesce(CASE WHEN smax > smin THEN (s_mlt - smin) / (smax - smin) ELSE 1.0 END, 0.0), 6) AS n_mlt
       |  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
       |  CROSS JOIN lstat CROSS JOIN sstat)
       |SELECT doc_id, n_lex, n_mlt,
       |  round(n_lex * 0.5 + n_mlt * 0.5, 6) AS hybrid
       |FROM fused
       |ORDER BY hybrid DESC, doc_id
       |LIMIT 10""".stripMargin

  /** C3c — fuzzy term search (OpenSearch `fuzzy` / Discover's query-bar
    * fuzziness): docs containing any token within `maxDist` edits of the
    * query term, with the best distance and match count per doc.
    *
    * Plan: tokenize (flatMap, no shuffle) → free length-gap pruning
    * (edit distance ≥ |len(tok) − len(q)|, so most tokens skip the DP
    * entirely) → banded 3-arg levenshtein (O(len × maxDist) per token,
    * −1 above the threshold) → one partial-aggregated groupBy(doc_id).
    * Brute token scan parallelizes linearly; a production search engine
    * would serve this from a deletion-neighborhood index, but the scan
    * is the honest one-pass shape for ad-hoc queries over raw parquet.
    */
  def searchFuzzy(spark: SparkSession, dir: String,
                  q: String = "spak", maxDist: Int = 2): DataFrame = {
    val qLen = q.length
    Tables.atComputeParallelism(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(abs(length(col("tok")) - lit(qLen)) <= maxDist)
      // call_function keeps q out of SQL-string space: a quote in the
      // query term must be data, never expression syntax.
      .withColumn("d",
        call_function("levenshtein", col("tok"), lit(q), lit(maxDist)).cast("long"))
      .filter(col("d") >= 0)
      .groupBy(col("doc_id"))
      .agg(min(col("d")).as("best_dist"), count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  val searchFuzzySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, CAST(levenshtein(tok, 'spak') AS BIGINT) AS d
      |  FROM toks
      |  WHERE abs(length(tok) - 4) <= 2 AND levenshtein(tok, 'spak') <= 2)
      |SELECT doc_id, min(d) AS best_dist, count(*) AS n_matches
      |FROM m GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** E19 — unigram language-model quality score (the CCNet-style
    * perplexity filter, public: Wenzek et al. 2020): score each doc by
    * its per-token negative log-likelihood under an add-one-smoothed
    * unigram model of the corpus itself. Low NLL ≈ stereotypical text,
    * high NLL ≈ rare-token soup — the standard LM-based quality cut.
    *
    * Scale shape: token counts are ONE shuffle of (doc,token) pairs;
    * the count join is pinned shuffle_hash (a web-scale vocabulary
    * cannot broadcast — same reasoning as TF-IDF); corpus totals are a
    * one-row broadcast. Cross-engine parity: per-token log-probs are
    * quantized to integer micro-nats with floor() BEFORE the per-doc
    * sum — identical IEEE doubles floor identically, and an INTEGER sum
    * is order-independent, where a float sum over a doc's tokens would
    * diverge in final ulps between engines.
    */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("token"))
    val counts = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
    toks.join(counts.hint("shuffle_hash"), "token")
      .crossJoin(broadcast(totals))
      .withColumn("lp_micro",
        floor(log((col("c") + 1).cast("double") /
          (col("n_total") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_toks")).cast("long").as("n_toks"),
        sum(col("lp_micro")).as("s"))
      // NO final round(): s and n_toks are identical integers in both
      // engines, so the division is bit-identical — while round(,4) of a
      // half-boundary double diverges between Spark (BigDecimal HALF_UP)
      // and DuckDB (binary rounding); observed on 1 doc in 5000 at sf0.1
      .select(col("doc_id"), col("n_toks"),
        (-col("s").cast("double") / 1e6 / col("n_toks")).as("nll_per_token"))
      .orderBy(col("doc_id"))
  }

  val unigramLogprobSql: String =
    """WITH toks AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |    unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM counts),
      |scored AS (
      |  SELECT t.doc_id, CAST(any_value(t.n_toks) AS BIGINT) AS n_toks,
      |    CAST(sum(CAST(floor(ln(CAST(c.c + 1 AS DOUBLE) /
      |      CAST(tot.n_total + tot.v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN counts c USING (token) CROSS JOIN tot
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_toks,
      |  -CAST(s AS DOUBLE) / 1000000.0 / n_toks AS nll_per_token
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  /** E30 — bigram-LM quality score (the KenLM-style perplexity filter
    * of CCNet-class pipelines, at bigram order; E19 is the unigram
    * floor). MLE with add-1 smoothing: p(w2|w1) = (c(w1w2)+1)/(c(w1·)+V)
    * where c(w1·) counts bigram STARTS. Bigrams are cut as array
    * expressions in the scan (sequence + element_at — no self-join);
    * the conditional-count joins are shuffle-hash on the bigram/prefix
    * keys (web-scale bigram vocabularies must never broadcast); each
    * log-prob floors to integer micro-nats BEFORE the per-doc sum.
    */
  /** Shared E30/E34 core: per-doc total bigram log-prob in integer
    * micro-nats (`s`, negative) plus the bigram count — the exact
    * integer pair every downstream perplexity statistic derives from
    * deterministically. */
  private def bigramMicroNats(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val uni = toks.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val v = uni.agg(count(lit(1)).as("v"))
    toks.join(bi.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(uni.hint("shuffle_hash"), Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("lp_micro",
        floor(log((col("cb") + 1).cast("double") /
          (col("cu") + col("v")).cast("double")) * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("s"))
  }

  def bigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramMicroNats(spark, dir)
      .select(col("doc_id"), col("n_bigrams"),
        (-col("s").cast("double") / 1e6 / col("n_bigrams")).as("nll_per_bigram"))
      .orderBy(col("doc_id"))

  val bigramLogprobSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |toks AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM docs, unnest(range(1, len(ws))) AS t(i)),
      |bi AS (SELECT w1, w2, count(*) AS cb FROM toks GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS cu FROM toks GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM uni),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CAST(floor(ln(CAST(cb + 1 AS DOUBLE) /
      |      CAST(cu + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vv
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_bigrams,
      |  -CAST(s AS DOUBLE) / 1000000.0 / n_bigrams AS nll_per_bigram
      |FROM scored
      |ORDER BY doc_id""".stripMargin

  /** E34 — perplexity-bucketed corpus split (CCNet, Wenzek et al.
    * 2020: score every document with a per-language LM, cut each
    * language's distribution into head/middle/tail terciles — the
    * standard quality tiers downstream mixtures sample from). The LM is
    * E30's bigram model in integer micro-nats; docs with <2 tokens have
    * no LM score and are excluded, as in the E30 row. Tercile
    * assignment is `ntile(3)` over (nll, doc_id) WITHIN each language —
    * a per-language sort, partition-parallel across languages, which is
    * exact-CCNet semantics (at extreme per-language cardinality the
    * two-pass variant — approx-percentile cutoffs then a stateless
    * filter — trades exactness for no sort; the report here keeps the
    * exact cut). Output is the audit table: per (lang, tier) doc count
    * and mean NLL from exact integer sums — deterministic end to end
    * because the ordering key itself derives from exact integers.
    */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("nll"), col("doc_id"))
    bigramMicroNats(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("nll", -col("s").cast("double") / 1e6 / col("n_bigrams"))
      .withColumn("tier_n", ntile(3).over(w))
      .withColumn("tier",
        when(col("tier_n") === 1, "head")
          .when(col("tier_n") === 2, "middle").otherwise("tail"))
      .groupBy(col("lang"), col("tier"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        round(-sum(col("s")).cast("double") / 1e6 / sum(col("n_bigrams")), 6)
          .as("mean_nll"))
      .orderBy(col("lang"), col("tier"))
  }

  val perplexityBucketsSql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |toks AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM docs, unnest(range(1, len(ws))) AS t(i)),
      |bi AS (SELECT w1, w2, count(*) AS cb FROM toks GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS cu FROM toks GROUP BY 1),
      |vv AS (SELECT count(*) AS v FROM uni),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CAST(floor(ln(CAST(cb + 1 AS DOUBLE) /
      |      CAST(cu + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vv
      |  GROUP BY t.doc_id),
      |tiered AS (
      |  SELECT d.lang, s.n_bigrams, s.s,
      |    ntile(3) OVER (PARTITION BY d.lang
      |      ORDER BY -CAST(s.s AS DOUBLE) / 1000000.0 / s.n_bigrams, s.doc_id)
      |      AS tier_n
      |  FROM scored s JOIN documents d USING (doc_id))
      |SELECT lang,
      |  CASE tier_n WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier,
      |  count(*) AS n_docs,
      |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
      |  round(-CAST(sum(s) AS DOUBLE) / 1000000.0 / sum(n_bigrams), 6) AS mean_nll
      |FROM tiered
      |GROUP BY lang, tier_n
      |ORDER BY lang, tier""".stripMargin

  /** E66 — perplexity-filter ablation table (the what-if a CCNet-class
    * pipeline publishes BEFORE committing to a perplexity cut: corpus
    * size, token volume, and residual mean NLL at each candidate
    * threshold — E51 sweeps dedup thresholds, this sweeps the quality
    * filter). Thresholds are mean-relative (corpus mean NLL + offset)
    * so the ladder stays non-degenerate at any SF; the mean comes from
    * the same exact integer micro-nat sums as the per-doc scores, so
    * keep/drop decisions are bit-identical cross-engine. One LM pass
    * (E30's bigram core), one-row stats broadcast, every cut evaluated
    * as conditional aggregates in a single pass, stack-unpivot.
    */
  def perplexityAblation(spark: SparkSession, dir: String): DataFrame = {
    val cuts = Seq(("mean-0.10", -0.10), ("mean+0.00", 0.0),
      ("mean+0.10", 0.10), ("mean+0.20", 0.20))
    val perDoc = bigramMicroNats(spark, dir)
    val stats = perDoc.agg(sum(col("s")).as("st"), sum(col("n_bigrams")).as("bt"),
      count(lit(1)).as("nd_total"))
    val scored = perDoc.crossJoin(broadcast(stats))
      .withColumn("nll", -col("s").cast("double") / 1e6 / col("n_bigrams"))
      .withColumn("mean_nll", -col("st").cast("double") / 1e6 / col("bt"))
    val aggs = cuts.zipWithIndex.flatMap { case ((_, off), i) =>
      val keep = col("nll") <= col("mean_nll") + lit(off)
      Seq(sum(when(keep, 1L).otherwise(0L)).as(s"nd_$i"),
        sum(when(keep, col("n_bigrams")).otherwise(0L)).as(s"nb_$i"),
        sum(when(keep, col("s")).otherwise(0L)).as(s"s_$i"))
    } ++ Seq(max(col("nd_total")).as("nd_4"), sum(col("n_bigrams")).as("nb_4"),
      sum(col("s")).as("s_4"))
    val wide = scored.agg(aggs.head, aggs.tail: _*)
    val stackSpec = (cuts.map(_._1) :+ "zz_all").zipWithIndex
      .map { case (lbl, i) => s"'$lbl', nd_$i, nb_$i, s_$i" }.mkString(", ")
    wide.select(expr(s"stack(5, $stackSpec) AS (cut, n_docs, n_bigrams, s)"))
      .select(col("cut"), col("n_docs"), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          -col("s").cast("double") / 1e6 / col("n_bigrams")).as("mean_nll_kept"))
      .orderBy(col("cut"))
  }

  val perplexityAblationSql: String = {
    val cuts = Seq(("mean-0.10", "-0.10"), ("mean+0.00", "0.0"),
      ("mean+0.10", "0.10"), ("mean+0.20", "0.20"))
    val arms = cuts.map { case (lbl, off) =>
      s"""SELECT '$lbl' AS cut,
         |  CAST(sum(CASE WHEN nll <= mean_nll + $off THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN nll <= mean_nll + $off THEN n_bigrams ELSE 0 END) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN nll <= mean_nll + $off THEN s ELSE 0 END) AS BIGINT) AS s
         |FROM withnll""".stripMargin
    }.mkString("\n  UNION ALL\n  ") +
      """
        |  UNION ALL
        |  SELECT 'zz_all', count(*), CAST(sum(n_bigrams) AS BIGINT),
        |    CAST(sum(s) AS BIGINT) FROM withnll""".stripMargin
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |toks AS (
       |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
       |  FROM docs, unnest(range(1, len(ws))) AS t(i)),
       |bi AS (SELECT w1, w2, count(*) AS cb FROM toks GROUP BY 1, 2),
       |uni AS (SELECT w1, count(*) AS cu FROM toks GROUP BY 1),
       |vv AS (SELECT count(*) AS v FROM uni),
       |scored AS (
       |  SELECT t.doc_id, count(*) AS n_bigrams,
       |    CAST(sum(CAST(floor(ln(CAST(cb + 1 AS DOUBLE) /
       |      CAST(cu + v AS DOUBLE)) * 1000000) AS BIGINT)) AS BIGINT) AS s
       |  FROM toks t JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vv
       |  GROUP BY t.doc_id),
       |tot AS (
       |  SELECT CAST(sum(s) AS BIGINT) AS st, CAST(sum(n_bigrams) AS BIGINT) AS bt
       |  FROM scored),
       |withnll AS (
       |  SELECT n_bigrams, s,
       |    -CAST(s AS DOUBLE) / 1000000.0 / n_bigrams AS nll,
       |    -CAST(st AS DOUBLE) / 1000000.0 / bt AS mean_nll
       |  FROM scored CROSS JOIN tot),
       |armed AS (
       |  $arms)
       |SELECT cut, n_docs, n_bigrams,
       |  CASE WHEN n_bigrams > 0
       |       THEN -CAST(s AS DOUBLE) / 1000000.0 / n_bigrams END AS mean_nll_kept
       |FROM armed
       |ORDER BY cut""".stripMargin
  }

  /** E28 — language-mismatch audit (the per-source label-quality table
    * a curation run publishes: which sources' declared languages
    * disagree with the detector — mislabeled crawls poison per-language
    * mixtures). Reuses E8's native lang-id kernel scoring; one join to
    * recover the source, one bounded aggregate. The oracle wraps the
    * same independently-replicated scoring SQL q_lang_id verifies.
    */
  def langMismatch(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("predicted_lang") =!= col("labeled_lang"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .withColumn("mismatch_rate", col("n_mismatch").cast("double") / col("n_docs"))
      .orderBy(col("source"))

  val langMismatchSql: String =
    s"""WITH pred AS ($langIdSql)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN predicted_lang <> labeled_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       |  CAST(sum(CASE WHEN predicted_lang <> labeled_lang THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS mismatch_rate
       |FROM pred JOIN documents d USING (doc_id)
       |GROUP BY d.source
       |ORDER BY d.source""".stripMargin

  /** C24 — "significant terms" (OpenSearch significant_terms agg):
    * tokens over-represented in a foreground slice (source = src0) vs
    * the whole corpus, scored by relative frequency ratio. Background
    * totals are broadcast; one shuffle on token. The top-k over the
    * vocabulary-sized per-token aggregate is TopKAgg on a String key
    * (bounded buffer, map-side partials) rather than a global rank
    * window — at web scale the vocabulary is 10⁸⁺ rows, so a single-
    * partition sort is exactly the plan that must not exist. The k
    * winning tokens are then broadcast back onto the per-token
    * aggregate to recover their fg/bg counts (k rows, no extra
    * shuffle of the aggregate).
    */
  def significantTerms(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    // pre-aggregate once on (token): conditional sums give foreground
    // and background in the same pass — the raw token stream is
    // shuffled exactly once, and every downstream input (totals too) is
    // the small per-token aggregate, whose exchange Spark reuses
    val toks = Tables.documents(spark, dir)
      .select(col("source") === "src0", explode(split(col("text"), " ")).as("token"))
      .toDF("is_fg", "token")
    val perToken = toks.groupBy(col("token")).agg(
      sum(when(col("is_fg"), 1).otherwise(0)).cast("double").as("fg"),
      count(lit(1)).cast("double").as("bg"))
    val totals = perToken.agg(
      sum(col("fg")).as("fg_total"), sum(col("bg")).as("bg_total"))
    val scored = perToken
      .filter(col("fg") >= 3)
      .crossJoin(broadcast(totals))
      .withColumn("score",
        round((col("fg") / col("fg_total")) / (col("bg") / col("bg_total")), 6))
    val ranked = TopKAgg.rank(scored, k, "token", col("score"))
    perToken.join(broadcast(ranked), "token")
      .select(col("token"), col("fg").cast("long").as("fg"),
        col("bg").cast("long").as("bg"), col("score"), col("rank"))
      .orderBy(col("rank"))
  }

  /** C24b — significant_text (OpenSearch's free-text sibling of C24):
    * the foreground is a QUERY MATCH over the text itself (not a
    * structured field), counting is DOCUMENT frequency over per-doc
    * distinct tokens, and `filter_duplicate_text` — the agg's flagship
    * knob — collapses identical texts first so boilerplate can't vote
    * its own vocabulary significant. Scoring is JLH
    * ((fg% − bg%)·(fg%/bg%)), OpenSearch's default. Plan shape mirrors
    * C24: ONE token-keyed aggregate (map-side combined), a one-row
    * totals broadcast, and the mergeable TopKAgg — no global token sort.
    */
  def significantText(spark: SparkSession, dir: String,
                      term: String = "spark", k: Int = 15): DataFrame = {
    val uniq = Tables.documents(spark, dir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
    val base = uniq.select(
      col("text").contains(term).as("is_fg"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val perToken = base.select(col("is_fg"), explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(
        sum(when(col("is_fg"), 1).otherwise(0)).cast("double").as("fg"),
        count(lit(1)).cast("double").as("bg"))
    val totals = base.agg(
      sum(when(col("is_fg"), 1).otherwise(0)).cast("double").as("n_fg"),
      count(lit(1)).cast("double").as("n_docs"))
    val scored = perToken
      .filter(col("fg") >= 3)
      .crossJoin(broadcast(totals))
      .withColumn("score",
        round(((col("fg") / col("n_fg")) - (col("bg") / col("n_docs"))) *
          ((col("fg") / col("n_fg")) / (col("bg") / col("n_docs"))), 6))
    val ranked = TopKAgg.rank(scored, k, "token", col("score"))
    perToken.join(broadcast(ranked), "token")
      .select(col("token"), col("fg").cast("long").as("fg"),
        col("bg").cast("long").as("bg"), col("score"), col("rank"))
      .orderBy(col("rank"))
  }

  val significantTextSql: String =
    """WITH uniq AS (
      |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
      |base AS (
      |  SELECT contains(text, 'spark') AS is_fg,
      |    list_distinct(string_split(text, ' ')) AS toks FROM uniq),
      |toks AS (SELECT is_fg, unnest(toks) AS token FROM base),
      |pt AS (
      |  SELECT token,
      |    CAST(sum(CASE WHEN is_fg THEN 1 ELSE 0 END) AS DOUBLE) AS fg,
      |    CAST(count(*) AS DOUBLE) AS bg
      |  FROM toks GROUP BY 1),
      |totals AS (
      |  SELECT CAST(sum(CASE WHEN is_fg THEN 1 ELSE 0 END) AS DOUBLE) AS n_fg,
      |         CAST(count(*) AS DOUBLE) AS n_docs
      |  FROM base),
      |scored AS (
      |  SELECT token, fg, bg,
      |    round(((fg / n_fg) - (bg / n_docs)) * ((fg / n_fg) / (bg / n_docs)), 6) AS score
      |  FROM pt CROSS JOIN totals
      |  WHERE fg >= 3),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, token) AS rank FROM scored)
      |SELECT token, CAST(fg AS BIGINT) AS fg, CAST(bg AS BIGINT) AS bg, score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 15
      |ORDER BY rank""".stripMargin

  val significantTermsSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
      |fg AS (
      |  SELECT token, CAST(count(*) AS DOUBLE) AS fg FROM toks WHERE source = 'src0' GROUP BY token),
      |bg AS (
      |  SELECT token, CAST(count(*) AS DOUBLE) AS bg FROM toks GROUP BY token),
      |totals AS (
      |  SELECT CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS DOUBLE) AS fg_total,
      |         CAST(count(*) AS DOUBLE) AS bg_total
      |  FROM toks),
      |scored AS (
      |  SELECT token, fg, bg,
      |    round((fg / fg_total) / (bg / bg_total), 6) AS score
      |  FROM fg JOIN bg USING (token) CROSS JOIN totals
      |  WHERE fg >= 3),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, token) AS rank FROM scored)
      |SELECT token, CAST(fg AS BIGINT) AS fg, CAST(bg AS BIGINT) AS bg, score,
      |  CAST(rank AS BIGINT) AS rank
      |FROM ranked WHERE rank <= 15
      |ORDER BY rank""".stripMargin

  /** C64 — the `_analyze` API / index-time analysis chain (standard
    * tokenizer → lowercase → English stop filter → `minimal_english`
    * stemmer), applied as the corpus's term-dictionary view: analyzed
    * term → document frequency + total frequency — what the index
    * VOCABULARY looks like under a configured analyzer, the first
    * thing a search engineer inspects when relevance misbehaves.
    *
    * Every chain step is a codegen'd higher-order array expression in
    * the scan projection (functions/TextFns.analyzeTokens — no UDF);
    * the one token-keyed aggregate after the explode is the only
    * exchange at any corpus size. TextFnsSpec pins the stemmer's rule
    * edges (plural stripped; -ss/-us/len<3 kept; stopwords dropped;
    * case folded) on crafted vectors.
    */
  def analyzeTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextFns.analyzeTokens(col("text"))).as("term"))
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"), count(lit(1)).as("tf"))
      .orderBy(col("term"))

  val analyzeTermsSql: String = {
    val stop = graft.functions.TextFns.analyzerStopwords
      .map(s => s"'$s'").mkString(", ")
    s"""WITH analyzed AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_filter(string_split_regex(lower(text), '\\s+'),
       |                  t -> t <> '' AND t NOT IN ($stop)),
       |      t -> CASE WHEN length(t) >= 3 AND t LIKE '%s'
       |                  AND NOT (t LIKE '%ss' OR t LIKE '%us')
       |                THEN substr(t, 1, length(t) - 1) ELSE t END) AS terms
       |  FROM documents),
       |toks AS (SELECT doc_id, unnest(terms) AS term FROM analyzed)
       |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
       |FROM toks
       |GROUP BY term
       |ORDER BY term""".stripMargin
  }

  /** C3y — pinned query (OpenSearch `pinned`: curated doc ids rank
    * FIRST in their listed order, organic results fill the remaining
    * slots — the "promote these three docs for this campaign" tool).
    * Two defining behaviors both kept: a pinned doc appears even when
    * the organic query does NOT match it (score 0), and a pinned doc
    * never re-appears in the organic tail (OpenSearch dedups).
    *
    * Shape for scale: organic ranking is C3b's; the pinned side is an
    * |ids|-row broadcast lookup into the SAME scored frame; the final
    * rank is one window over ≤ k + |ids| rows. Nothing new is
    * corpus-sized.
    */
  def pinnedSearch(spark: SparkSession, dir: String,
                   ids: Seq[Long] = Seq(42L, 7L, 99L),
                   terms: Seq[String] = Seq("spark", "window", "merge"),
                   k: Int = 20): DataFrame = {
    import spark.implicits._
    val pins = ids.zipWithIndex.map { case (id, o) => (id, o + 1) }
      .toDF("doc_id", "pin_order")
    val scored = bm25Scored(spark, dir, terms)
      .select(col("doc_id"), col("score"))
    // pinned arm: scored row looked up per id (score may be 0 — pinned
    // docs surface regardless of the organic match)
    val pinned = scored.join(broadcast(pins), "doc_id")
      .select(col("doc_id"), col("score"), lit(true).as("pinned"), col("pin_order"))
    val organic = topHits(scored.filter(!col("doc_id").isin(ids: _*)), k)
      .select(col("doc_id"), col("score"),
        lit(false).as("pinned"), lit(Int.MaxValue).as("pin_order"))
    val w = Window.orderBy(col("pin_order"), col("score").desc, col("doc_id"))
    pinned.unionByName(organic)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("score"), col("pinned"))
      .orderBy(col("rank"))
  }

  val pinnedSearchSql: String = {
    val terms = Seq("spark", "window", "merge")
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |pins AS (SELECT * FROM (VALUES (42, 1), (7, 2), (99, 3)) p(doc_id, pin_order)),
       |united AS (
       |  SELECT s.doc_id, s.score, TRUE AS pinned, p.pin_order
       |  FROM scored s JOIN pins p ON s.doc_id = p.doc_id
       |  UNION ALL
       |  SELECT doc_id, score, FALSE, 2147483647
       |  FROM scored
       |  WHERE score > 0 AND doc_id NOT IN (SELECT doc_id FROM pins)),
       |ranked AS (
       |  SELECT CAST(row_number() OVER (ORDER BY pin_order, score DESC, doc_id) AS BIGINT) AS rank,
       |    doc_id, score, pinned
       |  FROM united)
       |SELECT rank, doc_id, score, pinned FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3x — `combined_fields` query (Lucene CombinedFieldQuery / the
    * OpenSearch combined_fields type): the PRINCIPLED term-centric
    * multi-field ranking that supersedes cross_fields' statistics
    * blending. Instead of scoring each field and combining, the fields
    * are merged into ONE synthetic field BEFORE BM25 (the BM25F
    * simplification of Robertson/Zaragoza 2009): weighted tf
    * (tf_c = Σ_f w_f·tf_f), weighted length (dl_c = Σ_f w_f·dl_f),
    * ONE document frequency (doc matches if ANY field contains the
    * term) and therefore one idf — so, unlike cross_fields, a term's
    * weight never depends on WHICH field it landed in, only how often.
    */
  def combinedFields(spark: SparkSession, dir: String,
                     terms: Seq[String] = Seq("spark", "window", "merge"),
                     titleLen: Int = 8, k: Int = 20): DataFrame = {
    // the synthetic combined field: weighted tf and dl, computed in the
    // same projection — the per-field columns never leave the scan
    val perDoc = fieldSplit(spark, dir, titleLen).select(col("doc_id") +:
      (fieldBoosts.map { case (f, w) => lit(w) * size(col(s"f_$f")).cast("double") }
        .reduce(_ + _).as("dl_c") +:
        terms.map(t =>
          fieldBoosts.map { case (f, w) =>
            lit(w) * size(filter(col(s"f_$f"), x => x === t)).cast("double")
          }.reduce(_ + _).as(s"tf_c_$t"))): _*)
    val stats = perDoc.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl_c")) / count(lit(1))).as("avgdl_c") +:
        terms.map(t =>
          sum(when(col(s"tf_c_$t") > 0, 1).otherwise(0)).cast("double").as(s"df_$t")): _*)
    val scoreExpr = terms.map(t =>
      bm25Idf(col(s"df_$t")) * bm25TfNorm(col(s"tf_c_$t"), col("dl_c"), col("avgdl_c")))
      .reduce(_ + _)
    topHits(perDoc.crossJoin(broadcast(stats)).withColumn("score", round(scoreExpr, 6)), k)
      .orderBy(col("rank"))
  }

  val combinedFieldsSql: String = {
    val terms = Seq("spark", "window", "merge")
    val fields = Seq(("title", "2.0"), ("body", "1.0"))
    val dlC = fields.map { case (f, w) => s"$w * len(f_$f)" }.mkString(" + ")
    val tfs = s"CAST($dlC AS DOUBLE) AS dl_c" +:
      terms.map { t =>
        val s = fields.map { case (f, w) =>
          s"$w * len(list_filter(f_$f, w_ -> w_ = '$t'))" }.mkString(" + ")
        s"CAST($s AS DOUBLE) AS tf_c_$t"
      }
    val dfs = s"sum(dl_c) / count(*) AS avgdl_c" +:
      terms.map(t =>
        s"CAST(sum(CASE WHEN tf_c_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_c_$t * 2.2 / (tf_c_$t + 1.2 * (0.25 + 0.75 * dl_c / avgdl_c)))")
      .mkString(" + ")
    s"""WITH docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |fsplit AS (
       |  SELECT doc_id, ws[1:8] AS f_title,
       |    CASE WHEN len(ws) > 8 THEN ws[9:] ELSE [] END AS f_body
       |  FROM docs),
       |perdoc AS (
       |  SELECT doc_id,
       |    ${tfs.mkString(",\n    ")}
       |  FROM fsplit),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    ${dfs.mkString(",\n    ")}
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id, round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C3z — match_bool_prefix (the search-as-you-type query: every
    * typed term matches as a normal term, the LAST — still being typed
    * — matches as a prefix). Per OpenSearch semantics the complete
    * terms score with BM25 while the prefix clause is a multi-term
    * query under the default constant_score rewrite: any doc with a
    * token starting with the prefix gets a flat 1.0 contribution —
    * prefix expansions deliberately carry no per-term idf (scoring
    * thousands of expansions would be both slow and meaningless). The
    * prefix's `startswith` existence flag comes out of C3b's token
    * aggregate beside the complete terms' tf.
    */
  def matchBoolPrefix(spark: SparkSession, dir: String,
                      terms: Seq[String] = Seq("spark", "merge"),
                      prefix: String = "win", k: Int = 20): DataFrame = {
    topHits(bm25Scored(spark, dir, terms,
      extra = Seq(max(when(col("token").startsWith(prefix), 1).otherwise(0)).as("has_prefix")))
      .withColumn("score",
        round(bm25Sum(terms) + when(col("has_prefix") === 1, 1.0).otherwise(0.0), 6)), k)
      .orderBy(col("rank"))
  }

  val matchBoolPrefixSql: String = {
    val terms = Seq("spark", "merge")
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl,
       |    $tfs,
       |    max(CASE WHEN token LIKE 'win%' THEN 1 ELSE 0 END) AS has_prefix
       |  FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    sum(dl) / count(*) AS avgdl,
       |    $dfs
       |  FROM perdoc),
       |scored AS (
       |  SELECT doc_id,
       |    round(($score) + (CASE WHEN has_prefix = 1 THEN 1.0 ELSE 0.0 END), 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |ranked AS (
       |  SELECT doc_id, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
       |  FROM scored WHERE score > 0)
       |SELECT doc_id, score, rank FROM ranked
       |WHERE rank <= 20
       |ORDER BY rank""".stripMargin
  }

  /** C66 — neural sparse search (the OpenSearch `neural_sparse` query /
    * SPLADE-class retrieval, Formal et al. 2021): documents and queries
    * are SPARSE term-weight vectors scored by dot product over the
    * inverted index — the learned-retrieval middle ground between BM25
    * and dense ANN. The sandbox has no encoder model, so the doc-side
    * "learned" weights are a deterministic stand-in (log-saturated tf ×
    * idf, the analytic core SPLADE's regularizer pushes toward) — the
    * part that matters for the engine is the PLUMBING, and that is
    * real: per-doc top-m sparsification (the doc-side expansion cap),
    * integer micro-weights (float dot products are summation-order-
    * dependent across engines; integer products sum exactly), a
    * token-keyed posting table, and a bounded query-side expansion list
    * joined posting-style.
    *
    * Scale shape: tf (doc,token) and df (token) aggregates are the two
    * corpus exchanges; the top-m cut windows per doc_id; the probe side
    * is an |expansion|-literal `isin` PUSHED INTO the posting scan (a
    * real deployment stores the postings token-bucketed, making this a
    * pruned read); scoring groupBy(doc_id) touches only matched
    * postings; TopKAgg bounds the final exchange to O(k).
    */
  def neuralSparse(spark: SparkSession, dir: String,
                   expansion: Seq[(String, Long)] =
                     Seq("spark" -> 1200L, "merge" -> 800L, "window" -> 1000L, "fast" -> 500L),
                   docTerms: Int = 8, k: Int = 20): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("df"))
    val nDocs = tf.agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
    // doc-side sparse vector: micro-int weights, top-m terms per doc
    // (deterministic tiebreak token ASC — the sparsification cap)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("w_u").desc, col("token"))
    val postings = tf.join(df, "token").crossJoin(broadcast(nDocs))
      .withColumn("w_u",
        round(log(lit(1.0) + col("tf")) * bm25Idf(col("df")) * 1e6).cast("long"))
      .filter(col("w_u") > 0)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= docTerms)
      .select(col("doc_id"), col("token"), col("w_u"))
    val qExp = expansion.toDF("token", "q_w")
    val scored = postings
      .filter(col("token").isin(expansion.map(_._1): _*))
      .join(broadcast(qExp), "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("w_u") * col("q_w")).as("score_u"))
    TopKAgg.rank(scored, k, "doc_id", col("score_u").cast("double"))
      .select(col("doc_id"), col("score").cast("long").as("score_u"), col("rank"))
      .orderBy(col("rank"))
  }

  val neuralSparseSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      |  FROM toks GROUP BY doc_id, token),
      |df AS (
      |  SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
      |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf),
      |weighted AS (
      |  SELECT tf.doc_id, tf.token,
      |    CAST(round(ln(1.0 + tf.tf) *
      |      ln(1.0 + (nd.n_docs - df.df + 0.5) / (df.df + 0.5)) * 1e6) AS BIGINT) AS w_u
      |  FROM tf JOIN df ON tf.token = df.token CROSS JOIN nd),
      |sparse AS (
      |  SELECT doc_id, token, w_u,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY w_u DESC, token) AS rk
      |  FROM weighted WHERE w_u > 0),
      |postings AS (SELECT doc_id, token, w_u FROM sparse WHERE rk <= 8),
      |qexp AS (SELECT * FROM (VALUES ('spark', 1200), ('merge', 800),
      |                               ('window', 1000), ('fast', 500)) q(token, q_w)),
      |scored AS (
      |  SELECT p.doc_id, CAST(sum(p.w_u * q.q_w) AS BIGINT) AS score_u
      |  FROM postings p JOIN qexp q ON p.token = q.token
      |  GROUP BY p.doc_id),
      |ranked AS (
      |  SELECT doc_id, score_u,
      |    CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT doc_id, score_u, rank FROM ranked
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin
  /** C3v — rank_feature query (boost by a per-document static FEATURE
    * — pagerank, url_length, quality — with the saturation function,
    * the default: S(f) = f / (f + pivot), monotone, bounded, strongly
    * diminishing — so a 10× feature gap near zero matters and the same
    * gap in the tail doesn't). The match clause runs in filter context
    * (the C3w discipline); the ranking signal is the feature alone,
    * exactly how "boost popular pages" deployments layer rank_feature
    * over a bool filter.
    *
    * Feature = n_chars (the table's materialized static per-doc
    * numeric). Integer micro-unit division (boost·1e6·f div (f+pivot))
    * — exact cross-engine, no float boundary. The filter + arithmetic
    * live in the scan projection; the O(k) TopKAgg is the only
    * exchange.
    */
  def rankFeature(spark: SparkSession, dir: String,
                  term: String = "spark", pivot: Long = 350L,
                  k: Int = 20): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .filter(col("text").contains(term))
      .select(col("doc_id"),
        expr(s"(2000000L * n_chars) div (n_chars + ${pivot}L)").as("score_u"))
    TopKAgg.rank(scored, k, "doc_id", col("score_u").cast("double"))
      .select(col("doc_id"), col("score").cast("long").as("score_u"), col("rank"))
      .orderBy(col("rank"))
  }

  val rankFeatureSql: String =
    """WITH scored AS (
      |  SELECT doc_id,
      |    (CAST(2000000 AS BIGINT) * n_chars) // (n_chars + 350) AS score_u
      |  FROM documents
      |  WHERE position('spark' IN text) > 0),
      |ranked AS (
      |  SELECT doc_id, CAST(score_u AS BIGINT) AS score_u,
      |    CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT doc_id, score_u, rank FROM ranked
      |WHERE rank <= 20
      |ORDER BY rank""".stripMargin
  /** C3k2 — `_mtermvectors` with `term_statistics: true` (the batch
    * form dashboards use: one call, several docs, each term carrying
    * CORPUS df/ttf beside its per-doc tf/positions — the single-doc
    * C3k omits the corpus side). The ids list pushes into the scan as
    * a row-group-pruned point read; per-doc tf/positions aggregate
    * over the handful of surviving rows; the corpus df/ttf table is
    * the one data-sized aggregate, and the tiny request-vocabulary
    * side BROADCASTS into it — the corpus token table never moves.
    */
  def mtermVectors(spark: SparkSession, dir: String,
                   ids: Seq[Long] = Seq(3L, 7L, 11L)): DataFrame = {
    val docSide = Tables.documents(spark, dir)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"),
        array_join(sort_array(collect_list(col("pos").cast("long"))), ",").as("positions"))
    val corpusStats = Tables.documents(spark, dir)
      .select(col("doc_id").as("c_doc"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(countDistinct(col("c_doc")).as("df"), count(lit(1)).as("ttf"))
    corpusStats
      .join(broadcast(docSide), "token")
      .select(col("doc_id"), col("token"), col("tf"), col("positions"),
        col("df"), col("ttf"))
      .orderBy(col("doc_id"), col("token"))
  }

  val mtermVectorsSql: String =
    """WITH docside AS (
      |  SELECT doc_id, tok AS token, count(*) AS tf,
      |    array_to_string(list_sort(list(CAST(i - 1 AS BIGINT))), ',') AS positions
      |  FROM (
      |    SELECT doc_id, ws[i] AS tok, i
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |          WHERE doc_id IN (3, 7, 11)) d,
      |         unnest(range(1, len(ws) + 1)) AS t(i))
      |  GROUP BY doc_id, tok),
      |corpus AS (
      |  SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
      |    CAST(count(*) AS BIGINT) AS ttf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY token)
      |SELECT d.doc_id, d.token, d.tf, d.positions, c.df, c.ttf
      |FROM docside d JOIN corpus c ON d.token = c.token
      |ORDER BY d.doc_id, d.token""".stripMargin

  /** E30b — interpolated Kneser–Ney bigram perplexity (Kneser & Ney
    * 1995; the smoothing KenLM actually ships, and therefore what the
    * CCNet-class quality filters E30 approximates with add-1 really
    * run): p(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) + D·N1+(w1·)/c(w1·) ·
    * N1+(·w2)/|bigram types| with D = 0.75 — the defining device is
    * the CONTINUATION probability: "Francisco" is frequent but only
    * ever follows "San", so its unigram backoff weight should be tiny,
    * which continuation counts (distinct left contexts) capture and
    * raw unigram counts cannot.
    *
    * Same scale scaffold as E30: bigrams cut as array expressions in
    * the scan, count tables joined shuffle-hash on their keys (bigram
    * vocabularies never broadcast), the type-count total a one-row
    * broadcast, and every log-prob floored to integer micro-nats
    * BEFORE the per-doc sum — deterministic at any partitioning.
    */
  def knPerplexity(spark: SparkSession, dir: String,
                   discount: Double = 0.75): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => struct(element_at(col("ws"), i).as("w1"),
            element_at(col("ws"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bi = toks.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    // c(w1·) and N1+(w1·) out of ONE pass over the bigram-type table
    val uni = toks.groupBy(col("w1"))
      .agg(count(lit(1)).as("cu"), countDistinct(col("w2")).as("n1fw"))
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n1pw"))
    val types = bi.agg(count(lit(1)).as("n_types"))
    val d = lit(discount)
    val pKn =
      greatest(col("cb") - d, lit(0.0)) / col("cu") +
        (d * col("n1fw") / col("cu")) * (col("n1pw").cast("double") / col("n_types"))
    toks.join(bi.hint("shuffle_hash"), Seq("w1", "w2"))
      .join(uni.hint("shuffle_hash"), Seq("w1"))
      .join(cont.hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("lp_micro", floor(log(pKn) * 1e6).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        (-col("s").cast("double") / 1e6 / col("n_bigrams")).as("nll_kn"))
      .orderBy(col("doc_id"))
  }

  val knPerplexitySql: String =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |toks AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      |  FROM docs, unnest(range(1, len(ws))) AS t(i)),
      |bi AS (SELECT w1, w2, count(*) AS cb FROM toks GROUP BY 1, 2),
      |uni AS (SELECT w1, count(*) AS cu, count(DISTINCT w2) AS n1fw
      |        FROM toks GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS n1pw FROM bi GROUP BY 1),
      |types AS (SELECT count(*) AS n_types FROM bi),
      |scored AS (
      |  SELECT t.doc_id, count(*) AS n_bigrams,
      |    CAST(sum(CAST(floor(ln(
      |      greatest(cb - 0.75, 0.0) / cu +
      |      (0.75 * n1fw / cu) * (CAST(n1pw AS DOUBLE) / n_types)
      |    ) * 1000000) AS BIGINT)) AS BIGINT) AS s
      |  FROM toks t JOIN bi USING (w1, w2) JOIN uni USING (w1)
      |    JOIN cont USING (w2) CROSS JOIN types
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_bigrams,
      |  -CAST(s AS DOUBLE) / 1000000.0 / n_bigrams AS nll_kn
      |FROM scored
      |ORDER BY doc_id""".stripMargin
}

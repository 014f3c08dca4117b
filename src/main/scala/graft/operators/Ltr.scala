package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** C77 — learning-to-rank (the OpenSearch LTR plugin's `sltr` query +
  * feature logging): candidates come from a cheap primary query, a
  * FEATURE VECTOR is computed for each candidate, a trained model
  * scores the vector, and the logged features are returned with the
  * hits (that log is the training-data loop: judgments join onto it).
  * The model here is a linear ranker over four standard features —
  * BM25 score, matched-term count, exact-phrase hit, length
  * normalization — with pinned weights standing in for learned ones
  * (the plugin stores weights as data; the plan is weight-agnostic).
  *
  * Spark shape — the C60 rescore discipline: the corpus-wide pass is
  * ONE doc-keyed aggregate (C3b's conditional-count BM25, no token
  * join), the candidate window is the F5 mergeable TopKAgg (O(window)
  * exchange, no global sort), and feature extraction + model scoring
  * touch exactly `window` docs via a window-sized broadcast back to
  * the corpus — at 100 TB the per-query cost beyond the primary is
  * O(window), independent of corpus size. Determinism: integer
  * tf/df/dl, fixed-order expression chains, round(6) on every float
  * feature, and the model consumes the ROUNDED features (the r9
  * ADVICE lesson from Slo: gate and score on the same values the
  * oracle sees).
  */
object Ltr {

  private val terms = Seq("spark", "window", "merge")
  private val phrase = "spark window"
  private val candidates = 50
  private val k = 20
  // pinned "trained" weights: w · (f_bm25, f_matched, f_phrase, f_dlnorm)
  private val wBm25 = 1.0; private val wMatched = 0.5
  private val wPhrase = 0.75; private val wDlnorm = -0.1

  def ltrRescore(spark: SparkSession, dir: String): DataFrame = {
    val scored = TextAnalysis.bm25Scored(spark, dir, terms)
    val cand = TextAnalysis.topHits(scored, candidates).select(col("doc_id"))
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .join(broadcast(scored.join(broadcast(cand), "doc_id")), "doc_id")
      .withColumn("f_bm25", col("score"))
      .withColumn("f_matched",
        terms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L)).reduce(_ + _))
      .withColumn("f_phrase", when(col("text").contains(phrase), 1L).otherwise(0L))
      .withColumn("f_dlnorm", round(col("dl") / col("avgdl"), 6))
      .withColumn("ltr_score",
        round(col("f_bm25") * wBm25 + col("f_matched") * wMatched +
          col("f_phrase") * wPhrase + col("f_dlnorm") * wDlnorm, 6))
    feats
      .withColumn("rank",
        row_number().over(Window.orderBy(col("ltr_score").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("f_bm25"), col("f_matched"), col("f_phrase"),
        col("f_dlnorm"), col("ltr_score"), col("rank"))
      .orderBy(col("rank"))
  }

  val ltrRescoreSql: String = {
    val tfs = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS DOUBLE) AS tf_$t").mkString(",\n    ")
    val dfs = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(",\n    ")
    val score = terms.map(t =>
      s"ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * " +
        s"(tf_$t * 2.2 / (tf_$t + 1.2 * (0.25 + 0.75 * dl / avgdl)))")
      .mkString(" + ")
    val matched = terms.map(t => s"CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END")
      .mkString("CAST(", " + ", " AS BIGINT)")
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
       |  SELECT doc_id, dl, avgdl,
       |    ${terms.map(t => s"tf_$t").mkString(", ")},
       |    round($score, 6) AS score
       |  FROM perdoc CROSS JOIN stats),
       |cand AS (
       |  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS prim_rank
       |  FROM scored WHERE score > 0
       |  QUALIFY prim_rank <= $candidates),
       |feats AS (
       |  SELECT c.doc_id, c.score AS f_bm25,
       |    $matched AS f_matched,
       |    CASE WHEN contains(d.text, '$phrase') THEN 1 ELSE 0 END AS f_phrase,
       |    round(dl / avgdl, 6) AS f_dlnorm
       |  FROM cand c JOIN documents d ON c.doc_id = d.doc_id),
       |modeled AS (
       |  SELECT doc_id, f_bm25, CAST(f_matched AS BIGINT) AS f_matched,
       |    CAST(f_phrase AS BIGINT) AS f_phrase, f_dlnorm,
       |    round(f_bm25 * $wBm25 + f_matched * $wMatched +
       |      f_phrase * $wPhrase + f_dlnorm * $wDlnorm, 6) AS ltr_score
       |  FROM feats)
       |SELECT doc_id, f_bm25, f_matched, f_phrase, f_dlnorm, ltr_score,
       |  CAST(row_number() OVER (ORDER BY ltr_score DESC, doc_id) AS BIGINT) AS rank
       |FROM modeled
       |QUALIFY rank <= $k
       |ORDER BY rank""".stripMargin
  }
}

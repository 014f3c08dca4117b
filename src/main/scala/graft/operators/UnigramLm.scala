package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Tables}

/** E10e — unigram-LM tokenizer TRAINING (Kudo 2018, "Subword
  * Regularization": the SentencePiece `unigram` model — the other
  * mainstream subword scheme beside BPE, and the one whose EM
  * training a data pipeline runs to fit a tokenizer to its corpus).
  * Completes the tokenizer family: E10b/E10d apply fixed BPE tables,
  * E10c trains BPE merges, this trains the unigram piece inventory.
  *
  * Public algorithm: seed a large candidate inventory from frequent
  * substrings, then EM — the E-step computes EXPECTED piece counts per
  * word with forward–backward over all segmentations, the M-step
  * re-normalizes piece probabilities, and pruning shrinks the
  * inventory toward the target size (Kudo prunes by likelihood loss;
  * this prunes lowest-probability multi-char pieces, the standard
  * simplification, documented honestly). Single-character pieces are
  * never pruned, so every string stays segmentable (Kudo §3.2's
  * character coverage guarantee).
  *
  * Spark-first shape (the E10c/BpeTrain contract): the corpus is
  * scanned ONCE into a frequency-weighted DISTINCT word vocabulary;
  * every EM round is a VOCABULARY-sized job — the bounded piece table
  * (≤ seedSize rows, plan-sized like the PQ codebooks and sqParams)
  * broadcasts in the task closure, each word runs an O(len·maxLen)
  * forward–backward DP, and expected counts come back through ONE
  * piece-keyed groupBy-sum. Fractional expectations are quantized to
  * integer micro-counts BEFORE the shuffle (the embed-pool rule), so
  * sums are exact under any partitioning and training is bit-stable.
  */
object UnigramLm {

  private val NegInf = Double.NegativeInfinity

  private def logAdd(a: Double, b: Double): Double =
    if (a == NegInf) b else if (b == NegInf) a
    else if (a > b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Forward–backward expected piece counts over all segmentations of
    * one word, plus the word's log-likelihood. Deterministic: fixed
    * iteration order, plain double arithmetic inside one task.
    */
  private[graft] def expectedCounts(
      word: String, lp: Map[String, Double], maxLen: Int): (Seq[(String, Double)], Double) = {
    val n = word.length
    val alpha = Array.fill(n + 1)(NegInf); alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxLen, i)) {
        val piece = word.substring(i - l, i)
        lp.get(piece).foreach(p => alpha(i) = logAdd(alpha(i), alpha(i - l) + p))
        l += 1
      }
      i += 1
    }
    if (alpha(n) == NegInf) return (Seq.empty, NegInf)
    val beta = Array.fill(n + 1)(NegInf); beta(n) = 0.0
    i = n - 1
    while (i >= 0) {
      var l = 1
      while (l <= math.min(maxLen, n - i)) {
        val piece = word.substring(i, i + l)
        lp.get(piece).foreach(p => beta(i) = logAdd(beta(i), beta(i + l) + p))
        l += 1
      }
      i -= 1
    }
    val acc = scala.collection.mutable.Map.empty[String, Double]
    var j = 0
    while (j < n) {
      var l = 1
      while (l <= math.min(maxLen, n - j)) {
        val piece = word.substring(j, j + l)
        lp.get(piece).foreach { p =>
          val c = math.exp(alpha(j) + p + beta(j + l) - alpha(n))
          acc(piece) = acc.getOrElse(piece, 0.0) + c
        }
        l += 1
      }
      j += 1
    }
    (acc.toSeq, alpha(n))
  }

  /** Viterbi (max-probability) segmentation under the trained model. */
  private[graft] def viterbi(
      word: String, lp: Map[String, Double], maxLen: Int): Seq[String] = {
    val n = word.length
    val best = Array.fill(n + 1)(NegInf); best(0) = 0.0
    val back = Array.fill(n + 1)(0)
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxLen, i)) {
        lp.get(word.substring(i - l, i)).foreach { p =>
          if (best(i - l) + p > best(i)) { best(i) = best(i - l) + p; back(i) = l }
        }
        l += 1
      }
      i += 1
    }
    if (best(n) == NegInf) return Seq.empty
    val out = scala.collection.mutable.ListBuffer.empty[String]
    i = n
    while (i > 0) { out.prepend(word.substring(i - back(i), i)); i -= back(i) }
    out.toSeq
  }

  /** Train on the corpus; returns (final piece table, per-round corpus
    * log-likelihood in micro-nats). The LL sequence is the EM
    * convergence certificate the spec asserts non-decreasing.
    */
  def trainWithStats(spark: SparkSession, dir: String,
                     seedSize: Int = 256, vocabTarget: Int = 96,
                     emRounds: Int = 4, maxPieceLen: Int = 6): (DataFrame, Seq[Long]) = {
    import spark.implicits._
    val wordCounts = Tables.atComputeParallelism(
        Tables.documents(spark, dir).select(col("text")))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
    val (inv, lls) = Materialize.within(wordCounts, "unigram-train") { words =>
      // seed: frequency-weighted substrings of the word vocabulary. The
      // substring table is vocab-sized × O(len·maxLen) — ranked and CUT
      // DISTRIBUTED (TakeOrdered, bounded exchange); only the seedSize
      // winners and the alphabet-bounded single chars reach the driver.
      val subsDf = words.flatMap { case (w, f) =>
        for {
          start <- 0 until w.length
          len <- 1 to math.min(maxPieceLen, w.length - start)
        } yield (w.substring(start, start + len), f)
      }.toDF("piece", "w").groupBy("piece").agg(sum(col("w")).as("w"))
      val singles = subsDf.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect().sortBy(_._1)
      val multi = subsDf.filter(length(col("piece")) > 1)
        .orderBy(col("w").desc, col("piece")).limit(seedSize)
        .as[(String, Long)].collect()
      var inv: Seq[(String, Double)] = {
        val total = (singles ++ multi).map(_._2).sum.toDouble
        (singles ++ multi).map { case (p, w) => (p, math.log(w / total)) }.toSeq
      }

      val lls = scala.collection.mutable.ListBuffer.empty[Long]
      for (round <- 1 to emRounds) {
        val lp = inv.toMap
        val maxL = maxPieceLen
        // E-step: micro-quantized expected counts + corpus LL, one
        // shuffle. Quantization happens per WORD TYPE (floor(c·1e6)·f,
        // not floor(c·f·1e6)): c is O(word-length) so the 1e-6 grid
        // absorbs the libm ulp noise of the forward–backward log-space
        // arithmetic — the property that lets the DuckDB oracle replay
        // the whole EM with its own ln/exp (r13, the p-rounding device
        // from the IRLS fit)
        val stats = words.flatMap { case (w, f) =>
          val (cs, ll) = expectedCounts(w, lp, maxL)
          cs.map { case (p, c) => (p, math.floor(c * 1e6).toLong * f, 0L) } :+
            (("", 0L, if (ll == NegInf) 0L else math.floor(ll * 1e6).toLong * f))
        }.toDF("piece", "micro", "ll_micro")
          .groupBy("piece")
          .agg(sum(col("micro")).as("micro"), sum(col("ll_micro")).as("ll"))
          .as[(String, Long, Long)].collect()
        lls += stats.map(_._3).sum
        // M-step: normalize; floor singles so coverage survives pruning
        val counts = stats.filter(_._1.nonEmpty).map { case (p, m, _) => (p, m) }.toMap
        val kept = inv.map { case (p, _) =>
          val m = counts.getOrElse(p, 0L)
          (p, if (p.length == 1) math.max(m, 1L) else m)
        }.filter(_._2 > 0L)
        // prune lowest-mass multi-char pieces toward the target
        val (s1, mN) = kept.partition(_._1.length == 1)
        val target = math.max(vocabTarget - s1.size,
          mN.size - math.max((seedSize - vocabTarget) / emRounds, 1))
        val prunedMulti = mN.sortBy { case (p, m) => (-m, p) }.take(math.max(target, 0))
        val total = (s1 ++ prunedMulti).map(_._2).sum.toDouble
        inv = (s1 ++ prunedMulti).map { case (p, m) => (p, math.log(m / total)) }
          .sortBy(_._1)
      }
      (inv, lls.toSeq)
    }

    // floor(x + 0.5) instead of rint: half-even has no cheap DuckDB
    // twin, half-up does (ties at exactly .5e-8 are measure-zero here)
    val out = inv.sortBy { case (p, l) => (-l, p) }.zipWithIndex
      .map { case ((p, l), i) =>
        (i + 1, p, p.length, math.floor(math.exp(l) * 1e8 + 0.5) / 1e8) }
      .toSeq.toDF("rnk", "piece", "piece_len", "prob")
    (out, lls)
  }

  def train(spark: SparkSession, dir: String): DataFrame =
    trainWithStats(spark, dir)._1

  /** E10e oracle (r13, was ☆): the EM replays whole in DuckDB. The
    * forward–backward DP unrolls over word positions (the corpus has a
    * closed small word vocabulary; max word length bounds the unroll),
    * log-sum-exp folds run in the JVM's l-ascending order, expected
    * counts quantize to the same 1e-6 grid per word type (which is
    * also what absorbs the ln/log1p 1-ulp engine differences — DuckDB
    * has no log1p, so lgadd uses ln(1+exp(·)), equal on the grid), and
    * the M-step prune/renormalize is plain integer arithmetic.
    */
  val unigramTrainSql: String = {
    // documents.parquet's closed word vocabulary maxes at 8 chars;
    // unrolled with headroom (a longer word would silently drop from
    // the replay, so the bound is generous rather than tight)
    val maxWordLen = 12
    val seedSize = 256; val vocabTarget = 96; val emRounds = 4; val maxPieceLen = 6
    def alphaStep(r: Int, i: Int): String =
      s"""CREATE OR REPLACE TEMP TABLE ug_al${r}_$i AS
         |SELECT a.word,
         |  CASE WHEN length(a.word) >= $i
         |       THEN list_append(a.al, coalesce(t.v, '-infinity'::DOUBLE))
         |       ELSE a.al END AS al
         |FROM ug_al${r}_${i - 1} a LEFT JOIN (
         |  SELECT t.word,
         |    list_reduce(list_prepend('-infinity'::DOUBLE,
         |      list(a2.al[CAST(t.j + 1 AS INT)] + t.logp ORDER BY t.l)),
         |      (x, y) -> lgadd(x, y)) AS v
         |  FROM ug_t$r t JOIN ug_al${r}_${i - 1} a2 USING (word)
         |  WHERE t.j + t.l = $i
         |  GROUP BY t.word) t USING (word);""".stripMargin
    def betaStep(r: Int, d: Int): String =
      s"""CREATE OR REPLACE TEMP TABLE ug_bt${r}_$d AS
         |SELECT b.word,
         |  CASE WHEN length(b.word) >= $d THEN
         |    list_transform(range(0, CAST(len(b.bt) AS BIGINT)), k -> CASE
         |      WHEN k = length(b.word) - $d THEN coalesce(t.v, '-infinity'::DOUBLE)
         |      ELSE b.bt[CAST(k + 1 AS INT)] END)
         |  ELSE b.bt END AS bt
         |FROM ug_bt${r}_${d - 1} b LEFT JOIN (
         |  SELECT t.word,
         |    list_reduce(list_prepend('-infinity'::DOUBLE,
         |      list(b2.bt[CAST(t.j + t.l + 1 AS INT)] + t.logp ORDER BY t.l)),
         |      (x, y) -> lgadd(x, y)) AS v
         |  FROM ug_t$r t JOIN ug_bt${r}_${d - 1} b2 USING (word)
         |  WHERE t.j = length(t.word) - $d
         |  GROUP BY t.word) t USING (word);""".stripMargin
    def round(r: Int): String = {
      val alphas = (1 to maxWordLen).map(alphaStep(r, _)).mkString("\n")
      val betas = (1 to maxWordLen).map(betaStep(r, _)).mkString("\n")
      s"""CREATE OR REPLACE TEMP TABLE ug_t$r AS
         |SELECT s.word, s.freq, s.j, s.l, s.piece, i.logp
         |FROM ug_sub s JOIN ug_inv${r - 1} i USING (piece);
         |CREATE OR REPLACE TEMP TABLE ug_al${r}_0 AS
         |SELECT word, [0.0]::DOUBLE[] AS al FROM ug_words;
         |$alphas
         |CREATE OR REPLACE TEMP TABLE ug_bt${r}_0 AS
         |SELECT word, list_transform(range(0, length(word) + 1),
         |  k -> CASE WHEN k = length(word) THEN 0.0
         |            ELSE '-infinity'::DOUBLE END) AS bt
         |FROM ug_words;
         |$betas
         |CREATE OR REPLACE TEMP TABLE ug_cnt$r AS
         |SELECT piece, CAST(sum(micro) AS BIGINT) AS m FROM (
         |  SELECT t.word, t.piece,
         |    CAST(floor(sum(exp(a.al[CAST(t.j + 1 AS INT)] + t.logp
         |      + b.bt[CAST(t.j + t.l + 1 AS INT)]
         |      - a.al[CAST(length(t.word) + 1 AS INT)])) * 1e6) AS BIGINT)
         |      * any_value(t.freq) AS micro
         |  FROM ug_t$r t
         |  JOIN ug_al${r}_$maxWordLen a USING (word)
         |  JOIN ug_bt${r}_$maxWordLen b USING (word)
         |  WHERE a.al[CAST(length(t.word) + 1 AS INT)] <> '-infinity'::DOUBLE
         |  GROUP BY t.word, t.piece)
         |GROUP BY piece;
         |CREATE OR REPLACE TEMP TABLE ug_kept$r AS
         |SELECT i.piece,
         |  CASE WHEN length(i.piece) = 1 THEN greatest(coalesce(c.m, 0), 1)
         |       ELSE coalesce(c.m, 0) END AS m
         |FROM ug_inv${r - 1} i LEFT JOIN ug_cnt$r c USING (piece)
         |WHERE CASE WHEN length(i.piece) = 1 THEN greatest(coalesce(c.m, 0), 1)
         |           ELSE coalesce(c.m, 0) END > 0;
         |CREATE OR REPLACE TEMP TABLE ug_inv$r AS
         |WITH sizes AS (
         |  SELECT sum(CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END) AS n1,
         |         sum(CASE WHEN length(piece) > 1 THEN 1 ELSE 0 END) AS nm
         |  FROM ug_kept$r),
         |pruned AS (
         |  SELECT piece, m FROM (
         |    SELECT k.piece, k.m,
         |      row_number() OVER (ORDER BY k.m DESC, k.piece) AS rk,
         |      s.n1, s.nm
         |    FROM ug_kept$r k CROSS JOIN sizes s
         |    WHERE length(k.piece) > 1)
         |  WHERE rk <= greatest(greatest($vocabTarget - n1,
         |    nm - greatest(${(seedSize - vocabTarget) / emRounds}, 1)), 0)
         |  UNION ALL
         |  SELECT piece, m FROM ug_kept$r WHERE length(piece) = 1),
         |tot AS (SELECT CAST(sum(m) AS DOUBLE) AS total FROM pruned)
         |SELECT piece, ln(CAST(m AS DOUBLE) / total) AS logp
         |FROM pruned CROSS JOIN tot;""".stripMargin
    }
    s"""CREATE OR REPLACE MACRO lgadd(a, b) AS
       |  CASE WHEN a = '-infinity'::DOUBLE THEN b
       |       WHEN b = '-infinity'::DOUBLE THEN a
       |       WHEN a > b THEN a + ln(1.0 + exp(b - a))
       |       ELSE b + ln(1.0 + exp(a - b)) END;
       |CREATE OR REPLACE TEMP TABLE ug_words AS
       |SELECT word, CAST(count(*) AS BIGINT) AS freq
       |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |WHERE word <> ''
       |GROUP BY word;
       |CREATE OR REPLACE TEMP TABLE ug_sub AS
       |SELECT word, freq, s.range AS j, l.range AS l,
       |  substr(word, CAST(s.range + 1 AS INT), CAST(l.range AS INT)) AS piece
       |FROM ug_words, range(0, $maxWordLen) s, range(1, ${maxPieceLen + 1}) l
       |WHERE s.range < length(word) AND s.range + l.range <= length(word);
       |CREATE OR REPLACE TEMP TABLE ug_seed AS
       |SELECT piece, CAST(sum(freq) AS BIGINT) AS w
       |FROM ug_sub GROUP BY piece;
       |CREATE OR REPLACE TEMP TABLE ug_inv0 AS
       |WITH sel AS (
       |  SELECT piece, w FROM ug_seed WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, w FROM (
       |    SELECT piece, w, row_number() OVER (ORDER BY w DESC, piece) AS rk
       |    FROM ug_seed WHERE length(piece) > 1)
       |  WHERE rk <= $seedSize),
       |tot AS (SELECT CAST(sum(w) AS DOUBLE) AS total FROM sel)
       |SELECT piece, ln(CAST(w AS DOUBLE) / total) AS logp
       |FROM sel CROSS JOIN tot;
       |${(1 to emRounds).map(round).mkString("\n")}
       |SELECT CAST(rnk AS INT) AS rnk, piece,
       |  CAST(length(piece) AS INT) AS piece_len,
       |  floor(exp(logp) * 1e8 + 0.5) / 1e8 AS prob
       |FROM (SELECT piece, logp,
       |        row_number() OVER (ORDER BY logp DESC, piece) AS rnk
       |      FROM ug_inv$emRounds)
       |ORDER BY rnk""".stripMargin
  }
}

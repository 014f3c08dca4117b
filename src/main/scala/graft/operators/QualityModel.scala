package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Scratch, Tables}

/** E36 — MODEL-BASED quality filtering: distill the E14 rule battery
  * into a trained linear classifier (the fastText-/GPT-3-style quality
  * model: train a cheap linear scorer on weak labels, then score the
  * whole corpus with one codegen'd expression). Rule batteries are
  * brittle at the margins; the model gives a calibrated score a
  * pipeline can threshold per-mixture instead of a hard AND of rules.
  *
  * Spark-first training shape: logistic regression by BOUNDED-iteration
  * distributed IRLS (Newton) — every iteration is ONE map-side-combined
  * aggregate producing the exact gradient and Hessian power sums (~20
  * doubles at k=4), so an iteration costs one tiny-row shuffle at any
  * corpus size; the driver solves a 5×5 system and the new weights ride
  * into the next iteration's expressions as literals — codegen sees
  * constants, no MLlib on the hot path, no per-row UDF. Quadratic
  * convergence makes the iteration bound a constant, not a knob.
  *
  * Features are the rule MARGINS (signed distance to each rule
  * boundary, z-scored), not raw stats: the keep region is a box
  * (two-sided intervals), which a monotone linear model cannot carve
  * from raw features but separates cleanly in margin space — the
  * standard feature-engineering step of rule distillation.
  */
object QualityModel {

  case class Fit(weights: Array[Double], bias: Double,
                 losses: Array[Double], accuracy: Double)

  val featureNames: Seq[String] = Seq("m_words", "m_wlen", "m_sym", "stop_ratio")

  /** Rule-margin features + the E14 rule-battery label, one codegen'd
    * scan (identical arithmetic to Curation.qualityFilter).
    */
  def featureFrame(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nWords = size(toks).cast("double")
    // denominators guarded: an empty/whitespace-only document must get
    // finite features and a clean label 0, not NaN rows that silently
    // drop out of training AND scoring
    val mwl = length(regexp_replace(col("text"), " ", "")).cast("double") /
      greatest(nWords, lit(1.0))
    val sym = length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double") /
      greatest(length(col("text")), lit(1)).cast("double")
    val stopR = graft.functions.TextFns.stopwordRatio(col("text"))
    Tables.documents(spark, dir).select(
      col("doc_id"),
      least(nWords - 5, lit(1000.0) - nWords).as("m_words"),
      least(mwl - 2, lit(12.0) - mwl).as("m_wlen"),
      (lit(0.1) - sym).as("m_sym"),
      stopR.as("stop_ratio"),
      (nWords >= 5 && nWords <= 1000 && mwl >= 2 && mwl <= 12 &&
        sym <= 0.1 && stopR > 0).cast("int").as("label"))
  }

  /** Per-feature (mean, stddev) + count in ONE one-row aggregate —
    * from integer-quantized moment sums (the deterministicKmeans
    * discipline, r13): accumulation order can never perturb mu/sd, and
    * the same sums replay exactly in the DuckDB oracle.
    */
  private def standardization(feats: DataFrame): (Array[Double], Array[Double], Double) = {
    val r = feats.select(
      featureNames.flatMap(f =>
        Seq(sum(floor(col(f) * lit(1e9)).cast("long")).as(s"s1_$f"),
          sum(floor(col(f) * col(f) * lit(1e9)).cast("long")).as(s"s2_$f"))) :+
        count(lit(1)).cast("double").as("n"): _*).head()
    val n = r.getDouble(2 * featureNames.length)
    val mu = featureNames.indices.map(i =>
      (r.getLong(2 * i).toDouble / 1e9) / n).toArray
    val sd = featureNames.indices.map { i =>
      val ex2 = (r.getLong(2 * i + 1).toDouble / 1e9) / n
      math.max(math.sqrt(math.max(ex2 - mu(i) * mu(i), 0.0)), 1e-9)
    }.toArray
    (mu, sd, n)
  }

  /** Solve the symmetric system (H + λI)·d = g in place — k is 5, this
    * is driver arithmetic on the collected power sums, not data work.
    */
  private def solve(h: Array[Array[Double]], g: Array[Double],
                    l2: Double): Array[Double] = {
    val dim = g.length
    val a = Array.tabulate(dim, dim)((i, j) => h(i)(j) + (if (i == j) l2 else 0.0))
    val x = g.clone()
    for (p <- 0 until dim) {
      val piv = (p until dim).maxBy(i => math.abs(a(i)(p)))
      val (tp, tx) = (a(p), x(p)); a(p) = a(piv); a(piv) = tp; x(p) = x(piv); x(piv) = tx
      for (i <- p + 1 until dim) {
        val f = a(i)(p) / a(p)(p)
        for (j <- p until dim) a(i)(j) -= f * a(p)(j)
        x(i) -= f * x(p)
      }
    }
    for (p <- dim - 1 to 0 by -1) {
      for (j <- p + 1 until dim) x(p) -= a(p)(j) * x(j)
      x(p) /= a(p)(p)
    }
    x
  }

  /** Bounded-iteration distributed IRLS (Newton) fit over any
    * (featureNames..., label) frame — the classic distributed-GLM
    * shape: every iteration is ONE map-side-combined aggregate
    * producing the exact gradient and Hessian power sums (Σrz_iz_j,
    * Σ(y−p)z_i, nll — ~20 doubles at k=4), the driver solves a 5×5
    * system, and the new weights ride into the next iteration's
    * expressions as literals. Quadratic convergence ⇒ the iteration
    * bound is a constant (6, the `iters` default), not a tuning knob.
    */
  def fit(feats: DataFrame, iters: Int = 6, l2: Double = 1e-3): Fit = {
    val k = featureNames.length
    val dim = k + 1 // augmented bias coordinate z_k = 1
    val (mu, sd, _) = standardization(feats)
    val z = feats.select(
      col("label").cast("double").as("y") +:
        (featureNames.zipWithIndex.map { case (f, i) =>
          ((col(f) - mu(i)) / sd(i)).as(s"z_$i") } :+ lit(1.0).as(s"z_$k")): _*)
    Materialize.within(z, "quality-fit") { zf =>
      val n = zf.count().toDouble // materialize once; each iteration re-reads
      val w = Array.fill(dim)(0.0)
      val losses = new Array[Double](iters)
      for (t <- 0 until iters) {
        val margin = (0 until dim).map(i => col(s"z_$i") * w(i))
          .reduce[Column](_ + _)
        // p rounded to 7 dp: exp() is the ONE libm call in the fit, and
        // JVM/libm disagree in the last ulp — rounding quarantines the
        // divergence before it enters the quantized sums, so the whole
        // Newton path replays bit-for-bit in the DuckDB oracle
        val p = round(lit(1.0) / (lit(1.0) + exp(-margin)), 7)
        val r = p * (lit(1.0) - p)
        // gradient/Hessian power sums as integer-quantized longs:
        // order-independent on any engine (the standardization
        // discipline applied to the Newton aggregates)
        val pairs = for (i <- 0 until dim; j <- i until dim)
          yield sum(floor(r * col(s"z_$i") * col(s"z_$j") * lit(1e9)).cast("long")).as(s"h_${i}_$j")
        val grads = (0 until dim).map(i =>
          sum(floor((col("y") - p) * col(s"z_$i") * lit(1e9)).cast("long")).as(s"g_$i"))
        val nll = sum(-(col("y") * log(greatest(p, lit(1e-12))) +
          (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(1e-12))))).as("nll")
        val aggs = pairs ++ grads :+ nll
        val row = zf.agg(aggs.head, aggs.tail: _*).head()
        val h = Array.ofDim[Double](dim, dim)
        var c = 0
        for (i <- 0 until dim; j <- i until dim) {
          h(i)(j) = row.getLong(c).toDouble / 1e9; h(j)(i) = h(i)(j); c += 1
        }
        val g = Array.tabulate(dim)(i => row.getLong(c + i).toDouble / 1e9)
        losses(t) = row.getDouble(c + dim) / n
        val d = solve(h, g, l2)
        for (i <- 0 until dim) w(i) += d(i)
      }
      // training accuracy with the final model, one more aggregate
      val margin = (0 until dim).map(i => col(s"z_$i") * w(i)).reduce[Column](_ + _)
      val acc = zf.agg(avg(((margin >= 0).cast("double") === col("y")).cast("double")))
        .head().getDouble(0)
      Fit(w.take(k), w(k), losses, acc)
    }
  }

  /** ☆ entry — fit on the corpus' own rule labels, then score every
    * document with the learned model as one literal-weight expression:
    * (doc_id, model_score, pred, label), so disagreement rows are the
    * margins a threshold sweep would re-adjudicate.
    */
  /** Memoized fit per data fingerprint (the q_bpe_train contract: a
    * trained model is a BUILD ARTIFACT — the fit runs once per data
    * dir, scoring reuses it; the spec still exercises the live fit).
    * The artifact is the k+1 weights plus the k standardization pairs,
    * stored as one line of text under the scratch root, marker-free
    * because the single-file write is atomic-enough via temp+rename.
    */
  private def ensureModel(spark: SparkSession, dir: String): (Fit, Array[Double], Array[Double]) = {
    val fp = Scratch.fingerprint(spark, dir, "documents.parquet")
    val path = new Path(Scratch.path(spark, s"qmodel-v2-${Scratch.digest(dir, fp)}.txt"))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val nums = try new String(in.readAllBytes(), UTF_8).trim.split(",").map(_.toDouble)
        finally in.close()
      val k = featureNames.length
      (Fit(nums.take(k), nums(k), Array.empty, nums(k + 1)),
        nums.slice(k + 2, 2 * k + 2), nums.slice(2 * k + 2, 3 * k + 2))
    } else {
      val feats = featureFrame(spark, dir)
      val f = fit(feats)
      val (mu, sd, _) = standardization(feats)
      val line = (f.weights :+ f.bias :+ f.accuracy).mkString(",") + "," +
        mu.mkString(",") + "," + sd.mkString(",")
      val tmp = new Path(path.getParent, s".${path.getName}-${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, false)
      try out.write(line.getBytes(UTF_8)) finally out.close()
      // a filesystem that will not rename onto an existing file lost a
      // race to a writer of the same fit; its model is the one kept
      if (!fs.rename(tmp, path)) fs.delete(tmp, false)
      (f, mu, sd)
    }
  }

  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    val (f, mu, sd) = ensureModel(spark, dir)
    // scoring is one literal-weight projection over a fresh scan — the
    // model rides as constants
    val margin = featureNames.zipWithIndex
      .map { case (c, i) => ((col(c) - mu(i)) / sd(i)) * f.weights(i) }
      .foldLeft(lit(f.bias): Column)(_ + _)
    featureFrame(spark, dir).select(
      col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-margin)), 6).as("model_score"),
      (margin >= 0).cast("int").as("pred"),
      col("label"))
      .orderBy(col("doc_id"))
  }

  /** E36 oracle (r13, was ☆): the IRLS fit replays WHOLE in DuckDB —
    * features + quantized standardization + 6 Newton rounds, each an
    * integer-quantized gradient/Hessian aggregate (p rounded to 7 dp
    * quarantines the one libm exp call) followed by the 5×5
    * partial-pivot solve unrolled as single-row list transforms
    * (pivot = FIRST max like Scala's maxBy; row-p values read
    * pre-elimination like the in-place loop; back-substitution
    * subtracts in ascending-j order). Final scoring mirrors
    * qualityModel's literal-weight projection.
    */
  val qualityModelSql: String = {
    val dim = featureNames.length + 1
    val iters = 6
    val l2 = "0.001"
    def aIdx(i: String, j: String) = s"($i * $dim + $j) + 1"
    // one elimination step: pivot-select + row-swap (inner), then
    // eliminate below row p reading the PRE-elimination swapped values
    def elimStep(t: Int, p: Int, prev: String): String = {
      val sub = s"list_transform(range($p, $dim), i -> abs(a[CAST(${aIdx("i", p.toString)} AS INT)]))"
      s"""CREATE OR REPLACE TEMP TABLE qm_e${t}_$p AS
         |SELECT
         |  list_transform(range(0, ${dim * dim}), k -> CASE
         |    WHEN k // $dim > $p AND k % $dim >= $p THEN
         |      sa[CAST(k + 1 AS INT)]
         |        - (sa[CAST(${aIdx(s"(k // $dim)", p.toString)} AS INT)]
         |           / sa[CAST(${aIdx(p.toString, p.toString)} AS INT)])
         |          * sa[CAST(${aIdx(p.toString, s"(k % $dim)")} AS INT)]
         |    ELSE sa[CAST(k + 1 AS INT)] END) AS a,
         |  list_transform(range(0, $dim), i -> CASE
         |    WHEN i > $p THEN
         |      sx[CAST(i + 1 AS INT)]
         |        - (sa[CAST(${aIdx("i", p.toString)} AS INT)]
         |           / sa[CAST(${aIdx(p.toString, p.toString)} AS INT)])
         |          * sx[${p + 1}]
         |    ELSE sx[CAST(i + 1 AS INT)] END) AS x
         |FROM (
         |  SELECT
         |    list_transform(range(0, ${dim * dim}), k -> CASE
         |      WHEN k // $dim = $p THEN a[CAST((piv * $dim + k % $dim) + 1 AS INT)]
         |      WHEN k // $dim = piv THEN a[CAST(($p * $dim + k % $dim) + 1 AS INT)]
         |      ELSE a[CAST(k + 1 AS INT)] END) AS sa,
         |    list_transform(range(0, $dim), i -> CASE
         |      WHEN i = $p THEN x[CAST(piv + 1 AS INT)]
         |      WHEN i = piv THEN x[${p + 1}]
         |      ELSE x[CAST(i + 1 AS INT)] END) AS sx
         |  FROM (SELECT a, x,
         |          $p + list_position($sub, list_max($sub)) - 1 AS piv
         |        FROM $prev));""".stripMargin
    }
    def backStep(t: Int, p: Int, prev: String): String = {
      val chain = (p + 1 until dim).foldLeft(s"x[${p + 1}]") { (e, j) =>
        s"($e - a[${p * dim + j + 1}] * x[${j + 1}])"
      }
      s"""CREATE OR REPLACE TEMP TABLE qm_b${t}_$p AS
         |SELECT a, list_transform(range(0, $dim), i -> CASE
         |  WHEN i = $p THEN $chain / a[${p * dim + p + 1}]
         |  ELSE x[CAST(i + 1 AS INT)] END) AS x
         |FROM $prev;""".stripMargin
    }
    def iter(t: Int): String = {
      val margin = (0 until dim).map(i => s"z.z$i * w.wl[${i + 1}]")
        .reduce((a, b) => s"($a + $b)")
      val hs = (for (i <- 0 until dim; j <- i until dim) yield
        s"sum(CAST(floor(((r * z$i) * z$j) * 1e9) AS BIGINT)) AS h_${i}_$j").mkString(",\n|    ")
      val gs = (0 until dim).map(i =>
        s"sum(CAST(floor(((y - p) * z$i) * 1e9) AS BIGINT)) AS g_$i").mkString(",\n|    ")
      def hKey(i: Int, j: Int) = if (i <= j) s"h_${i}_$j" else s"h_${j}_$i"
      val aList = (for (i <- 0 until dim; j <- 0 until dim) yield
        s"CAST(${hKey(i, j)} AS DOUBLE) / 1e9${if (i == j) s" + $l2" else ""}").mkString(", ")
      val xList = (0 until dim).map(i => s"CAST(g_$i AS DOUBLE) / 1e9").mkString(", ")
      val steps = (0 until dim).map(p =>
        elimStep(t, p, if (p == 0) s"qm_sys$t" else s"qm_e${t}_${p - 1}")).mkString("\n")
      val backs = (dim - 1 to 0 by -1).map(p =>
        backStep(t, p, if (p == dim - 1) s"qm_e${t}_${dim - 1}" else s"qm_b${t}_${p + 1}")).mkString("\n")
      s"""CREATE OR REPLACE TEMP TABLE qm_agg$t AS
         |SELECT
         |    $hs,
         |    $gs
         |FROM (
         |  SELECT z.y, ${(0 until dim).map(i => s"z.z$i").mkString(", ")},
         |    p, p * (1.0 - p) AS r
         |  FROM (SELECT *, round(1.0 / (1.0 + exp(-($margin))), 7) AS p
         |        FROM qm_z z CROSS JOIN qm_w${t - 1} w) z);
         |CREATE OR REPLACE TEMP TABLE qm_sys$t AS
         |SELECT [$aList] AS a, [$xList] AS x FROM qm_agg$t;
         |$steps
         |$backs
         |CREATE OR REPLACE TEMP TABLE qm_w$t AS
         |SELECT list_transform(range(0, $dim),
         |  i -> w.wl[CAST(i + 1 AS INT)] + b.x[CAST(i + 1 AS INT)]) AS wl
         |FROM qm_w${t - 1} w CROSS JOIN qm_b${t}_0 b;""".stripMargin
    }
    // scoring mirrors qualityModel's foldLeft(bias) ORDER exactly
    // (bias first, then the k feature terms) — double addition is not
    // associative, so the fold shape is part of the contract
    val finalMargin = featureNames.zipWithIndex
      .map { case (f, i) => s"((z.$f - s.mu_$i) / s.sd_$i) * w.wl[${i + 1}]" }
      .foldLeft(s"w.wl[$dim]")((acc, t) => s"($acc + $t)")
    s"""CREATE OR REPLACE TEMP TABLE qm_f AS
       |SELECT doc_id,
       |  least(n_words - 5, 1000.0 - n_words) AS m_words,
       |  least(mwl - 2, 12.0 - mwl) AS m_wlen,
       |  (0.1 - sym) AS m_sym,
       |  stopr AS stop_ratio,
       |  CAST(CAST(n_words >= 5 AND n_words <= 1000 AND mwl >= 2 AND mwl <= 12
       |       AND sym <= 0.1 AND stopr > 0 AS INT) AS DOUBLE) AS y
       |FROM (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS DOUBLE)
       |      / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS mwl,
       |    CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) AS sym,
       |    CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS stopr
       |  FROM documents);
       |CREATE OR REPLACE TEMP TABLE qm_std AS
       |SELECT
       |  ${featureNames.zipWithIndex.map { case (f, i) =>
             s"(CAST(sum(CAST(floor($f * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*) AS mu_$i," +
             s"\n|  greatest(sqrt(greatest((CAST(sum(CAST(floor(($f * $f) * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*)" +
             s"\n|    - ((CAST(sum(CAST(floor($f * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*))" +
             s"\n|      * ((CAST(sum(CAST(floor($f * 1e9) AS BIGINT)) AS DOUBLE) / 1e9) / count(*)), 0.0)), 1e-9) AS sd_$i"
           }.mkString(",\n|  ")}
       |FROM qm_f;
       |CREATE OR REPLACE TEMP TABLE qm_z AS
       |SELECT doc_id, y,
       |  ${featureNames.zipWithIndex.map { case (f, i) =>
             s"(($f - s.mu_$i) / s.sd_$i) AS z$i" }.mkString(",\n|  ")},
       |  1.0 AS z${featureNames.length}
       |FROM qm_f CROSS JOIN qm_std s;
       |CREATE OR REPLACE TEMP TABLE qm_w0 AS
       |SELECT [${Seq.fill(dim)("0.0").mkString(", ")}] AS wl;
       |${(1 to iters).map(iter).mkString("\n")}
       |SELECT z.doc_id,
       |  round(1.0 / (1.0 + exp(-($finalMargin))), 6) AS model_score,
       |  CAST(($finalMargin) >= 0 AS INT) AS pred,
       |  CAST(z.y AS INT) AS label
       |FROM qm_f z CROSS JOIN qm_std s CROSS JOIN qm_w$iters w
       |ORDER BY z.doc_id""".stripMargin
  }

  // ---- E128: isotonic score calibration (PAV via minimax) -------------

  /** Isotonic calibration of the quality score (Zadrozny & Elkan 2002:
    * bin the scorer's output, fit the monotone step function closest
    * to the per-bin positive rates — the calibration every
    * quality-threshold decision should read instead of raw scores).
    * The pool-adjacent-violators solution is computed by its MINIMAX
    * closed form m_i = max_{j≤i} min_{k≥i} avg(pos over bins j..k)
    * (Ayer et al. 1955; Robertson–Wright–Dykstra 1988 §1.2) — which
    * turns the sequential PAV stack into three joins over BIN-bounded
    * frames, so the fit itself is distributed and oracle-replicable.
    * The target is the LENGTH-CONFOUND audit of the E9 scorer: the
    * label is "document is longer than the corpus median", and on
    * this corpus the score FALLS as length grows (the closed
    * vocabulary collapses the TTR factor), so bins are ordered by
    * DESCENDING score and the calibrated P(long | bin) is the rising
    * staircase that makes the confound measurable — the bias curve a
    * threshold decision must correct for (calibration-as-audit, the
    * same role reliability diagrams play in Zadrozny & Elkan).
    *
    * Determinism: bins come from an exact (score, doc_id) rank (the
    * raw score expression is cross-engine identical — E107's oracle
    * pins it); interval averages are divisions of exact integer
    * prefix sums; min/max run over those identical doubles; output
    * rates floor to basis points.
    *
    * Scale shape: ONE corpus scan + one global rank (oracle form —
    * the E98 trade; the 100 TB path is the E13d bucket-offset cumsum
    * over score quantiles) into a `bins`-row aggregate; everything
    * after is joins over ≤ bins² rows. One-row totals broadcast
    * (allowlisted).
    */
  def isotonicCalibration(spark: SparkSession, dir: String,
                          bins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.TextFns.qualityScore(col("text")).as("score"))
    val med = scored.agg(expr("percentile(n_chars, 0.5)")).collect()
      .head.getDouble(0)
    val total = scored.agg(count(lit(1)).as("n_docs"))
    val binned = scored
      .withColumn("rn", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .crossJoin(broadcast(total))
      .withColumn("bin", expr(s"(rn - 1) * $bins div n_docs"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_b"),
        sum((col("n_chars") > med).cast("long")).as("pos_b"))
    val pref = binned
      .withColumn("cn", sum(col("n_b")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cp", sum(col("pos_b")).over(
        Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("bin"), col("n_b"), col("pos_b"), col("cn"), col("cp"))
    val j = pref.select(col("bin").as("j"),
      (col("cn") - col("n_b")).as("cn0"), (col("cp") - col("pos_b")).as("cp0"))
    val k = pref.select(col("bin").as("k"), col("cn").as("cnk"),
      col("cp").as("cpk"))
    val intervals = j.join(broadcast(k), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cp0")).cast("double") /
          (col("cnk") - col("cn0")).cast("double")).as("a"))
    val i = pref.select(col("bin").as("i"))
    val mins = intervals.join(broadcast(i),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("j"), col("i")).agg(min(col("a")).as("mn"))
    val iso = mins.groupBy(col("i")).agg(max(col("mn")).as("m"))
    binned.join(broadcast(iso), col("bin") === col("i"))
      .select(col("bin"), col("n_b"), col("pos_b"),
        expr("pos_b * 10000 div n_b").as("raw_bp"),
        floor(col("m") * 10000).cast("long").as("iso_bp"))
      .orderBy(col("bin"))
  }

  val isotonicCalibrationSql: String =
    """WITH scored AS (
      |  SELECT doc_id, n_chars,
      |    ln(CAST(len(w) AS DOUBLE) + 1)
      |      * (CAST(len(list_distinct(w)) AS DOUBLE) / len(w))
      |      * (1.0 - CAST(len(list_filter(w,
      |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
      |          / len(w)) AS score
      |  FROM (SELECT doc_id, n_chars, string_split(text, ' ') AS w
      |        FROM documents)),
      |med AS (SELECT quantile_cont(n_chars, 0.5) AS m FROM scored),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM scored),
      |binned AS (
      |  SELECT CAST((rn - 1) * 20 // n_docs AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN n_chars > m THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos_b
      |  FROM (SELECT n_chars,
      |          row_number() OVER (ORDER BY score DESC, doc_id) AS rn
      |        FROM scored) CROSS JOIN med CROSS JOIN tot
      |  GROUP BY 1),
      |pref AS (
      |  SELECT bin, n_b, pos_b,
      |    CAST(sum(n_b) OVER (ORDER BY bin) AS BIGINT) AS cn,
      |    CAST(sum(pos_b) OVER (ORDER BY bin) AS BIGINT) AS cp
      |  FROM binned),
      |intervals AS (
      |  SELECT j.bin AS j, k.bin AS k,
      |    CAST(k.cp - (j.cp - j.pos_b) AS DOUBLE)
      |      / CAST(k.cn - (j.cn - j.n_b) AS DOUBLE) AS a
      |  FROM pref j JOIN pref k ON j.bin <= k.bin),
      |mins AS (
      |  SELECT j, i.bin AS i, min(a) AS mn
      |  FROM intervals JOIN pref i ON j <= i.bin AND i.bin <= k
      |  GROUP BY 1, 2),
      |iso AS (SELECT i, max(mn) AS m FROM mins GROUP BY 1)
      |SELECT b.bin, b.n_b, b.pos_b,
      |  CAST(b.pos_b * 10000 // b.n_b AS BIGINT) AS raw_bp,
      |  CAST(floor(m * 10000) AS BIGINT) AS iso_bp
      |FROM binned b JOIN iso ON b.bin = iso.i
      |ORDER BY b.bin""".stripMargin
}

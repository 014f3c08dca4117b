package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity
import graft.plans.CosineSim

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CosineSim computes the exact cosine (eval + codegen paths)") {
    val df = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),   // identical → 1
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),   // orthogonal → 0
      (Array(1.0f, 1.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),   // 45° → √2/2
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f))    // zero vector → 0
    ).toDF("a", "b")
    val got = df.select(CosineSim(col("a"), col("b"))).as[Double].collect()
    val want = Seq(1.0, 0.0, math.sqrt(2) / 2, 0.0)
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
    // SQL path: cosine_sim resolves through GraftExtensions
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT cosine_sim(a, b) FROM vecs").as[Double].collect()
    got.zip(viaSql).foreach { case (g, s) => assert(g == s) }
  }

  test("LSH ANN reaches usable recall vs brute force and prunes candidates") {
    val exact = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.annLsh(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // random 64-dim embeddings are a worst case for LSH; the point here
    // is the plumbing + a sane floor, not production recall
    assert(recall >= 0.3, s"recall $recall")
    assert(approx.size <= exact.size * 2)
  }

  test("IVF ANN beats a random-subset baseline and bounds its output") {
    val exact = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // nProbe/nCells = 1/4 of the corpus scanned; similarity-biased cells
    // must recover clearly more than 1/4 of the true neighbors
    assert(recall >= 0.3, s"recall $recall")
    assert(ivf.size <= exact.size)
  }

  test("PQ/ADC ANN: 32-bit codes + table-add scoring + rerank recover the top-k") {
    val exact = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.annPq(spark, TestSpark.sf)
    val got = pq.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    // 8×16 codes keep ~64× less than fp32; with a 20-candidate exact
    // rerank the label-clustered corpus should recover most of top-5
    info(f"PQ 8x16 + rerank-50 recall@5 = $recall%.2f")
    assert(recall >= 0.5, s"recall $recall")
    assert(got.size <= exact.size)
    // determinism: the integer-nano Lloyd + md5 seeding make reruns
    // byte-identical
    val again = Similarity.annPq(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(got == again)
  }

  test("IVF-PQ composes cell pruning with code scoring; recall bounded by its IVF half") {
    val exact = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.annIvf(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val got = Similarity.annIvfPq(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"IVF16/probe4 + PQ 8x16 + rerank-50 recall@5 = $recall%.2f")
    // the composition can never see vectors its IVF half pruned; with
    // rerank ≥ k·queries the PQ stage inside probed cells loses little
    val ivfRecall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= ivfRecall - 0.2, s"recall $recall vs ivf $ivfRecall")
    assert(recall >= 0.3, s"recall $recall")
    assert(got.size <= exact.size)
  }

  test("SQ8 ANN: int8 coarse + full-precision rerank recovers near-exact top-k") {
    val exact = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val sq = Similarity.annSq(spark, TestSpark.sf)
    val got = sq.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    // 8-bit quantization barely perturbs a 64-dim cosine ordering; with
    // a 20-candidate rerank the exact top-5 should essentially survive
    assert(recall >= 0.9, s"recall $recall")
    // the final similarities are FULL precision: they must agree exactly
    // with the brute-force values on the common pairs
    val exactSims = Similarity.annTopK(spark, TestSpark.sf)
      .select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    sq.select("q_id", "n_id", "cos_sim").as[(Long, Long, Double)].collect()
      .foreach { case (qi, ni, s) =>
        exactSims.get((qi, ni)).foreach(e => assert(e == s, s"($qi,$ni)")) }
  }

  test("graph ANN incremental append: new vector probe-visible at rank 1, no rebuild") {
    import graft.operators.GraphAnn
    val path = java.nio.file.Files.createTempDirectory("graft-nngraph-spec").toString
    GraphAnn.buildGraphAt(spark, TestSpark.sf, path)
    // a fresh vector identical to query 3's embedding must surface as
    // its top hit immediately after the append
    val q3 = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") === 3).select(col("embedding"))
      .as[Array[Float]].head()
    val dup = Seq((99999L, q3)).toDF("n_id", "n_emb")
    GraphAnn.appendToGraph(spark, path, dup)
    val got = GraphAnn.annGraphAt(spark, TestSpark.sf, path)
      .filter(col("q_id") === 3 && col("rank") === 1)
      .select("n_id", "cos_sim").as[(Long, Double)].head()
    assert(got == ((99999L, 1.0)), s"got $got")
  }

  test("graph ANN (NN-descent) recall meets or beats the LSH and IVF paths; deterministic") {
    import graft.operators.GraphAnn
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val exact = hits(Similarity.annTopK(spark, TestSpark.sf))
    val graph = hits(GraphAnn.annGraph(spark, TestSpark.sf))
    val lsh = hits(Similarity.annLsh(spark, TestSpark.sf))
    val ivf = hits(Similarity.annIvf(spark, TestSpark.sf))
    def recall(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    // comparable candidate budgets: graph scores ≤ |entry cell| +
    // hops·beam·degree ≈ an IVF probe's cell share; it must not do
    // worse than either baseline bucketing on the same corpus
    assert(recall(graph) >= recall(lsh),
      s"graph ${recall(graph)} < lsh ${recall(lsh)}")
    assert(recall(graph) >= recall(ivf),
      s"graph ${recall(graph)} < ivf ${recall(ivf)}")
    assert(recall(graph) >= 0.5, s"graph recall ${recall(graph)}")
    // rerun is identical: seeded k-means cells + deterministic tiebreaks
    assert(hits(GraphAnn.annGraph(spark, TestSpark.sf)) == graph)
  }

  test("graph ANN ef-curve at sf0.01: high-recall point reaches 0.85 at 2x probe cost") {
    import graft.operators.GraphAnn
    val dir = "/root/testdata/sf0.01"
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val exact = hits(Similarity.annTopK(spark, dir))
    def recall(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    val base = recall(hits(GraphAnn.annGraph(spark, dir)))
    val highHits = hits(GraphAnn.annGraphHigh(spark, dir))
    val high = recall(highHits)
    info(f"ef-curve at sf0.01: (ef=${GraphAnn.beam},r=${GraphAnn.nnDescentRounds}) " +
      f"recall=$base%.3f → (ef=${GraphAnn.efHigh},r=${GraphAnn.roundsHigh}) recall=$high%.3f")
    // probe cost bound is structural: candidates per hop = ef·degree,
    // and efHigh is exactly 2× the default beam
    assert(GraphAnn.efHigh == 2 * GraphAnn.beam)
    assert(high >= 0.85, f"high-recall point $high%.3f < 0.85 (base $base%.3f)")
    assert(high >= base, f"wider beam must not lose recall: $high%.3f < $base%.3f")
    // deterministic: memoized graph + seeded build + pinned tiebreaks
    assert(hits(GraphAnn.annGraphHigh(spark, dir)) == highHits)
  }

  test("cell audit (E62): partition-exact counts, independent majority election, deterministic") {
    val dir = "/root/testdata/sf0.01"
    val got = Similarity.cellAudit(spark, dir)
      .select("cell", "n", "share", "majority_label", "purity")
      .as[(Int, Long, Double, Int, Double)].collect().toSeq
    // the cells partition the INDEXED corpus exactly (the embeddings
    // table minus the held-out query split the index never stores)
    val corpus = spark.read.parquet(
      s"${Similarity.ensureIvfIndex(spark, dir)}/cells").count()
    assert(got.map(_._2).sum == corpus && corpus > 0)
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
    got.foreach { r => assert(r._5 > 0.0 && r._5 <= 1.0, s"purity out of range: $r") }
    // independent election replica: recompute majority from raw (cell, label)
    val path = Similarity.ensureIvfIndex(spark, dir)
    val raw = spark.read.parquet(s"$path/cells").select("n_id", "cell")
      .join(graft.sources.Tables.embeddings(spark, dir)
        .select(org.apache.spark.sql.functions.col("vec_id").as("n_id"),
          org.apache.spark.sql.functions.col("label")), "n_id")
      .select("cell", "label").as[(Int, Int)].collect()
      .groupBy(_._1).map { case (cell, members) =>
        val byLabel = members.groupBy(_._2).map { case (l, xs) => (l, xs.size) }
        val best = byLabel.toSeq.minBy { case (l, c) => (-c, l) }
        cell -> (members.size.toLong, best._1, best._2.toDouble / members.size)
      }
    got.foreach { case (cell, n, _, maj, purity) =>
      val (rn, rmaj, rpur) = raw(cell)
      assert(n == rn && maj == rmaj && math.abs(purity - rpur) < 1e-12,
        s"cell $cell: got ($n,$maj,$purity) want ($rn,$rmaj,$rpur)")
    }
    // deterministic across invocations (memoized index + exact arithmetic)
    assert(Similarity.cellAudit(spark, dir).collect().toSeq ==
      Similarity.cellAudit(spark, dir).collect().toSeq)
  }

  test("knn label: majority election with smallest-label tiebreak, hand-planted") {
    val dir = "/tmp/sim_knnlabel"
    Seq(
      (0L, Array(1.0f, 0.0f), 2),   // batch: true label 2
      (1L, Array(0.0f, 1.0f), 5),   // batch: true label 5
      (25L, Array(1.0f, 0.0f), 7), (26L, Array(1.0f, 0.0f), 7),
      (27L, Array(1.0f, 0.0f), 2), (28L, Array(1.0f, 0.0f), 2),
      (29L, Array(1.0f, 0.0f), 9),
      (30L, Array(0.0f, 1.0f), 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.knnLabel(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") -> ((r.getAs[Int]("pred_label"),
        r.getAs[Long]("n_votes"), r.getAs[Boolean]("correct")))).toMap
    // vec 0: five cos=1 seeds, votes 7->2, 2->2, 9->1; tie elects label 2
    assert(got(0L) == ((2, 2L, true)))
    // vec 1: nearest is seed 30 (label 5, cos 1) but the four [1,0]
    // seeds with the lowest ids fill ranks 2-5 at cos 0:
    // votes 5->1, 7->2, 2->2 -> tie elects 2; true label 5 -> incorrect
    assert(got(1L) == ((2, 2L, false)))
  }

  test("label confusion: cells match the planted knn outcome; shares exact") {
    // rides the /tmp/sim_knnlabel plant from the election test: vec 0
    // (true 2 -> pred 2), vec 1 (true 5 -> pred 2)
    val dir = "/tmp/sim_knnlabel"
    Seq(
      (0L, Array(1.0f, 0.0f), 2), (1L, Array(0.0f, 1.0f), 5),
      (25L, Array(1.0f, 0.0f), 7), (26L, Array(1.0f, 0.0f), 7),
      (27L, Array(1.0f, 0.0f), 2), (28L, Array(1.0f, 0.0f), 2),
      (29L, Array(1.0f, 0.0f), 9),
      (30L, Array(0.0f, 1.0f), 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.labelConfusion(spark, dir).collect()
      .map(r => ((r.getAs[Int]("true_label"), r.getAs[Int]("pred_label")),
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("row_total"),
          r.getAs[Long]("cell_bp"), r.getAs[Boolean]("diagonal")))).toMap
    assert(got == Map(
      (2, 2) -> ((1L, 1L, 10000L, true)),
      (5, 2) -> ((1L, 1L, 10000L, false))))
  }

  test("label confusion on real data: cells reconcile to the 25-vector batch") {
    val rows = Similarity.labelConfusion(spark, TestSpark.sf).collect()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == 25L)
    rows.groupBy(_.getAs[Int]("true_label")).foreach { case (_, cells) =>
      val rt = cells.head.getAs[Long]("row_total")
      assert(cells.map(_.getAs[Long]("n_pairs")).sum == rt)
      cells.foreach(c => assert(c.getAs[Long]("cell_bp") ==
        c.getAs[Long]("n_pairs") * 10000L / rt))
    }
  }

  test("knn label on real data: 25 rows, sane vote counts, labels from the seed domain") {
    val labels = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select("label").distinct().collect().map(_.getInt(0)).toSet
    val rows = Similarity.knnLabel(spark, TestSpark.sf).collect()
    assert(rows.length == 25)
    rows.foreach { r =>
      val v = r.getAs[Long]("n_votes")
      assert(v >= 1L && v <= 5L)
      assert(labels.contains(r.getAs[Int]("pred_label")))
      assert(r.getAs[Boolean]("correct") ==
        (r.getAs[Int]("pred_label") == r.getAs[Int]("true_label")))
    }
  }
}

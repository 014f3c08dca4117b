package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.plans.CosineSim
import graft.sources.{Parquet, Scratch, Tables}

/** Similarity search over embedding columns (SURVEY §2 E6/E7).
  *
  * E6 brute force: the (small) query set is broadcast; the corpus scan
  * stays partition-local — no corpus shuffle at any scale; per-query
  * top-k via window rank (deterministic tiebreak on neighbor id).
  * E7 LSH: 16 random-hyperplane bits bucket the corpus ONCE; queries
  * probe their two 8-bit band buckets — candidate volume drops from
  * O(|corpus|) to O(|bucket|) per query, the 100 TB path.
  */
object Similarity {

  /** Queries = vec_id < 10 (a stand-in for a user-supplied query set). */
  val nQueries = 10
  val topK = 5

  // ---- r14 ANN knob schedule (VERDICT #4) ------------------------------
  //
  // Fixed index parameters decay on growing corpora (§8l measured the
  // sf0.01→sf0.1 recall slide at pinned knobs), so every scale-path
  // knob now DERIVES from the corpus cardinality by an exact integer
  // rule both engines can replay (IEEE sqrt is correctly rounded —
  // not libm-variable — and everything after it is integer steps):
  //
  //   N        = corpus vector count (vec_id >= nQueries)
  //   nCells   = clamp[16, 1024]( 2^floor(log2 floor(sqrt N)) )
  //   nProbe   = max(4, 3·nCells/8)      — probes ~37.5% of cells, so
  //              the probed FRACTION (the recall driver on
  //              low-structure embeddings) is scale-invariant
  //   rerank   = max(50, N/16)           — coarse candidates stay a
  //              constant corpus fraction for the PQ/BQ repair stage
  //   ef       = nCells (hr point 2·ef)  — the beam widens with the
  //              cell grid so graph probes keep their reach
  //
  // sf0.01 (N=490) lands on the r13 constants (16/6*/50/16), sf0.1
  // (N=1990) on 32/12/124/32, a GenScale sf1 (N≈20k) on 128/48/1249/
  // 128. Powers of two keep the schedule stable under small count
  // jitter; ScaleStudy's gated `recall` mode holds the per-path floors
  // at every SF (*nProbe moved 4→6 at the base point — the fraction
  // rule, applied uniformly). The schedule is documented in SURVEY §5.
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private[operators] def corpusN(spark: SparkSession, dir: String): Long =
    corpusCounts.computeIfAbsent(s"$dir#${Scratch.fingerprint(spark, dir, "embeddings.parquet")}",
      _ => Tables.embeddings(spark, dir)
        .filter(col("vec_id") >= nQueries).count())

  private[operators] def autoCells(n: Long): Int =
    math.min(1024, math.max(16,
      Integer.highestOneBit(math.sqrt(n.toDouble).toInt)))
  private[operators] def autoProbes(nCells: Int): Int =
    math.max(4, 3 * nCells / 8)
  private[operators] def autoRerank(n: Long): Int =
    math.max(50, (n / 16).toInt)
  private[operators] def autoEf(n: Long): Int = autoCells(n)

  /** Emits `ann_par(n, nc, np, rr, ef, ef_hr)` — the SQL replica of the
    * schedule above; every ANN oracle derives its knobs from this one
    * table so the Spark side and the replay can never disagree.
    */
  private[operators] val annParamsSql: String =
    s"""CREATE OR REPLACE TEMP TABLE ann_par AS
       |SELECT n, nc, greatest(4, (3 * nc) // 8) AS np,
       |  greatest(50, n // 16) AS rr, nc AS ef, 2 * nc AS ef_hr
       |FROM (
       |  SELECT n, least(1024, greatest(16, coalesce((
       |    SELECT max(p)
       |    FROM (VALUES (16),(32),(64),(128),(256),(512),(1024)) v(p)
       |    WHERE p <= CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)), 16))) AS nc
       |  FROM (SELECT count(*) AS n FROM embeddings WHERE vec_id >= $nQueries));
       |""".stripMargin

  private[operators] def queryCorpus(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(spark, dir)
    // corpus stays at scan parallelism: the scoring kernel is a few
    // cosines per row here, and the IVF k-means fit pays per-task
    // overhead every Lloyd iteration — widening this input measured
    // slower locally and a real corpus scan is already wide
    (e.filter(col("vec_id") < nQueries)
       .select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
     e.filter(col("vec_id") >= nQueries)
       .select(col("vec_id").as("n_id"), col("embedding").as("n_emb")))
  }

  private[operators] def rankTopK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** E6 — brute-force cosine top-k (the exact baseline). Ranks on the
    * ROUNDED similarity (6 dp) with n_id tiebreak so ordering is
    * reproducible bit-for-bit across engines.
    */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    rankTopK(
      c.join(broadcast(q))
        .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6)))
  }

  val annTopKSql: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT q_id, n_id, round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |  FROM q CROSS JOIN c),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** E6 scale variant: identical semantics to annTopK but ranked by the
    * mergeable bounded TopKAgg aggregator instead of a window sort —
    * map-side partial aggregation cuts the exchange to O(queries × k)
    * rows. Checked against the SAME DuckDB oracle as annTopK.
    */
  def annTopKAgg(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    val topk = graft.plans.TopKAgg.udafFor(topK)
    c.join(broadcast(q))
      .select(col("q_id"), col("n_id"),
        round(CosineSim(col("q_emb"), col("n_emb")), 6).as("cos_sim"))
      .groupBy(col("q_id"))
      .agg(topk(col("n_id"), col("cos_sim")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col._2").as("n_id"), col("col._1").as("cos_sim"),
        (col("pos") + 1).cast("int").as("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** E7b — IVF (inverted-file) ANN: k-means partitions the corpus into
    * `nCells` cells ONCE (the index build — seeded, deterministic);
    * each query probes its `nProbe` nearest centroids and scores only
    * those cells' vectors. Embeddings are L2-normalized for clustering
    * so Euclidean k-means approximates spherical (cosine) cells.
    * At 100 TB: the index build is one ML fit + one assignment pass; a
    * query touches nProbe/nCells of the corpus — and cells can be
    * written as partitioned parquet so a probe is a partition-pruned
    * scan.
    */
  /** Index build: k-means cell assignment for every corpus vector +
    * the (tiny) centroid table. Shared by the in-query IVF (annIvf)
    * and the persisted-index path (writeIvfIndex/probeIvfIndex).
    */
  def ivfParts(spark: SparkSession, dir: String, nCells: Int): (DataFrame, DataFrame) = {
    val (_, c) = queryCorpus(spark, dir)
    deterministicKmeans(spark, c, nCells)
  }

  /** Fixed iteration count of the Lloyd fit below — part of the oracle
    * contract (kmeansReplaySql unrolls exactly this many rounds).
    */
  private[operators] val kmeansIters = 8

  /** Above this cell count the argmin switches from the plan-literal
    * fold to the broadcast-UDF form: nCells × 64 literal doubles are
    * plan-sized at the schedule's lower knobs, but at thousands of
    * cells they explode Catalyst planning / codegen constant pools —
    * the exact regime the zero-expansion rewrite exists for.
    */
  private[operators] val argminLiteralMaxCells = 256

  /** Argmin cell id for a normalized vector against a centroid set —
    * zero row expansion, zero exchange, in either form:
    *
    *  - ≤ argminLiteralMaxCells: centroids as a plan literal, each
    *    scored by a left-to-right squared-distance fold; `array_min`'s
    *    lexicographic struct ordering (d ASC, cell ASC) reproduces the
    *    old window's ORDER BY (d, cell) tie-break bit-for-bit;
    *  - above it: the identical loop as a deterministic UDF over a
    *    BROADCAST centroid matrix (plan stays O(1); strict `<` keeps
    *    the lowest cell on ties like the fold) — the SemDeDup-50k-cells
    *    path, where literals would blow up the plan tree.
    *
    * Both forms compute the same doubles in the same order, so the
    * DuckDB replay (kmeansReplaySqlPrefix) is valid for either;
    * SimilaritySpec asserts their row-wise equality.
    */
  private[operators] def argminCell(spark: SparkSession,
                                    cs: IndexedSeq[Array[Double]],
                                    fv: Column): Column =
    if (cs.length <= argminLiteralMaxCells) argminCellLiteral(cs, fv)
    else argminCellUdf(spark, cs, fv)

  private[operators] def argminCellLiteral(cs: IndexedSeq[Array[Double]],
                                           fv: Column): Column = {
    val centArr = array(cs.zipWithIndex.map { case (v, i) =>
      struct(array(v.map(lit(_)): _*).as("cent"), lit(i).as("cell"))
    }: _*)
    val scored = transform(centArr, e =>
      struct(
        aggregate(
          zip_with(fv, e.getField("cent"), (a, b) => (a - b) * (a - b)),
          lit(0.0d), _ + _).as("d"),
        e.getField("cell").as("cell")))
    array_min(scored).getField("cell")
  }

  private[operators] def argminCellUdf(spark: SparkSession,
                                       cs: IndexedSeq[Array[Double]],
                                       fv: Column): Column = {
    val bc = spark.sparkContext.broadcast(cs.map(_.clone()).toArray)
    val f = udf { v: Seq[Double] =>
      val cents = bc.value
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var d = 0.0
        var i = 0
        while (i < cent.length) {
          val t = v(i) - cent(i)
          d += t * t
          i += 1
        }
        if (d < bestD) { bestD = d; best = c } // strict <: lowest cell wins ties
        c += 1
      }
      best
    }
    f(fv)
  }

  /** Deterministic Lloyd k-means over L2-normalized vectors (replaces
    * the round-12 ML KMeans fit). Every step is cross-engine
    * replayable, which is what flips the IVF-derived queries
    * (cluster_sample / cell_audit / ann_ivf / dedup_semantic) from ☆
    * to fully oracle-checked:
    *
    *  - init = the `nCells` corpus vectors first in (md5(id), id)
    *    order — a seeded-random-spread stand-in both engines sort
    *    identically;
    *  - `kmeansIters` fixed Lloyd rounds: assignment = argmin of the
    *    left-to-right-folded squared distance (ties broken on cell
    *    id), update = integer-quantized mean (Σ floor(x·1e9) as
    *    BIGINT, then (s/1e9)/n — the VecMomentsAgg discipline), so
    *    accumulation order can never perturb a centroid;
    *  - an emptied cell keeps its previous centroid.
    *
    * Scale shape preserved from the ML fit: centroids live on the
    * driver (nCells × dims doubles — plan-sized), each round is one
    * corpus pass over a persisted projection with a broadcast
    * centroid table, and the per-round collect is nCells × dims
    * aggregate rows, never data. Extra rounds sharpen cell boundaries
    * without improving recall measurably (SimilaritySpec guards
    * recall).
    */
  private[operators] def deterministicKmeans(spark: SparkSession, corpus: DataFrame,
                                             nCells: Int): (DataFrame, DataFrame) = {
    val xd = transform(col("n_emb"), v => v.cast("double"))
    val nr = sqrt(aggregate(transform(xd, v => v * v), lit(0.0d), _ + _))
    val fvCol = when(nr > lit(0.0d), transform(xd, v => v / nr)).otherwise(xd)
    val f = corpus.select(col("n_id"), col("n_emb"), fvCol.as("fv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    var cents: IndexedSeq[Array[Double]] = f
      .orderBy(md5(col("n_id").cast("string")), col("n_id")).limit(nCells)
      .select(col("fv")).collect().toIndexedSeq
      .map(_.getSeq[Double](0).toArray)

    // Assignment is a pure column computation — NO row expansion, NO
    // exchange (the round-13 shape was crossJoin(broadcast(cents)) + a
    // window argmin: a nCells× blow-up plus a corpus-wide shuffle per
    // Lloyd round, invisible at nCells=16 but a scale-killer at
    // SemDeDup's 50k cells), via argminCell below.
    def assigned(cs: IndexedSeq[Array[Double]], in: DataFrame): DataFrame =
      in.select(col("n_id"), col("n_emb"), col("fv"),
        argminCell(spark, cs, col("fv")).as("cell"))

    (1 to kmeansIters).foreach { _ =>
      val upd = assigned(cents, f)
        .select(col("cell"), posexplode(col("fv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("v") * lit(1e9)).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.indices.map { c =>
        upd.get(c) match {
          case Some(rows) =>
            val dims = rows.sortBy(_.getInt(1))
            dims.map(r => (r.getLong(2).toDouble / 1e9) / r.getLong(3)).toArray
          case None => cents(c) // emptied cell keeps its previous centroid
        }
      }
    }

    // final assignment re-derives fv from the corpus scan (no pinned
    // blocks ride out of the fit: the cache below is released, and the
    // lineage recomputes in one pass for any later consumer)
    val corpusCells = assigned(cents, corpus.select(col("n_id"), col("n_emb"), fvCol.as("fv")))
      .select(col("n_id"), col("n_emb"), col("cell"))
    f.unpersist()

    val centroids = spark.createDataFrame(
      cents.zipWithIndex.map { case (v, i) => (i, v.map(_.toFloat).toSeq) })
      .toDF("cell", "centroid")
    (corpusCells, centroids)
  }

  /** Probe-cell selection: the nProbe nearest centroids per query
    * (queries × centroids is tiny — broadcast, window-ranked). Ranks
    * on the ROUNDED similarity (6 dp, cell-id tiebreak) like rankTopK
    * so probe choice is reproducible bit-for-bit across engines.
    */
  private[operators] def probeCells(q: DataFrame, centroids: DataFrame, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("q_id")).orderBy(col("c_sim").desc, col("cell"))
    q.join(broadcast(centroids))
      .withColumn("c_sim", round(CosineSim(col("q_emb"), col("centroid")), 6))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("cell"))
  }

  def annIvf(spark: SparkSession, dir: String, nCells: Int = -1, nProbe: Int = -1): DataFrame = {
    val nc = if (nCells > 0) nCells else autoCells(corpusN(spark, dir))
    val np = if (nProbe > 0) nProbe else autoProbes(nc)
    val (q, _) = queryCorpus(spark, dir)
    val (corpusCells, centroids) = ivfParts(spark, dir, nc)
    rankTopK(
      probeCells(q, centroids, np).join(corpusCells, "cell")
        .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6)))
  }

  /** E7c — persist the IVF index: corpus vectors as CELL-PARTITIONED
    * parquet plus the centroid table. At 100 TB the index build runs
    * once; every probe afterwards is a partition-pruned scan that
    * touches nProbe/nCells of the data (IvfIndexSpec asserts the
    * pruning on scan metrics).
    */
  def writeIvfIndex(spark: SparkSession, dir: String, indexPath: String,
                    nCells: Int = 16): Unit = {
    val (corpusCells, centroids) = ivfParts(spark, dir, nCells)
    corpusCells.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/cells")
    centroids.write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Build-once-probe-many for the benched entries: the k-means build
    * runs once per data generation ([[Scratch.ensure]]); every later
    * invocation is probe-only, the deployment shape.
    */
  def ensureIvfIndex(spark: SparkSession, dir: String, nCells: Int = -1): String = {
    val nc = if (nCells > 0) nCells else autoCells(corpusN(spark, dir))
    Scratch.ensure(spark, "ivfidx-v3", dir, "embeddings.parquet", nc)(
      p => writeIvfIndex(spark, dir, p, nc))
  }

  /** Probe the persisted index. The union of probe cells is collected
    * to the driver (bounded by queries × nProbe ints — query-plan-sized,
    * not data-sized) so the cell filter is a LITERAL predicate the scan
    * prunes partitions with.
    */
  def probeIvfIndex(spark: SparkSession, dir: String, indexPath: String,
                    nProbe: Int = -1): DataFrame = {
    val (q, _) = queryCorpus(spark, dir)
    val centroids = Parquet.read(spark, s"$indexPath/centroids")
    // auto nProbe derives from the index ACTUALLY STORED at indexPath
    // (its centroid count), not from the corpus schedule — an index
    // built with an explicit nCells is probed at the same ~37.5%
    // fraction instead of a mismatched default (centroids are
    // plan-sized; for the default index the two derivations coincide)
    val np =
      if (nProbe > 0) nProbe
      else autoProbes(centroids.count().toInt)
    val probes = probeCells(q, centroids, np)
    val cells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val corpusCells = Parquet.read(spark, s"$indexPath/cells")
      .filter(col("cell").isin(cells: _*))
    rankTopK(
      probes.join(corpusCells, "cell")
        .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6)))
  }

  /** E40 — cluster-balanced sampling (the DataComp/MetaCLIP-style
    * balancing pass: cap each embedding cluster's contribution so
    * over-represented modes don't dominate the training mixture — the
    * distributional complement of E13's per-language rates, in
    * embedding space instead of metadata space). Cells come from the
    * MEMOIZED persisted IVF index (E7c) — balancing reuses the same
    * cluster structure dedup and ANN already paid for; the per-cell
    * quota is taken in md5(id) hash order, deterministic on any engine
    * at any parallelism like every sampling operator here. Shape: one
    * window over cell-sized groups (the index layout is already
    * partitioned by cell, and cell sizes are bounded by the k-means
    * balance, not corpus size).
    */
  def clusterBalancedSample(spark: SparkSession, dir: String,
                            quota: Int = 24): DataFrame = {
    val path = ensureIvfIndex(spark, dir)
    val cells = Parquet.read(spark, s"$path/cells")
      .select(col("n_id"), col("cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(md5(col("n_id").cast("string")), col("n_id"))
    cells.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
      .select(col("cell"), col("n_id"), col("rk").cast("long").as("rk"))
      .orderBy(col("cell"), col("rk"))
  }

  /** E62 — embedding-space cluster audit / corpus cartography (the
    * Nomic-Atlas-class map a curation run publishes: how the corpus
    * distributes over its embedding modes, and whether the clustering
    * is HONEST — a cell whose members disagree with its majority label
    * marks mixed modes the downstream balanced-sampling (E40) and
    * SemDeDup (E22) passes would mistreat). Rides the MEMOIZED IVF
    * cells; one (cell,label)-keyed aggregate at member cardinality,
    * majority election by exact struct-max (count desc, label asc),
    * purity from integer counts. ★ (r13, was ☆): the cells replay via
    * kmeansReplaySqlPrefix, so counts, election, and shares are fully
    * oracle-checked; SimilaritySpec still recomputes the election
    * independently.
    */
  def cellAudit(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureIvfIndex(spark, dir)
    val cells = Parquet.read(spark, s"$path/cells")
      .select(col("n_id"), col("cell"))
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("n_id"), col("label"))
    val perCellLabel = cells.join(labels, "n_id")
      .groupBy(col("cell"), col("label"))
      .agg(count(lit(1)).as("c"))
    val total = perCellLabel.agg(sum(col("c")).as("corpus_n"))
    perCellLabel
      .groupBy(col("cell"))
      .agg(sum(col("c")).as("n"),
        max(struct(col("c").as("c"), (-col("label")).cast("long").as("nl"))).as("m"))
      .crossJoin(broadcast(total))
      .select(col("cell"), col("n"),
        (col("n").cast("double") / col("corpus_n")).as("share"),
        (-col("m.nl")).cast("int").as("majority_label"),
        (col("m.c").cast("double") / col("n")).as("purity"))
      .orderBy(col("cell"))
  }

  /** DuckDB replay of deterministicKmeans — the r12 PCA-replay device
    * applied to the IVF build. Emits chained TEMP TABLEs ending in
    * `km_cells(n_id, fv, cell)` and `km_c{kmeansIters}(cell, cent)`
    * (double centroids), plus `km_centf(cell, centf)` = the
    * float-then-promote cast the persisted centroid table stores.
    * `kcos` replicates the CosineSim kernel bit-for-bit: one
    * left-to-right fold per accumulator, dot / sqrt(nx·ny).
    */
  /** kvfold / kdot / kcos — the CosineSim-kernel replica macros shared
    * by every ANN oracle (one left-to-right fold per accumulator,
    * dot / sqrt(nx·ny), zero-norm → 0).
    */
  private[operators] val kcosMacrosSql: String =
    s"""CREATE OR REPLACE MACRO kvfold(l) AS
       |  list_reduce(list_prepend(0.0, l), (a, b) -> a + b);
       |CREATE OR REPLACE MACRO kdot(x, y) AS
       |  kvfold(list_transform(range(1, 1 + len(x)),
       |    i -> CAST(x[CAST(i AS INT)] AS DOUBLE) * CAST(y[CAST(i AS INT)] AS DOUBLE)));
       |CREATE OR REPLACE MACRO kcos(x, y) AS
       |  CASE WHEN kdot(x, x) = 0 OR kdot(y, y) = 0 THEN 0.0
       |       ELSE kdot(x, y) / sqrt(kdot(x, x) * kdot(y, y)) END;
       |""".stripMargin

  private[operators] def kmeansReplaySqlPrefix(): String = {
    def assignSql(prevCents: String, out: String): String =
      s"""CREATE OR REPLACE TEMP TABLE $out AS
         |SELECT n_id, fv, cell FROM (
         |  SELECT f.n_id, f.fv, c.cell,
         |    row_number() OVER (PARTITION BY f.n_id ORDER BY
         |      kvfold(list_transform(range(1, 1 + len(f.fv)),
         |        i -> (f.fv[CAST(i AS INT)] - c.cent[CAST(i AS INT)])
         |           * (f.fv[CAST(i AS INT)] - c.cent[CAST(i AS INT)]))), c.cell) AS r
         |  FROM km_f f CROSS JOIN $prevCents c)
         |WHERE r = 1;""".stripMargin
    def updateSql(assigned: String, prevCents: String, out: String): String =
      s"""CREATE OR REPLACE TEMP TABLE $out AS
         |SELECT p.cell, coalesce(u.cent, p.cent) AS cent
         |FROM $prevCents p LEFT JOIN (
         |  SELECT cell, list((CAST(s AS DOUBLE) / 1e9) / n ORDER BY d) AS cent
         |  FROM (SELECT cell, d, sum(CAST(floor(v * 1e9) AS BIGINT)) AS s, count(*) AS n
         |        FROM (SELECT cell, generate_subscripts(fv, 1) AS d, unnest(fv) AS v
         |              FROM $assigned)
         |        GROUP BY cell, d)
         |  GROUP BY cell) u USING (cell);""".stripMargin
    val rounds = (1 to kmeansIters).map { t =>
      assignSql(s"km_c${t - 1}", s"km_a$t") + "\n" +
        updateSql(s"km_a$t", s"km_c${t - 1}", s"km_c$t")
    }.mkString("\n")
    s"""$kcosMacrosSql$annParamsSql
       |CREATE OR REPLACE TEMP TABLE km_f AS
       |SELECT n_id, CASE WHEN nrm > 0 THEN list_transform(x, v -> v / nrm) ELSE x END AS fv
       |FROM (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS x,
       |        sqrt(kvfold(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
       |      FROM embeddings WHERE vec_id >= ${nQueries});
       |-- init = the nc (data-derived, see ann_par) corpus vectors first
       |-- in (md5(id), id) order — the auto-scaled form of the r13 LIMIT
       |CREATE OR REPLACE TEMP TABLE km_c0 AS
       |SELECT rk - 1 AS cell, fv AS cent FROM (
       |  SELECT n_id, fv,
       |    row_number() OVER (ORDER BY md5(CAST(n_id AS VARCHAR)), n_id) AS rk
       |  FROM km_f)
       |WHERE rk <= (SELECT nc FROM ann_par);
       |$rounds
       |${assignSql(s"km_c$kmeansIters", "km_cells")}
       |CREATE OR REPLACE TEMP TABLE km_centf AS
       |SELECT cell, list_transform(cent, v -> CAST(CAST(v AS FLOAT) AS DOUBLE)) AS centf
       |FROM km_c$kmeansIters;""".stripMargin
  }

  /** E40 oracle: replayed cells + the same md5-order quota window. */
  val clusterSampleSql: String =
    s"""${kmeansReplaySqlPrefix()}
       |SELECT cell, n_id, CAST(rk AS BIGINT) AS rk FROM (
       |  SELECT cell, n_id,
       |    row_number() OVER (PARTITION BY cell
       |      ORDER BY md5(CAST(n_id AS VARCHAR)), n_id) AS rk
       |  FROM km_cells)
       |WHERE rk <= 24
       |ORDER BY cell, rk""".stripMargin

  /** E62 oracle: replayed cells joined to labels; majority = smallest
    * label among the max counts (the struct-max election).
    */
  val cellAuditSql: String =
    s"""${kmeansReplaySqlPrefix()}
       |WITH pcl AS (
       |  SELECT cell, label, count(*) AS c
       |  FROM km_cells k
       |  JOIN (SELECT vec_id AS n_id, label FROM embeddings) l USING (n_id)
       |  GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS corpus_n FROM pcl),
       |agg AS (
       |  SELECT cell, CAST(sum(c) AS BIGINT) AS n, max(c) AS mc,
       |    (list(label ORDER BY c DESC, label))[1] AS ml
       |  FROM pcl GROUP BY cell)
       |SELECT cell, n, CAST(n AS DOUBLE) / corpus_n AS share,
       |  ml AS majority_label, CAST(mc AS DOUBLE) / n AS purity
       |FROM agg CROSS JOIN tot
       |ORDER BY cell""".stripMargin

  /** E7b oracle: replayed centroids (float-cast like the persisted
    * table) -> probe selection at 6 dp -> cell-bounded scoring ->
    * rankTopK, all mirroring probeIvfIndex.
    */
  val annIvfSql: String =
    s"""${kmeansReplaySqlPrefix()}
       |WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |           FROM embeddings WHERE vec_id < ${nQueries}),
       |probes AS (
       |  SELECT q_id, q_emb, cell FROM (
       |    SELECT q.q_id, q.q_emb, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(kcos(q.q_emb, c.centf), 6) DESC, c.cell) AS pr
       |    FROM q CROSS JOIN km_centf c)
       |  WHERE pr <= (SELECT np FROM ann_par)),
       |scored AS (
       |  SELECT p.q_id, k.n_id, round(kcos(p.q_emb, e.emb), 6) AS cos_sim
       |  FROM probes p
       |  JOIN km_cells k USING (cell)
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) e
       |    ON e.vec_id = k.n_id)
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM scored)
       |WHERE rank <= ${topK}
       |ORDER BY q_id, rank""".stripMargin

  /** E7d — incremental index maintenance (streaming ingest path).
    *
    * A continuously-ingesting pipeline can't afford a full k-means
    * rebuild per micro-batch (public practice: IVF engines à la Faiss
    * assign new vectors to FROZEN coarse centroids and re-train
    * offline). New vectors get argmax-cosine assigned to the existing
    * centroid table — a broadcast join plus a per-vector window over
    * nCells rows, zero corpus shuffle — and appended to their cell's
    * partition; probes see them immediately (IvfIndexSpec asserts a
    * just-appended duplicate of a query surfaces at rank 1).
    */
  def appendToIvfIndex(spark: SparkSession, indexPath: String,
                       newVectors: DataFrame): Unit = {
    val centroids = Parquet.read(spark, s"$indexPath/centroids")
    val w = Window.partitionBy(col("n_id")).orderBy(col("c_sim").desc, col("cell"))
    newVectors.select(col("n_id"), col("n_emb"))
      .join(broadcast(centroids))
      .withColumn("c_sim", CosineSim(col("n_emb"), col("centroid")))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("n_id"), col("n_emb"), col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$indexPath/cells")
  }

  /** E7d — periodic recentering: after enough appends the frozen
    * centroids drift from their members' mass. Recompute each centroid
    * as the mean of its CURRENT members — one aggregate over the cell
    * store (cells × dims rows after posexplode, trivially partial-
    * aggregated), no Lloyd restarts, assignments untouched. The tiny
    * centroid table is rewritten in place.
    */
  def recenterIvfIndex(spark: SparkSession, indexPath: String): Unit = {
    val cells = Parquet.read(spark, s"$indexPath/cells")
    val next = cells
      .select(col("cell"), posexplode(col("n_emb")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col("cell")).agg(
        transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m").cast("float")).as("centroid"))
    // materialize BEFORE the overwrite: the plan reads nothing from the
    // centroids dir, but localCheckpoint severs any future lazy re-read
    next.localCheckpoint(eager = true)
      .write.mode("overwrite").parquet(s"$indexPath/centroids")
  }

  /** Deterministic random hyperplanes (seeded — identical on every JVM). */
  val nPlanes = 16
  lazy val hyperplanes: Array[Array[Float]] = {
    val rng = new scala.util.Random(42)
    Array.fill(nPlanes)(Array.fill(64)(rng.nextGaussian().toFloat))
  }

  /** 16-bit random-hyperplane signature (native kernel — one pass over
    * the embedding instead of nPlanes interpreted aggregates).
    */
  def lshSignature(emb: Column): Column =
    graft.plans.Sketches.lshSignBits(emb, hyperplanes)

  /** Band geometry: 4 bands × 4 bits. Wider bands prune harder but lose
    * recall on weakly-clustered data; these test embeddings are random
    * (the LSH worst case), so bands stay narrow here — production tuning
    * raises nPlanes/band width as cluster structure allows.
    */
  val nBands = 4
  val bandBits = 4

  private def band(sig: Column, i: Int): Column =
    shiftright(sig, i * bandBits).bitwiseAND(lit((1L << bandBits) - 1))

  /** E6b — FILTERED kNN (the kNN plugin's `filter` clause) with
    * PRE-filter semantics: the metadata predicate restricts the
    * candidate set BEFORE scoring, so the result is the exact top-k of
    * the filtered subset — always k rows, never the post-filter
    * failure mode (filter applied after search returns < k and loses
    * recall). Spark-first this is free: the predicate is a pushed scan
    * filter and the search runs on what survives.
    */
  def annFiltered(spark: SparkSession, dir: String, label: Int = 1): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = e.filter(col("vec_id") >= nQueries && col("label") === label)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    rankTopK(
      c.join(broadcast(q))
        .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6)))
  }

  val annFilteredSql: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb FROM embeddings WHERE vec_id >= 10 AND label = 1),
      |scored AS (
      |  SELECT q_id, n_id, round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |  FROM q CROSS JOIN c),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  /** E6c — RADIAL search (the kNN plugin's radial search: a similarity
    * floor `min_score` instead of a neighbor count k — "everything
    * within the radius"). The result size is data-dependent, so the
    * exchange is bounded by hit volume, not q·k, and no ranking state is
    * needed at all: the scan shape is E6's broadcast-query kernel with a
    * plain threshold filter — fully codegen'd, zero shuffle. At 100 TB
    * the IVF index serves radial probes by the triangle bound (a cell
    * whose centroid similarity is below τ − cellRadius cannot contain a
    * hit), pruning cells instead of nProbe-nearest.
    */
  def annRadius(spark: SparkSession, dir: String, minScore: Double = 0.3): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    c.join(broadcast(q))
      .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6))
      .filter(col("cos_sim") >= minScore)
      .select(col("q_id"), col("n_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("cos_sim").desc, col("n_id"))
  }

  val annRadiusSql: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb FROM embeddings WHERE vec_id >= 10)
      |SELECT q_id, n_id, round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |FROM q CROSS JOIN c
      |WHERE round(list_cosine_similarity(q_emb, n_emb), 6) >= 0.3
      |ORDER BY q_id, cos_sim DESC, n_id""".stripMargin

  // ---- E7f: scalar-quantized (int8) ANN ------------------------------

  /** Bits → 256 levels; the kNN plugins' SQ8 configuration. */
  val sqLevels = 255

  /** Per-dimension (min, step) quantization params from ONE corpus
    * aggregate: posexplode → 64-group min/max is map-side combined to
    * 64 rows per partition before the exchange; the collect is
    * plan-sized (one row per dimension), the same bounded-collect class
    * as probe cells.
    */
  def sqParams(corpus: DataFrame): (Array[Double], Array[Double]) = {
    val rows = corpus
      .select(posexplode(col("n_emb")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    val dim = rows.length
    val mins = new Array[Double](dim)
    val steps = new Array[Double](dim)
    // all quantization arithmetic in DOUBLE (float extrema promote
    // exactly): one float rounding remains — the dequantized value —
    // which is a bare IEEE conversion both engines perform identically,
    // so the whole path is oracle-replayable (annSqSql)
    rows.foreach { r =>
      val p = r.getAs[Int]("pos")
      mins(p) = r.getAs[Float]("lo").toDouble
      val span = r.getAs[Float]("hi").toDouble - mins(p)
      steps(p) = if (span == 0d) 1d else span / sqLevels
    }
    (mins, steps)
  }

  /** E7f — scalar-quantized ANN (the kNN plugin's SQ8 memory path:
    * int8 codes are 4× smaller than fp32, which at 100 TB of
    * embeddings is the difference between an in-memory index and not).
    * Two-stage search, the standard SQ recipe:
    *   1. COARSE: score the int8-dequantized corpus (the only data a
    *      production deployment would keep hot) and keep `rerank`
    *      candidates per query — mergeable TopKAgg, O(q·rerank)
    *      exchange;
    *   2. RERANK: rescore only those candidates at full precision and
    *      emit top-k.
    * Quantization params ride into the plan as 64 literal floats —
    * codegen sees constants, no broadcast needed.
    */
  def annSq(spark: SparkSession, dir: String, rerank: Int = 20): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    val (mins, steps) = sqParams(c)
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val stepsL = array(steps.map(lit).toIndexedSeq: _*)
    // int8 codes: round((v - min)/step) - 128 ∈ [-128, 127]
    val codes = transform(col("n_emb"), (v, i) =>
      (round((v.cast("double") - element_at(minsL, i + 1)) / element_at(stepsL, i + 1))
        .cast("int") - 128).cast("tinyint"))
    val dequant = transform(col("codes"), (cd, i) =>
      (element_at(minsL, i + 1) +
        (cd.cast("int") + 128).cast("double") * element_at(stepsL, i + 1))
        .cast("float"))
    val quantized = c.select(col("n_id"), col("n_emb"), codes.as("codes"))
    val coarseK = graft.plans.TopKAgg.udafFor(rerank)
    val coarse = quantized
      .withColumn("dq_emb", dequant)
      .join(broadcast(q))
      .select(col("q_id"), col("n_id"),
        CosineSim(col("q_emb"), col("dq_emb")).as("coarse_sim"))
      .groupBy(col("q_id"))
      .agg(coarseK(col("n_id"), col("coarse_sim")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    rankTopK(
      coarse
        .join(c, "n_id")
        .join(q.withColumnRenamed("q_emb", "q_emb2"), "q_id")
        .withColumn("cos_sim", round(CosineSim(col("q_emb2"), col("n_emb")), 6)))
  }

  /** E7f oracle (r13, was ☆): per-dim float extrema → double
    * quantization params → int8 codes → dequantized-float coarse
    * top-`rerank` → exact rerank, each step the same arithmetic as
    * annSq (the one float rounding is a bare CAST both engines share).
    */
  val annSqSql: String =
    s"""${kcosMacrosSql}CREATE OR REPLACE TEMP TABLE sq_c AS
       |SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS de
       |FROM embeddings WHERE vec_id >= ${nQueries};
       |CREATE OR REPLACE TEMP TABLE sq_q AS
       |SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb
       |FROM embeddings WHERE vec_id < ${nQueries};
       |CREATE OR REPLACE TEMP TABLE sq_p AS
       |SELECT pos, CAST(lo AS DOUBLE) AS lo,
       |  CASE WHEN hi = lo THEN 1.0
       |       ELSE (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) / CAST($sqLevels AS DOUBLE) END AS step
       |FROM (SELECT pos, min(v) AS lo, max(v) AS hi
       |      FROM (SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
       |            FROM embeddings WHERE vec_id >= ${nQueries})
       |      GROUP BY pos);
       |CREATE OR REPLACE TEMP TABLE sq_dq AS
       |SELECT n_id,
       |  list(CAST(CAST(lo + (code + 128) * step AS FLOAT) AS DOUBLE) ORDER BY pos) AS dq
       |FROM (SELECT n_id, pos, lo, step,
       |        CAST(round((v - lo) / step) AS INT) - 128 AS code
       |      FROM (SELECT n_id, generate_subscripts(de, 1) AS pos, unnest(de) AS v FROM sq_c)
       |      JOIN sq_p USING (pos))
       |GROUP BY n_id;
       |CREATE OR REPLACE TEMP TABLE sq_coarse AS
       |SELECT q_id, n_id FROM (
       |  SELECT q.q_id, d.n_id,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY kcos(q.q_emb, d.dq) DESC, d.n_id) AS r
       |  FROM sq_q q CROSS JOIN sq_dq d)
       |WHERE r <= 20;
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT cs.q_id, cs.n_id,
       |    round(kcos(q.q_emb, c.de), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY cs.q_id
       |      ORDER BY round(kcos(q.q_emb, c.de), 6) DESC, cs.n_id) AS rank
       |  FROM sq_coarse cs
       |  JOIN sq_q q USING (q_id)
       |  JOIN sq_c c USING (n_id))
       |WHERE rank <= ${topK}
       |ORDER BY q_id, rank""".stripMargin

  /** E7 — LSH-bucketed ANN: candidates share ≥1 band with the query
    * (multi-probe union), then exact-cosine top-k within candidates only.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    val qs = q.withColumn("sig", lshSignature(col("q_emb")))
    val cs = c.withColumn("sig", lshSignature(col("n_emb")))
    // score inside each band join, then dedupe multi-band hits on the
    // (q_id, n_id) KEY — never array-distinct on the embedding columns
    // (comparing 64-float arrays across a shuffle is the slow path)
    val scored = (0 until nBands).map { i =>
      qs.withColumn("bk", band(col("sig"), i)).as("q")
        .join(cs.withColumn("bk", band(col("sig"), i)).as("c"), Seq("bk"))
        .select(col("q_id"), col("n_id"),
          round(CosineSim(col("q_emb"), col("n_emb")), 6).as("cos_sim"))
    }.reduce(_ unionByName _)
    rankTopK(
      scored.groupBy(col("q_id"), col("n_id")).agg(max(col("cos_sim")).as("cos_sim")))
  }

  /** E7 oracle (r13, was ☆): the 16 seeded hyperplanes are a FIXED
    * operator constant, so they ship into the replica as exact double
    * literals (the cOf-table device); sign bits, 4-bit bands, the
    * band-match candidate union, and the exact-cosine rerank then
    * replay step-for-step.
    */
  val annLshSql: String = {
    val planeRows = hyperplanes.zipWithIndex.map { case (pl, p) =>
      s"($p, [${pl.map(v => v.toDouble.toString).mkString(", ")}])"
    }.mkString(", ")
    s"""${kcosMacrosSql}CREATE OR REPLACE TEMP TABLE lsh_pl AS
       |SELECT * FROM (VALUES $planeRows) v(p, pl);
       |CREATE OR REPLACE TEMP TABLE lsh_bands AS
       |SELECT vec_id, p // $bandBits AS band, CAST(sum(bit) AS BIGINT) AS bk
       |FROM (SELECT e.vec_id, pl.p,
       |        CASE WHEN kdot(e.de, pl.pl) > 0 THEN 1 << (pl.p % $bandBits) ELSE 0 END AS bit
       |      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings) e
       |      CROSS JOIN lsh_pl pl)
       |GROUP BY vec_id, p // $bandBits;
       |CREATE OR REPLACE TEMP TABLE lsh_cand AS
       |SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
       |FROM lsh_bands q JOIN lsh_bands c ON q.band = c.band AND q.bk = c.bk
       |WHERE q.vec_id < ${nQueries} AND c.vec_id >= ${nQueries};
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT cd.q_id, cd.n_id,
       |    round(kcos(qe.de, ce.de), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY cd.q_id
       |      ORDER BY round(kcos(qe.de, ce.de), 6) DESC, cd.n_id) AS rank
       |  FROM lsh_cand cd
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings) qe
       |    ON qe.vec_id = cd.q_id
       |  JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings) ce
       |    ON ce.vec_id = cd.n_id)
       |WHERE rank <= ${topK}
       |ORDER BY q_id, rank""".stripMargin
  }

  /** E49 — PCA over the embedding corpus (dimension reduction: the
    * 64→k projection that shrinks a 100 TB embedding store before
    * ANN/clustering — the classical half of what OPQ/PCA-rotation
    * steps do in production vector indexes).
    *
    * Spark-first split: the DISTRIBUTED work is exactly one mergeable
    * aggregate (plans/VecMomentsAgg — exact integer-nano second-moment
    * sums, bit-deterministic under any partitioning); the driver then
    * eigen-solves the 64×64 covariance by power iteration with
    * deflation — O(d²·iters) scalar work on a plan-sized object, the
    * same driver-bound contract as the IRLS solve (E36) and the
    * union-find fast path (E5b). Returns (mean, basis rows, eigvals),
    * basis signs canonicalized (largest-|w| component positive) so the
    * fit is unique.
    */
  def pcaFit(spark: SparkSession, dir: String, k: Int = 4,
             dim: Int = 64): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val mom = graft.plans.VecMomentsAgg.udafFor(dim)
    val row = Tables.embeddings(spark, dir)
      .agg(mom(col("embedding")).as("m"))
      .select(col("m._1").as("n"), col("m._2").as("s"), col("m._3").as("c"))
      .head()
    val n = row.getLong(0).toDouble
    val s = row.getSeq[Long](1).toArray
    val cr = row.getSeq[Long](2).toArray
    val mean = s.map(_ / 1e9 / n)
    val cov = Array.ofDim[Double](dim, dim)
    var t = 0
    for (i <- 0 until dim; j <- i until dim) {
      val exy = cr(t) / 1e9 / n
      val v = exy - mean(i) * mean(j)
      cov(i)(j) = v; cov(j)(i) = v
      t += 1
    }
    val basis = Array.ofDim[Double](k, dim)
    val eigvals = new Array[Double](k)
    for (comp <- 0 until k) {
      var v = Array.fill(dim)(1.0 / math.sqrt(dim))
      var it = 0
      while (it < 200) {
        val w = new Array[Double](dim)
        for (i <- 0 until dim) {
          var acc = 0.0
          var j = 0
          while (j < dim) { acc += cov(i)(j) * v(j); j += 1 }
          w(i) = acc
        }
        // projected power iteration: re-orthogonalize against the
        // already-extracted basis every step — deflation alone leaves
        // ~1e-5 residual cross-talk when adjacent eigenvalues are
        // close; the Gram-Schmidt pass pins orthogonality at machine
        // precision regardless of the eigengap
        for (p <- 0 until comp) {
          var dot = 0.0
          var j = 0
          while (j < dim) { dot += w(j) * basis(p)(j); j += 1 }
          j = 0
          while (j < dim) { w(j) -= dot * basis(p)(j); j += 1 }
        }
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = if (nrm > 0) w.map(_ / nrm) else w
        it += 1
      }
      var lam = 0.0
      for (i <- 0 until dim; j <- 0 until dim) lam += v(i) * cov(i)(j) * v(j)
      // canonical sign: the largest-magnitude coordinate is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      basis(comp) = v
      eigvals(comp) = lam
      for (i <- 0 until dim; j <- 0 until dim) cov(i)(j) -= lam * v(i) * v(j)
    }
    (mean, basis, eigvals)
  }

  /** E49 entry — project every embedding onto the top-k principal
    * components. The fit result rides into the plan as LITERAL weight
    * arrays; each projected coordinate is the house zip_with/aggregate
    * dot product (codegen'd, no UDF) minus the constant mean offset —
    * a pure scan projection, zero shuffles beyond the fit's one
    * aggregate.
    *
    * ★ (r12, was ☆): the fit is a PURE FUNCTION of the exact integer
    * moments (VecMomentsAgg quantizes before summing, so the moments
    * are bit-identical at any partitioning), and the driver-side
    * power iteration is a fixed 200-step contraction — so the DuckDB
    * oracle replays the ENTIRE fit: same moments, same matvec /
    * Gram-Schmidt / normalize sequence (every floating fold written
    * in the JVM's ascending order via list_reduce), same sign rule,
    * same deflation, inside one recursive CTE; the iteration's
    * convergence absorbs any residual last-ulp divergence long before
    * the 6-dp output round. PcaSpec still pins orthonormality,
    * descending eigenvalues and projected-variance≈eigenvalue.
    */
  def pcaProject(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val (mean, basis, _) = pcaFit(spark, dir, k)
    val cols = (0 until k).map { comp =>
      val w = basis(comp)
      val offset = (0 until mean.length).map(d => mean(d) * w(d)).sum
      val dot = aggregate(
        zip_with(col("embedding"), lit(w), (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x)
      round(dot - lit(offset), 6).as(s"p${comp + 1}")
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id") +: cols: _*)
      .orderBy(col("vec_id"))
  }

  /** Full replay of pcaFit + pcaProject. Every floating fold is a
    * list_reduce seeded with 0.0 in ascending index order — the JVM
    * loop order — and the 4-component × 200-iteration power method
    * (matvec, unrolled ≤3-vector Gram-Schmidt, normalize, sign-fix at
    * the first max-|coordinate|, rank-1 deflation) runs in one
    * recursive CTE whose state row carries (comp, iter, v, basis,
    * cov). Moments replicate VecMomentsAgg's floor(x·1e9) integer
    * quantization, so cov is bit-identical before the first iteration.
    */
  val pcaProjectSql: String =
    """CREATE OR REPLACE MACRO vfold(l) AS
      |  list_reduce(list_prepend(0.0, l), (a, b) -> a + b);
      |CREATE OR REPLACE MACRO vdot(x, y) AS
      |  vfold(list_transform(range(1, 1 + len(x)),
      |    i -> CAST(x[CAST(i AS INT)] AS DOUBLE) * CAST(y[CAST(i AS INT)] AS DOUBLE)));
      |CREATE OR REPLACE TEMP TABLE pca_flat AS
      |SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |       CAST(unnest(embedding) AS DOUBLE) AS x
      |FROM embeddings;
      |CREATE OR REPLACE TEMP TABLE pca_n AS
      |SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings;
      |CREATE OR REPLACE TEMP TABLE pca_mean AS
      |SELECT list((CAST(s AS DOUBLE) / 1e9) / (SELECT n FROM pca_n) ORDER BY d) AS m
      |FROM (SELECT d, sum(CAST(floor(x * 1e9) AS BIGINT)) AS s
      |      FROM pca_flat GROUP BY d);
      |CREATE OR REPLACE TEMP TABLE pca_cov AS
      |SELECT list(cv ORDER BY i, j) AS cov FROM (
      |  SELECT f1.d AS i, f2.d AS j,
      |    (CAST(sum(CAST(floor(f1.x * f2.x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9)
      |      / (SELECT n FROM pca_n)
      |      - (SELECT m FROM pca_mean)[f1.d] * (SELECT m FROM pca_mean)[f2.d] AS cv
      |  FROM pca_flat f1 JOIN pca_flat f2 USING (vec_id)
      |  GROUP BY 1, 2);
      |CREATE OR REPLACE TEMP TABLE pca_basis AS
      |WITH RECURSIVE it AS (
      |  SELECT 0 AS comp, 0 AS iter,
      |    list_transform(range(1, 65), x -> CAST(0.125 AS DOUBLE)) AS v,
      |    CAST([] AS DOUBLE[][]) AS basis,
      |    (SELECT cov FROM pca_cov) AS cov
      |  UNION ALL
      |  SELECT
      |    CASE WHEN iter < 200 THEN comp ELSE comp + 1 END,
      |    CASE WHEN iter < 200 THEN iter + 1 ELSE 0 END,
      |    -- nrm > 0 guard mirrors the JVM pcaFit: on a rank-deficient
      |    -- covariance the deflated w3 is all-zero and x/0 would NaN here
      |    -- where Spark keeps the unnormalized vector
      |    CASE WHEN iter < 200 THEN
      |           CASE WHEN nrm > 0 THEN list_transform(w3, x -> x / nrm) ELSE w3 END
      |         ELSE list_transform(range(1, 65), x -> CAST(0.125 AS DOUBLE)) END,
      |    CASE WHEN iter < 200 THEN basis ELSE list_append(basis, vfix) END,
      |    CASE WHEN iter < 200 THEN cov
      |         ELSE list_transform(range(1, 4097), k ->
      |           cov[CAST(k AS INT)] - lam
      |             * vfix[CAST((k - 1) // 64 + 1 AS INT)]
      |             * vfix[CAST((k - 1) % 64 + 1 AS INT)]) END
      |  FROM (
      |    SELECT *, sqrt(vfold(list_transform(w3, x -> x * x))) AS nrm,
      |      CASE WHEN v[pvt] < 0 THEN list_transform(v, x -> -x) ELSE v END AS vfix
      |    FROM (
      |      SELECT *,
      |        CASE WHEN len(basis) >= 3
      |             THEN list_transform(range(1, 65), j ->
      |               w2[CAST(j AS INT)] - vdot(w2, basis[3]) * basis[3][CAST(j AS INT)])
      |             ELSE w2 END AS w3,
      |        list_position(list_transform(v, x -> abs(x)),
      |                      list_max(list_transform(v, x -> abs(x)))) AS pvt,
      |        vfold(list_transform(range(1, 4097), k ->
      |          v[CAST((k - 1) // 64 + 1 AS INT)] * cov[CAST(k AS INT)]
      |            * v[CAST((k - 1) % 64 + 1 AS INT)])) AS lam
      |      FROM (
      |        SELECT *,
      |          CASE WHEN len(basis) >= 2
      |               THEN list_transform(range(1, 65), j ->
      |                 w1[CAST(j AS INT)] - vdot(w1, basis[2]) * basis[2][CAST(j AS INT)])
      |               ELSE w1 END AS w2
      |        FROM (
      |          SELECT *,
      |            CASE WHEN len(basis) >= 1
      |                 THEN list_transform(range(1, 65), j ->
      |                   w0[CAST(j AS INT)] - vdot(w0, basis[1]) * basis[1][CAST(j AS INT)])
      |                 ELSE w0 END AS w1
      |          FROM (
      |            SELECT *, list_transform(range(1, 65), i ->
      |              vfold(list_transform(range(1, 65), j ->
      |                cov[CAST((i - 1) * 64 + j AS INT)] * v[CAST(j AS INT)]))) AS w0
      |            FROM it WHERE comp < 4))))) s)
      |SELECT basis FROM it WHERE comp = 4;
      |SELECT vec_id,
      |  round(vdot(list_transform(embedding, x -> CAST(x AS DOUBLE)), b.basis[1])
      |    - vdot(pm.m, b.basis[1]), 6) AS p1,
      |  round(vdot(list_transform(embedding, x -> CAST(x AS DOUBLE)), b.basis[2])
      |    - vdot(pm.m, b.basis[2]), 6) AS p2,
      |  round(vdot(list_transform(embedding, x -> CAST(x AS DOUBLE)), b.basis[3])
      |    - vdot(pm.m, b.basis[3]), 6) AS p3,
      |  round(vdot(list_transform(embedding, x -> CAST(x AS DOUBLE)), b.basis[4])
      |    - vdot(pm.m, b.basis[4]), 6) AS p4
      |FROM embeddings, pca_basis b, pca_mean pm
      |ORDER BY vec_id""".stripMargin

  /** E48 — embedding pooling: mean-pool vectors per group (chunk → doc
    * pooling for RAG indexes, label prototypes for classification and
    * the centroid update of every clustering pass — the aggregation
    * every embedding pipeline needs beside search).
    *
    * Determinism device: each float coordinate quantizes to integer
    * MICRO-UNITS (floor(v·10⁶), the integer-micro-nats playbook)
    * BEFORE summation, so the per-(label, dim) sums are exact BIGINTs
    * at any partitioning and the mean is one division on the exact
    * integers — bit-identical cross-engine where a raw float sum is
    * summation-order-dependent. The posexplode is the per-dimension
    * execution shape; one map-side-combined aggregate (labels × 64
    * output rows) is the only exchange at any corpus size.
    */
  def embeddingPool(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        // exact-BIGINT / exact-BIGINT division then one scale step:
        // both are single correctly-rounded IEEE ops, so the value is
        // bit-identical cross-engine WITHOUT a display round (a round
        // here would re-introduce the half-boundary hazard the integer
        // quantization just removed)
        (col("s").cast("double") / col("n") / 1e6).as("pooled"), col("n"))
      .orderBy(col("label"), col("dim"))

  /** E50 — embedding drift audit: L2 distance between each group's
    * centroid and the corpus centroid (the embedding-space counterpart
    * of E29's PSI — "which label/source sits far from the corpus
    * mean", the first screen for batch effects in a merged embedding
    * store). All means derive from E48's exact integer-micro sums;
    * per-dimension differences re-quantize to integer micros before
    * the square-sum, so the 64-term reduction is an exact BIGINT at
    * any partitioning and the single sqrt is one correctly-rounded
    * IEEE op — bit-identical cross-engine.
    */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val perDim = Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 1e6).cast("long")).as("s"),
        count(lit(1)).as("n"))
    val global = perDim.groupBy(col("dim"))
      .agg(sum(col("s")).as("gs"), sum(col("n")).as("gn"))
    perDim.join(global, "dim")
      .withColumn("di",
        floor((col("s").cast("double") / col("n") -
          col("gs").cast("double") / col("gn"))).cast("long"))
      .groupBy(col("label"))
      .agg(sum(col("di") * col("di")).as("ss"), max(col("n")).as("n_vecs"))
      .select(col("label"),
        round(sqrt(col("ss").cast("double")) / 1e6, 6).as("drift_l2"),
        col("n_vecs"))
      .orderBy(col("label"))
  }

  val embeddingDriftSql: String =
    """WITH e AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings),
      |perdim AS (
      |  SELECT label, dim,
      |    CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS BIGINT) AS s,
      |    count(*) AS n
      |  FROM e GROUP BY label, dim),
      |gstats AS (
      |  SELECT dim, CAST(sum(s) AS BIGINT) AS gs, CAST(sum(n) AS BIGINT) AS gn
      |  FROM perdim GROUP BY dim),
      |diffs AS (
      |  SELECT label,
      |    CAST(floor(CAST(s AS DOUBLE) / n - CAST(gs AS DOUBLE) / gn) AS BIGINT) AS di,
      |    n
      |  FROM perdim JOIN gstats USING (dim))
      |SELECT label,
      |  round(sqrt(CAST(sum(di * di) AS DOUBLE)) / 1e6, 6) AS drift_l2,
      |  CAST(max(n) AS BIGINT) AS n_vecs
      |FROM diffs
      |GROUP BY label
      |ORDER BY label""".stripMargin

  val embeddingPoolSql: String =
    """WITH e AS (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
      |         unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings)
      |SELECT label, dim,
      |  CAST(sum(CAST(floor(v * 1e6) AS BIGINT)) AS DOUBLE) / count(*) / 1e6 AS pooled,
      |  count(*) AS n
      |FROM e
      |GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin
  /** E71 — contrastive hard-negative mining (the embedding-training
    * data op: for each anchor, the most-similar corpus vectors whose
    * LABEL differs — "hardest" negatives, the pairs InfoNCE-style
    * losses learn most from; random negatives are trivially easy and
    * teach nothing, which is why production pipelines mine). Anchors =
    * the E6 query set; negatives ranked by rounded cosine with n_id
    * tiebreak (bit-reproducible cross-engine).
    *
    * Scale shape: identical to E6 — the anchor set broadcasts, the
    * corpus scan stays partition-local, the label test is one extra
    * predicate in the scored projection, and the per-anchor top-k is a
    * window over anchor-keyed groups. At real scale the candidate pass
    * swaps for the E7 family (label-filtered IVF/LSH probes) exactly
    * as for neighbor search — mining IS ANN with a label constraint.
    */
  def hardNegatives(spark: SparkSession, dir: String,
                    negK: Int = 3): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val anchors = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val corpus = e.filter(col("vec_id") >= nQueries)
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("label").as("n_label"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
    corpus.join(broadcast(anchors))
      .filter(col("n_label") =!= col("q_label"))
      .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= negK)
      .select(col("q_id"), col("n_id"), col("n_label"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  val hardNegativesSql: String =
    """WITH q AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb, label AS q_label
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (
      |  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb, label AS n_label
      |  FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT q_id, n_id, n_label,
      |    round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |  FROM q CROSS JOIN c
      |  WHERE n_label <> q_label),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, n_label, cos_sim, rank FROM ranked WHERE rank <= 3
      |ORDER BY q_id, rank""".stripMargin
  // ---- E89: Matryoshka truncation-dim recall sweep -------------------

  /** E89 — Matryoshka embedding evaluation (Kusupati et al. 2022:
    * MRL-trained embeddings keep their leading dimensions meaningful,
    * so a deployment can store/search a PREFIX of each vector and
    * trade recall for a 2–8× footprint cut). This is the audit that
    * decides the trade: for each truncation width, brute-force top-k
    * on the sliced vectors and score recall@k against the full-width
    * baseline, plus the full-dim similarity actually achieved by the
    * truncated ranking (the quality the user would serve).
    *
    * One pass computes every width: the q×corpus pair stream carries
    * all four sliced cosines, stack-unpivots to (dim_cut, cos) rows,
    * and one window ranks each (dim_cut, query) — the corpus is
    * scanned ONCE, not once per width. Scale shape matches E6: query
    * side broadcast, exchange is O(widths × queries × k).
    */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    val dims = Seq(64, 32, 16, 8)
    val withCos = dims.foldLeft(c.join(broadcast(q))) { (df, d) =>
      df.withColumn(s"c$d",
        round(graft.plans.CosineSim(slice(col("q_emb"), 1, d), slice(col("n_emb"), 1, d)), 6))
    }
    val long = withCos.select(col("q_id"), col("n_id"), col("c64").as("full_sim"),
      expr("stack(4, 64, c64, 32, c32, 16, c16, 8, c8) AS (dim_cut, cos_sim)"))
    val w = Window.partitionBy(col("dim_cut"), col("q_id"))
      .orderBy(col("cos_sim").desc, col("n_id"))
    val top = long.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
    val base = top.filter(col("dim_cut") === 64)
      .select(col("q_id").as("b_q"), col("n_id").as("b_n"))
    top.join(broadcast(base),
        col("q_id") === col("b_q") && col("n_id") === col("b_n"), "left")
      .groupBy(col("dim_cut"))
      .agg(
        round(avg(when(col("b_n").isNotNull, 1.0).otherwise(0.0)), 4).as("avg_recall"),
        // exact-integer mean: full_sim is 6-decimal quantized, so summing
        // micro-units in BIGINT removes the engine-order float-sum ulp
        // that can straddle round()'s half boundary (bit at sf0.001)
        round(sum(round(col("full_sim") * 1e6).cast("long")).cast("double")
          / count(lit(1)) / 1e6, 6).as("avg_full_sim"))
      .orderBy(col("dim_cut").desc)
  }

  val matryoshkaRecallSql: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb FROM embeddings WHERE vec_id >= 10),
      |pairs AS (
      |  SELECT q_id, n_id,
      |    round(list_cosine_similarity(q_emb, n_emb), 6) AS c64,
      |    round(list_cosine_similarity(q_emb[1:32], n_emb[1:32]), 6) AS c32,
      |    round(list_cosine_similarity(q_emb[1:16], n_emb[1:16]), 6) AS c16,
      |    round(list_cosine_similarity(q_emb[1:8], n_emb[1:8]), 6) AS c8
      |  FROM q CROSS JOIN c),
      |long AS (
      |  SELECT q_id, n_id, c64 AS full_sim, 64 AS dim_cut, c64 AS cos_sim FROM pairs
      |  UNION ALL
      |  SELECT q_id, n_id, c64, 32, c32 FROM pairs
      |  UNION ALL
      |  SELECT q_id, n_id, c64, 16, c16 FROM pairs
      |  UNION ALL
      |  SELECT q_id, n_id, c64, 8, c8 FROM pairs),
      |top AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY dim_cut, q_id
      |                                 ORDER BY cos_sim DESC, n_id) AS rnk
      |    FROM long)
      |  WHERE rnk <= 5),
      |base AS (
      |  SELECT q_id AS b_q, n_id AS b_n FROM top WHERE dim_cut = 64)
      |SELECT CAST(t.dim_cut AS INTEGER) AS dim_cut,
      |  round(avg(CASE WHEN b.b_n IS NULL THEN 0.0 ELSE 1.0 END), 4) AS avg_recall,
      |  round(CAST(sum(CAST(round(t.full_sim * 1000000) AS BIGINT)) AS DOUBLE)
      |    / count(*) / 1000000, 6) AS avg_full_sim
      |FROM top t LEFT JOIN base b ON t.q_id = b.b_q AND t.n_id = b.b_n
      |GROUP BY t.dim_cut
      |ORDER BY dim_cut DESC""".stripMargin

  // ---- E7g: product-quantized (PQ/ADC) ANN ---------------------------

  /** E7g — product quantization with asymmetric distance computation
    * (Jégou et al. 2011, the IVF-PQ memory path every billion-vector
    * deployment runs): split each vector into `m` subvectors, k-means
    * each subspace to `ks` centroids, store each vector as m 4-bit
    * codes (here 8×16 → 32 bits vs 64 fp32 = 64× compression — at
    * 100 TB of embeddings the difference between RAM-resident and
    * not). A query never decodes the corpus: it builds an m×ks lookup
    * table of exact subvector dot products (ADC), so a candidate's
    * approximate score is m table adds over its codes. Full-precision
    * rerank of the top `rerank` finishes, the E7f two-stage recipe.
    *
    * Training follows faiss practice: codebooks fit on a BOUNDED
    * deterministic sample (the md5-rank-first `trainSample` vectors,
    * collected ONCE — faiss itself caps PQ training around 256·ks
    * points per centroid), with Lloyd run driver-side on that
    * plan-sized object — the sqParams/IRLS bounded-collect contract.
    * The corpus is touched DISTRIBUTED exactly once for encoding (one
    * broadcast join + argmin aggregate). Determinism: per-row
    * normalization, fixed sample order, seeds = first ks sample
    * subvectors, argmin ties break on cent_id.
    */
  def annPq(spark: SparkSession, dir: String, m: Int = 8, ks: Int = 16,
            iters: Int = 10, rerank: Int = -1, trainSample: Int = 2048): DataFrame = {
    val rr = if (rerank > 0) rerank else autoRerank(corpusN(spark, dir))
    val (q, c) = queryCorpus(spark, dir)
    val (codes, lut) = pqPartsMemoized(spark, dir, q, m, ks, iters, trainSample)
    val coarseK = graft.plans.TopKAgg.udafFor(rr)
    val cand = codes.join(broadcast(lut), Seq("sub", "cent_id"))
      .groupBy(col("q_id"), col("n_id"))
      // pico-quantized ADC sum: 8 doubles summed as integers, so the
      // score is independent of accumulation order on any engine
      .agg(sum(round(col("part") * lit(1e12)).cast("long")).cast("double").as("adc_sim"))
      .groupBy(col("q_id"))
      .agg(coarseK(col("n_id"), col("adc_sim")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    rankTopK(
      cand
        .join(c, "n_id")
        .join(q.withColumnRenamed("q_emb", "q_emb2"), "q_id")
        .withColumn("cos_sim", round(CosineSim(col("q_emb2"), col("n_emb")), 6)))
  }

  /** E7g/E7i deployment shape: the PQ codebook + corpus codes are a
    * BUILD ARTIFACT exactly like the E7c IVF index — train/encode once
    * per data dir, persist, and every later probe pays only the
    * query-side LUT + ADC join ([[Scratch.ensure]]).
    */
  def ensurePqIndex(spark: SparkSession, dir: String, m: Int = 8,
                    ks: Int = 16, iters: Int = 10,
                    trainSample: Int = 2048): String =
    Scratch.ensure(spark, "pqidx-v2", dir, "embeddings.parquet",
      m, ks, iters, trainSample) { path =>
      val (_, c) = queryCorpus(spark, dir)
      val (books, codes) = pqTrainEncode(spark, c, m, ks, iters, trainSample)
      codes.write.mode("overwrite").parquet(s"$path/codes")
      books.write.mode("overwrite").parquet(s"$path/books")
    }

  /** Memoized (codes, lut) for the benched PQ entries: corpus half from
    * the persisted artifact, query LUT rebuilt per call (queries are
    * not index state).
    */
  private def pqPartsMemoized(spark: SparkSession, dir: String, q: DataFrame,
                              m: Int, ks: Int, iters: Int,
                              trainSample: Int): (DataFrame, DataFrame) = {
    val path = ensurePqIndex(spark, dir, m, ks, iters, trainSample)
    val codes = Parquet.read(spark, s"$path/codes")
    val books = Parquet.read(spark, s"$path/books")
    (codes, pqLut(q, books, m))
  }

  /** Query-side ADC lookup table against a (sub, cent_id, cv) book. */
  private def pqLut(q: DataFrame, centDf: DataFrame, m: Int): DataFrame = {
    val qN = pqNormalized(q, "q_emb").select(col("q_id"), col("nemb"))
    pqSubvecs(qN, "q_id", m).join(broadcast(centDf), "sub")
      .select(col("q_id"), col("sub"), col("cent_id"),
        aggregate(zip_with(col("sv"), col("cv"), (a, b) => a * b),
          lit(0.0d), (acc, v) => acc + v).as("part"))
  }

  private def pqNormalized(df: DataFrame, emb: String): DataFrame = {
    val nrm = sqrt(aggregate(col(emb), lit(0.0d),
      (acc, v) => acc + v.cast("double") * v.cast("double")))
    df.withColumn("nemb", transform(col(emb), v => v.cast("double") / nrm))
  }

  private def pqSubvecs(df: DataFrame, idCol: String, m: Int): DataFrame = {
    val subDim = 64 / m
    df.select(col(idCol), explode(array((0 until m).map(i =>
      struct(lit(i).as("sub"),
        slice(col("nemb"), i * subDim + 1, subDim).as("sv"))): _*)).as("s"))
      .select(col(idCol), col("s.sub").as("sub"), col("s.sv").as("sv"))
  }

  /** Shared PQ machinery (E7g/E7i): codebooks trained driver-side on
    * the bounded md5-rank sample, corpus encoded in ONE distributed
    * pass. Returns (books: sub × cent_id → cv,
    * codes: n_id × sub → cent_id).
    */
  private def pqTrainEncode(spark: SparkSession, c: DataFrame,
                            m: Int, ks: Int, iters: Int,
                            trainSample: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val subDim = 64 / m
    val cN = pqNormalized(c, "n_emb").select(col("n_id"), col("nemb"))
    // bounded deterministic training sample, collected once
    val sample: Array[Seq[Double]] = cN
      .select(col("nemb"), md5(col("n_id").cast("string")).as("h"), col("n_id"))
      .orderBy(col("h"), col("n_id")).limit(trainSample)
      .select(col("nemb")).as[Seq[Double]].collect()
    // driver-side Lloyd per subspace on the sample (plan-sized work)
    val codebook: Seq[(Int, Int, Seq[Double])] = (0 until m).flatMap { sub =>
      val pts = sample.map(v => v.slice(sub * subDim, (sub + 1) * subDim).toArray)
      var cents = Array.tabulate(math.min(ks, pts.length))(i => pts(i).clone())
      for (_ <- 0 until iters) {
        // integer-quantized sums (the deterministicKmeans discipline):
        // accumulation order can never perturb a centroid, so the fit
        // replays exactly in the DuckDB oracle's grouped aggregates
        val sums = Array.fill(cents.length, subDim)(0L)
        val counts = new Array[Int](cents.length)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var ci = 0
          while (ci < cents.length) {
            var d = 0.0; var k = 0
            while (k < subDim) { val t = p(k) - cents(ci)(k); d += t * t; k += 1 }
            if (d < bd) { bd = d; best = ci }
            ci += 1
          }
          var k = 0
          while (k < subDim) { sums(best)(k) += math.floor(p(k) * 1e9).toLong; k += 1 }
          counts(best) += 1
        }
        cents = cents.zipWithIndex.map { case (old, i) =>
          if (counts(i) == 0) old
          else Array.tabulate(subDim)(k => (sums(i)(k).toDouble / 1e9) / counts(i))
        }
      }
      cents.zipWithIndex.map { case (cv, cid) => (sub, cid, cv.toSeq) }
    }
    val centDf = codebook.toDF("sub", "cent_id", "cv")
    // ONE distributed pass encodes the corpus against the broadcast book
    val dist2 = aggregate(zip_with(col("sv"), col("cv"),
      (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, v) => acc + v)
    val codes = pqSubvecs(cN, "n_id", m)
      .join(broadcast(centDf), "sub")
      .withColumn("d2", dist2)
      .groupBy(col("n_id"), col("sub"))
      .agg(min(struct(col("d2"), col("cent_id"))).as("mn"))
      .select(col("n_id"), col("sub"), col("mn.cent_id").as("cent_id"))
    (centDf, codes)
  }

  /** E7i — IVF-PQ (the composition every billion-vector deployment
    * actually runs — faiss `IVFx,PQy`, the OpenSearch faiss engine's
    * ivf+pq method_spec): IVF cells prune WHICH vectors a query
    * scores (nProbe/nCells of the corpus), PQ codes shrink WHAT is
    * scored (32-bit codes + m table adds instead of 64-float dots),
    * and exact rerank repairs the top. Both halves reuse their E7b/E7g
    * machinery unchanged — the glue is one join order: probe cells →
    * members → codes → broadcast LUT, so ADC scoring touches ONLY
    * probed-cell candidates. At 100 TB this is the difference between
    * scanning 1/4 of a code table and all of a float table.
    */
  def annIvfPq(spark: SparkSession, dir: String,
               nCells: Int = -1, nProbe: Int = -1, m: Int = 8, ks: Int = 16,
               iters: Int = 10, rerank: Int = -1, trainSample: Int = 2048): DataFrame = {
    val nAuto = corpusN(spark, dir)
    val nc = if (nCells > 0) nCells else autoCells(nAuto)
    val np = if (nProbe > 0) nProbe else autoProbes(nc)
    val rr = if (rerank > 0) rerank else autoRerank(nAuto)
    val (q, c) = queryCorpus(spark, dir)
    // cells come from the MEMOIZED persisted index (E7c) — the deployed
    // shape builds once and probes many times, so the query measures
    // probe latency, not a fresh k-means fit per run
    val indexPath = ensureIvfIndex(spark, dir, nc)
    val corpusCells = Parquet.read(spark, s"$indexPath/cells")
    val centroids = Parquet.read(spark, s"$indexPath/centroids")
    val (codes, lut) = pqPartsMemoized(spark, dir, q, m, ks, iters, trainSample)
    val candPairs = probeCells(q, centroids, np)
      .select(col("q_id"), col("cell"))
      .join(corpusCells.select(col("n_id"), col("cell")), "cell")
      .select(col("q_id"), col("n_id"))
    val coarseK = graft.plans.TopKAgg.udafFor(rr)
    val cand = candPairs.join(codes, "n_id")
      .join(broadcast(lut), Seq("q_id", "sub", "cent_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(round(col("part") * lit(1e12)).cast("long")).cast("double").as("adc_sim"))
      .groupBy(col("q_id"))
      .agg(coarseK(col("n_id"), col("adc_sim")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    rankTopK(
      cand
        .join(c, "n_id")
        .join(q.withColumnRenamed("q_emb", "q_emb2"), "q_id")
        .withColumn("cos_sim", round(CosineSim(col("q_emb2"), col("n_emb")), 6)))
  }
  /** DuckDB replay of pqTrainEncode + pqLut (r13): the driver-side
    * Lloyd is sample-order-initialized with integer-quantized updates,
    * so 10 unrolled rounds per subspace rebuild the codebooks exactly;
    * the corpus encode and query LUT are one argmin / one fold each.
    * Ends with pq_books(sub, cid, cv), pq_codes(n_id, sub, cent_id),
    * pq_q(q_id, de, qn), pq_lut(q_id, sub, cid, part).
    */
  private[operators] def pqReplaySqlPrefix(m: Int = 8, ks: Int = 16,
                                           iters: Int = 10,
                                           trainSample: Int = 2048): String = {
    val subDim = 64 / m
    def d2(sv: String, cv: String): String =
      s"""kvfold(list_transform(range(1, 1 + $subDim),
         |      i -> ($sv[CAST(i AS INT)] - $cv[CAST(i AS INT)])
         |         * ($sv[CAST(i AS INT)] - $cv[CAST(i AS INT)])))""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""CREATE OR REPLACE TEMP TABLE pq_a$t AS
         |SELECT sub, srank, sv, cid FROM (
         |  SELECT p.sub, p.srank, p.sv, b.cid,
         |    row_number() OVER (PARTITION BY p.sub, p.srank ORDER BY
         |      ${d2("p.sv", "b.cv")}, b.cid) AS r
         |  FROM pq_sp p JOIN pq_b${t - 1} b USING (sub))
         |WHERE r = 1;
         |CREATE OR REPLACE TEMP TABLE pq_b$t AS
         |SELECT p.sub, p.cid, coalesce(u.cv, p.cv) AS cv
         |FROM pq_b${t - 1} p LEFT JOIN (
         |  SELECT sub, cid, list((CAST(s AS DOUBLE) / 1e9) / n ORDER BY d) AS cv
         |  FROM (SELECT sub, cid, d, sum(CAST(floor(v * 1e9) AS BIGINT)) AS s, count(*) AS n
         |        FROM (SELECT sub, cid, generate_subscripts(sv, 1) AS d, unnest(sv) AS v
         |              FROM pq_a$t)
         |        GROUP BY sub, cid, d)
         |  GROUP BY sub, cid) u ON u.sub = p.sub AND u.cid = p.cid;
         |""".stripMargin
    }.mkString
    s"""${kcosMacrosSql}CREATE OR REPLACE TEMP TABLE pq_cn AS
       |SELECT n_id, de, list_transform(de, v -> v / nrm) AS nemb
       |FROM (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS de,
       |        sqrt(kvfold(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
       |      FROM embeddings WHERE vec_id >= ${nQueries});
       |CREATE OR REPLACE TEMP TABLE pq_smp AS
       |SELECT row_number() OVER (ORDER BY md5(CAST(n_id AS VARCHAR)), n_id) - 1 AS srank,
       |       nemb
       |FROM (SELECT n_id, nemb FROM pq_cn
       |      ORDER BY md5(CAST(n_id AS VARCHAR)), n_id LIMIT $trainSample);
       |CREATE OR REPLACE TEMP TABLE pq_sp AS
       |SELECT srank, s.range AS sub,
       |  list_slice(nemb, s.range * $subDim + 1, s.range * $subDim + $subDim) AS sv
       |FROM pq_smp, range($m) s;
       |CREATE OR REPLACE TEMP TABLE pq_b0 AS
       |SELECT sub, srank AS cid, sv AS cv FROM pq_sp WHERE srank < $ks;
       |$rounds
       |CREATE OR REPLACE TEMP TABLE pq_csv AS
       |SELECT n_id, s.range AS sub,
       |  list_slice(nemb, s.range * $subDim + 1, s.range * $subDim + $subDim) AS sv
       |FROM pq_cn, range($m) s;
       |CREATE OR REPLACE TEMP TABLE pq_codes AS
       |SELECT n_id, sub, cid AS cent_id FROM (
       |  SELECT c.n_id, c.sub, b.cid,
       |    row_number() OVER (PARTITION BY c.n_id, c.sub ORDER BY
       |      ${d2("c.sv", "b.cv")}, b.cid) AS r
       |  FROM pq_csv c JOIN pq_b$iters b USING (sub))
       |WHERE r = 1;
       |CREATE OR REPLACE TEMP TABLE pq_q AS
       |SELECT q_id, de, list_transform(de, v -> v / nrm) AS qn
       |FROM (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS de,
       |        sqrt(kvfold(list_transform(CAST(embedding AS DOUBLE[]), v -> v * v))) AS nrm
       |      FROM embeddings WHERE vec_id < ${nQueries});
       |CREATE OR REPLACE TEMP TABLE pq_lut AS
       |SELECT q.q_id, s.range AS sub, b.cid,
       |  kdot(list_slice(q.qn, s.range * $subDim + 1, s.range * $subDim + $subDim), b.cv) AS part
       |FROM pq_q q, range($m) s
       |JOIN pq_b$iters b ON b.sub = s.range;
       |""".stripMargin
  }

  /** E7g oracle (r13, was ☆): full codebook + encode + ADC + rerank
    * replay; ADC scores are pico-quantized integer sums on both
    * engines so accumulation order is irrelevant.
    */
  val annPqSql: String =
    s"""${pqReplaySqlPrefix()}
       |$annParamsSql
       |CREATE OR REPLACE TEMP TABLE pq_cand AS
       |SELECT q_id, n_id FROM (
       |  SELECT a.q_id, a.n_id,
       |    row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc DESC, a.n_id) AS r
       |  FROM (SELECT l.q_id, c.n_id,
       |          CAST(CAST(sum(CAST(round(l.part * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) AS adc
       |        FROM pq_codes c
       |        JOIN pq_lut l ON l.sub = c.sub AND l.cid = c.cent_id
       |        GROUP BY l.q_id, c.n_id) a)
       |WHERE r <= (SELECT rr FROM ann_par);
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT cd.q_id, cd.n_id,
       |    round(kcos(q.de, c.de), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY cd.q_id
       |      ORDER BY round(kcos(q.de, c.de), 6) DESC, cd.n_id) AS rank
       |  FROM pq_cand cd
       |  JOIN pq_q q USING (q_id)
       |  JOIN pq_cn c USING (n_id))
       |WHERE rank <= ${topK}
       |ORDER BY q_id, rank""".stripMargin

  /** E7i oracle (r13, was ☆): kmeans replay supplies the probe cells,
    * PQ replay supplies codes + LUT; ADC runs over probed-cell
    * candidates only, exact rerank finishes — annIvfPq step-for-step.
    */
  val annIvfPqSql: String =
    s"""${kmeansReplaySqlPrefix()}
       |${pqReplaySqlPrefix()}
       |CREATE OR REPLACE TEMP TABLE ivfpq_probe AS
       |SELECT q_id, cell FROM (
       |  SELECT q.q_id, c.cell,
       |    row_number() OVER (PARTITION BY q.q_id
       |      ORDER BY round(kcos(q.de, c.centf), 6) DESC, c.cell) AS pr
       |  FROM pq_q q CROSS JOIN km_centf c)
       |WHERE pr <= (SELECT np FROM ann_par);
       |CREATE OR REPLACE TEMP TABLE ivfpq_cand AS
       |SELECT q_id, n_id FROM (
       |  SELECT a.q_id, a.n_id,
       |    row_number() OVER (PARTITION BY a.q_id ORDER BY a.adc DESC, a.n_id) AS r
       |  FROM (SELECT p.q_id, k.n_id,
       |          CAST(CAST(sum(CAST(round(l.part * 1e12) AS BIGINT)) AS BIGINT) AS DOUBLE) AS adc
       |        FROM ivfpq_probe p
       |        JOIN km_cells k USING (cell)
       |        JOIN pq_codes c ON c.n_id = k.n_id
       |        JOIN pq_lut l ON l.q_id = p.q_id AND l.sub = c.sub AND l.cid = c.cent_id
       |        GROUP BY p.q_id, k.n_id) a)
       |WHERE r <= (SELECT rr FROM ann_par);
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT cd.q_id, cd.n_id,
       |    round(kcos(q.de, c.de), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY cd.q_id
       |      ORDER BY round(kcos(q.de, c.de), 6) DESC, cd.n_id) AS rank
       |  FROM ivfpq_cand cd
       |  JOIN pq_q q USING (q_id)
       |  JOIN pq_cn c USING (n_id))
       |WHERE rank <= ${topK}
       |ORDER BY q_id, rank""".stripMargin

  // ---- E7h: binary-quantized (1-bit) ANN -----------------------------

  /** E7h — binary quantization (the OpenSearch 2.17 `binary` kNN mode /
    * faiss BQ: ONE bit per dimension — sign — so a 64-dim fp32 vector
    * becomes 8 bytes, 32× smaller, and candidate scoring is XOR +
    * popcount, the cheapest distance that exists). Two-stage like
    * E7f/E7g: hamming-distance coarse pass over the code table keeps
    * `rerank` candidates per query, full-precision rerank finishes.
    *
    * Unlike SQ/PQ there is NOTHING to train and NOTHING stochastic —
    * sign bits, XOR, popcount and the exact rerank are all
    * bit-deterministic — so this quantization path is fully
    * ORACLE-CHECKED (★), not recall-specced: DuckDB replicates the
    * codes and the two-stage cut exactly. Codes pack as two 32-bit
    * halves (a 1<<63 shift overflows DuckDB's checked BIGINT shift).
    * Scale shape: the code table is a projection of the corpus scan;
    * the coarse pass scans codes only (the 32×-smaller frame) with the
    * bounded query side broadcast; TopKAgg bounds the exchange.
    */
  def annBq(spark: SparkSession, dir: String, rerank: Int = -1): DataFrame = {
    val rr = if (rerank > 0) rerank else autoRerank(corpusN(spark, dir))
    val (q, c) = queryCorpus(spark, dir)
    def codes(emb: String): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
      expr(s"aggregate(transform(slice($emb, 1, 32), (v, i) -> IF(v >= 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"),
      expr(s"aggregate(transform(slice($emb, 33, 32), (v, i) -> IF(v >= 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"))
    val (qLo, qHi) = codes("q_emb")
    val (cLo, cHi) = codes("n_emb")
    val qc = q.select(col("q_id"), qLo.as("q_lo"), qHi.as("q_hi"))
    val cc = c.select(col("n_id"), cLo.as("c_lo"), cHi.as("c_hi"))
    val ham = (bit_count(expr("q_lo ^ c_lo")) + bit_count(expr("q_hi ^ c_hi"))).cast("double")
    val coarseK = graft.plans.TopKAgg.udafFor(rr)
    val cand = cc.join(broadcast(qc))
      .select(col("q_id"), col("n_id"), (-ham).as("neg_ham"))
      .groupBy(col("q_id"))
      .agg(coarseK(col("n_id"), col("neg_ham")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t._2").as("n_id"))
    rankTopK(
      cand
        .join(c, "n_id")
        .join(q.withColumnRenamed("q_emb", "q_emb2"), "q_id")
        .withColumn("cos_sim", round(CosineSim(col("q_emb2"), col("n_emb")), 6)))
  }

  val annBqSql: String =
    s"""$annParamsSql
      |WITH q AS (
      |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb,
      |    CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN embedding[i+1] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS q_lo,
      |    CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN embedding[i+33] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS q_hi
      |  FROM embeddings WHERE vec_id < $nQueries),
      |c AS (
      |  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb,
      |    CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN embedding[i+1] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS c_lo,
      |    CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN embedding[i+33] >= 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS c_hi
      |  FROM embeddings WHERE vec_id >= $nQueries),
      |coarse AS (
      |  SELECT q_id, n_id, n_emb, q_emb,
      |    bit_count(xor(q_lo, c_lo)) + bit_count(xor(q_hi, c_hi)) AS ham
      |  FROM q CROSS JOIN c),
      |cand AS (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham, n_id) AS crk
      |  FROM coarse),
      |scored AS (
      |  SELECT q_id, n_id, round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |  FROM cand WHERE crk <= (SELECT rr FROM ann_par)),
      |ranked AS (
      |  SELECT q_id, n_id, cos_sim,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
      |  FROM scored)
      |SELECT q_id, n_id, cos_sim, rank FROM ranked WHERE rank <= 5
      |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- E96

  /** E96 — RAG context assembly (the retrieve-then-stitch read a
    * retrieval-augmented generator runs per request): top-k chunks by
    * cosine for the query, EXPANDED to their ±1 neighbors in document
    * order (adjacent chunks restore the context a hard chunk boundary
    * cut — the "sentence-window / auto-merging retrieval" pattern),
    * overlaps deduped (a chunk that is both a hit and a neighbor counts
    * once, best rank wins), then packed greedily into a character
    * budget in (rank, id) order. vec_id == doc_id in the test corpus,
    * so neighbor-of-chunk is id±1.
    *
    * Scale shape: the retrieval is E6's broadcast-query scoring pass;
    * everything after it — expansion, dedup, packing — operates on
    * O(k) rows, so assembly cost is independent of corpus size; the
    * neighbor fetch is an id-keyed join the docs-side store serves
    * point-wise. The packing cumsum is a window over ≤3k rows, not a
    * corpus sort.
    */
  def ragContext(spark: SparkSession, dir: String,
                 budgetChars: Long = 1500L): DataFrame = {
    val (q, c) = queryCorpus(spark, dir)
    val hits = rankTopK(
      c.join(broadcast(q.filter(col("q_id") === 0)))
        .withColumn("cos_sim", round(CosineSim(col("q_emb"), col("n_emb")), 6)))
      .filter(col("rank") <= 3)
    val expanded = hits
      .select(col("n_id"), col("rank"),
        explode(array(lit(-1), lit(0), lit(1))).as("off"))
      .select((col("n_id") + col("off")).as("doc_id"),
        when(col("off") === 0, "hit").otherwise("neighbor").as("role"),
        col("rank"))
      .filter(col("doc_id") >= nQueries)
    val best = expanded.groupBy(col("doc_id"))
      .agg(min(col("rank")).cast("long").as("best_rank"), min(col("role")).as("role"))
    val w = Window.orderBy(col("best_rank"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
      .join(broadcast(best), "doc_id")
      .withColumn("cum_chars", sum(col("n_chars")).over(w))
      .filter(col("cum_chars") <= budgetChars)
      .select(col("doc_id"), col("role"), col("best_rank"),
        col("n_chars"), col("cum_chars"))
      .orderBy(col("best_rank"), col("doc_id"))
  }

  val ragContextSql: String =
    """WITH q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS q_emb FROM embeddings WHERE vec_id = 0),
      |c AS (
      |  SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS n_emb
      |  FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT n_id, round(list_cosine_similarity(q_emb, n_emb), 6) AS cos_sim
      |  FROM q CROSS JOIN c),
      |hits AS (
      |  SELECT n_id, row_number() OVER (ORDER BY cos_sim DESC, n_id) AS rank
      |  FROM scored QUALIFY rank <= 3),
      |expanded AS (
      |  SELECT n_id + off AS doc_id,
      |    CASE WHEN off = 0 THEN 'hit' ELSE 'neighbor' END AS role, rank
      |  FROM hits CROSS JOIN (SELECT unnest([-1, 0, 1]) AS off)
      |  WHERE n_id + off >= 10),
      |best AS (
      |  SELECT doc_id, min(rank) AS best_rank, min(role) AS role
      |  FROM expanded GROUP BY doc_id),
      |packed AS (
      |  SELECT b.doc_id, b.role, b.best_rank, d.n_chars,
      |    CAST(sum(d.n_chars) OVER (ORDER BY b.best_rank, b.doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
      |  FROM best b JOIN documents d ON d.doc_id = b.doc_id)
      |SELECT doc_id, role, CAST(best_rank AS BIGINT) AS best_rank,
      |  n_chars, cum_chars
      |FROM packed WHERE cum_chars <= 1500
      |ORDER BY best_rank, doc_id""".stripMargin

  // ---- E118: kNN label propagation ------------------------------------

  /** kNN majority-vote label propagation (semi-supervised weak
    * labeling: a small human-labeled seed corpus labels each INCOMING
    * batch by its k nearest labeled neighbors — the classic kNN
    * classifier run as a curation step, cf. label propagation in
    * Zhu & Ghahramani 2002 and the quality-classifier bootstrap
    * every web-corpus recipe uses). Each to-label vector takes the
    * majority label of its k=5 nearest seeds by cosine; ties elect
    * the smallest label.
    *
    * Determinism: similarity is rounded to 6 dp BEFORE ranking with
    * an id tiebreak (the E6 contract); the election is an exact
    * struct-max on (votes desc, label asc).
    *
    * Scale shape: the to-label batch is a BOUNDED broadcast (an
    * incoming micro-batch, not the corpus — allowlisted E6 class);
    * the labeled corpus streams once through the scoring kernel with
    * a map-side-combined top-k. A full-corpus labeling run would
    * route through the memoized IVF index (E7b probes) instead of
    * this exact kernel.
    */
  def knnLabel(spark: SparkSession, dir: String,
               batchN: Int = 25, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val batch = e.filter(col("vec_id") < batchN)
      .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("label").as("true_label"))
    val seeds = e.filter(col("vec_id") >= batchN)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_emb"),
        col("label"))
    val nn = seeds.join(broadcast(batch))
      .withColumn("cos_sim", round(CosineSim(col("b_emb"), col("s_emb")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("b_id"))
          .orderBy(col("cos_sim").desc, col("s_id"))))
      .filter(col("rank") <= k)
    nn.groupBy(col("b_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("v"), max(col("cos_sim")).as("best"))
      .groupBy(col("b_id"), col("true_label"))
      .agg(
        max(struct(col("v").as("v"), (-col("label")).cast("long").as("nl")))
          .as("m"),
        max(col("best")).as("top_sim"))
      .select(col("b_id").as("vec_id"),
        (-col("m.nl")).cast("int").as("pred_label"),
        col("m.v").as("n_votes"),
        col("true_label"),
        ((-col("m.nl")).cast("int") === col("true_label")).as("correct"),
        col("top_sim"))
      .orderBy(col("vec_id"))
  }

  // ---- E122: weak-label confusion audit --------------------------------

  /** Confusion matrix + per-class recall over the E118 weak labels
    * (the label-model diagnostic a Snorkel-style weak-supervision
    * pipeline publishes before anyone trains on propagated labels —
    * Ratner et al. 2017: weak labels are only usable with a measured
    * error structure). Aggregates the kNN batch's (true, predicted)
    * pairs into cells with exact basis-point row shares.
    *
    * Scale shape: rides E118's bounded output (one micro-batch), so
    * the audit itself is a handful-of-rows aggregate; at full-corpus
    * labeling scale the same two aggregates run over the IVF-probe
    * label stream — (true, pred) cells stay |labels|²-bounded.
    */
  def labelConfusion(spark: SparkSession, dir: String): DataFrame = {
    val cells = knnLabel(spark, dir)
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n_pairs"))
    val rows = cells.groupBy(col("true_label"))
      .agg(sum(col("n_pairs")).as("row_total"))
    cells.join(broadcast(rows), "true_label")
      .select(col("true_label"), col("pred_label"), col("n_pairs"),
        col("row_total"),
        expr("n_pairs * 10000 div row_total").as("cell_bp"),
        (col("true_label") === col("pred_label")).as("diagonal"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  val knnLabelSql: String =
    """WITH b AS (
      |  SELECT vec_id AS b_id, CAST(embedding AS DOUBLE[]) AS b_emb,
      |         label AS true_label
      |  FROM embeddings WHERE vec_id < 25),
      |s AS (
      |  SELECT vec_id AS s_id, CAST(embedding AS DOUBLE[]) AS s_emb, label
      |  FROM embeddings WHERE vec_id >= 25),
      |scored AS (
      |  SELECT b_id, true_label, s_id, label,
      |    round(list_cosine_similarity(b_emb, s_emb), 6) AS cos_sim
      |  FROM b CROSS JOIN s),
      |nn AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY b_id
      |      ORDER BY cos_sim DESC, s_id) AS rank
      |    FROM scored)
      |  WHERE rank <= 5),
      |votes AS (
      |  SELECT b_id, true_label, label, CAST(count(*) AS BIGINT) AS v,
      |         max(cos_sim) AS best
      |  FROM nn GROUP BY 1, 2, 3),
      |el AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY b_id
      |      ORDER BY v DESC, label) AS er
      |    FROM votes)
      |  WHERE er = 1),
      |tops AS (SELECT b_id, max(best) AS top_sim FROM votes GROUP BY 1)
      |SELECT e.b_id AS vec_id, e.label AS pred_label, e.v AS n_votes,
      |  e.true_label, (e.label = e.true_label) AS correct, t.top_sim
      |FROM el e JOIN tops t USING (b_id)
      |ORDER BY vec_id""".stripMargin

  val labelConfusionSql: String = {
    val base = knnLabelSql
    s"""WITH base AS (
$base
),
cells AS (
  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_pairs
  FROM base GROUP BY 1, 2),
rt AS (SELECT true_label, CAST(sum(n_pairs) AS BIGINT) AS row_total
       FROM cells GROUP BY 1)
SELECT true_label, pred_label, n_pairs, row_total,
  CAST(n_pairs * 10000 // row_total AS BIGINT) AS cell_bp,
  (true_label = pred_label) AS diagonal
FROM cells JOIN rt USING (true_label)
ORDER BY true_label, pred_label"""
  }

}

package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.CosineSim
import graft.sources.{Parquet, Tables}

/** E7e — graph ANN via NN-descent (SURVEY §2).
  *
  * The production kNN engines behind OpenSearch's vector search are
  * graph-based (HNSW-class). A faithful HNSW is a sequential,
  * pointer-chasing structure — the wrong shape for Spark. The
  * public-knowledge distributed stand-in is NN-DESCENT (Dong et al.
  * 2011, "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures"): start from any rough neighbor lists and
  * iterate "my neighbors' neighbors are probably my neighbors" — each
  * round is a self-join of the (symmetrized) edge list plus a re-rank,
  * which Spark executes as two hash joins and a bounded window. Cost
  * per round is O(N·K²) candidate edges — invariant to corpus
  * duplication and embarrassingly parallel.
  *
  *  - Seeding: IVF cells (E7b's k-means) — within-cell pairs are
  *    already similarity-biased, so the descent converges in 1–2
  *    rounds instead of the random-init 4–6 (the paper's own
  *    observation about good initialization).
  *  - Query: greedy beam search, batch form — seed each query with its
  *    nearest cell's members, then each hop expands the current beam
  *    through the graph's adjacency (frontier ⋈ edges ⋈ embeddings)
  *    and keeps the best `beam`. All queries advance together: a hop
  *    is ONE join round for the whole query batch, not a per-query
  *    walk.
  *  - Persistence: edges land as a memoized scratch artifact
  *    ([[graft.sources.Scratch.ensure]]) — build-once-probe-many, like
  *    the IVF and inverted-text indexes.
  *
  * Scale: the build shuffles O(N·K²) scored pairs per round; a query
  * batch shuffles O(queries · beam · K) per hop. Neither ever joins
  * corpus × corpus. SimilaritySpec holds the recall floor vs
  * brute-force at/above the LSH and IVF paths' floors on the same
  * candidate budget.
  */
object GraphAnn {

  val degree = 8 // neighbors kept per node
  val nnDescentRounds = 2
  val beam = 16
  val hops = 3
  val seedAssignments = 2 // cells each vector seeds into (overlap → connectivity)

  /** High-recall operating point (the HNSW-style `ef` knob): double the
    * beam (probe candidate volume per hop is ef·degree → exactly 2×)
    * and one extra descent round on the build side (build cost, not
    * probe cost — a sharper graph lets the wider beam actually reach
    * the true neighbors). Measured on the sf0.01 curve (SimilaritySpec
    * documents it): default (ef=16, rounds=2) ≈ 0.74 recall; this
    * point reaches ≥ 0.85 at 2× probe cost — the knee: pushing ef
    * further without more rounds flattens out, more rounds without ef
    * stalls below 0.8 because the beam, not the graph, is the binding
    * constraint.
    */
  val efHigh = 32
  val roundsHigh = 3

  private def topPerSrc(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= k).drop("r")
  }

  /** Overlapping seed assignment: each vector joins its
    * `seedAssignments` nearest cells (broadcast centroid table,
    * per-vector window — no corpus shuffle). A partition-disjoint
    * seeding would leave NN-descent with per-cell islands the beam
    * search cannot cross (measured: recall 0.26 vs 0.5+ for the flat
    * baselines); overlapped cells share members, so descent rounds
    * propagate edges ACROSS cell boundaries — the role random init
    * plays in the paper, at far lower candidate cost.
    */
  def overlappedCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("n_id")).orderBy(col("c_sim").desc, col("cell"))
    corpus.join(broadcast(centroids))
      .withColumn("c_sim", CosineSim(col("n_emb"), col("centroid")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= seedAssignments)
      .select(col("n_id"), col("n_emb"), col("cell"))
  }

  /** NN-descent over (n_id, n_emb, cell) rows (cells may OVERLAP — see
    * [[overlappedCells]]) → directed top-`degree` edge list
    * (src, dst, sim). localCheckpoint per round: constant plan size,
    * and each round's join reads materialized edges.
    */
  def buildGraphDf(cells: DataFrame, rounds: Int = nnDescentRounds): DataFrame = {
    val emb = cells.dropDuplicates("n_id").select(col("n_id"), col("n_emb"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(emb.toDF("src", "src_emb"), "src")
      .join(emb.toDF("dst", "dst_emb"), "dst")
      .select(col("src"), col("dst"),
        round(CosineSim(col("src_emb"), col("dst_emb")), 6).as("sim"))
    val seedPairs = cells.select(col("n_id").as("src"), col("cell"))
      .join(cells.select(col("n_id").as("dst"), col("cell")), "cell")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    var edges = topPerSrc(score(seedPairs), degree).localCheckpoint()
    (1 to rounds).foreach { _ =>
      val sym = edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      val cand = sym.toDF("src", "mid")
        .join(sym.toDF("mid", "dst"), "mid")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      val merged = score(cand).unionByName(edges)
        .groupBy(col("src"), col("dst")).agg(max(col("sim")).as("sim"))
      edges = topPerSrc(merged, degree).localCheckpoint()
    }
    edges
  }

  /** Build-once-probe-many ([[graft.sources.Scratch.ensure]]). */
  def ensureGraph(spark: SparkSession, dir: String,
                  rounds: Int = nnDescentRounds): String = {
    // v3 (r14): the seeding-cell count is now the auto-scaled nCells —
    // encode it so a graph built under a different schedule can never
    // be served stale (the r13 nngraph-key lesson). rounds rides in
    // the NAME (both operating points coexist per dir), the knobs in
    // the generation (superseded ones swept).
    val nc = Similarity.autoCells(Similarity.corpusN(spark, dir))
    graft.sources.Scratch.ensure(spark, s"nngraph-v3-r$rounds", dir, "embeddings.parquet",
      degree, seedAssignments, nc)(p => buildGraphAt(spark, dir, p, rounds))
  }

  /** Build the graph for `dir`'s embeddings at an explicit path (the
    * spec's isolation hook; ensureGraph adds the memo key + marker).
    */
  def buildGraphAt(spark: SparkSession, dir: String, path: String,
                   rounds: Int = nnDescentRounds): Unit = {
    val (cells, centroids) = Similarity.ivfParts(spark, dir,
      Similarity.autoCells(Similarity.corpusN(spark, dir)))
    val overlapped = overlappedCells(
      cells.select(col("n_id"), col("n_emb")), centroids).localCheckpoint()
    buildGraphDf(overlapped, rounds).write.mode("overwrite").parquet(s"$path/edges")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    overlapped.write.mode("overwrite").parquet(s"$path/cells")
  }

  /** E7e2 — incremental maintenance (E7d's contract for the graph
    * index): new vectors join WITHOUT a descent rebuild. Each new
    * vector is (a) assigned to its overlapped cells and appended to
    * the cell table, (b) connected by scoring it against its assigned
    * cells' members (bounded by cell size — the same candidate budget
    * a probe pays) and appending its top-`degree` edges FORWARD plus
    * the REVERSE edges, so existing nodes can reach it. Reverse edges
    * may push a node past `degree` until the next periodic descent
    * pass re-normalizes (exactly how HNSW-family engines amortize
    * insert cost); probes only ever widen. Probe-visible immediately.
    */
  def appendToGraph(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val centroids = Parquet.read(spark, s"$path/centroids")
    val assigned = overlappedCells(newVecs, centroids).localCheckpoint()
    val members = Parquet.read(spark, s"$path/cells")
      .withColumnRenamed("n_id", "dst").withColumnRenamed("n_emb", "dst_emb")
    val scored = assigned
      .select(col("n_id").as("src"), col("n_emb").as("src_emb"), col("cell"))
      .join(members, "cell")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(CosineSim(col("src_emb"), col("dst_emb")), 6).as("sim"))
      .groupBy(col("src"), col("dst")).agg(max(col("sim")).as("sim"))
    val fwd = topPerSrc(scored, degree)
    val back = fwd.select(col("dst").as("src"), col("src").as("dst"), col("sim"))
    fwd.unionByName(back).write.mode("append").parquet(s"$path/edges")
    assigned.write.mode("append").parquet(s"$path/cells")
  }

  /** ☆ `q_ann_graph` — batch beam search over the persisted graph.
    * Declared no-oracle like the other approximate paths; recall floor
    * + determinism are SimilaritySpec's job.
    */
  def annGraph(spark: SparkSession, dir: String): DataFrame =
    annGraphAt(spark, dir, ensureGraph(spark, dir),
      ef = Similarity.autoEf(Similarity.corpusN(spark, dir)))

  /** ☆ `q_ann_graph_hr` — the high-recall operating point: ef-doubled
    * beam over the extra-round graph (see efHigh/roundsHigh).
    */
  def annGraphHigh(spark: SparkSession, dir: String): DataFrame =
    annGraphAt(spark, dir, ensureGraph(spark, dir, roundsHigh),
      ef = 2 * Similarity.autoEf(Similarity.corpusN(spark, dir)))

  /** E7e/E7e3 oracle generator (r13, was ☆): with the IVF fit now
    * bit-replayable (Similarity.kmeansReplaySqlPrefix), NOTHING in
    * this path is stochastic — overlapped seeding, the descent rounds,
    * and the beam probe are deterministic joins/windows — so the whole
    * build+probe replays: overlapped cells (top-`seedAssignments` by
    * unrounded centroid cosine, cell tiebreak), same-cell seed pairs →
    * top-`degree` edges, `rounds` two-hop expansion/merge rounds, then
    * the `nHops`-hop beam of width `ef` from each query's nearest
    * cell. One generator serves both operating points.
    */
  private def annGraphReplaySql(rounds: Int, efSel: String): String = {
    val t = s"ga$rounds"
    def topSrc(src: String, out: String): String =
      s"""CREATE OR REPLACE TEMP TABLE $out AS
         |SELECT src, dst, sim FROM (
         |  SELECT src, dst, sim,
         |    row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS r
         |  FROM $src)
         |WHERE r <= $degree;""".stripMargin
    val descent = (1 to rounds).map { rd =>
      s"""CREATE OR REPLACE TEMP TABLE ${t}_sym$rd AS
         |SELECT src, dst FROM ${t}_e${rd - 1}
         |UNION ALL SELECT dst AS src, src AS dst FROM ${t}_e${rd - 1};
         |CREATE OR REPLACE TEMP TABLE ${t}_scored$rd AS
         |SELECT src, dst, max(sim) AS sim FROM (
         |  SELECT c.src, c.dst,
         |    round(kcos(a.de, b.de), 6) AS sim
         |  FROM (SELECT DISTINCT s1.src, s2.dst
         |        FROM ${t}_sym$rd s1 JOIN ${t}_sym$rd s2 ON s1.dst = s2.src
         |        WHERE s1.src <> s2.dst) c
         |  JOIN ${t}_emb a ON a.n_id = c.src
         |  JOIN ${t}_emb b ON b.n_id = c.dst
         |  UNION ALL
         |  SELECT src, dst, sim FROM ${t}_e${rd - 1})
         |GROUP BY src, dst;
         |${topSrc(s"${t}_scored$rd", s"${t}_e$rd")}""".stripMargin
    }.mkString("\n")
    val probe = (1 to hops).map { h =>
      s"""CREATE OR REPLACE TEMP TABLE ${t}_b$h AS
         |SELECT q_id, n_id, cos_sim FROM (
         |  SELECT q_id, n_id, cos_sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS r
         |  FROM (
         |    SELECT q_id, n_id, max(cos_sim) AS cos_sim FROM (
         |      SELECT e.q_id, e.n_id,
         |        round(kcos(q.de, m.de), 6) AS cos_sim
         |      FROM (SELECT DISTINCT b.q_id, s.dst AS n_id
         |            FROM ${t}_b${h - 1} b
         |            JOIN ${t}_fsym s ON s.src = b.n_id) e
         |      JOIN ${t}_emb m ON m.n_id = e.n_id
         |      JOIN ${t}_q q ON q.q_id = e.q_id
         |      UNION ALL
         |      SELECT q_id, n_id, cos_sim FROM ${t}_b${h - 1})
         |    GROUP BY q_id, n_id))
         |WHERE r <= (SELECT $efSel FROM ann_par);""".stripMargin
    }.mkString("\n")
    s"""${Similarity.kmeansReplaySqlPrefix()}
       |CREATE OR REPLACE TEMP TABLE ${t}_emb AS
       |SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS de
       |FROM embeddings WHERE vec_id >= ${Similarity.nQueries};
       |CREATE OR REPLACE TEMP TABLE ${t}_q AS
       |SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS de
       |FROM embeddings WHERE vec_id < ${Similarity.nQueries};
       |CREATE OR REPLACE TEMP TABLE ${t}_over AS
       |SELECT n_id, cell FROM (
       |  SELECT e.n_id, c.cell,
       |    row_number() OVER (PARTITION BY e.n_id
       |      ORDER BY kcos(e.de, c.centf) DESC, c.cell) AS r
       |  FROM ${t}_emb e CROSS JOIN km_centf c)
       |WHERE r <= $seedAssignments;
       |CREATE OR REPLACE TEMP TABLE ${t}_seed AS
       |SELECT a.src, a.dst, round(kcos(ea.de, eb.de), 6) AS sim FROM (
       |  SELECT DISTINCT x.n_id AS src, y.n_id AS dst
       |  FROM ${t}_over x JOIN ${t}_over y USING (cell)
       |  WHERE x.n_id <> y.n_id) a
       |JOIN ${t}_emb ea ON ea.n_id = a.src
       |JOIN ${t}_emb eb ON eb.n_id = a.dst;
       |${topSrc(s"${t}_seed", s"${t}_e0")}
       |$descent
       |CREATE OR REPLACE TEMP TABLE ${t}_fsym AS
       |SELECT src, dst FROM ${t}_e$rounds
       |UNION ALL SELECT dst AS src, src AS dst FROM ${t}_e$rounds;
       |CREATE OR REPLACE TEMP TABLE ${t}_b0 AS
       |SELECT q_id, n_id, cos_sim FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS r
       |  FROM (
       |    SELECT en.q_id, en.n_id, round(kcos(q.de, m.de), 6) AS cos_sim
       |    FROM (SELECT DISTINCT p.q_id, o.n_id
       |          FROM (SELECT q_id, cell FROM (
       |                  SELECT q.q_id, c.cell,
       |                    row_number() OVER (PARTITION BY q.q_id
       |                      ORDER BY round(kcos(q.de, c.centf), 6) DESC, c.cell) AS pr
       |                  FROM ${t}_q q CROSS JOIN km_centf c)
       |                WHERE pr <= 1) p
       |          JOIN ${t}_over o USING (cell)) en
       |    JOIN ${t}_emb m ON m.n_id = en.n_id
       |    JOIN ${t}_q q ON q.q_id = en.q_id))
       |WHERE r <= (SELECT $efSel FROM ann_par);
       |$probe
       |SELECT q_id, n_id, cos_sim, rank FROM (
       |  SELECT q_id, n_id, cos_sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rank
       |  FROM ${t}_b$hops)
       |WHERE rank <= ${Similarity.topK}
       |ORDER BY q_id, rank""".stripMargin
  }

  /** E7e oracle at the default operating point (ef auto-scales with
    * the cell grid — ann_par's `ef` column). */
  lazy val annGraphSql: String = annGraphReplaySql(nnDescentRounds, "ef")

  /** E7e3 oracle at the high-recall point (extra round, doubled ef). */
  lazy val annGraphHighSql: String = annGraphReplaySql(roundsHigh, "ef_hr")

  /** Probe against an explicit graph path (spec isolation hook).
    * `ef` is the beam width carried between hops — the probe-cost
    * knob: candidates scored per hop ≤ ef·degree (+ the entry cell).
    */
  def annGraphAt(spark: SparkSession, dir: String, path: String,
                 ef: Int = beam, nHops: Int = hops): DataFrame = {
    val edges = Parquet.read(spark, s"$path/edges")
    val centroids = Parquet.read(spark, s"$path/centroids")
    val cells = Parquet.read(spark, s"$path/cells")
    val (q, _) = Similarity.queryCorpus(spark, dir)

    def topPerQuery(scored: DataFrame, k: Int): DataFrame = {
      val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("n_id"))
      scored.withColumn("r", row_number().over(w)).filter(col("r") <= k).drop("r")
    }
    val emb = cells.dropDuplicates("n_id").select(col("n_id"), col("n_emb"))
    def score(cand: DataFrame): DataFrame = cand
      .join(emb, "n_id")
      .join(q, "q_id")
      .select(col("q_id"), col("n_id"),
        round(CosineSim(col("q_emb"), col("n_emb")), 6).as("cos_sim"))

    // entry points: the members of each query's single nearest cell
    // (the stored assignment overlaps, so this seeds ~2 cells' worth)
    val entry = Similarity.probeCells(q, centroids, nProbe = 1)
      .join(cells, "cell").select(col("q_id"), col("n_id")).distinct()
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    var best = topPerQuery(score(entry), ef).localCheckpoint()
    (1 to nHops).foreach { _ =>
      val expand = best.select(col("q_id"), col("n_id").as("src"))
        .join(sym, "src")
        .select(col("q_id"), col("dst").as("n_id")).distinct()
      val merged = score(expand)
        .unionByName(best)
        .groupBy(col("q_id"), col("n_id")).agg(max(col("cos_sim")).as("cos_sim"))
      best = topPerQuery(merged, ef).localCheckpoint()
    }
    Similarity.rankTopK(best)
  }
}

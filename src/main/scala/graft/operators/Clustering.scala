package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Materialize, Tables}

/** C81 — k-means clustering as a USER-FACING op (the ML-commons
  * `kmeans` API a reference user calls on an index via the `_plugins/
  * _ml` surface — distinct from the seeded MLlib fits that serve the
  * E7 IVF family internally, which are ☆ by nature). Lloyd 1982.
  *
  * The whole recurrence is EXACT INTEGER arithmetic so the fixed-round
  * loop is bit-identical cross-engine and at any partitioning (the C73
  * PageRank discipline): features are integer (n_chars, n_tokens),
  * distances are int64 squared Euclidean (chars ≤ ~1e4 ⇒ d ≤ ~1e8,
  * overflow-free by orders of magnitude), new centroids are floor
  * means (`sum div count`), ties assign to the LOWEST cluster id, and
  * an emptied cluster keeps its previous centroid. Init is the floor
  * mean of the deterministic `doc_id % k` bands. The DuckDB oracle
  * unrolls the same rounds as chained CTEs — loop vs unrolled agreeing
  * bit-for-bit is the strongest check available for an iterative fit.
  *
  * Spark shape: the point set is localCheckpoint'd ONCE; each round
  * collects the k centroids (k rows — plan-sized, the PQ-codebook
  * contract) and re-assigns via a LITERAL argmin CASE — pure codegen'd
  * column arithmetic, no join, no k× row expansion; one map-side-
  * combined k-group aggregate per round is the only exchange. At 100 TB
  * the per-round cost is one scan of the checkpointed projection.
  */
object Clustering {

  private case class Cent(cid: Int, cx: Long, cy: Long)

  def kmeans(spark: SparkSession, dir: String, k: Int = 4, iters: Int = 5): DataFrame = {
    val pts = Materialize(Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("n_chars").as("x"),
        size(split(col("text"), " ")).cast("long").as("y")), "kmeans-points")

    def dist(cx: Long, cy: Long): Column =
      (col("x") - lit(cx)) * (col("x") - lit(cx)) +
        (col("y") - lit(cy)) * (col("y") - lit(cy))

    // assignment under ORDER BY (d, cid): lowest cid wins ties
    def assigned(cents: Seq[Cent]): Column = {
      val ds = cents.map(c => dist(c.cx, c.cy))
      cents.init.zipWithIndex.foldRight(lit(cents.last.cid): Column) {
        case ((c, i), rest) =>
          when(ds.drop(i + 1).foldLeft(lit(true): Column)((acc, dj) => acc && ds(i) <= dj),
            lit(c.cid)).otherwise(rest)
      }
    }

    var cents: Seq[Cent] = pts
      .groupBy((col("doc_id") % k).cast("int").as("cid"))
      .agg(expr("CAST(sum(x) div count(1) AS LONG)").as("cx"),
        expr("CAST(sum(y) div count(1) AS LONG)").as("cy"))
      .collect().map(r => Cent(r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_.cid).toSeq

    for (_ <- 1 to iters) {
      val next = pts.withColumn("cid", assigned(cents))
        .groupBy(col("cid"))
        .agg(expr("CAST(sum(x) div count(1) AS LONG)").as("cx"),
          expr("CAST(sum(y) div count(1) AS LONG)").as("cy"))
        .collect().map(r => Cent(r.getInt(0), r.getLong(1), r.getLong(2)))
      val byId = next.map(c => c.cid -> c).toMap
      cents = cents.map(c => byId.getOrElse(c.cid, c)) // emptied cluster keeps its centroid
    }

    val dmin = cents.map(c => dist(c.cx, c.cy)).reduce((a, b) => least(a, b))
    pts.withColumn("cid", assigned(cents)).withColumn("d", dmin)
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("d")).as("inertia"))
      .join(spark.createDataFrame(cents.map(c => (c.cid, c.cx, c.cy)))
        .toDF("cluster_id", "cx", "cy"), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_docs"), col("cx"), col("cy"), col("inertia"))
      .orderBy(col("cluster_id"))
  }

  /** The identical recurrence, rounds unrolled as chained CTEs; the
    * argmin is `row_number() OVER (PARTITION BY point ORDER BY d, cid)`
    * — exactly the lowest-cid-tie CASE the Spark side compiles.
    */
  def kmeansSql(k: Int = 4, iters: Int = 5): String = {
    val head =
      s"""WITH pts AS (
         |  SELECT doc_id, n_chars AS x,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
         |  FROM documents),
         |c0 AS (
         |  SELECT CAST(doc_id % $k AS INT) AS cid,
         |    CAST(sum(x) // count(*) AS BIGINT) AS cx,
         |    CAST(sum(y) // count(*) AS BIGINT) AS cy
         |  FROM pts GROUP BY 1)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""a$i AS (
         |  SELECT doc_id, x, y, cid,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY (x-cx)*(x-cx)+(y-cy)*(y-cy), cid) AS rn
         |  FROM pts CROSS JOIN c${i - 1}),
         |c$i AS (
         |  SELECT p.cid,
         |    coalesce(CAST(sum(a.x) // count(a.doc_id) AS BIGINT), p.cx) AS cx,
         |    coalesce(CAST(sum(a.y) // count(a.doc_id) AS BIGINT), p.cy) AS cy
         |  FROM c${i - 1} p LEFT JOIN (SELECT * FROM a$i WHERE rn = 1) a USING (cid)
         |  GROUP BY p.cid, p.cx, p.cy)""".stripMargin
    }
    s"""$head,
       |${steps.mkString(",\n")},
       |fin AS (
       |  SELECT doc_id, x, y, cid,
       |    (x-cx)*(x-cx)+(y-cy)*(y-cy) AS d,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY (x-cx)*(x-cx)+(y-cy)*(y-cy), cid) AS rn
       |  FROM pts CROSS JOIN c$iters)
       |SELECT f.cid AS cluster_id, count(*) AS n_docs, c.cx, c.cy,
       |  CAST(sum(f.d) AS BIGINT) AS inertia
       |FROM fin f JOIN c$iters c ON f.cid = c.cid
       |WHERE f.rn = 1
       |GROUP BY f.cid, c.cx, c.cy
       |ORDER BY cluster_id""".stripMargin
  }
}

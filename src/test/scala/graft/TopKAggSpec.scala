package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.TopKAgg

/** `TopKAgg.rank` is the one ranked top-k: per `by` group it returns the
  * rows a `row_number()` window (score DESC, id ASC) keeps at rank ≤ k,
  * for Long and String ids. Every ranked operator goes through it, and
  * the BM25 tf-norm is written once.
  */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sorted(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  /** The window baseline the ranker must equal. */
  private def windowed(df: DataFrame, k: Int, id: String, by: Seq[String]): Seq[Row] = {
    val w = Window.partitionBy(by.map(col): _*).orderBy(col("score").desc, col(id))
    sorted(df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select((by :+ id :+ "score" :+ "rank").map(col): _*))
  }

  private def check(df: DataFrame, k: Int, id: String, by: Seq[String] = Nil): Seq[Row] = {
    val ranked = TopKAgg.rank(df, k, id, col("score"), by)
    assert(ranked.columns.toSeq == by :+ id :+ "score" :+ "rank")
    assert(ranked.schema("rank").dataType == LongType)
    val rows = sorted(ranked)
    assert(rows == windowed(df, k, id, by))
    rows
  }

  private lazy val tied = Seq((1L, 0.5), (2L, 0.9), (3L, 0.5), (4L, 0.9), (5L, 0.1), (6L, 0.5))
    .toDF("id", "score")

  test("tied scores break on id ascending, rank = position + 1") {
    val rows = check(tied, 3, "id")
    assert(rows.sortBy(_.getLong(2)).map(r => (r.getLong(0), r.getLong(2))) ==
      Seq((2L, 1L), (4L, 2L), (1L, 3L)))
  }

  test("k at or above the row count keeps every row") {
    assert(check(tied, 6, "id").size == 6)
    assert(check(tied, 10, "id").size == 6)
  }

  test("an empty input ranks to no rows") {
    assert(check(Seq.empty[(Long, Double)].toDF("id", "score"), 3, "id").isEmpty)
    assert(check(Seq.empty[(String, Long, Double)].toDF("g", "id", "score"), 3, "id", Seq("g")).isEmpty)
  }

  test("a grouping key ranks each group on its own") {
    val grouped = Seq(("a", 1L, 0.3), ("a", 2L, 0.7), ("a", 3L, 0.7), ("b", 4L, 0.2),
      ("b", 5L, 0.9), ("b", 6L, 0.2), ("b", 7L, 0.1), ("c", 8L, 0.4)).toDF("g", "id", "score")
    val rows = check(grouped, 2, "id", Seq("g"))
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(3))) ==
      Seq(("a", 2L, 1L), ("a", 3L, 2L), ("b", 4L, 2L), ("b", 5L, 1L), ("c", 8L, 1L)))
  }

  test("String ids rank with the same buffer and tie order") {
    val terms = Seq(("b", 1.0), ("a", 1.0), ("c", 2.0), ("aa", 1.0), ("d", 0.5)).toDF("token", "score")
    val rows = check(terms, 3, "token")
    assert(rows.sortBy(_.getLong(2)).map(_.getString(0)) == Seq("c", "a", "aa"))
  }

  test("the aggregator is called only by rank, termsWithOther and thetaSketch") {
    MainSources.assertOnly(
      MainSources.all.flatMap(_.hits("""TopKAgg\.udafFor|udafFor\[\w+\]|new TopKAgg\b""".r)),
      Set("TopKAgg.scala:udafFor", "TopKAgg.scala:rank",
        "LogAnalytics.scala:termsWithOther", "Stats.scala:thetaSketch"),
      "TopKAgg.rank")
  }

  test("the BM25 tf-norm is written once") {
    // k1 and the 1 − b + b·dl/avgdl pair (b = 0.75 alone also weights
    // Kneser-Ney discounts and Holt-Winters smoothing)
    MainSources.assertOnly(
      MainSources.all.flatMap(_.hits("""lit\(1\.2\)|lit\(0\.25\) \+ lit\(0\.75\)""".r)),
      Set("TextAnalysis.scala:bm25TfNorm"), "TextAnalysis.bm25TfNorm")
  }
}

package graft.plans

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.sql.{Column, DataFrame, Encoder}

/** Bounded top-k aggregator: keeps the k best (score DESC, id ASC)
  * pairs seen so far, for Long or String ids (Scala String ordering is
  * per-char UTF-16 compare, which on the ASCII tokens used here matches
  * SQL VARCHAR ordering).
  *
  * Scale rationale (SURVEY §2 E6): ranking neighbors with a window
  * function sorts EVERY scored pair inside each query's partition; this
  * aggregator is a mergeable bounded buffer, so map-side partial
  * aggregation reduces each partition to k rows before the shuffle —
  * at 100 TB the exchange carries O(queries × k) rows instead of
  * O(queries × corpus), and a vocabulary-sized rank (10⁸⁺ tokens) never
  * single-partition-sorts.
  */
class TopKAgg[K](k: Int, enc: Encoder[Seq[(Double, K)]])(implicit ord: Ordering[K])
    extends Aggregator[(K, Double), Seq[(Double, K)], Seq[(Double, K)]] {

  private def best(xs: Seq[(Double, K)]): Seq[(Double, K)] =
    xs.sortBy { case (score, id) => (-score, id) }.take(k)

  override def zero: Seq[(Double, K)] = Nil
  override def reduce(b: Seq[(Double, K)], a: (K, Double)): Seq[(Double, K)] =
    best(b :+ ((a._2, a._1)))
  override def merge(b1: Seq[(Double, K)], b2: Seq[(Double, K)]): Seq[(Double, K)] =
    best(b1 ++ b2)
  override def finish(b: Seq[(Double, K)]): Seq[(Double, K)] = b

  override def bufferEncoder: Encoder[Seq[(Double, K)]] = enc
  override def outputEncoder: Encoder[Seq[(Double, K)]] = enc
}

object TopKAgg {
  /** Column-level UDAF: topk(idCol, scoreCol) → array<struct<score,id>>.
    * Rank through [[rank]]; call this directly only to read the buffer
    * itself or to fold other aggregates into the same pass.
    */
  def udafFor[K: Ordering: TypeTag](k: Int): UserDefinedFunction =
    udaf(new TopKAgg[K](k, ExpressionEncoder()), ExpressionEncoder[(K, Double)]())

  /** The k best rows of `df` per `by` group as `by…, id, score, rank`:
    * score DESC, id ASC, rank = position + 1 (a long) — the rows of
    * `row_number() OVER (PARTITION BY by ORDER BY score DESC, id)`
    * filtered to rank ≤ k, without the window's sort. `score` is the
    * double the rows rank by; `id` names a Long-compatible or String
    * column. Unordered: the caller sorts, casts or selects after.
    */
  def rank(df: DataFrame, k: Int, id: String, score: Column,
           by: Seq[String] = Nil): DataFrame = {
    val topk = df.schema(id).dataType match {
      case StringType => udafFor[String](k)
      case _          => udafFor[Long](k)
    }
    val keys = by.map(col)
    df.groupBy(keys: _*)
      .agg(topk(col(id), score).as("top"))
      .select(keys :+ posexplode(col("top")): _*)
      .select(keys ++ Seq(col("col._2").as(id), col("col._1").as("score"),
        (col("pos") + 1).cast("long").as("rank")): _*)
  }
}

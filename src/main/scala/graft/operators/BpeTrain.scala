package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.sources.{Materialize, Parquet, Tables}

/** E10c — BPE merge-table TRAINING (SURVEY §2). Public algorithm:
  * Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units", Algorithm 1 — iteratively merge the most frequent
  * adjacent symbol pair. The inference kernel (plans/BpeTokenizer)
  * applies a fixed ranked table; a training-data pipeline also LEARNS
  * that table from its own corpus, so the tokenizer fits the data the
  * budget ledger (E13b) is denominated in.
  *
  * Spark-first shape: Sennrich's loop runs over the DISTINCT word
  * vocabulary weighted by frequency — so the corpus is scanned ONCE
  * (pre-tokenize → word-count shuffle, map-side combined), and each of
  * the K iterations is a VOCABULARY-sized job: adjacent pairs explode
  * from the current symbolization, one (left,right) groupBy-sum picks
  * the argmax (deterministic tie-break: weight desc, then pair
  * lexicographic), and the merge is applied to every word via a
  * codegen'd `aggregate` fold — no UDF. At 100 TB the corpus scan
  * dominates and happens once; the loop touches only the vocab
  * (tens of millions of short rows), localCheckpoint'd per iteration
  * so lineage (and plan size) stays constant across K.
  *
  * The fold replicates the kernel's merge-every-occurrence-left-to-
  * right semantics exactly: push each symbol, and when the tail equals
  * `left` and the incoming symbol equals `right`, replace the tail
  * with the merged symbol — the just-merged token is itself eligible
  * as the tail for the next incoming symbol, which is precisely the
  * greedy j+=2 scan of BpeTokenizer.encodeWord (KernelSpec proves
  * parity against an independent replica).
  */
object BpeTrain {

  /** One merge step over a symbol array, as a pure column expression. */
  private def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** Learn up to `k` merges from a (doc_id, text) corpus. Returns one
    * row per learned merge: (rank, left, right, weight) where weight
    * is the frequency-weighted adjacent-pair count that won the rank.
    * Stops early when the best pair's weight drops below `minWeight`
    * (Sennrich stops at frequency 1 — merges below the floor are
    * corpus noise, not subword structure).
    */
  def learnMergesDf(documents: DataFrame, k: Int,
                    minWeight: Long = 2L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val chars = filter(split(col("word"), ""), x => x =!= "")
    var vocab = Materialize(Tables.atComputeParallelism(documents)
      .select(explode(call_function("regexp_extract_all",
        col("text"), lit(TextFns.bpeTokenPattern), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(chars.as("syms"), col("freq")), "bpe-vocab")
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var done = false
    var rank = 0
    while (rank < k && !done) {
      val top = vocab
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("w"))
        .orderBy(col("w").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("w") < minWeight) done = true
      else {
        val (l, r, w) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"),
          top(0).getAs[Long]("w"))
        learned += ((rank.toLong, l, r, w))
        vocab = Materialize(vocab
          .select(applyMerge(col("syms"), l, r).as("syms"), col("freq")), "bpe-merge")
        rank += 1
      }
    }
    learned.toSeq.toDF("rank", "left", "right", "weight")
  }

  /** ★ `q_bpe_train` — learned merge table over the documents corpus.
    * Deterministic (exact integer weights, total-order tie-break) and
    * — since r11 — oracle-checked: the K training rounds unroll as
    * chained MATERIALIZED CTEs in DuckDB (the C81 k-means device), the
    * merge application riding the E10b pipe-wrapped-string `replace`
    * trick, so the iterative argmax is verified round for round
    * cross-engine. KernelSpec additionally proves the loop against an
    * independent in-memory replica on planted text and feeds the
    * learned table back through the inference kernel.
    *
    * Memoized per data dir like the IVF/graph/text indexes: a learned
    * tokenizer is a BUILD ARTIFACT — train once, tokenize forever —
    * and the K×2 sequential driver jobs are exactly the cost a bench
    * should pay once, not per invocation ([[graft.sources.Scratch.ensure]]).
    */
  def learnMerges(spark: SparkSession, dir: String, k: Int = 12): DataFrame = {
    val path = graft.sources.Scratch.ensure(spark, "bpe-v1", dir, "documents.parquet", k) { p =>
      learnMergesDf(Tables.documents(spark, dir), k)
        .coalesce(1).write.mode("overwrite").parquet(s"$p/merges")
    }
    Parquet.read(spark, s"$path/merges").orderBy(col("rank"))
  }

  /** The identical training recurrence, rounds unrolled as chained
    * MATERIALIZED CTEs (materialization is semantic here too: DuckDB
    * would otherwise re-inline each round's vocab into its two
    * consumers — 2^K scans). Vocab state = the E10b pipe-wrapped
    * symbol string, so "merge every occurrence left-to-right" is one
    * `replace`; a round whose best pair drops below minWeight emits
    * nothing and passes its vocab through unchanged, matching the
    * loop's early stop.
    */
  def bpeTrainSql(k: Int = 12, minWeight: Long = 2L): String = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""v0 AS MATERIALIZED (
         |  SELECT regexp_replace(word, '(.)', '|${"\\"}1|', 'g') AS s, count(*) AS freq
         |  FROM (SELECT unnest(regexp_extract_all(text,
         |          '${TextFns.bpeTokenPattern}')) AS word
         |        FROM documents)
         |  GROUP BY 1)""".stripMargin)
    (0 until k).foreach { i =>
      parts += s"""p$i AS MATERIALIZED (
                  |  SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS w FROM (
                  |    SELECT freq, unnest(list_transform(range(len(syms) - 1),
                  |      j -> {'l': syms[j+1], 'r': syms[j+2]})) AS p
                  |    FROM (SELECT string_split(trim(s, '|'), '||') AS syms, freq FROM v$i)
                  |    WHERE len(syms) > 1)
                  |  GROUP BY 1, 2)""".stripMargin
      parts += s"""t$i AS MATERIALIZED (
                  |  SELECT l, r, w FROM p$i WHERE w >= $minWeight
                  |  ORDER BY w DESC, l, r LIMIT 1)""".stripMargin
      parts += s"""v${i + 1} AS MATERIALIZED (
                  |  SELECT CASE WHEN t.l IS NULL THEN v.s
                  |         ELSE replace(v.s, '|' || t.l || '||' || t.r || '|',
                  |                      '|' || t.l || t.r || '|') END AS s,
                  |         v.freq
                  |  FROM v$i v LEFT JOIN t$i t ON true)""".stripMargin
    }
    val ranks = (0 until k).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS rank, l AS "left", r AS "right", w AS weight FROM t$i""")
      .mkString("\nUNION ALL\n")
    "WITH " + parts.mkString(",\n") + s"\nSELECT * FROM (\n$ranks\n) ORDER BY rank"
  }
}

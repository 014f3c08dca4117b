package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{InvertedIndex, Tables}

/** C50 — persisted positional inverted index: probes must be
  * partition-pruned to the term's token bucket, and phrase adjacency
  * must match a direct text scan.
  */
class InvertedIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fileScans(df: DataFrame): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.tableIdentifier.isEmpty => s
    }
  }

  private def scannedFiles(df: DataFrame): Long =
    fileScans(df).map(_.metrics("numFiles").value).sum

  /** Rows the parquet reader actually emitted — row groups/pages pruned
    * by pushed predicates never contribute, so this measures the layout's
    * pruning, not the post-scan filter.
    */
  private def scanOutputRows(df: DataFrame): Long =
    fileScans(df).map(_.metrics("numOutputRows").value).sum

  test("driver-side bucket replica matches the engine's crc32 bucketing") {
    val engine = Seq("spark", "hash", "join", "the", "zz9")
      .toDF("token")
      .select(col("token"), InvertedIndex.tokenBucket(col("token")).as("tb"))
      .as[(String, Long)].collect().toMap
    engine.foreach { case (t, tb) =>
      assert(InvertedIndex.bucketOf(t) == tb, s"token $t")
    }
  }

  test("term probe is partition-pruned to one bucket and postings match a text scan") {
    val idx = Files.createTempDirectory("graft-invidx-spec").toString
    InvertedIndex.build(spark, Tables.documents(spark, TestSpark.sf), idx)

    val allFiles = scannedFiles(spark.read.parquet(idx))
    val probeFiles = scannedFiles(InvertedIndex.postings(spark, idx, "spark"))
    assert(probeFiles > 0 && probeFiles * 2 <= allFiles,
      s"probe=$probeFiles all=$allFiles — no pruning")

    // postings tf equals a direct token-count scan
    val viaIndex = InvertedIndex.postings(spark, idx, "spark")
      .select(col("doc_id"), col("tf")).as[(Long, Long)].collect().toMap
    val direct = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") === "spark")
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(viaIndex == direct)
  }

  test("probe reads row-group-pruned, posting-list-sized data inside a bucket") {
    // A wide synthetic vocabulary (testdata has only 31 tokens, which
    // would let directory pruning alone pass): 4000 tokens spread over
    // 16 buckets. 300-word docs make each bucket carry ~15k posting
    // rows, two orders past the 16 KB row-group target — the pruning
    // margin is then STRUCTURAL, not at the mercy of parquet's
    // encoded-size flush estimation (a prior 50-word corpus compressed
    // so well that one run's groups reached ~40% of a bucket and a
    // 4x-margin assert flaked).
    val docs = spark.range(800).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 300).map(i =>
        format_string("tok%04d", (col("id") * 7 + lit(i * 13)) % 4000)): _*).as("text"))
    val idx = Files.createTempDirectory("graft-invidx-prune").toString
    InvertedIndex.build(spark, docs, idx, rowGroupBytes = 16L << 10)

    val term = "tok0700"
    val bucketRows = spark.read.parquet(idx)
      .filter(col("tb") === InvertedIndex.bucketOf(term)).count()
    val postingRows = InvertedIndex.postings(spark, idx, term).count()
    val probeScanRows = scanOutputRows(InvertedIndex.postings(spark, idx, term))
    assert(postingRows > 0)
    assert(probeScanRows >= postingRows, "scan can't emit fewer rows than survive")
    assert(probeScanRows * 4 <= bucketRows,
      s"probe emitted $probeScanRows of $bucketRows bucket rows — no sub-bucket pruning")
  }

  test("queries memoize the build: second invocation probes the existing index") {
    InvertedIndex.searchIndexed(spark, TestSpark.sf).collect()
    val marker = new java.io.File(InvertedIndex.ensureIndex(spark, TestSpark.sf), "_COMPLETE")
    assert(marker.exists())
    val built = marker.lastModified()
    InvertedIndex.searchIndexed(spark, TestSpark.sf).collect()
    assert(marker.lastModified() == built, "second invocation rebuilt the index")
  }

  test("prefix suggester pushes StartsWith and matches a direct token scan") {
    val q = InvertedIndex.suggestPrefix(spark, TestSpark.sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("StartsWith(token,s)"), s"no pushed prefix in:\n$plan")

    val viaIndex = q.as[(String, Long, Long)].collect().toSeq
    val direct = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").startsWith("s"))
      .groupBy(col("doc_id"), col("tok")).count()
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("count")).as("total_tf"))
      .orderBy(col("df").desc, col("tok")).limit(5)
      .as[(String, Long, Long)].collect().toSeq
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("suffix search pushes a reversed-token prefix and matches a direct scan (C50f)") {
    val q = InvertedIndex.searchSuffix(spark, TestSpark.sf, suffix = "dow")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("StartsWith(token_rev,wod)"),
      s"leading wildcard must probe the reversed arm as a pushed prefix:\n$plan")
    val viaIndex = q.as[(String, Long, Long)].collect().toSeq
    val direct = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").endsWith("dow"))
      .groupBy(col("doc_id"), col("tok")).count()
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("count")).as("total_tf"))
      .orderBy(col("tok"))
      .as[(String, Long, Long)].collect().toSeq
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }

  test("phrase suggester ranks real bigrams of candidate corrections (brute-force parity)") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .as[(Long, Seq[String])].collect()
    val vocab = docs.flatMap(_._2).distinct
    def cands(w: String) = vocab
      .filter(t => math.abs(t.length - w.length) <= 2 && lev(t, w) <= 2)
      .map(t => (t, lev(t, w).toLong))
    val bigrams = docs.iterator
      .flatMap { case (_, ws) => ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))) }
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val expected = (for ((t1, d1) <- cands("hash"); (t2, d2) <- cands("jion"))
      yield (s"$t1 $t2", d1 + d2, bigrams.getOrElse((t1, t2), 0L)))
      .filter(_._3 > 0)
      .sortBy { case (p, d, f) => (d, -f, p) }.take(3).toSeq
    val res = InvertedIndex.suggestPhrase(spark, TestSpark.sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(res == expected && res.nonEmpty)
  }

  test("phrase suggester candidate collect is explicitly bounded") {
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.suggestPhrase(spark, TestSpark.sf, maxCandidates = 0)
    }
    assert(e.getMessage.contains("correction candidates"))
  }

  test("phrase adjacency from positions matches a direct sliding scan") {
    val viaIndex = InvertedIndex.searchPhrase(spark, TestSpark.sf)
      .as[(Long, Long)].collect().toMap
    val direct = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ws) =>
        id -> ws.sliding(2).count(p => p.length == 2 && p(0) == "hash" && p(1) == "join").toLong
      }.filter(_._2 > 0).toMap
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }
}

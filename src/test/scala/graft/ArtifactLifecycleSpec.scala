package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.sources.InvertedIndex

/** Every memoized scratch artifact is keyed, marked and swept by
  * `Scratch.ensure`: regenerating the source table in place must
  * rebuild it, and no other code under src/main may roll its own
  * marker check or listing digest.
  */
class ArtifactLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  test("inverted indexes and the media table rebuild when documents are regenerated in place") {
    val dir = Files.createTempDirectory("graft-artifact-regen").toString
    def writeDocs(n: Int): Unit =
      (0 until n).map(i => (i.toLong,
          s"spark window doc $i " + ("shadow spark " * (i % 3)) + s"tok$i meadow", "web"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def tokens: DataFrame =
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    def direct: (Seq[String], Seq[String], Seq[String]) = (
      rows(tokens.filter(col("token") === "spark").groupBy(col("doc_id"))
        .agg(count(lit(1)).as("tf"))),
      rows(tokens.filter(col("token").endsWith("dow")).groupBy(col("token"), col("doc_id"))
        .agg(count(lit(1)).as("tf")).groupBy(col("token"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))),
      rows(Multimodal.extractFeatures(spark, Multimodal.mediaTable(spark, dir))
        .select(col("doc_id"), col("kind"), col("n_bytes"), col("checksum"),
          round(col("feat_norm"), 4).as("feat_norm"))))
    def served: (Seq[String], Seq[String], Seq[String]) = (
      rows(InvertedIndex.searchIndexed(spark, dir)),
      rows(InvertedIndex.searchSuffix(spark, dir)),
      rows(Multimodal.features(spark, dir)))

    writeDocs(6)
    val first = served
    assert(first == direct)
    // the regenerated table has more docs, so every result widens: an
    // artifact served from the 6-doc generation would show
    writeDocs(9)
    val second = served
    assert(second._1 == direct._1, "searchIndexed served the old generation")
    assert(second._2 == direct._2, "searchSuffix served the old generation")
    assert(second._3 == direct._3, "features served the old media table")
    assert(second._1.size > first._1.size && second._3.size > first._3.size)
  }

  test("artifact markers and listing digests live only in Scratch.scala") {
    // a string literal naming a marker file
    val marker = "\"[^\"\\n]*_(?:COMPLETE|SUCCESS)[^\"\\n]*\"".r
    // the A18 health check reports a store's own commit marker; it
    // builds no artifact
    val allowed = Set("LogStore.scala:storeHealth")
    val hits = MainSources.all.filter(_.file != "Scratch.scala").flatMap { src =>
      // a listing digest: MessageDigest and listStatus in one def body
      val digests = "MessageDigest".r.findAllMatchIn(src.text).map(_.start)
        .filter(at => src.member(at).contains("listStatus"))
      src.hits(marker) ++ digests.map(src.label)
    }
    assert(hits.filterNot(allowed).isEmpty, s"use Scratch.ensure: ${hits.filterNot(allowed)}")
    assert(allowed.subsetOf(hits.toSet), s"stale allow-list: ${allowed -- hits}")
  }
}

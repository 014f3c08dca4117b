package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ApacheLog
import graft.sources.{InvertedIndex, LogLines, LogStore, Parquet, Tables}

/** `Parquet.read` must give exactly what `spark.read.parquet` gives —
  * schema, rows and errors — without the schema-inference job.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  private def assertParity(path: String): Unit = {
    val ours = Parquet.read(spark, path)
    val sparks = spark.read.parquet(path)
    assert(ours.schema == sparks.schema, path)
    assert(rows(ours) == rows(sparks), path)
  }

  /** Job ids of the Spark jobs `read` launches. */
  private def jobsOf(read: => DataFrame): Seq[Int] = {
    val sc = spark.sparkContext
    val group = s"parquet-read-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try read finally sc.clearJobGroup()
    org.apache.spark.GraftSparkBridge.waitListenerBus(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  private lazy val epochStore: String = {
    val root = Files.createTempDirectory("graft-parquet-read").toString + "/logs"
    val parsed = LogLines.apacheLines(spark, TestSpark.sf)
      .select(ApacheLog.parsed(col("line")).as("p")).select("p.*")
    graft.streaming.LogPipeline.idempotentBatchWrite(
      parsed.withColumn("source", lit("ec2")), root, 0, Seq("log_date", "source"))
    graft.streaming.LogPipeline.idempotentBatchWrite(
      parsed.withColumn("source", lit("alb")), root, 1, Seq("log_date", "source"))
    root
  }

  test("every sf0.001 table reads with Spark's schema and rows") {
    Tables.all.foreach(t => assertParity(s"${TestSpark.sf}/$t.parquet"))
  }

  test("a TIMESTAMP(NANOS) events table still reads ts as LongType, so Tables.events converts it") {
    // Spark cannot write nanos timestamps; Parquet's example writer can
    val dir = Files.createTempDirectory("graft-parquet-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), spark.sparkContext.hadoopConfiguration))
      .withType(schema).build()
    val nanos = Seq(1700000000123456789L, 1700000001000000999L)
    val rowOf = new SimpleGroupFactory(schema)
    try nanos.foreach(ns => writer.write(rowOf.newGroup().append("ts", ns)))
    finally writer.close()
    assertParity(s"$dir/events.parquet")
    assert(Parquet.read(spark, s"$dir/events.parquet").schema("ts").dataType == LongType)
    val ts = Tables.events(spark, dir)
    assert(ts.schema("ts").dataType == TimestampType)
    assert(ts.collect().map(_.getTimestamp(0).toInstant).toSeq.sorted ==
      nanos.map(ns => java.time.Instant.ofEpochSecond(0, ns / 1000 * 1000)))
  }

  test("an epoch-layout store, before and after foldEpochs") {
    assertParity(epochStore)
    assert(Parquet.read(spark, epochStore).columns.contains("epoch"))
    assert(LogStore.foldEpochs(spark, epochStore))
    assertParity(epochStore)
    assert(!Parquet.read(spark, epochStore).columns.contains("epoch"))
  }

  test("a built inverted index (tb= partitions)") {
    val path = Files.createTempDirectory("graft-parquet-idx").toString + "/idx"
    InvertedIndex.build(spark, Tables.documents(spark, TestSpark.sf), path)
    assertParity(path)
  }

  test("empty, marker-only and missing paths fail like Spark's reader") {
    val empty = Files.createTempDirectory("graft-parquet-empty")
    val markerOnly = Files.createTempDirectory("graft-parquet-marker")
    Files.createFile(markerOnly.resolve("_SUCCESS"))
    Seq(empty.toString, markerOnly.toString, s"$empty/missing").foreach { p =>
      val theirs = intercept[Exception](spark.read.parquet(p))
      val ours = intercept[Exception](Parquet.read(spark, p))
      assert(ours.getClass == theirs.getClass, p)
      assert(ours.getMessage == theirs.getMessage, p)
    }
  }

  test("Parquet.read launches no Spark job; spark.read.parquet does") {
    Seq(s"${TestSpark.sf}/events.parquet", epochStore).foreach { p =>
      assert(jobsOf(Parquet.read(spark, p)).isEmpty, p)
      assert(jobsOf(spark.read.parquet(p)).nonEmpty, p)
    }
  }

  test("parquet reads under src/main go through Parquet.read") {
    // a `.read` chain ending in `.parquet(`; split so this file does not
    // match its own search
    val chain = ("""\.read(?=\s*\.)(?:\s*\.\w+\((?:[^()]|\([^()]*\))*\))*\s*\.""" +
      """parquet\(""").r
    val defName = """\bdef\s+(\w+)""".r
    // reads that merge many footers or pin files under a basePath: the
    // case Spark's parallel inference job exists for
    val allowed = Set("read", "readPit", "readPitFederated", "readSnapshot",
      "readAliases", "fieldCaps").map(d => s"LogStore.scala:$d")
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val hits = files.filter(_.getFileName.toString != "Parquet.scala").flatMap { p: Path =>
      val src = new String(Files.readAllBytes(p), "UTF-8")
      chain.findAllMatchIn(src).map { m =>
        val enclosing = defName.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
        s"${p.getFileName}:${enclosing.fold("?")(_.group(1))}"
      }
    }
    assert(hits.filterNot(allowed).isEmpty, s"use Parquet.read: ${hits.filterNot(allowed)}")
    assert(allowed.subsetOf(hits.toSet), s"stale allow-list: ${allowed -- hits}")
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{EpochWriter, LogStore, Parquet}
import graft.sources.EpochWriter.Route
import graft.streaming.LogPipeline

/** The epoch writer against Spark's own `df.write.partitionBy(…).parquet`
  * as the reference: the same files, dirs, footers and rows, one job
  * per ingest micro-batch, and crash leftovers nobody reads.
  */
class EpochWriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = Files.createTempDirectory(s"graft-epoch-$name").toString

  /** Data files under `root`, by the dir they sit in (relative to `root`). */
  private def filesByDir(root: String): Map[String, Seq[java.nio.file.Path]] =
    Using.resource(Files.walk(Paths.get(root)))(_.iterator.asScala.toSeq)
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .groupBy(p => Paths.get(root).relativize(p.getParent).toString)

  /** Parquet schema, key-value metadata and column codecs of a data file's footer. */
  private def footer(p: java.nio.file.Path): (String, Map[String, String], Set[String]) = {
    val meta = ParquetFileReader.readFooter(spark.sparkContext.hadoopConfiguration,
      new Path(p.toUri), ParquetMetadataConverter.NO_FILTER)
    val file = meta.getFileMetaData
    (file.getSchema.toString, file.getKeyValueMetaData.asScala.toMap,
      meta.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.toString)).toSet)
  }

  /** A data file's name without its write job's UUID. */
  private def name(p: java.nio.file.Path): String =
    p.getFileName.toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<job>")

  private def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted

  /** `ours` (an epoch dir) holds what Spark wrote to `ref`. */
  private def assertSameWrite(ours: String, ref: String): Unit = {
    val (got, want) = (filesByDir(ours), filesByDir(ref))
    assert(got.keySet == want.keySet, "partition dirs")
    got.foreach { case (dir, files) =>
      assert(files.map(name).sorted == want(dir).map(name).sorted, s"files in '$dir'")
      assert(files.map(footer).toSet == want(dir).map(footer).toSet, s"footers in '$dir'")
      files.foreach(f => assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))
    }
    val (a, b) = (Parquet.read(spark, ours), Parquet.read(spark, ref))
    assert(a.schema == b.schema)
    assert(rows(a) == rows(b))
  }

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Three partitions of rows: two dates, a NULL date, a source value
    * that needs path escaping, and a NULL and an empty source of one
    * date in one task (Spark writes both to one
    * `__HIVE_DEFAULT_PARTITION__` file).
    */
  private lazy val batch: DataFrame = Seq(
    (ts("2024-05-01 10:00:00"), "ec2", "GET /a", Some(200L), true),
    (ts("2024-05-01 11:00:00"), "ec2", "GET /b", Some(404L), true),
    (ts("2024-05-02 09:30:00"), "eks", "POST /c", Some(500L), true),
    (null, "ec2", "GET /no-ts", Some(200L), true),
    (ts("2024-05-02 12:00:00"), "a/b:c=d%e f", "GET /odd", Some(201L), true),
    (ts("2024-05-01 12:00:00"), null, "GET /blank", Some(200L), true),
    (ts("2024-05-01 12:30:00"), "", "GET /blank", Some(204L), true),
    (ts("2024-05-01 10:05:00"), "ecs", "### junk ###", None, false),
    (ts("2024-05-02 10:05:00"), "eks", "??", None, false)
  ).toDF("ts", "source", "line", "status", "valid")
    .withColumn("log_date", to_date(col("ts")))
    .repartition(3, col("line"))

  test("one route writes what df.write.partitionBy(…).parquet writes") {
    val root = tmp("one") + "/logs"
    val ref = tmp("one-ref") + "/ref"
    val valid = batch.filter(col("valid")).drop("valid")
    LogPipeline.idempotentBatchWrite(valid, root, 3L, Seq("log_date", "source"))
    valid.write.partitionBy("log_date", "source").parquet(ref)
    assert(filesByDir(s"$root/epoch=3").keySet.exists(_.contains("__HIVE_DEFAULT_PARTITION__")))
    assert(filesByDir(s"$root/epoch=3").keySet.exists(_.contains("%3A")))
    assert(filesByDir(s"$root/epoch=3").keySet
      .contains("log_date=2024-05-01/source=__HIVE_DEFAULT_PARTITION__"))
    assertSameWrite(s"$root/epoch=3", ref)
    assert(LogStore.read(spark, root, "2024-05-01", "2024-05-03").count() == 6)
  }

  test("two routes in one job write what two Spark writes write, an empty route included") {
    val out = tmp("two")
    val ref = tmp("two-ref")
    val parsed = Seq("ts", "source", "status", "log_date")
    def routes(dlqRows: org.apache.spark.sql.Column) = Seq(
      Route(s"$out/logs", col("valid"), parsed, Seq("log_date", "source")),
      Route(s"$out/dlq", dlqRows, Seq("source", "line")))
    EpochWriter.write(batch, 0L, routes(!col("valid")))
    batch.filter(col("valid")).select(parsed.map(col): _*)
      .write.partitionBy("log_date", "source").parquet(s"$ref/logs")
    batch.filter(!col("valid")).select("source", "line").write.parquet(s"$ref/dlq")
    assertSameWrite(s"$out/logs/epoch=0", s"$ref/logs")
    assertSameWrite(s"$out/dlq/epoch=0", s"$ref/dlq")

    // no row for the dead-letter route: Spark still leaves one
    // schema-only file, and so does the writer
    EpochWriter.write(batch, 1L, routes(lit(false)))
    batch.filter(lit(false)).select("source", "line").write.parquet(s"$ref/dlq-empty")
    assertSameWrite(s"$out/dlq/epoch=1", s"$ref/dlq-empty")
    // a batch with no partition at all writes that file too
    val none = spark.emptyDataset[(String, String)].toDF("source", "line")
    assert(none.queryExecution.toRdd.getNumPartitions == 0)
    LogPipeline.idempotentBatchWrite(none, s"$out/none", 0L, Seq.empty)
    none.write.parquet(s"$ref/none")
    assertSameWrite(s"$out/none/epoch=0", s"$ref/none")
  }

  test("one startIngest micro-batch with parsed and malformed lines runs one Spark job") {
    val in = tmp("ingest-in"); val out = tmp("ingest-out")
    Files.createDirectories(Paths.get(s"$in/ec2"))
    val good =
      """46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET /index.html HTTP/1.1" 200 173 "-" "curl/7.68.0""""
    Files.writeString(Paths.get(s"$in/ec2/a.log"), s"$good\n### not a log line ###\n$good\n")
    val (ingested, rec) = QueryMetrics.measure(spark)(
      LogPipeline.startIngest(spark, in, out, tmp("ingest-ckpt")).awaitTermination())
    ingested.toTry.get
    assert(rec.jobs.size == 1)
    assert(spark.read.parquet(s"$out/logs").count() == 2)
    assert(spark.read.parquet(s"$out/dlq").count() == 1)
  }

  test("a staging dir left by a killed write is invisible to readers and removed by the replay") {
    val root = tmp("crash") + "/logs"
    val valid = batch.filter(col("valid")).drop("valid", "line")
    LogPipeline.idempotentBatchWrite(valid, root, 0L, Seq("log_date", "source"))
    // what a write of epoch 1 killed mid-file leaves behind
    def leaveStaging(): java.nio.file.Path = {
      val dir = Paths.get(EpochWriter.stagingDir(new Path(root), 1L, "killed").toString)
      val part = dir.resolve("log_date=2024-05-01/source=ec2/part-00000-x.c000.snappy.parquet")
      Files.createDirectories(part.getParent)
      Files.write(part, "PAR1 torn".getBytes("UTF-8"))
      dir
    }
    val staged = leaveStaging()
    assert(LogStore.read(spark, root, "2024-05-01", "2024-05-03").count() == 6)
    assert(Parquet.read(spark, root).count() == 7)
    assert(LogStore.createPit(spark, root).size == filesByDir(s"$root/epoch=0").values.map(_.size).sum)

    // the replay of epoch 1 clears the leftover and commits in its place
    LogPipeline.idempotentBatchWrite(valid, root, 1L, Seq("log_date", "source"))
    assert(!Files.exists(staged))
    assert(Parquet.read(spark, root).count() == 14)

    leaveStaging()
    assert(LogStore.foldEpochs(spark, root))
    val folded = Parquet.read(spark, root)
    assert(folded.count() == 14 && !folded.columns.contains("epoch"))

    // a root holding nothing but the leftover has no data files
    val bare = tmp("crash-bare") + "/logs"
    val torn = Paths.get(EpochWriter.stagingDir(new Path(bare), 0L, "killed").toString)
      .resolve("part-00000-x-c000.snappy.parquet")
    Files.createDirectories(torn.getParent)
    Files.write(torn, "PAR1 torn".getBytes("UTF-8"))
    assert(LogStore.storeHealth(spark, bare) == ("red", Seq("no data files")))
  }

  test("a retry commits none of the files a failed write's still-running task writes") {
    import EpochWriteSpec.Zombie
    val root = tmp("zombie") + "/logs"
    val schema = StructType(Seq(StructField("id", LongType)))
    def ids(from: Long, slices: Int) =
      spark.sparkContext.parallelize((from until from + 10L * slices).map(Row(_)), slices)
    val late = tmp("zombie-late")
    spark.createDataFrame(ids(10L, 1), schema).write.mode("overwrite").parquet(late)
    Zombie.root = Paths.get(root)
    Zombie.lateFile = filesByDir(late).values.flatten.head
    val in = spark.createDataFrame(ids(0L, 2).mapPartitionsWithIndex(Zombie.gate), schema)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.stageId == Zombie.stage && e.taskInfo.index == 1) Zombie.ended.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // task 0 fails while task 1 is still running: the job fails, and
      // task 1 runs on until the retry lets it go
      intercept[Exception](LogPipeline.idempotentBatchWrite(in, root, 0L, Seq.empty))
      Zombie.round = 2
      LogPipeline.idempotentBatchWrite(in, root, 0L, Seq.empty)
    } finally {
      Zombie.released.countDown()
      sc.removeSparkListener(listener)
    }
    assert(Zombie.ended.getCount == 0, "the failed write's task 1 never ended")
    val failed = Zombie.failedStaging.map(_.getFileName.toString)
    assert(failed.nonEmpty, "the failed write staged nothing")
    def listing = Using.resource(Files.list(Paths.get(root)))(
      _.iterator.asScala.map(_.getFileName.toString).toSet)
    def ids0 = Parquet.read(spark, root).select("id").as[Long].collect().sorted.toSeq
    assert(ids0 == (0L until 20L))
    assert(listing == Set("epoch=0") ++ failed)

    // the next write of the epoch clears what the failed write left
    Zombie.round = 3
    LogPipeline.idempotentBatchWrite(in, root, 0L, Seq.empty)
    assert(ids0 == (0L until 20L))
    assert(listing == Set("epoch=0"))
  }
}

object EpochWriteSpec {

  /** The input of a write whose task 1 outlives its job: in round 1,
    * task 1 reads its rows and waits while task 0 fails the job; in
    * round 2 (the retry), task 0 lets the first task 1 go, waits until
    * it has ended, and then writes what a task of the failed write that
    * still held its Hadoop conf would write late: a part file in that
    * write's staging dir. All of it is on disk before the retry commits.
    */
  object Zombie {
    @volatile var round = 1
    @volatile var stage = -1
    @volatile var root: java.nio.file.Path = _
    @volatile var lateFile: java.nio.file.Path = _
    @volatile var failedStaging: Option[java.nio.file.Path] = None
    val started = new CountDownLatch(1)
    val released = new CountDownLatch(1)
    val ended = new CountDownLatch(1)

    private def await(latch: CountDownLatch): Unit = {
      val until = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (latch.getCount > 0 && System.nanoTime() < until)
        try latch.await(100, TimeUnit.MILLISECONDS) catch { case _: InterruptedException => () }
    }

    def gate(part: Int, rows: Iterator[Row]): Iterator[Row] =
      if (round == 1 && part == 1) {
        // read the input whole first, so no input iterator is left to
        // notice that the task was marked killed
        val all = rows.toList
        stage = TaskContext.get().stageId()
        failedStaging = Using.resource(Files.list(root))(_.iterator.asScala.toList)
          .find(_.getFileName.toString.startsWith("_staging-epoch-0"))
        started.countDown()
        await(released)
        all.iterator
      } else if (round == 1) {
        await(started)
        throw new IllegalStateException("task 0 fails")
      } else {
        if (round == 2 && part == 0) {
          released.countDown()
          await(ended)
          failedStaging.foreach { dir =>
            Files.createDirectories(dir)
            Files.copy(lateFile, dir.resolve("part-00001-late-c000.snappy.parquet"))
          }
        }
        rows
      }
  }
}

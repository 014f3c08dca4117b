package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{KafkaLines, LogPipeline, MemoryLines}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name").toString
    d
  }

  val goodLine =
    """46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET /index.html HTTP/1.1" 200 173 "-" "curl/7.68.0""""
  val badLine = "### firehose noise that is not a log line ###"

  test("ingest pipeline routes parsed rows to date/source partitions and junk to the DLQ") {
    val in = tmpDir("in"); val out = tmpDir("out"); val ckpt = tmpDir("ckpt")
    Files.createDirectories(Paths.get(s"$in/ec2"))
    Files.createDirectories(Paths.get(s"$in/eks"))
    Files.writeString(Paths.get(s"$in/ec2/a.log"), s"$goodLine\n$badLine\n")
    Files.writeString(Paths.get(s"$in/eks/b.log"), s"$goodLine\n")

    val q = LogPipeline.startIngest(spark, in, out, ckpt)
    q.awaitTermination()

    val logs = spark.read.parquet(s"$out/logs")
    assert(logs.count() == 2)
    assert(logs.select("source").as[String].collect().toSet == Set("ec2", "eks"))
    // daily "index rotation" under the DEFAULT epoch-idempotent layout:
    // data lands at epoch=<batchId>/log_date=…/source=…
    assert(Files.exists(Paths.get(s"$out/logs/epoch=0/log_date=2021-07-29/source=ec2")))
    val dlq = spark.read.parquet(s"$out/dlq")
    assert(dlq.count() == 1)
    assert(dlq.select("line").as[String].collect().head == badLine)

    // crash-redelivery on the DEFAULT path: losing the checkpoint replays
    // the same batches with the same ids — epochs REPLACE their previous
    // output instead of appending beside it
    val q2 = LogPipeline.startIngest(spark, in, out, tmpDir("ckpt2"))
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/logs").count() == 2)
    assert(spark.read.parquet(s"$out/dlq").count() == 1)

    // compaction folds the epoch layout into the plain date layout
    graft.sources.LogStore.compact(spark, s"$out/logs")
    assert(Files.exists(Paths.get(s"$out/logs/log_date=2021-07-29/source=ec2")))
    assert(!Files.exists(Paths.get(s"$out/logs/epoch=0")))
    val folded = spark.read.parquet(s"$out/logs")
    assert(folded.count() == 2 && !folded.columns.contains("epoch"))
  }

  test("ingest resumes after a fold: one directory scheme, exactly-once across the fold (A5b/A8b)") {
    val in = tmpDir("in-res"); val out = tmpDir("out-res"); val ckpt = tmpDir("ckpt-res")
    Files.createDirectories(Paths.get(s"$in/ec2"))
    Files.writeString(Paths.get(s"$in/ec2/a.log"), s"$goodLine\n$goodLine\n")
    LogPipeline.startIngest(spark, in, out, ckpt).awaitTermination()
    assert(spark.read.parquet(s"$out/logs").count() == 2)

    // operator compacts between stream restarts — the store flattens
    graft.sources.LogStore.compact(spark, s"$out/logs")
    assert(!spark.read.parquet(s"$out/logs").columns.contains("epoch"))

    // the stream RESUMES from the same checkpoint with new arrivals:
    // the next micro-batch must not mix epoch= beside log_date= dirs
    Files.writeString(Paths.get(s"$in/ec2/b.log"), s"$goodLine\n")
    LogPipeline.startIngest(spark, in, out, ckpt).awaitTermination()
    val resumed = spark.read.parquet(s"$out/logs") // readable = one scheme
    assert(resumed.count() == 3)
    // folded history re-homed under the reserved epoch, new batch beside it
    assert(Files.exists(Paths.get(s"$out/logs/epoch=-1/log_date=2021-07-29/source=ec2")))
    assert(resumed.filter(col("epoch") >= 0).count() == 1)

    // date-pruned reads still work over the re-homed layout
    assert(graft.sources.LogStore.read(
      spark, s"$out/logs", "2021-07-29", "2021-07-30").count() == 3)

    // and the next compact folds everything flat again
    graft.sources.LogStore.compact(spark, s"$out/logs")
    val refolded = spark.read.parquet(s"$out/logs")
    assert(refolded.count() == 3 && !refolded.columns.contains("epoch"))
  }

  test("idempotent sink: batch replayed ACROSS a fold is a no-op, not a duplicate (A5b/A8b)") {
    val root = tmpDir("fold-replay") + "/logs"
    def batch(n: Int) = spark.range(n)
      .select(to_timestamp(lit("2021-07-29 12:00:00")).as("ts"),
        lit("ec2").as("source"), col("id").as("payload"))
    LogPipeline.idempotentBatchWrite(batch(3), root, 0, Seq("log_date", "source"))
    LogPipeline.idempotentBatchWrite(batch(2), root, 1, Seq("log_date", "source"))
    assert(graft.sources.LogStore.foldEpochs(spark, root))
    assert(spark.read.parquet(root).count() == 5)

    // a crash BEFORE the checkpoint commit redelivers batch 1 — but its
    // rows were already folded; the watermark makes the rewrite a no-op
    LogPipeline.idempotentBatchWrite(batch(2), root, 1, Seq("log_date", "source"))
    assert(spark.read.parquet(root).count() == 5)
    assert(!Files.exists(Paths.get(s"$root/epoch=1")))

    // a genuinely NEW batch lands beside the re-homed history
    LogPipeline.idempotentBatchWrite(batch(4), root, 2, Seq("log_date", "source"))
    assert(spark.read.parquet(root).count() == 9)

    // second fold advances the watermark; replaying batch 2 after it
    // is again a no-op
    assert(graft.sources.LogStore.foldEpochs(spark, root))
    LogPipeline.idempotentBatchWrite(batch(4), root, 2, Seq("log_date", "source"))
    assert(spark.read.parquet(root).count() == 9)
    assert(!spark.read.parquet(root).columns.contains("epoch"))
  }

  test("maxFilesPerTrigger caps micro-batch size; metrics listener surfaces per-batch progress") {
    val in = tmpDir("in-cap"); val out = tmpDir("out-cap")
    Files.createDirectories(Paths.get(s"$in/ec2"))
    Files.writeString(Paths.get(s"$in/ec2/a.log"), s"$goodLine\n")
    Files.writeString(Paths.get(s"$in/ec2/b.log"), s"$goodLine\n$goodLine\n")
    val metrics = new graft.streaming.IngestMetrics(spark).attach()
    try {
      val q = LogPipeline.startIngest(spark, in, out, tmpDir("ckpt-cap"),
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      // the 1-file cap split the backlog into one epoch per file
      val epochs = new java.io.File(s"$out/logs").list().count(_.startsWith("epoch="))
      assert(epochs == 2, s"expected 2 epochs, got $epochs")
      assert(spark.read.parquet(s"$out/logs").count() == 3)
      // the listener bus is async — wait for both batches to surface
      val deadline = System.currentTimeMillis() + 20000
      def batchRows() = metrics.snapshot(spark)
        .filter(col("num_input_rows") > 0)
      while (batchRows().count() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val got = batchRows()
        .select("batch_id", "num_input_rows", "batch_duration_ms")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      // file→batch order is not pinned; the CAP is: one file per batch
      assert(got.map(_._2).sorted.toSeq == Seq(1L, 2L), s"got ${got.toSeq}")
      assert(got.forall(_._3 >= 0))
    } finally metrics.detach()
  }

  test("transform graph is source-agnostic: MemoryLines binding feeds the same pipeline") {
    val src = new MemoryLines(spark)
    src.add("ec2" -> goodLine, "ec2" -> badLine)
    val q = LogPipeline.transformed(src.load(spark)).writeStream
      .format("memory").queryName("memlines_out")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("memlines_out").collect()
    assert(rows.length == 2)
    val byLine = rows.map(r => r.getAs[String]("line") -> r).toMap
    assert(byLine(goodLine).getAs[Boolean]("valid"))
    assert(byLine(goodLine).getAs[String]("format") == "access")
    assert(byLine(goodLine).getAs[Long]("status") == 200L)
    assert(!byLine(badLine).getAs[Boolean]("valid"))
  }

  test("recorded transport fixtures: Kafka and Kinesis wire-schema streams replay through the full pipeline (A3b)") {
    // The closest an endpoint-less sandbox gets to a live broker: a
    // RECORDED fixture — records carrying each connector's exact wire
    // schema — replayed as a real streaming query through the
    // contract projection and the full transform graph. The only
    // untested inch left is the connector jar's network client.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Kafka wire schema: key/value binary, topic, partition, offset,
    // timestamp, timestampType (spark-sql-kafka's fixed output schema)
    val kafkaFixture = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp, Int)]
    kafkaFixture.addData(
      (null, goodLine.getBytes("UTF-8"), "logs-ec2", 0, 0L,
        java.sql.Timestamp.valueOf("2021-07-29 15:32:33"), 0),
      (null, badLine.getBytes("UTF-8"), "logs-eks", 1, 17L,
        java.sql.Timestamp.valueOf("2021-07-29 15:32:34"), 0))
    val kafkaWire = kafkaFixture.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val kq = LogPipeline.transformed(KafkaLines.contract(kafkaWire))
      .writeStream.format("memory").queryName("kafka_fixture_out")
      .outputMode(OutputMode.Append).start()
    try kq.processAllAvailable() finally kq.stop()
    val krows = spark.table("kafka_fixture_out").collect()
    assert(krows.length == 2)
    val kByLine = krows.map(r => r.getAs[String]("line") -> r).toMap
    assert(kByLine(goodLine).getAs[String]("source") == "ec2")
    assert(kByLine(goodLine).getAs[Boolean]("valid") &&
      kByLine(goodLine).getAs[Long]("status") == 200L)
    assert(kByLine(badLine).getAs[String]("source") == "eks" &&
      !kByLine(badLine).getAs[Boolean]("valid"))

    // Kinesis wire schema: data binary, streamName, partitionKey,
    // sequenceNumber, approximateArrivalTimestamp
    val kinesisFixture = MemoryStream[(Array[Byte], String, String, String, java.sql.Timestamp)]
    kinesisFixture.addData(
      (goodLine.getBytes("UTF-8"), "unified-logs-lambda", "pk-1",
        "49598630142999655949899", java.sql.Timestamp.valueOf("2021-07-29 15:32:35")))
    val kinesisWire = kinesisFixture.toDF()
      .toDF("data", "streamName", "partitionKey", "sequenceNumber",
        "approximateArrivalTimestamp")
    val nq = LogPipeline.transformed(graft.streaming.KinesisLines.contract(kinesisWire))
      .writeStream.format("memory").queryName("kinesis_fixture_out")
      .outputMode(OutputMode.Append).start()
    try nq.processAllAvailable() finally nq.stop()
    val nrows = spark.table("kinesis_fixture_out").collect()
    assert(nrows.length == 1)
    assert(nrows.head.getAs[String]("source") == "lambda")
    assert(nrows.head.getAs[String]("line") == goodLine)
  }

  test("streaming percolate fires stored rules against the parsed stream") {
    val err500 =
      """1.2.3.4 - - [29/Jul/2021:15:32:33 +0000] "GET /boom HTTP/1.1" 500 0 "-" "curl/7.68.0""""
    val post201 =
      """5.6.7.8 - - [29/Jul/2021:15:32:34 +0000] "POST /signup HTTP/1.1" 201 42 "-" "curl/7.68.0""""
    val rules = Seq(
      (0L, "GET", 500L, 600L),  // server errors on GETs
      (1L, "POST", 200L, 300L)  // successful POSTs
    ).toDF("rule_id", "r_verb", "min_status", "max_status")
    val src = new MemoryLines(spark)
    src.add("ec2" -> goodLine, "ec2" -> err500, "ec2" -> post201, "ec2" -> badLine)
    val q = LogPipeline.percolateStream(LogPipeline.transformed(src.load(spark)), rules)
      .writeStream.format("memory").queryName("alerts")
      .outputMode(OutputMode.Append).start()
    try q.processAllAvailable() finally q.stop()
    val alerts = spark.table("alerts")
      .select("rule_id", "ip", "status").as[(Long, String, Long)].collect().toSet
    // goodLine (GET 200) matches no rule; the junk line never reaches the join
    assert(alerts == Set((0L, "1.2.3.4", 500L), (1L, "5.6.7.8", 201L)))
  }

  test("alert throttling: duplicate (rule, key) fires once within the period") {
    val mk = (sec: Int, ip: String, path: String) =>
      s"""$ip - - [29/Jul/2021:15:32:$sec +0000] "GET $path HTTP/1.1" 500 0 "-" "curl/7.68.0""""
    val rules = Seq((0L, "GET", 500L, 600L))
      .toDF("rule_id", "r_verb", "min_status", "max_status")
    val src = new MemoryLines(spark)
    // same ip fires 3 matching lines within the 10-min period, across
    // two micro-batches; a second ip fires once
    src.add("ec2" -> mk(33, "1.2.3.4", "/a"), "ec2" -> mk(34, "1.2.3.4", "/b"),
      "ec2" -> mk(35, "9.9.9.9", "/c"))
    val q = LogPipeline.throttledAlerts(
        LogPipeline.transformed(src.load(spark)), rules)
      .writeStream.format("memory").queryName("throttled")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      src.add("ec2" -> mk(36, "1.2.3.4", "/d"))
      q.processAllAvailable()
    } finally q.stop()
    val fired = spark.table("throttled")
      .select("rule_id", "ip").as[(Long, String)].collect().toSeq
    // one alert per (rule, ip) despite 3 matching lines for 1.2.3.4
    assert(fired.sorted == Seq((0L, "1.2.3.4"), (0L, "9.9.9.9")))
  }

  test("KafkaLines binding: option wiring, contract projection, and DataSource resolution") {
    val k = KafkaLines("broker-1:9092,broker-2:9092",
      topicPattern = "logs-.*", startingOffsets = "earliest")
    // 1. the exact options handed to the reader
    assert(k.readerOptions == Map(
      "kafka.bootstrap.servers" -> "broker-1:9092,broker-2:9092",
      "subscribePattern" -> "logs-.*",
      "startingOffsets" -> "earliest"))
    // 2. the wire-schema → contract projection runs (and recovers the
    //    source from the topic name) on a static frame with kafka's
    //    schema — no broker needed
    val wire = Seq(
      ("logs-ec2", "1.2.3.4 - - [x] \"GET / HTTP/1.1\" 200 1".getBytes("UTF-8")),
      ("logs-lambda", "{\"type\":\"function\"}".getBytes("UTF-8"))
    ).toDF("topic", "value")
    val got = KafkaLines.contract(wire).as[(String, String)].collect().toMap
    assert(got.keySet == Set("1.2.3.4 - - [x] \"GET / HTTP/1.1\" 200 1", "{\"type\":\"function\"}"))
    assert(got.values.toSet == Set("ec2", "lambda"))
    // 3. load() carries the options into Spark's DataSource lookup —
    //    in this sandbox the connector jar is absent, so resolution
    //    failing ON THE KAFKA SOURCE proves the wiring reached it
    val err = intercept[Throwable](k.load(spark)).getMessage.toLowerCase
    assert(err.contains("kafka"), s"unexpected failure: $err")
  }

  test("delivery retry + dead-letter: transient failure retries through, persistent failure diverts whole batch (A5c)") {
    val df = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    // transient: first two attempts refused, third lands
    var attempts = 0
    var delivered: Long = -1
    val ok = LogPipeline.deliverWithRetry(df, retries = 2, backoffMs = 1) { b =>
      attempts += 1
      if (attempts < 3) sys.error("store refused the write")
      delivered = b.count()
    } { (_, _) => fail("must not dead-letter a transiently failing write") }
    assert(ok && attempts == 3 && delivered == 2)

    // persistent: all attempts fail, the WHOLE batch reaches the
    // dead-letter writer with the error
    var dead: Option[(Long, String)] = None
    val ok2 = LogPipeline.deliverWithRetry(df, retries = 1, backoffMs = 1) { _ =>
      sys.error("disk full")
    } { (b, e) => dead = Some((b.count(), e.getMessage)) }
    assert(!ok2 && dead.contains((2L, "disk full")))

    // wired into the DEFAULT ingest path: a read-only logs dir refuses
    // the epoch write and the parsed rows land in delivery_dlq instead,
    // while the malformed line still reaches the parse dead-letter store
    val in = tmpDir("in-dlq"); val out = tmpDir("out-dlq")
    Files.createDirectories(Paths.get(s"$in/ec2"))
    Files.writeString(Paths.get(s"$in/ec2/a.log"), s"$goodLine\n$badLine\n")
    // a FILE at the logs path makes the directory write fail
    Files.writeString(Paths.get(s"$out/logs"), "not a directory")
    LogPipeline.startIngest(spark, in, out, tmpDir("ckpt-dlq")).awaitTermination()
    val dlq = spark.read.parquet(s"$out/delivery_dlq")
    assert(dlq.count() == 1)
    assert(dlq.columns.contains("delivery_error"))
    assert(dlq.filter(col("delivery_error").isNull).isEmpty)
    val parseDlq = spark.read.parquet(s"$out/dlq")
    assert(parseDlq.select("line").as[String].collect().toSeq == Seq(badLine))
    assert(!Files.exists(Paths.get(s"$out/logs/epoch=0")))
    Seq("dlq", "delivery_dlq").foreach { d =>
      assert(new java.io.File(s"$out/$d").list().toSeq.filterNot(_.startsWith(".")) == Seq("epoch=0"), d)
    }
  }

  test("KinesisLines binding: stream-per-source expansion, contract projection, DataSource resolution (A3b)") {
    import graft.streaming.KinesisLines
    val kin = KinesisLines(region = "eu-west-1", startingPosition = "TRIM_HORIZON")
    // 1. the glob expands to the reference's four per-source delivery
    //    streams (lib/common/utils.ts:30-89), options reach the reader
    assert(kin.readerOptions == Map(
      "streamName" -> "unified-logs-ec2,unified-logs-ecs,unified-logs-eks,unified-logs-lambda",
      "region" -> "eu-west-1",
      "startingPosition" -> "TRIM_HORIZON"))
    assert(KinesisLines(streamPattern = "only-this", endpointUrl = Some("http://localstack:4566"))
      .readerOptions("streamName") == "only-this")
    // 2. wire-schema → contract projection on a static frame: payload
    //    decoded, source recovered from the delivery-stream name
    val wire = Seq(
      ("unified-logs-ec2", "pk-1", "seq-1", "line-a".getBytes("UTF-8")),
      ("unified-logs-eks", "pk-2", "seq-2", "line-b".getBytes("UTF-8"))
    ).toDF("streamName", "partitionKey", "sequenceNumber", "data")
    val got = KinesisLines.contract(wire).as[(String, String)].collect().toMap
    assert(got == Map("line-a" -> "ec2", "line-b" -> "eks"))
    // 3. load() reaches Spark's DataSource lookup for the kinesis
    //    format — the connector jar is deployment-provided, so failing
    //    ON THE KINESIS SOURCE proves the wiring reached it
    val err = intercept[Throwable](kin.load(spark)).getMessage.toLowerCase
    assert(err.contains("kinesis"), s"unexpected failure: $err")
  }

  test("streaming sink rolls generations by size via foreachBatch (A3 + A4b)") {
    import org.apache.spark.sql.types._
    val in = tmpDir("roll-in"); val ckpt = tmpDir("roll-ckpt")
    val root = tmpDir("roll-store") + "/logs"
    def row(day: Int, i: Int) =
      s"""{"ip":"10.0.0.$i","ts":"2024-01-0${day}T00:0$i:00.000Z","status":200,"source":"ec2"}"""
    Files.writeString(Paths.get(s"$in/f1.json"), (1 to 5).map(row(1, _)).mkString("\n"))
    Files.writeString(Paths.get(s"$in/f2.json"), (1 to 5).map(row(2, _)).mkString("\n"))
    val schema = StructType(Seq(
      StructField("ip", StringType), StructField("ts", TimestampType),
      StructField("status", LongType), StructField("source", StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.sources.LogStore.rolloverWrite(df, root, maxBytes = 1); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("gen="))
    assert(gens.length >= 2, s"expected multiple generations, got ${gens.toSeq}")
    val all = graft.sources.LogStore.readRollover(spark, root, "2024-01-01", "2024-02-01")
    assert(all.count() == 10)
  }

  test("idempotent sink: redelivered batch replaces its epoch instead of duplicating (A5b)") {
    val root = tmpDir("idem") + "/logs"
    def batch(n: Int) = spark.range(n).select(
      concat(lit("10.2.0."), col("id")).as("ip"),
      lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00")).as("ts"),
      lit(200L).as("status"))
    LogPipeline.idempotentBatchWrite(batch(5), root, batchId = 0)
    LogPipeline.idempotentBatchWrite(batch(7), root, batchId = 1)
    assert(spark.read.parquet(root).count() == 12)
    // crash-redelivery of batch 1: same id re-runs, maybe with a
    // different (recovered) row set — it must REPLACE, not append
    LogPipeline.idempotentBatchWrite(batch(6), root, batchId = 1)
    val after = spark.read.parquet(root)
    assert(after.count() == 11)
    assert(after.filter(col("epoch") === 1).count() == 6)
  }

  test("rollup store: epoch partials merge to the raw aggregate; redelivery and compaction safe (A14)") {
    import graft.sources.RollupStore
    val root = tmpDir("rollup") + "/summary"
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val b0 = Seq((ts(0, 5), "view", 1.10), (ts(0, 20), "click", 2.50), (ts(1, 0), "view", 3.25))
      .toDF("ts", "event_type", "value")
    val b1 = Seq((ts(0, 40), "view", 4.00), (ts(1, 30), "click", 0.55))
      .toDF("ts", "event_type", "value")
    // incremental maintenance across micro-batches through the real
    // streaming writer (foreachBatch -> epoch-idempotent partials)
    val ckpt = tmpDir("rollup-ckpt")
    implicit val sq = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String, Double)]
    src.addData((ts(0, 5), "view", 1.10), (ts(0, 20), "click", 2.50), (ts(1, 0), "view", 3.25))
    val q1 = RollupStore.startRollup(
      src.toDF.toDF("ts", "event_type", "value"), root, ckpt)
    try q1.awaitTermination() finally q1.stop()
    src.addData((ts(0, 40), "view", 4.00), (ts(1, 30), "click", 0.55))
    // SAME checkpoint: the restarted query resumes past batch 0, so the
    // second micro-batch writes ONLY the new rows' partials (epoch 1)
    val q2 = RollupStore.startRollup(
      src.toDF.toDF("ts", "event_type", "value"), root, ckpt)
    try q2.awaitTermination() finally q2.stop()
    def summarize() = RollupStore.readSummary(spark, root)
      .select(col("hour"), col("event_type"), col("n"), col("value_cents"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    val expected = Set(
      (ts(0, 0), "view", 2L, 510L),   // 1.10 + 4.00
      (ts(0, 0), "click", 1L, 250L),
      (ts(1, 0), "view", 1L, 325L),
      (ts(1, 0), "click", 1L, 55L))
    assert(summarize() == expected, s"got ${summarize()}")
    // a redelivered batch REPLACES its epoch's partials — no double count
    RollupStore.rollupBatch(b1, root, 1)
    assert(summarize() == expected, "redelivery must be idempotent")
    // compaction folds partials under a NEW root; the summary is unchanged
    val dst = tmpDir("rollup-compact") + "/summary"
    RollupStore.compactInto(spark, root, dst)
    val compacted = RollupStore.readSummary(spark, dst)
      .select(col("hour"), col("event_type"), col("n"), col("value_cents"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(compacted == expected)
    // parity with the direct aggregate over the full raw history
    val raw = b0.unionByName(b1)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(raw == expected)
  }

  test("watermarked windowed aggregation over the parsed stream") {
    val in = tmpDir("in2"); val ckpt = tmpDir("ckpt2")
    Files.createDirectories(Paths.get(s"$in/ecs"))
    Files.writeString(Paths.get(s"$in/ecs/a.log"), (1 to 7).map(_ => goodLine).mkString("\n"))

    val parsed = LogPipeline.transformed(LogPipeline.rawStream(spark, in)).filter(col("valid"))
    val q = LogPipeline.windowedCounts(parsed).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("win")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable(); q.stop()

    val rows = spark.sql("SELECT source, status, n, total_bytes FROM win").collect()
    assert(rows.length == 1)
    assert(rows.head.toSeq == Seq("ecs", 200L, 7L, 7 * 173L))
  }

  test("aggregation monitor: a window crossing the trigger threshold emits one alert row (C49d)") {
    val err =
      """9.9.9.9 - - [29/Jul/2021:15:32:33 +0000] "GET /boom HTTP/1.1" 500 0 "-" "curl/7.68.0""""
    val src = new MemoryLines(spark)
    // 4 errors + 2 OK in one 5-minute window on ec2; 1 error on eks (under threshold)
    src.add((1 to 4).map(_ => "ec2" -> err) ++ Seq("ec2" -> goodLine, "ec2" -> goodLine, "eks" -> err): _*)
    val q = LogPipeline.aggregationMonitor(
        LogPipeline.transformed(src.load(spark)).filter(col("valid")), threshold = 3)
      .writeStream.format("memory").queryName("monitor")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val alerts = spark.table("monitor")
      .select("source", "n_errors", "severity").as[(String, Long, String)].collect().toSet
    // ec2's window fired (4 >= 3, under 2x threshold -> warning); eks did not
    assert(alerts == Set(("ec2", 4L, "warning")))
  }

  test("stream-stream interval join correlates errors with preceding deploys") {
    implicit val sq = spark.sqlContext
    // base away from epoch 0: rows AT the initial watermark (epoch 0) are
    // dropped as late by the join state-watermark filter
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    // sanity: the same condition on static frames
    val se = Seq((ts(5), "ec2", 1L), (ts(25), "ec2", 2L), (ts(5), "ecs", 3L))
      .toDF("ts", "source", "event_id")
    val sd = Seq((ts(0), "ec2"), (ts(0), "eks")).toDF("deploy_ts", "deploy_source")
    val stat = LogPipeline.errorsNearDeploys(se, sd)
      .select("event_id", "deploy_source").as[(Long, String)].collect().toSet
    assert(stat == Set((1L, "ec2")), s"static join gave $stat")

    val errs = MemoryStream[(java.sql.Timestamp, String, Long)]
    val deps = MemoryStream[(java.sql.Timestamp, String)]
    val errorsDf = errs.toDS().toDF("ts", "source", "event_id")
    val deploysDf = deps.toDS().toDF("deploy_ts", "deploy_source")
    val q = LogPipeline.errorsNearDeploys(errorsDf, deploysDf).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("errdep")
      .start()
    deps.addData((ts(0), "ec2"), (ts(0), "eks"))
    errs.addData(
      (ts(5), "ec2", 1L),    // within 10 min of ec2 deploy → joins
      (ts(25), "ec2", 2L),   // too late → no join
      (ts(5), "ecs", 3L))    // no deploy for ecs → no join
    q.processAllAvailable()
    // push the watermark forward so any held results flush
    deps.addData((ts(2000), "zzz"))
    errs.addData((ts(2000), "zzz", 99L))
    q.processAllAvailable()
    val all = spark.sql("SELECT event_id, deploy_source FROM errdep")
      .as[(Long, String)].collect().toSet
    q.stop()
    assert(all.contains((1L, "ec2")), s"all rows: $all")
    assert(!all.contains((2L, "ec2")) && !all.contains((3L, "ecs")), s"all rows: $all")
  }

  test("streaming exact dedup drops re-delivered lines within the watermark") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    val q = LogPipeline.dedupStream(ms.toDS().toDF("ts", "value")).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("dedup")
      .start()
    // duplicate inside a batch AND re-delivered in the next batch
    ms.addData((ts(0), "lineA"), (ts(1), "lineA"), (ts(0), "lineB"))
    q.processAllAvailable()
    ms.addData((ts(2), "lineA"), (ts(3), "lineC"))
    q.processAllAvailable()
    val got = spark.sql("SELECT value FROM dedup").as[String].collect().toSeq
    q.stop()
    assert(got.sorted == Seq("lineA", "lineB", "lineC"), s"got $got")
  }

  test("streaming near-dup flags band collisions verified by Jaccard; batch parity on the pair set") {
    implicit val sq = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"zzz$i").mkString(" ")
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = LogPipeline.nearDupStream(spark, ms.toDS().toDF("doc_id", "ts", "text"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardup")
      .start()
    // anchor batch: the original and an unrelated doc
    ms.addData((1L, ts(0), base), (3L, ts(0), other))
    q.processAllAvailable()
    // later: a near-copy of doc 1, an exact re-send of doc 1, and a
    // fresh unrelated doc — only the first two may be flagged
    ms.addData((2L, ts(1), near), (4L, ts(1), base), (5L, ts(1), (1 to 40).map(i => s"qqq$i").mkString(" ")))
    q.processAllAvailable()
    val got = spark.sql("SELECT DISTINCT doc_id, dup_of FROM neardup")
      .as[(Long, Long)].collect().toSet
    q.stop()
    assert(got == Set((2L, 1L), (4L, 1L)), s"got $got")
    // batch parity: the batch MinHash path finds the same non-identical
    // pair set on the same docs (the exact re-send is pair (1,4))
    val batch = graft.operators.Dedup.minhashPairsDf(
      Seq((1L, base), (2L, near), (3L, other), (4L, base),
        (5L, (1 to 40).map(i => s"qqq$i").mkString(" "))).toDF("doc_id", "text"), 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(batch == Set((1L, 2L), (1L, 4L), (2L, 4L)), s"batch $batch")
  }

  test("streaming anomaly detector flags planted spikes; batch replay is micro-batch-exact parity (C29s)") {
    import graft.streaming.AnomalyDetector
    import graft.streaming.AnomalyDetector.MetricPoint
    implicit val sq = spark.sqlContext
    // near-constant series with two planted level spikes after warmup
    def mk(i: Int): MetricPoint =
      MetricPoint("svc", i.toLong,
        if (i == 400 || i == 550) 500.0 else 10.0 + (i % 7) * 0.1)
    val series = (0 until 600).map(mk)
    val chunks = series.grouped(200).toSeq
    val ms = MemoryStream[MetricPoint]
    val q = AnomalyDetector.anomalyStream(spark, ms.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("anom")
      .start()
    chunks.foreach { c => ms.addData(c); q.processAllAvailable() }
    val streamed = spark.sql("SELECT * FROM anom")
      .as[AnomalyDetector.AnomalyOut].collect().toSet
    q.stop()
    // batch replay with matching pseudo-batch boundaries: EXACT parity
    val replayed = AnomalyDetector.replay(spark, series.toDS(), chunk = 200)
      .collect().toSet
    assert(streamed == replayed,
      s"stream-only: ${streamed -- replayed}; replay-only: ${replayed -- streamed}")
    val bySeq = replayed.map(o => o.seq -> o).toMap
    // batch 1 is untrained (no reservoir at its fit point); batch 2+ trained
    assert(!bySeq(100L).trained && bySeq(250L).trained && bySeq(450L).trained)
    // both spikes flagged; the spike value dominates its shingle so the
    // 3 successor shingles may flag too — but steady-state points well
    // away from the spikes must NOT
    assert(bySeq(400L).is_anomaly && bySeq(550L).is_anomaly,
      s"spike scores: ${bySeq(400L)} ${bySeq(550L)}")
    ((420 to 540) ++ (560 to 599)).foreach { i =>
      assert(!bySeq(i.toLong).is_anomaly, s"false positive at $i: ${bySeq(i.toLong)}")
    }
    // the model refuses to absorb anomalies: spike scores stay high in
    // the SECOND spike too (a masked model would have admitted the 400
    // spike and scored 550 low)
    assert(bySeq(550L).score > 0.65)
    // effective-★ discipline for the ☆ entry (r12): the seeded fit
    // must make replay BYTE-identical run-over-run — parity above plus
    // determinism here is the whole oracle surface an RCF-class score
    // admits (no SQL engine reproduces a seeded forest)
    val replayed2 = AnomalyDetector.replay(spark, series.toDS(), chunk = 200)
      .collect().toSet
    assert(replayed2 == replayed, "replay must be deterministic")
    val entry1 = AnomalyDetector.anomalyStreamReplay(spark, TestSpark.sf)
      .collect().map(_.toString).toSeq
    val entry2 = AnomalyDetector.anomalyStreamReplay(spark, TestSpark.sf)
      .collect().map(_.toString).toSeq
    assert(entry1 == entry2, "q_anomaly_stream must be deterministic on the sf tables")
  }

  test("streaming drift monitor: stable window stays quiet, shifted window alerts (E70)") {
    implicit val sq = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    val ms = MemoryStream[(java.sql.Timestamp, Double)]
    // reference: uniform over buckets (<10, [10,20), >=20)
    val q = graft.streaming.DriftMonitor.psiStream(
      ms.toDS().toDF("ts", "value"), edges = Seq(10.0, 20.0),
      refShares = Seq(1.0 / 3, 1.0 / 3, 1.0 / 3)).writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("drift")
      .start()
    // window 1 (minutes 0-9): matches the reference — one value per bucket
    ms.addData((ts(0), 5.0), (ts(1), 15.0), (ts(2), 25.0),
      (ts(3), 5.0), (ts(4), 15.0), (ts(5), 25.0))
    // window 2 (minutes 10-19): mass collapses into the top bucket
    ms.addData((ts(10), 25.0), (ts(11), 27.0), (ts(12), 29.0),
      (ts(13), 25.0), (ts(14), 28.0), (ts(15), 26.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT window_start, n, psi, drifted FROM drift")
      .as[(java.sql.Timestamp, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    q.stop()
    assert(rows.size == 2)
    val (w1, w2) = (rows(ts(0)), rows(ts(10)))
    assert(w1._2 == 6 && !w1._4 && w1._3 < 0.05, s"stable window drifted: $w1")
    assert(w2._2 == 6 && w2._4 && w2._3 > 1.0, s"shifted window quiet: $w2")
  }

  test("streaming token-budget gate: admits per-language until the budget fills, state persists across batches (E13s)") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[LogPipeline.BudgetDoc]
    val q = LogPipeline.tokenBudgetStream(spark, ms.toDS(), budget = 100L).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("budget")
      .start()
    // batch 1: en fills 40+50=90 (< 100, both admitted); fr takes 30
    ms.addData(
      LogPipeline.BudgetDoc("en", 1L, 40L), LogPipeline.BudgetDoc("en", 2L, 50L),
      LogPipeline.BudgetDoc("fr", 3L, 30L))
    q.processAllAvailable()
    // batch 2: en doc 4 still admitted (90 < 100 when it arrives) and
    // crosses to 150; en doc 5 rejected; fr stays open
    ms.addData(
      LogPipeline.BudgetDoc("en", 4L, 60L), LogPipeline.BudgetDoc("en", 5L, 10L),
      LogPipeline.BudgetDoc("fr", 6L, 20L))
    q.processAllAvailable()
    val rows = spark.sql("SELECT doc_id, accepted, running_total FROM budget")
      .as[(Long, Boolean, Long)].collect().toSet
    q.stop()
    assert(rows == Set(
      (1L, true, 40L), (2L, true, 90L), (3L, true, 30L),
      (4L, true, 150L), (5L, false, 150L), (6L, true, 50L)))
  }

  test("stateful sessionization emits gap-closed sessions and keeps the open one in state") {
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[LogPipeline.Ev]
    val q = LogPipeline.sessionizeStream(spark, ms.toDS()).writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("sessions")
      .start()
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    // user 1: events at t0,t5 (one session), then t60 → closes the first
    ms.addData(
      LogPipeline.Ev(1L, ts(0), 10.0), LogPipeline.Ev(1L, ts(5), 5.0),
      LogPipeline.Ev(1L, ts(60), 1.0))
    q.processAllAvailable()
    val emitted = spark.sql("SELECT user_id, n_events, session_value FROM sessions")
      .as[(Long, Long, Double)].collect()
    q.stop()
    assert(emitted.toSeq == Seq((1L, 2L, 15.0)))
  }

  test("streaming upserts: batchId seq gives update/delete semantics over the append-only store (A27s)") {
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-supsert").toString
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp, String, String, String)]
    def run() = {
      val q = LogPipeline.startUpsertIngest(spark,
        ms.toDS().toDF("doc_id", "ts", "source", "body", "op"),
        s"$root/docs", s"$root/ck")
      q.awaitTermination(60000); ()
    }
    ms.addData((1L, ts(0), "ec2", "v1", "index"), (2L, ts(0), "ec2", "v1", "index"))
    run()
    ms.addData((1L, ts(1), "ec2", "v2", "index"), (2L, ts(1), "ec2", "", "delete"),
      (3L, ts(1), "ec2", "v1", "index"))
    // a micro-batch mixing index and delete ops is ONE append job
    val (ran, rec) = QueryMetrics.measure(spark)(run())
    ran.toTry.get
    assert(rec.jobs.size == 1, s"second micro-batch ran ${rec.jobs.size} jobs")
    // every version row: seq = batchId, the delete op a tombstone
    val raw = spark.read.parquet(s"$root/docs").select("doc_id", "seq", "deleted")
      .as[(Long, Long, Boolean)].collect().sorted.toSeq
    assert(raw == Seq((1L, 0L, false), (1L, 1L, false), (2L, 0L, false), (2L, 1L, true),
      (3L, 1L, false)), s"got $raw")
    val latest = graft.sources.LogStore.readLatest(spark, s"$root/docs")
      .select("doc_id", "body").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "v2", 3L -> "v1"), s"got $latest")
  }

  test("streaming tail sampling decides a trace only when it goes quiet; errors always kept; batch-lottery parity (C71d)") {
    import graft.streaming.TailSampler
    import graft.streaming.TailSampler.SpanIn
    implicit val sq = spark.sqlContext
    def ts(min: Long) = new java.sql.Timestamp((1440 + min) * 60000L)
    val ms = MemoryStream[SpanIn]
    val q = TailSampler.sampleStream(spark, ms.toDS())
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tailsamp")
      .start()
    // two traces: A has an error span, B is healthy; both quiet after min 2
    ms.addData(
      SpanIn("A", ts(0), 1L, is_err = false), SpanIn("A", ts(2), 2L, is_err = true),
      SpanIn("B", ts(1), 3L, is_err = false))
    q.processAllAvailable()
    // no decision yet — the traces are still inside the gap
    assert(spark.sql("SELECT * FROM tailsamp").count() == 0)
    // a far-future heartbeat advances the watermark past both timeouts
    ms.addData(SpanIn("HB", ts(120), 9L, is_err = false))
    q.processAllAvailable()
    ms.addData(SpanIn("HB2", ts(240), 10L, is_err = false))
    q.processAllAvailable()
    val got = spark.sql("SELECT trace_id, n_spans, has_err, keep FROM tailsamp")
      .as[(String, Int, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    q.stop()
    assert(got.contains("A") && got.contains("B"), s"got $got")
    assert(got("A") == ("A", 2, true, true))            // error trace always kept
    assert(got("B")._4 == TailSampler.lottery("B", 10)) // healthy trace: the lottery
    // lottery parity with the BATCH plan's md5 expression
    val ids = Seq("A", "B", "u:2024-01-01-10", "x", "y", "z")
    val sparkSide = ids.toDF("trace_id")
      .select(col("trace_id"),
        (conv(substring(md5(col("trace_id")), 1, 4), 16, 10).cast("long") <
          lit(10 * 65536 / 100)).as("keep"))
      .as[(String, Boolean)].collect().toMap
    ids.foreach(id => assert(sparkSide(id) == TailSampler.lottery(id, 10), id))
  }

  test("streaming EQL sequence: matches fire in the completing micro-batch, parity with batch") {
    import graft.streaming.LogPipeline.SeqEv
    val t = (s: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[SeqEv]
    val q = LogPipeline.eqlSequenceStream(spark, ms.toDS())
      .writeStream.format("memory").queryName("eqlm")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: an open prefix — nothing may fire yet
      ms.addData(SeqEv(1L, t(1), "view"), SeqEv(1L, t(2), "click"),
        SeqEv(2L, t(3), "view"))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM eqlm").count() == 0)
      // batch 2: two purchases close over the SAME carried prefix
      // (state survived the batch boundary); user 2 has no click
      ms.addData(SeqEv(1L, t(4), "purchase"), SeqEv(1L, t(5), "purchase"),
        SeqEv(2L, t(6), "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.sql("SELECT user_id, t_view, t_click, t_purchase FROM eqlm")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, java.sql.Timestamp)]
      .collect().toSet
    assert(got == Set((1L, t(1), t(2), t(4)), (1L, t(1), t(2), t(5))))
    // micro-batch-exact parity with the batch window-algebra operator
    val batch = graft.operators.EventCorrelation.eqlChain(
      Seq((1L, 1L, "view", 1000000L), (1L, 2L, "click", 2000000L),
        (2L, 3L, "view", 3000000L), (1L, 4L, "purchase", 4000000L),
        (1L, 5L, "purchase", 5000000L), (2L, 6L, "purchase", 6000000L))
        .toDF("user_id", "event_id", "event_type", "us"),
      spanUs = LogPipeline.seqSpanMs * 1000L)
      .select(col("user_id"), unix_micros(col("t_view")),
        unix_micros(col("t_click")), unix_micros(col("t_purchase")))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch == Set((1L, 1000000L, 2000000L, 4000000L),
      (1L, 1000000L, 2000000L, 5000000L)))
  }

  test("streaming EQL tie: same-ts events bind in (ts, event_id) order like the batch window") {
    import graft.streaming.LogPipeline.{SeqEv, SeqState}
    val t = (s: Int) => java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$s%02d")
    // view and click share ts=t(2); batch ORDER BY (us, event_id) puts the
    // view (id 1) BEFORE the click (id 2), so the click completes the
    // prefix. Feed them in reversed iterator order to prove the sort,
    // not iterator stability, decides.
    val out = LogPipeline.eqlSeqFn(7L,
      Iterator(SeqEv(7L, t(2), "click", 2L), SeqEv(7L, t(2), "view", 1L),
        SeqEv(7L, t(3), "purchase", 3L)),
      org.apache.spark.sql.streaming.TestGroupState.create[SeqState](
        org.apache.spark.api.java.Optional.empty[SeqState](),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(), 0L,
        org.apache.spark.api.java.Optional.empty[java.lang.Object]()
          .asInstanceOf[org.apache.spark.api.java.Optional[Long]],
        hasTimedOut = false)).toSeq
    assert(out.map(m => (m.t_view, m.t_click, m.t_purchase)) ==
      Seq((t(2), t(2), t(3))))
    // batch operator agrees on the same rows
    val batchTie = graft.operators.EventCorrelation.eqlChain(
      Seq((7L, 2L, "click", 2000000L), (7L, 1L, "view", 2000000L),
        (7L, 3L, "purchase", 3000000L))
        .toDF("user_id", "event_id", "event_type", "us"),
      spanUs = LogPipeline.seqSpanMs * 1000L)
    assert(batchTie.count() == 1)
  }

  test("streaming tool-call audit: windowed validity rates match the batch flags (E117s)") {
    def t(s: Int) = new java.sql.Timestamp(1627571520000L + s * 1000L)
    // (event_id, ts, user_id, event_type, value) — ids straddle the
    // md5 truncation lottery; two 5-min windows via a 6-min gap
    val rows = Seq(
      (1L, t(0), 10L, "click", 12.3), (2L, t(1), 10L, "view", 5.0),
      (3L, t(2), 11L, "purchase", 249.99), (4L, t(3), 11L, "error", 1.0),
      (5L, t(360), 12L, "click", 7.5), (6L, t(361), 12L, "signup", 2.0),
      (7L, t(362), 13L, "click", 99.0), (8L, t(363), 13L, "view", 0.01))
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    ms.addData(rows: _*)
    val events = ms.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = LogPipeline.toolCallAuditStream(events)
      .writeStream.format("memory").queryName("toolaudit")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("toolaudit")
      .groupBy(col("tool"))
      .agg(sum(col("n_calls")).as("c"), sum(col("n_valid")).as("v"),
        sum(col("n_truncated")).as("tr"))
      .as[(String, Long, Long, Long)].collect().toSet
    // parity: the batch flags over the same rows, aggregated per tool
    val batch = graft.operators.SftData.toolCallFlags(
        rows.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .groupBy(col("tool"))
      .agg(count(lit(1)).as("c"),
        sum(col("parse_ok").cast("long")).as("v"),
        sum(col("trunc").cast("long")).as("tr"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    // windows actually split: 'click' lands in both 5-minute windows,
    // so window rows strictly exceed distinct tools
    assert(spark.table("toolaudit").count() >
      spark.table("toolaudit").select("tool").distinct().count())
  }

  test("windowed heavy hitters: the MG sketch keeps every >n/k item per window (C43s)") {
    def t(s: Int) = new java.sql.Timestamp(1627571520000L + s * 1000L)
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, Long)]
    // window A: item 7 appears 10/16 times (>n/k at k=8); window B
    // (6 min later): item 9 appears 6/10 times; fillers near-unique
    val winA = (1 to 10).map(_ => t(0) -> 7L) ++ (1 to 6).map(i => t(1) -> (100L + i))
    val winB = (1 to 6).map(_ => t(370) -> 9L) ++ (1 to 4).map(i => t(371) -> (200L + i))
    ms.addData(winA ++ winB: _*)
    val q = LogPipeline.windowedHeavyHitters(
        ms.toDF().toDF("ts", "item"), k = 8)
      .writeStream.format("memory").queryName("hh")
      .outputMode(OutputMode.Complete).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("hh")
      .as[(java.sql.Timestamp, Seq[Long])].collect().sortBy(_._1.getTime)
    assert(rows.length == 2)
    assert(rows(0)._2.contains(7L) && !rows(0)._2.contains(9L))
    assert(rows(1)._2.contains(9L) && !rows(1)._2.contains(7L))
    // bounded state: never more than k candidates per window
    rows.foreach(r => assert(r._2.length <= 8))
  }
}

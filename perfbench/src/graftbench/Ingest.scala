package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.sources.LogStore
import graft.streaming.LogPipeline

/** `ingest`: open-loop log delivery through `LogPipeline.startIngest`.
  *
  * Phase 1 drains a pre-staged backlog with an AvailableNow trigger
  * (throughput). Phase 2 writes files on a fixed schedule while a
  * processing-time trigger consumes them (freshness). `foldEpochs`
  * runs last. Every line is then accounted for in the store or the
  * dead-letter store and a seeded sample is compared field by field
  * with the generator's ground truth.
  */
object Ingest {
  import Main._

  private val sources = Seq("ec2", "ecs", "eks")

  /** Commit time (epoch ms) and duration breakdown of each micro-batch. */
  final case class Batch(id: Long, startMs: Double, endMs: Double, rows: Long,
                         durations: Map[String, Long])

  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentHashMap[Long, Batch]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + d.getOrElse("triggerExecution", 0L)
      // an idle trigger (no new files) reports progress without a batch
      if (p.numInputRows > 0 || !batches.containsKey(p.batchId))
        batches.put(p.batchId, Batch(p.batchId, start, end, p.numInputRows, d))
    }
  }

  /** Phase 1's backlog: 60 files of 1,000 lines, drained in 6
    * micro-batches (~11 s on 4 cores), so the query's start-up (~1.5 s)
    * is a small share of its wall.
    */
  private val backlogFiles = 60
  private val linesPerFile = 1000
  private val maxFilesPerTrigger = 10
  /** Event time advances this much per generated line. */
  private val eventStepMs = 2000.0
  private val drainTimeoutS = 30.0
  private val tailPercentile = 0.95
  private val sampleLines = 200

  /** What the checks need of the generated lines, gathered as they are
    * made so the lines themselves are not kept: counts per (source,
    * format) and dead-letter counts per source, plus the lines of a
    * seeded sample of sequence numbers with the index of their file.
    */
  final class Truth(sampleSeqs: Set[Long]) {
    val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val dlq = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val sample = scala.collection.mutable.ArrayBuffer.empty[(Gen.Line, Int)]
    var lines = 0L
    var files = 0

    def add(file: Seq[Gen.Line]): Unit = {
      file.foreach { l =>
        if (l.format == null) dlq(l.source) += 1
        else {
          counts((l.source, l.format)) += 1
          if (sampleSeqs(l.seq)) sample += ((l, files))
        }
      }
      lines += file.size
      files += 1
    }
  }

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val c = cfg(a, "ingest")
    val liveLinesPerS = num(c \ "live_lines_per_s")
    val liveFilesPerS = num(c \ "live_files_per_s")
    val triggerMs = num(c \ "trigger_ms").toLong
    val liveLinesPerFile = math.max(1, math.round(liveLinesPerS / liveFilesPerS).toInt)
    val liveFiles = math.max(1, math.round(a.seconds * liveFilesPerS).toInt)
    val total = backlogFiles.toLong * linesPerFile + liveFiles.toLong * liveLinesPerFile
    val sampleRnd = new java.util.SplittableRandom(a.seed ^ 0x5eedL)
    val sampleSeqs = Seq.fill(sampleLines)(sampleRnd.nextLong(total)).toSet

    // ---- set-up: the backlog generated and written (timed several
    // times, median kept), the live files generated as bytes, then a
    // warm-up ingest. Only the last staging's ground truth is kept.
    var truth: Truth = null
    var live: Array[(String, Array[Byte])] = null
    val stageMs = (1 to setupReps).map { r =>
      val dir = a.work.resolve(s"stage-$r")
      val (_, ms) = timed {
        val gen = new Gen.Lines(a.seed, traffic(a), Gen.eventStart, eventStepMs)
        val t = new Truth(sampleSeqs)
        (0 until backlogFiles).foreach { i =>
          val f = gen.file(linesPerFile)
          Gen.writeFile(dir.resolve(f.head.source), f"backlog-$i%05d.log", f)
          t.add(f)
        }
        live = Array.fill(liveFiles) {
          val f = gen.file(liveLinesPerFile)
          t.add(f)
          (f.head.source, Gen.body(f))
        }
        truth = t
      }
      if (r < setupReps) deleteTree(dir)
      ms
    }
    val in = a.work.resolve(s"stage-$setupReps")
    val (_, warmMs) = timed(warmUp(spark, a))
    res.setup("inputs_ms_reps") = stageMs
    res.setup("warmup_s") = warmMs / 1000.0
    res.setup("total_s") = res.setup("session_s").asInstanceOf[Double] +
      median(stageMs) / 1000.0 + warmMs / 1000.0

    val out = a.work.resolve("store")
    val ckpt = a.work.resolve("checkpoint")
    val progress = new Progress
    spark.streams.addListener(progress)
    Trace.reset()
    Heap.reset()

    // ---- phase 1: backlog
    val p1Start = Trace.nowMs
    val q1 = LogPipeline.startIngest(spark, in.toString, out.toString, ckpt.toString,
      Trigger.AvailableNow(), Some(maxFilesPerTrigger))
    q1.awaitTermination()
    Trace.drain(spark)
    val p1Batches = progress.batches.values.asScala.toSeq.filter(_.rows > 0).sortBy(_.id)
    val p1End = p1Batches.map(_.endMs).foldLeft(p1Start)(math.max)
    val backlogLines = backlogFiles.toLong * linesPerFile
    val p1Ids = p1Batches.map(_.id).toSet

    // ---- phase 2: live files on a fixed schedule; the writer drops
    // each file's bytes once written
    val periodMs = 1000.0 / liveFilesPerS
    val scheduled = new Array[Double](liveFiles)
    val written = new Array[Double](liveFiles)
    val names = Array.tabulate(liveFiles)(i => f"live-$i%05d.log")
    val p2Start = Trace.nowMs
    val q2 = LogPipeline.startIngest(spark, in.toString, out.toString, ckpt.toString,
      Trigger.ProcessingTime(triggerMs))
    val genStart = Trace.nowMs + 200.0
    val writer = new Thread(() => {
      var i = 0
      while (i < liveFiles) {
        val due = genStart + i * periodMs
        val wait = due - Trace.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
        scheduled(i) = due
        val (source, body) = live(i)
        Gen.writeBytes(in.resolve(source), names(i), body)
        live(i) = null
        written(i) = Trace.nowMs
        i += 1
      }
    }, "graftbench-generator")
    writer.setDaemon(true)
    writer.start()
    writer.join()
    val liveLines = liveFiles.toLong * liveLinesPerFile
    val deadline = Trace.nowMs + drainTimeoutS * 1000.0
    def liveCommitted = progress.batches.values.asScala.filterNot(b => p1Ids(b.id)).map(_.rows).sum
    while (liveCommitted < liveLines && Trace.nowMs < deadline) Thread.sleep(20)
    val drained = liveCommitted >= liveLines
    val p2End = Trace.nowMs
    // the live heap while the query still runs: what graft keeps for it
    Heap.close(res)
    q2.stop()
    Trace.drain(spark)

    // ---- fold
    val before = dataFiles(out.resolve("logs"))
    val dlqFiles = dataFiles(out.resolve("dlq"))
    val (_, foldMs) = timed(LogStore.foldEpochs(spark, out.resolve("logs").toString))
    val after = dataFiles(out.resolve("logs"))
    spark.streams.removeListener(progress)

    // ---- freshness: file → carrying batch (from the source log) → commit
    val batchOf = sourceLog(ckpt)
    val batches = progress.batches.asScala
    val fresh = (0 until liveFiles).flatMap { i =>
      batchOf.get(names(i)).flatMap(batches.get).map(b => b.endMs - scheduled(i))
    }
    val lateMs = (0 until liveFiles).map(i => written(i) - scheduled(i))
    res.attempted = backlogFiles + liveFiles
    if (!drained) res.fail(liveFiles - fresh.size, s"live phase not drained: ${fresh.size}/$liveFiles files committed")
    else if (fresh.size < liveFiles) res.fail(liveFiles - fresh.size, "live files missing from the source log")

    // ---- checks against the generator's ground truth
    val ((storeRows, dlqRows), checkMs) = timed(check(spark, a, res, out, truth))
    res.info("phase_ms") = Map("backlog" -> (p1End - p1Start), "live" -> (p2End - p2Start),
      "fold" -> foldMs, "check" -> checkMs)

    val lines = truth.lines
    val (logFiles, logBytes) = after
    res.e2e("throughput_per_s") = backlogLines / ((p1End - p1Start) / 1000.0)
    res.e2e("latency_ms") = median(fresh)
    res.e2e("tail_latency_ms") = percentile(fresh, tailPercentile)
    res.e2e("bytes_per_row") = (logBytes + dlqFiles._2).toDouble / lines
    res.named ++= Seq(
      "ingest_rows_per_s" -> res.e2e("throughput_per_s"),
      "freshness_p50_ms" -> res.e2e("latency_ms"),
      f"freshness_p${tailPercentile * 100}%.0f_ms" -> res.e2e("tail_latency_ms"),
      "store_bytes_per_line" -> res.e2e("bytes_per_row"))
    // each backlog batch's lines over its commit-to-commit interval
    val p1Rates = p1Batches.zip(p1Start +: p1Batches.map(_.endMs)).map { case (b, prev) =>
      b.rows / ((b.endMs - prev) / 1000.0)
    }
    res.info("backlog_batches") = p1Batches.size
    res.info("backlog_batch_rows_per_s_median") = median(p1Rates)
    res.info("freshness_samples") = fresh.size
    res.info("freshness_tail_beyond") = beyond(fresh, tailPercentile)
    res.info("backlog_lines") = backlogLines
    res.info("live_lines") = liveLines
    res.info("live_rate") = Map("lines_per_s" -> liveLinesPerS, "files_per_s" -> liveFilesPerS,
      "trigger_ms" -> triggerMs)

    if (a.trace) {
      val all = progress.batches.values.asScala.toSeq.filter(_.rows > 0).sortBy(_.id)
      def dsum(k: String) = all.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      // backlog in files at each commit: written so far minus carried so far
      val carried = batchOf.values.groupBy(identity).map { case (b, xs) => b -> xs.size }
      val backlogMax = all.filterNot(b => p1Ids(b.id)).map { b =>
        val w = written.count(_ <= b.endMs)
        val done = carried.filter(_._1 <= b.id).values.sum - backlogFiles
        (w - done).toDouble
      }.foldLeft(0.0)(math.max)
      res.layers ++= Seq(
        "streaming.batches" -> all.size.toDouble,
        "streaming.add_batch_ms" -> dsum("addBatch"),
        "streaming.query_planning_ms" -> dsum("queryPlanning"),
        "streaming.get_batch_ms" -> dsum("getBatch"),
        "streaming.latest_offset_ms" -> dsum("latestOffset"),
        "streaming.wal_commit_ms" -> dsum("walCommit"),
        "streaming.backlog_files_max" -> backlogMax,
        "streaming.generator_late_ms" -> lateMs.foldLeft(0.0)(math.max))
      // spans for each micro-batch: its phases laid out in execution order
      all.foreach { b =>
        val u = s"batch-${b.id}"
        val root = Trace.record(0L, u, "batch", "streaming", b.startMs, b.endMs)
        var t = b.startMs
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k =>
            val d = b.durations.getOrElse(k, 0L).toDouble
            if (d > 0) Trace.record(root, u, k, "streaming", t, t + d)
            t += d
          }
      }
      val isBatch = (u: String) => u.startsWith("batch-")
      val split = Trace.layerSplit(_ == "batch")
      Trace.report(res, split)
      res.layers ++= Trace.operators(isBatch, p1End - p1Start + p2End - p2Start, spark.sparkContext.defaultParallelism)
      res.layers ++= Trace.plans(isBatch)
      replay(spark, a, res, in, batchOf)
      val (wf, wb) = (before._1 + dlqFiles._1, before._2 + dlqFiles._2)
      res.layers ++= Seq(
        "functions.valid_ratio" -> storeRows.toDouble / (storeRows + dlqRows),
        "sources.store_files_written" -> wf.toDouble,
        "sources.store_bytes_written" -> wb.toDouble,
        "sources.fold_ms" -> foldMs,
        "sources.fold_bytes_rewritten" -> before._2.toDouble,
        "sources.files_after_fold" -> logFiles.toDouble)
    }
  }

  /** The file source's log (`sources/0` of the checkpoint): file name → batch id. */
  def sourceLog(ckpt: Path): Map[String, Long] = {
    val dir = ckpt.resolve("sources").resolve("0")
    val pat = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val m = scala.collection.mutable.Map.empty[String, Long]
    Files.list(dir).iterator.asScala.filter(p => !p.getFileName.toString.startsWith(".")).foreach { f =>
      Files.readAllLines(f).asScala.foreach { l =>
        pat.findFirstMatchIn(l).foreach { mt =>
          val name = mt.group(1).split('/').last
          val b = mt.group(2).toLong
          m(name) = m.get(name).fold(b)(math.min(_, b))
        }
      }
    }
    m.toMap
  }

  /** Replays of one recorded backlog batch, timed layer by layer: the
    * parse battery into a no-op sink, then the store write.
    */
  private def replay(spark: SparkSession, a: Args, res: Result, in: Path,
                     batchOf: Map[String, Long]): Unit = {
    val files = sources.flatMap { s =>
      Files.list(in.resolve(s)).iterator.asScala.toSeq
        .filter(p => batchOf.get(p.getFileName.toString).contains(0L)).map(_.toString)
    }
    val raw = spark.read.text(files: _*)
      .withColumn("source", regexp_extract(input_file_name(), "/(ec2|ecs|eks|lambda)/", 1))
    val rows = raw.count()
    val parseMs = (1 to 3).map { _ =>
      timed(LogPipeline.transformed(raw).write.format("noop").mode("overwrite").save())._2
    }
    val parsed = LogPipeline.transformed(raw).filter(col("valid")).drop("valid", "line").persist()
    parsed.count()
    val writeMs = (1 to 3).map { r =>
      val root = a.work.resolve(s"replay-$r").resolve("logs").toString
      timed(LogPipeline.idempotentBatchWrite(parsed, root, 0L, Seq("log_date", "source")))._2
    }
    parsed.unpersist()
    res.layers ++= Seq(
      "functions.parse_ms" -> median(parseMs),
      "functions.parse_rows" -> rows.toDouble,
      "sources.store_write_ms" -> median(writeMs))
  }

  /** Every line is in the store or the dead-letter store, counts match
    * per (source, format), the valid share equals the planted one, and a
    * seeded sample parses field for field. Returns (store rows, DLQ rows).
    */
  private def check(spark: SparkSession, a: Args, res: Result, out: Path,
                    truth: Truth): (Long, Long) = {
    val files = truth.files
    val store = spark.read.parquet(out.resolve("logs").toString)
    val dlq = spark.read.parquet(out.resolve("dlq").toString)
    val got = store.groupBy("source", "format").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val gotDlq = dlq.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (storeRows, dlqRows) = (got.values.sum, gotDlq.values.sum)
    if (storeRows + dlqRows != truth.lines)
      res.fail(files, s"store rows $storeRows + dead-letter rows $dlqRows != ${truth.lines} lines generated")
    if (got != truth.counts.toMap) res.fail(files, s"store counts per (source, format) $got != ${truth.counts}")
    if (gotDlq != truth.dlq.toMap) res.fail(files, s"dead-letter counts per source $gotDlq != ${truth.dlq}")
    val planted = truth.counts.values.sum
    if (storeRows * truth.lines != planted * (storeRows + dlqRows))
      res.fail(files, s"valid share $storeRows/${storeRows + dlqRows} != planted $planted/${truth.lines}")
    if (Files.exists(out.resolve("delivery_dlq"))) res.fail(1, "delivery dead-letter store is not empty")

    val sample = truth.sample.toSeq
    val keys = sample.map { case (l, _) => Option(l.path).getOrElse(l.msg) }
    val found = store.filter(col("path").isin(keys: _*) || col("msg").isin(keys: _*))
      .select(col("source"), col("format"), unix_timestamp(col("ts")).as("ts_s"), col("ip"),
        col("verb"), col("path"), col("status"), col("bytes"), col("level"), col("msg"))
      .collect()
      .map(r => Option(r.getString(5)).getOrElse(r.getString(9)) -> r).toMap
    val bad = sample.filterNot { case (l, _) =>
      found.get(Option(l.path).getOrElse(l.msg)).exists { r =>
        def lng(i: Int): Any = if (r.isNullAt(i)) null else r.getLong(i)
        r.getString(0) == l.source && r.getString(1) == l.format && lng(2) == l.epochS &&
          r.getString(3) == l.ip && r.getString(4) == l.verb &&
          lng(6) == (if (l.format == "access") l.status else null) &&
          lng(7) == (if (l.format == "access") l.bytes else null) &&
          r.getString(8) == l.level && r.getString(9) == l.msg
      }
    }
    if (bad.nonEmpty)
      res.fail(bad.map(_._2).distinct.size,
        s"${bad.size}/${sample.size} sampled lines differ from ground truth, e.g. seq ${bad.head._1.seq}")
    res.info("sampled_lines") = sample.size
    (storeRows, dlqRows)
  }

  /** A small ingest of its own seed into its own directories, so the
    * timed phases run with compiled code paths.
    */
  private def warmUp(spark: SparkSession, a: Args): Unit = {
    val g = new Gen.Lines(a.seed + 1000003L, traffic(a), Gen.eventStart, 2000.0)
    val root = a.work.resolve("warmup")
    (0 until 2).foreach { i =>
      val f = g.file(400)
      Gen.writeFile(root.resolve("in").resolve(f.head.source), f"w-$i%03d.log", f)
    }
    // two micro-batches: the per-batch driver path (listing, planning,
    // commit) compiles only after repeats
    LogPipeline.startIngest(spark, root.resolve("in").toString, root.resolve("out").toString,
      root.resolve("ckpt").toString, Trigger.AvailableNow(), Some(1)).awaitTermination()
  }
}

package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark: one workload, one seed, one run.
  *
  * `run.py` builds this together with graft's sources, starts it with
  * a fresh work directory, and afterwards runs the DuckDB checks it
  * lists in its result file.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <config.json>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, cfg: JValue)

  /** What a workload hands back: metrics, counts and the checks left to DuckDB. */
  final class Result {
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val named = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val setup = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val checks = scala.collection.mutable.ArrayBuffer.empty[Json.Raw]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    def fail(units: Long, why: String): Unit = { failed += units; failures += why }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, JsonMethods.parse(Files.readString(Paths.get(argv(5)))))
    val t0 = Trace.nowMs
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("checkpoints").toString)
      .config("spark.graft.scratch.dir", a.work.resolve("scratch").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (Trace.nowMs - t0) / 1000.0
    Heap.install()
    if (a.trace) Trace.install(spark)
    val res = new Result
    res.setup("session_s") = sessionS
    res.info("nproc") = nproc
    res.info("conf") = spark.conf.getAll.filter(_._1.startsWith("spark.sql")).toMap
    val calib = Calib.run(spark)
    res.info("calib_ms") = calib
    res.info("calib_done_s") = (Trace.nowMs - t0) / 1000.0
    try {
      a.workload match {
        case "ingest"    => Ingest.run(spark, a, res)
        case "dashboard" => Dashboard.run(spark, a, res)
        case "curation"  => Curation.run(spark, a, res)
        case other       => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(math.max(1L, res.attempted), s"workload threw ${e.getClass.getName}: ${e.getMessage}")
    }
    res.e2e("setup_s") = res.setup.get("total_s").collect { case d: Double => d }.getOrElse(0.0)
    if (a.trace) calib.foreach { case (k, v) => res.layers(s"calib.${k}_ms") = v }
    res.info("workload_done_s") = (Trace.nowMs - t0) / 1000.0
    if (a.trace) writeSpans(spark, a)
    val out = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "e2e" -> res.e2e, "named" -> res.named, "per_layer" -> res.layers,
      "setup" -> res.setup, "info" -> res.info,
      "attempted" -> res.attempted, "failed" -> res.failed, "failures" -> res.failures.toSeq,
      "checks" -> res.checks.toSeq)
    Files.writeString(a.work.resolve("result.json"), out.s)
    spark.stop()
  }

  private def writeSpans(spark: SparkSession, a: Args): Unit = {
    Trace.drain(spark)
    val w = Files.newBufferedWriter(a.work.resolve("spans.jsonl"), StandardCharsets.UTF_8)
    try Trace.spanLines().foreach { l => w.write(l.s); w.write('\n') } finally w.close()
  }

  // ---- helpers shared by the workloads ---------------------------------

  def cfg(a: Args, path: String*): JValue = path.foldLeft(a.cfg)(_ \ _)
  def num(j: JValue): Double = j match {
    case JInt(v) => v.toDouble
    case JDouble(v) => v
    case JDecimal(v) => v.toDouble
    case JLong(v) => v.toDouble
    case other => throw new IllegalArgumentException(s"config: expected a number, got $other")
  }
  def str(j: JValue): String = j match {
    case JString(s) => s
    case other => throw new IllegalArgumentException(s"config: expected a string, got $other")
  }
  def arr(j: JValue): List[JValue] = j match {
    case JArray(xs) => xs
    case other => throw new IllegalArgumentException(s"config: expected an array, got $other")
  }

  /** Size of the generated tables the registered queries and the
    * curation jobs read: the sf0.01 shape.
    */
  val tableScale = Gen.Scale(10000, 500)

  /** Times an input set-up is repeated for `setup_s`; the median is kept. */
  val setupReps = 3

  /** Seed of the generated tables, fixed across runs (`config.json` → `seeds`). */
  def tableSeed(a: Args): Long = num(cfg(a, "seeds", "tables")).toLong

  /** Shape of the generated log traffic (`config.json` → `traffic`). */
  def traffic(a: Args): Gen.Traffic = {
    val t = cfg(a, "traffic")
    Gen.Traffic(
      Seq("ec2", "ecs", "eks").map(s => s -> num(t \ "source_shares" \ s)),
      num(t \ "error_share"), num(t \ "malformed_share"), num(t \ "late_share"),
      num(t \ "late_max_days").toInt)
  }

  /** Run `body` on its own thread; the returned function joins it and
    * hands back its value, or rethrows what it threw.
    */
  def background[T](body: => T): () => T = {
    @volatile var out: Either[Throwable, T] = null
    val t = new Thread(() => { out = try Right(body) catch { case e: Throwable => Left(e) } })
    t.start()
    () => { t.join(); out.fold(e => throw e, identity) }
  }

  def shuffle[T](rnd: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank-interpolated percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Number of samples above the p-th percentile; a percentile is only
    * reported as valid with at least ten beyond it.
    */
  def beyond(xs: Seq[Double], p: Double): Int = {
    val v = percentile(xs, p)
    xs.count(_ > v)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = Trace.nowMs
    val r = body
    (r, Trace.nowMs - t0)
  }

  /** Regular files under `dir` whose names do not start with `.` or `_`
    * (data files, not checksums or markers): (count, bytes).
    */
  def dataFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        val fs = s.iterator.asScala.filter(p => Files.isRegularFile(p) && {
          val n = p.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def countFiles(dir: Path, name: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.count(_.getFileName.toString == name).toLong finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }

  /** Order-independent digest of a collected result. Doubles are cut to
    * 12 significant digits, so two runs of one plan whose float sums
    * were added in another order still compare equal.
    */
  def digest(rows: Seq[org.apache.spark.sql.Row]): String = {
    def cell(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.12g"
      case f: Float => cell(f.toDouble)
      case r: org.apache.spark.sql.Row => r.toSeq.map(cell).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map(kv => cell(kv._1) + "→" + cell(kv._2)).sorted.mkString("{", ",", "}")
      case other => other.toString
    }
    val lines = rows.map(cell).sorted
    graft.sources.Scratch.digest(lines: _*)
  }

  /** Write collected rows as one parquet file for the DuckDB check. */
  def writeRows(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                schema: org.apache.spark.sql.types.StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
}

/** Heap in use after each GC of the timed region, from the GC
  * notifications, and the live heap that closes the region.
  */
object Heap {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val l = new NotificationListener {
      override def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          samples.add(used)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ =>
    }
  }

  def reset(): Unit = samples.clear()

  /** After-GC heap samples of the region: count, median and max in MB. */
  def summary(): Map[String, Double] = {
    val mb = samples.asScala.toSeq.map(_.toDouble / (1024.0 * 1024.0))
    Map("gcs" -> mb.size.toDouble, "median_mb" -> Main.median(mb),
      "peak_mb" -> mb.foldLeft(0.0)(math.max))
  }

  /** Close the timed region with full collections while the workload's
    * graft state is still live (ingest: the streaming query still runs).
    * The benchmark keeps only summaries of its ground truth by then, so
    * the figure is graft's and Spark's. A collection that lands while
    * work is still in flight also counts that work's buffers, so
    * `heap_live_mb` is the least heap in use after three collections
    * 300 ms apart: the state that stays. The three readings and the
    * region's after-GC samples go to the detail line.
    */
  def close(res: Main.Result): Unit = {
    res.info("heap_after_gc") = summary()
    val mb = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    res.e2e("heap_live_mb") = mb.min
    res.info("heap_live_mb_reads") = mb
  }
}

/** Fixed-work probes timed at the start of every run, so a slower or
  * faster machine shows in the output before any metric is compared.
  */
object Calib {
  /** Written by the CPU probe so the JIT cannot drop its loop. */
  @volatile var sink = 0L

  def run(spark: SparkSession): Map[String, Double] = {
    def cpu(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 30000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 1023
        i += 1
      }
      sink = acc
      (System.nanoTime() - t0) / 1e6
    }
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 1000000, 1, spark.sparkContext.defaultParallelism)
        .selectExpr("sum(hash(id) % 1000) AS s").collect()
      (System.nanoTime() - t0) / 1e6
    }
    cpu(); job()
    Map("cpu" -> Main.median(Seq.fill(5)(cpu())), "spark" -> Main.median(Seq.fill(3)(job())))
  }
}

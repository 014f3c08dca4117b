package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** The benchmark's tracer. It watches the program only from outside:
  * spans around the benchmark's own calls into graft's public API, plus
  * Spark's job/stage/task, SQL-execution and streaming-progress events.
  *
  * Spans stay in memory until the run ends. With tracing off only
  * `request` (which tags Spark jobs with the unit of work they serve)
  * and the clock remain, so the untraced run pays next to nothing.
  */
object Trace {
  @volatile var on: Boolean = false

  /** Wall clock in epoch ms with sub-ms resolution; Spark's own event
    * times are epoch ms, so both land on one axis.
    */
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** One traced interval. `unit` is the request/job/batch it belongs to. */
  final case class Span(id: Long, parent: Long, unit: String, name: String,
                        layer: String, start: Double, end: Double)

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val unitProp = "graftbench.unit"

  /** Run one unit of work (request / job of the list) as a root span,
    * tagging every Spark job it starts with the unit's id.
    */
  def unit[T](spark: SparkSession, id: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(unitProp, id)
    try span(name, "driver", id)(body)
    finally sc.setLocalProperty(unitProp, null)
  }

  /** A span around one call into a layer; nests under the caller's span. */
  def span[T](name: String, layer: String, unitId: String = null)(body: => T): T =
    if (!on) body
    else {
      val outer = stack.get()
      val u = if (unitId != null) unitId else outer.headOption.map(_._2).orNull
      val id = ids.incrementAndGet()
      stack.set((id, u) :: outer)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), u, name, layer, t0, nowMs))
        stack.set(outer)
      }
    }

  /** Add a span whose times come from elsewhere (progress events). */
  def record(parent: Long, unitId: String, name: String, layer: String,
             start: Double, end: Double): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, unitId, name, layer, start, end))
    id
  }

  // ---- Spark-side records ------------------------------------------------

  final class StageRec(val id: Int) {
    var jobId = -1
    var start, end = 0.0
    var tasks = 0
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  final case class JobRec(id: Int, unit: String, execId: Long, start: Double,
                          var end: Double, stageIds: Seq[Int])
  final case class ExecRec(id: Long, phases: Seq[(String, Double, Double)],
                           scanFiles: Long, scanBytes: Long, partitions: Long,
                           listingMs: Long)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val execs = new ConcurrentHashMap[Long, ExecRec]()

  /** Job, stage and task events → records. Installed only when tracing. */
  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val unit = prop(unitProp)
        .orElse(prop("streaming.sql.batchId").map(b => s"batch-$b")).orNull
      val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, JobRec(e.jobId, unit, exec, e.time.toDouble, e.time.toDouble,
        e.stageIds))
      e.stageIds.foreach(s => stages.computeIfAbsent(s, k => new StageRec(k)).jobId = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val r = stages.computeIfAbsent(i.stageId, k => new StageRec(k))
      r.synchronized {
        r.start = i.submissionTime.getOrElse(0L).toDouble
        r.end = i.completionTime.getOrElse(0L).toDouble
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.BenchSqlAccess.queryExecution(end))
          .foreach(qe => recordExec(end.executionId, qe))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val r = stages.computeIfAbsent(e.stageId, k => new StageRec(k))
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.durations += e.taskInfo.duration
      }
    }
  }

  /** Planning phases and scan metrics of a finished SQL execution, keyed
    * by the execution id its jobs carry.
    */
  private def recordExec(executionId: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.collect {
      case (name, ps) if name != "parsing" => (name, ps.startTimeMs.toDouble, ps.endTimeMs.toDouble)
    }
    var files, bytes, parts, listing = 0L
    scans(qe).foreach { m =>
      def v(k: String) = m.get(k).map(_.value).filter(_ > 0).getOrElse(0L)
      files += v("numFiles"); bytes += v("filesSize")
      parts += v("numPartitions"); listing += v("metadataTime")
    }
    execs.put(executionId, ExecRec(executionId, phases, files, bytes, parts, listing))
  }

  private def scans(qe: QueryExecution) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, org.apache.spark.sql.execution.metric.SQLMetric]]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => out += s.metrics
      case other => other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    scala.util.Try(walk(qe.executedPlan))
    out.toSeq
  }

  def install(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(new Listener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchAccess.drain(spark.sparkContext)

  def reset(): Unit = {
    spans.clear(); jobs.clear(); stages.clear(); execs.clear(); unitRows.clear()
  }

  // ---- analysis --------------------------------------------------------

  /** Per-layer totals of one run, summed over its units. */
  final case class LayerSplit(selfMs: Map[String, Double], wallMs: Double, maxErr: Double,
                              units: Int, noJobMs: Double)

  /** Per-unit rows of the last split, written to the span file. */
  val unitRows = new ConcurrentLinkedQueue[Json.Raw]()

  /** Build each unit's span tree (client spans + its Spark jobs, stages
    * and planning phases) and attribute every instant of it to the
    * most specific span active then (stage > job > planning > client
    * call > unit root; concurrent peers split the instant). A layer's
    * self time is the time so attributed; the check compares their sum
    * with the unit's wall time.
    */
  def layerSplit(rootNames: String => Boolean): LayerSplit = {
    val all = spans.asScala.toSeq
    val roots = all.filter(s => s.parent == 0L && s.unit != null && rootNames(s.name))
    val byUnit = all.groupBy(_.unit)
    // a micro-batch's jobs carry its batch id, but the file source's
    // listing job for the NEXT batch runs before that id is updated —
    // streaming jobs go to the batch whose trigger window they start in
    val batchRoots = roots.filter(_.unit.startsWith("batch-")).sortBy(_.start)
    val jobsByUnit = jobs.values.asScala.toSeq.groupBy { j =>
      if (j.unit == null || !j.unit.startsWith("batch-")) j.unit
      else batchRoots.find(r => r.start <= j.start && j.start <= r.end).map(_.unit).getOrElse(j.unit)
    }
    val totals = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var maxErr = 0.0
    var wall = 0.0
    var noJob = 0.0
    roots.foreach { root =>
      val unitJobs = jobsByUnit.getOrElse(root.unit, Nil)
      // (start, end, layer, rank) — higher rank is more specific:
      // client spans rank by nesting depth, then planning, job, stage
      val own = byUnit.getOrElse(root.unit, Nil)
      val parentOf = own.map(s => s.id -> s.parent).toMap
      def depth(id: Long): Int = parentOf.get(id).filter(_ != 0L).map(depth(_) + 1).getOrElse(0)
      val iv = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, String, Int)]
      own.foreach(s => iv += ((s.start, s.end, s.layer, math.min(depth(s.id), 50))))
      unitJobs.foreach { j =>
        iv += ((j.start, j.end, "operators", 61))
        j.stageIds.flatMap(id => Option(stages.get(id))).filter(_.end > 0)
          .foreach(st => iv += ((st.start, st.end, "operators", 62)))
      }
      unitJobs.map(_.execId).distinct.flatMap(e => Option(execs.get(e))).foreach { ex =>
        ex.phases.foreach { case (_, a, b) => if (b > a) iv += ((a, b, "plans", 60)) }
      }
      val self = sweep(iv.toSeq)
      val sum = self.values.sum
      val w = root.end - root.start
      unitRows.add(Json.obj("kind" -> "unit", "unit" -> root.unit, "wall_ms" -> w,
        "self_ms" -> self, "jobs" -> unitJobs.size))
      if (w > 0) maxErr = math.max(maxErr, math.abs(sum - w) / w)
      wall += w
      noJob += math.max(0.0, w - union(unitJobs.map(j =>
        (math.max(j.start, root.start), math.min(j.end, root.end))).filter(x => x._2 > x._1)))
      self.foreach { case (k, v) => totals(k) += v }
    }
    LayerSplit(totals.toMap, wall, maxErr, roots.size, noJob)
  }

  private def sweep(iv: Seq[(Double, Double, String, Int)]): Map[String, Double] = {
    val pts = iv.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    pts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = iv.filter(x => x._1 <= a && x._2 >= b)
        if (live.nonEmpty) {
          val top = live.map(_._4).max
          val peers = live.filter(_._4 == top)
          peers.foreach(p => out(p._3) += (b - a) / peers.size)
        }
      case _ =>
    }
    out.toMap
  }

  /** Self times of one run's units, per layer, plus the self-check. */
  def report(res: Main.Result, s: LayerSplit): Unit = {
    val n = math.max(1, s.units).toDouble
    res.layers("trace.units") = s.units.toDouble
    res.layers("trace.selfcheck_max_err") = s.maxErr
    res.layers("trace.unit_wall_ms") = s.wallMs / n
    res.layers("operators.driver_ms") = s.noJobMs / n
    Seq("streaming", "functions", "sources", "plans", "operators", "driver").foreach { l =>
      res.layers(s"self.${l}_ms") = s.selfMs.getOrElse(l, 0.0) / n
    }
    if (s.maxErr > 0.10) res.fail(1, f"trace self-check: layer self times off wall by ${s.maxErr * 100}%.1f%%")
  }

  /** Per-request (or per-job) averages of summed counters; ratios and
    * maxima pass through.
    */
  def perUnit(m: Map[String, Double], n: Double): Map[String, Double] = m.map {
    case (k, v) if k.endsWith("_ratio") || k.endsWith("_skew") => k -> v
    case (k, v) => k -> v / n
  }

  /** Stage/task aggregates of the jobs that served `units`. */
  def operators(units: String => Boolean, wallMs: Double, cores: Int): Map[String, Double] = {
    val js = jobs.values.asScala.filter(j => j.unit != null && units(j.unit)).toSeq
    val st = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id))).filter(_.tasks > 0)
    def sum(f: StageRec => Long) = st.map(f).sum.toDouble
    val skew = st.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(1.0, d(d.size / 2).toDouble)
    }.foldLeft(1.0)(math.max)
    Map(
      "operators.stages" -> st.size.toDouble,
      "operators.tasks" -> sum(_.tasks.toLong),
      "operators.executor_run_ms" -> sum(_.runMs),
      "operators.executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "operators.core_busy_ratio" -> (if (wallMs > 0) sum(_.runMs) / (wallMs * cores) else 0.0),
      "operators.task_skew" -> skew,
      "operators.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "operators.shuffle_read_bytes" -> sum(_.shuffleRead),
      "operators.shuffle_fetch_wait_ms" -> sum(_.fetchWaitMs),
      "operators.spill_bytes" -> sum(_.spill),
      "operators.gc_ms" -> sum(_.gcMs),
      "plans.jobs" -> js.size.toDouble)
  }

  /** Planning time and scan metrics of the SQL executions behind `units`. */
  def plans(units: String => Boolean): Map[String, Double] = {
    val ex = jobs.values.asScala.filter(j => j.unit != null && units(j.unit)).map(_.execId)
      .toSeq.distinct.flatMap(e => Option(execs.get(e)))
    Map(
      "plans.planning_ms" -> ex.flatMap(_.phases).map(p => p._3 - p._2).sum,
      "sources.scan_files" -> ex.map(_.scanFiles).sum.toDouble,
      "sources.scan_bytes" -> ex.map(_.scanBytes).sum.toDouble,
      "sources.partitions_read" -> ex.map(_.partitions).sum.toDouble,
      "sources.listing_ms" -> ex.map(_.listingMs).sum.toDouble)
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > curE) {
        if (open) total += curE - curS
        curS = a; curE = b; open = true
      } else curE = math.max(curE, b)
    }
    if (open) total += curE - curS
    total
  }

  /** Spans as JSON lines (the span file of a traced run). */
  def spanLines(): Iterator[Json.Raw] = {
    val client = spans.asScala.iterator.map { s =>
      Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit,
        "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end)
    }
    val js = jobs.values.asScala.iterator.map { j =>
      Json.obj("kind" -> "job", "id" -> j.id, "unit" -> j.unit, "exec" -> j.execId,
        "start" -> j.start, "end" -> j.end, "stages" -> j.stageIds)
    }
    val st = stages.values.asScala.iterator.filter(_.tasks > 0).map { s =>
      Json.obj("kind" -> "stage", "id" -> s.id, "job" -> s.jobId, "start" -> s.start,
        "end" -> s.end, "tasks" -> s.tasks, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead)
    }
    val ex = execs.values.asScala.iterator.map { e =>
      Json.obj("kind" -> "exec", "id" -> e.id,
        "phases" -> e.phases.map(p => Json.obj("name" -> p._1, "start" -> p._2, "end" -> p._3)),
        "scan_files" -> e.scanFiles, "scan_bytes" -> e.scanBytes)
    }
    client ++ js ++ st ++ ex ++ unitRows.asScala.iterator
  }
}

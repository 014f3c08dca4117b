package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The one metrics collector: every harness that measures a query (the
  * Bench battery, Probe, Explain's build audit) and every test that
  * counts Spark jobs reads a `QueryMetrics.Record` from `measure`.
  */
object QueryMetrics {

  /** A job started in the window: ms to its end (-1 if it had not
    * ended when the window closed), its stages' tasks at submission and
    * its `spark.job.description`.
    */
  final case class Job(id: Int, ms: Long, tasks: Int, description: String)

  /** A stage completed in the window, with its RDD-scope operator names. */
  final case class Stage(id: Int, ms: Long, tasks: Int, inputRecords: Long, ops: Seq[String])

  /** One window: the body's wall seconds and JVM GC ms, and its jobs and
    * stages by id.
    */
  final case class Record(wallSeconds: Double, gcMs: Long, jobs: Seq[Job], stages: Seq[Stage]) {
    def inputRecords: Long = stages.map(_.inputRecords).sum
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Run `body` under a listener on `spark`'s SparkContext and return
    * its outcome (any `Throwable` it throws is caught) with the record
    * of the window. The listener sees every job of the context during
    * the window, whichever thread starts it. Listener events arrive
    * asynchronously, so the bus is drained before the record is read;
    * the clock stops before the drain, so the drain is never timed.
    */
  def measure[T](spark: SparkSession)(body: => T): (Either[Throwable, T], Record) = {
    import org.apache.spark.scheduler._
    // job id -> (start time, job)
    val started = new ConcurrentHashMap[Int, (Long, Job)]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.put(j.jobId, (j.time,
        Job(j.jobId, -1L, j.stageInfos.map(_.numTasks).sum, Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        started.computeIfPresent(j.jobId, (_, s) => (s._1, s._2.copy(ms = j.time - s._1)))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        stages.add(Stage(si.stageId,
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L),
          si.numTasks, si.taskMetrics.inputMetrics.recordsRead,
          si.rddInfos.flatMap(_.scope).map(_.name).distinct.toSeq))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val (g0, t0) = (gcMs(), System.nanoTime())
    val outcome: Either[Throwable, T] = try Right(body) catch { case e: Throwable => Left(e) }
    val (wall, gc) = ((System.nanoTime() - t0) / 1e9, gcMs() - g0)
    scala.util.Try(org.apache.spark.GraftSparkBridge.waitListenerBus(sc))
    sc.removeSparkListener(listener)
    (outcome, Record(wall, gc, started.values.asScala.map(_._2).toSeq.sortBy(_.id),
      stages.asScala.toSeq.sortBy(_.id)))
  }
}

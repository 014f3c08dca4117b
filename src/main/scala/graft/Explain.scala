package graft

import java.nio.file.{Files, Paths}

/** Plan audit: dump explain("formatted") of every query to a file,
  * PLUS a machine-readable `<outFile>.audit.json` with per-query
  * counts of the plan shapes the scale contract cares about
  * (CartesianProduct, BroadcastNestedLoopJoin, exchanges, scans) —
  * `tools/check_plans.py` gates on it, so "0 CartesianProduct, BNLJ
  * only in the documented classes" is an enforced artifact instead of
  * a round-close narrative.
  *
  * r13: the audit ALSO measures each query's CONSTRUCTION-time work —
  * `build_jobs` (Spark jobs run while the DataFrame is being built)
  * and `build_records` (input records those jobs read). This closes
  * the r12 blind spot: a `localCheckpoint`/park materialization runs
  * its scans at construction and then VANISHES from the compiled plan
  * (q_canary_exposure reported 0 scans while reading the corpus twice
  * at checkpoint time), so the scan-count ceiling alone could be
  * defeated by checkpointing a data-sized subtree. check_plans.py
  * gates build_records against a declared ceiling per query.
  * Usage: runMain graft.Explain <sfDir> <outFile>
  */
object Explain {

  private final class BuildListener extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      records.addAndGet(s.stageInfo.taskMetrics.inputMetrics.recordsRead)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("/tmp/explains.txt")
    // optional third arg (local iteration only — the driver passes two):
    // comma-separated query names; restricts the audit to that subset
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = GraftSession.local("WARN", cpus = 4)
    val sb = new StringBuilder
    val audit = new StringBuilder
    def count(plan: String, token: String): Int =
      token.r.findAllIn(plan).size
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .zipWithIndex.foreach { case ((name, fn), i) =>
      sb.append(s"\n===================== $name =====================\n")
      // construction-time accounting: jobs fired while fn builds the
      // frame are exactly the checkpoint/park/collect materializations
      // the compiled plan no longer shows
      val bl = new BuildListener
      spark.sparkContext.addSparkListener(bl)
      val plan =
        try {
          val df = fn(spark, sfDir)
          org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext)
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
        finally {
          scala.util.Try(
            org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext))
          spark.sparkContext.removeSparkListener(bl)
        }
      sb.append(plan)
      if (i > 0) audit.append(",\n")
      audit.append(s""" "$name": {"cartesian": ${count(plan, "CartesianProduct")},""" +
        s""" "bnlj": ${count(plan, "BroadcastNestedLoopJoin")},""" +
        s""" "exchanges": ${count(plan, "Exchange")},""" +
        s""" "scans": ${count(plan, "Scan parquet")},""" +
        s""" "build_jobs": ${bl.jobs.get()},""" +
        s""" "build_records": ${bl.records.get()},""" +
        s""" "failed": ${plan.startsWith("EXPLAIN FAILED")}}""")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    Files.writeString(Paths.get(outFile + ".audit.json"),
      "{\n" + audit.toString + "\n}\n")
    spark.stop()
  }
}

package graft

/** Scratch timing harness for local iteration (not part of the driver
  * contract): times one named query N times at a given SF dir and
  * prints per-run wall-clock so a hot spot can be bisected.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("ERROR")
    val names = name.split(',').map(_.trim).filter(_.nonEmpty)
    // per-job accounting: where does a multi-action query spend its
    // wall-clock? (job id, ms, #tasks, input records)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val agg = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.put(j.jobId, (j.time, j.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, nt) = jobs.getOrDefault(j.jobId, (j.time, 0))
        agg.put(j.jobId, (j.time - t0, nt.toLong))
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        if (ms >= 300) {
          val ops = si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|").take(140)
          println(f"[probe]   stage ${si.stageId}%3d: $ms%6d ms, ${si.numTasks}%4d tasks  $ops")
        }
      }
    })
    names.foreach { nm =>
      val fn = SparkEntry.queries(nm)
      (1 to reps).foreach { i =>
        System.gc()
        agg.clear()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[probe] $nm run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
        if (i == reps) {
          import scala.jdk.CollectionConverters._
          agg.asScala.toSeq.sortBy(_._1).foreach { case (id, (ms, nt)) =>
            println(f"[probe]   job $id%3d: $ms%6d ms, $nt%4d tasks")
          }
        }
      }
    }
    if (names.length == 1) {
      // drive THIS queryExecution so AQE finalizes, then print the
      // final adaptive plan (df.count() would plan a separate query)
      val df = SparkEntry.queries(names.head)(spark, sfDir)
      val qe = df.queryExecution
      qe.executedPlan.execute().foreach(_ => ())
      println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}

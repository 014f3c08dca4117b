package graft

/** Timing harness for local iteration (not part of the driver
  * contract): times each named query N times at a given SF dir and
  * prints each run's wall-clock, ≥300 ms stages and jobs with their
  * descriptions (`materialize:<name>` for a
  * [[graft.sources.Materialize]] build), so a hot spot can be bisected.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).fold(3)(_.toInt)
    val spark = GraftSession.local("ERROR")
    names.foreach { nm =>
      (1 to reps).foreach { i =>
        System.gc()
        val (out, rec) = QueryMetrics.measure(spark)(SparkEntry.queries(nm)(spark, sfDir).count())
        rec.stages.filter(_.ms >= 300).foreach(s => println(f"[probe]   stage ${s.id}%3d: " +
          f"${s.ms}%6d ms, ${s.tasks}%4d tasks  ${s.ops.mkString("|").take(140)}"))
        val n = out.toTry.get
        println(f"[probe] $nm run $i: ${rec.wallSeconds}%.3f s ($n rows, ${rec.jobs.size} jobs)")
        rec.jobs.foreach(j =>
          println(f"[probe]   job ${j.id}%3d: ${j.ms}%6d ms, ${j.tasks}%4d tasks  ${j.description}"))
      }
    }
    if (names.length == 1) {
      // drive THIS queryExecution so AQE finalizes, then print the
      // final adaptive plan (df.count() would plan a separate query)
      val qe = SparkEntry.queries(names.head)(spark, sfDir).queryExecution
      qe.executedPlan.execute().foreach(_ => ())
      println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}

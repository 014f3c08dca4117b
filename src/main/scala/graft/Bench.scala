package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at the given SF dir and
  * emits EXACTLY ONE compact JSON line as the last thing on stdout.
  *
  * The driver parses that line from a FINITE tail-capture of process
  * output — a ~2.2 KB line lost its head once the query count grew, so
  * the line is kept aggressively small:
  *   - per-query values are INTEGER MILLISECONDS; the headline `value`
  *     stays in seconds per the driver contract;
  *   - the line carries values ONLY: `"qv":[…]` holds the integer-ms
  *     medians in sorted-query-name order and `"nq"` the count (a
  *     parse sanity check). Query names are recoverable by sorting
  *     `SparkEntry.queries.keys`; `bench_out.json` is the
  *     authoritative name→seconds map. History: a per-query object
  *     crossed ~1.57 KB at 147 queries → two-array `qk`/`qv` form;
  *     at 182 queries that form neared its ~1.6 KB envelope → `qk`
  *     dropped (this step was pre-decided in round 6). ~4.6 B/entry:
  *     headroom to 300+ queries.
  * The FULL names and 3-decimal-second timings are always written to
  * `bench_out.json` in the working directory as the lossless copy, and
  * the line is printed after all work so no log output follows it.
  *
  * A query whose every rep throws reports -1 (ms) and contributes 0 to
  * the total — a broken query must look broken, not fast — and
  * `bench_out.json`'s `errors` map carries its last exception.
  *
  * ## Battery-interaction control (round 8)
  *
  * Round 7's official run showed the battery poisoning its own tail:
  * at 214 queries × 3 reps in ONE JVM, accumulated allocator/JIT/GC
  * state inflated in-battery times 2×-12× over the same queries run
  * isolated (q_dedup_lcs 29.6 s in-battery vs 2.5 s isolated,
  * judge-verified), even with per-query System.gc() and a 1 GB code
  * cache. Dose scales with battery size, so the fix is structural:
  *
  *  1. PER-QUERY HYGIENE — System.gc() between queries, so one
  *     query's garbage is not charged to the next. The dominant leak
  *     was localCheckpoint blocks: the iterative operators (graph-ANN
  *     descent rounds, dedup label propagation, BPE merge training)
  *     checkpoint per round, so BlockManager memory ratcheted up
  *     across the battery — r7 added the most checkpoint-heavy
  *     operators AND crossed the inflation cliff. Round 8 also swept
  *     the context between queries (cached plans, temp views, every
  *     persistent RDD) and measured (same machine, full 214-query
  *     battery, one JVM): r6-common subset 58.3 s vs r6's 59.0 s
  *     (0.99×), q_dedup_lcs 3.2 s vs 29.6 s in BENCH_r07. The sweeps
  *     went once each thing they covered cleaned up after itself, as a
  *     query sharing a session must: every checkpoint and pin goes
  *     through graft.sources.Materialize (Spark's ContextCleaner frees
  *     a checkpoint once this GC finds no frame holding it; a pin is
  *     unpersisted when its fit returns; MaterializeSpec checks both),
  *     and q_sql registers its views in a session of its own.
  *  2. SELF-DIAGNOSING OUTPUT — bench_out.json records per query the
  *     median wall ms AND the GC ms observed during that median rep,
  *     so a future inflated artifact shows on its face whether the
  *     time went to GC (battery debt) or to the operator.
  *
  * SPARK_GRAFT_BENCH_ONLY (comma-separated names) restricts the
  * battery to a diagnostic subset; SPARK_GRAFT_BENCH_REPS sets the
  * reps per query (default 3).
  *
  * ## Contention de-flake (round 12)
  *
  * Three driver batteries in a row tripped the budget gate on queries
  * that passed idle re-runs — each time a transient box-contention
  * window inflating a contiguous ALPHABETICAL block. Execution order
  * is md5(name), so a contention window lands on scattered unrelated
  * queries (noise the median absorbs) instead of a correlated family
  * block.
  */
object Bench {
  private def ms3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** The median rep's record (by wall time) of `reps` timings, or the
    * last rep's exception (`Throwable.toString`) when every rep threw.
    */
  private def measure(spark: SparkSession, sfDir: String,
                      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                      reps: Int): Either[String, QueryMetrics.Record] = {
    val runs = (1 to reps).map { _ =>
      val (out, rec) = QueryMetrics.measure(spark)(fn(spark, sfDir).count())
      out.map(_ => rec)
    }
    val times = runs.collect { case Right(t) => t }.sortBy(_.wallSeconds)
    if (times.nonEmpty) Right(times(times.length / 2))
    else Left(runs.collect { case Left(e) => e.toString }.last)
  }

  /** Each query's `measure`.
    *
    * Execution order is the md5 of the query name, NOT alphabetical
    * (round 12): three driver batteries in a row showed the same false-
    * positive signature — a transient box-contention window inflating a
    * CONTIGUOUS alphabetical block (~35 c-e queries at 2-4x), which
    * reads as a family regression. Hash order spreads any contention
    * window across unrelated names, so it shows as scattered noise the
    * median absorbs instead of a correlated block. Reporting stays
    * sorted by name regardless of execution order.
    */
  private def runBattery(spark: SparkSession, sfDir: String,
                         battery: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
                         reps: Int): Seq[(String, Either[String, QueryMetrics.Record])] =
    battery.sortBy(b => graft.sources.Scratch.digest(b._1)).map { case (name, fn) =>
      System.gc() // one query's garbage is not charged to the next
      name -> measure(spark, sfDir, fn, reps)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).filter(_ > 0).getOrElse(3)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).toSet).filter(_.nonEmpty)
    val battery = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }

    val spark = GraftSession.local("ERROR")
    // Warm the JVM before timing: codegen compilation, classloading, and
    // the page cache dominate a fresh-JVM first pass. Run the battery
    // untimed at the smallest available SF (cheap — the data is 100x
    // smaller), then count the tables at the target SF through the
    // loader the queries use.
    val warmDir = {
      val p = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (p.isDirectory && p.getPath != sfDir) p.getPath else sfDir
    }
    if (warmDir != sfDir)
      battery.foreach { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
      }
    graft.sources.Tables.all.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val ordered = runBattery(spark, sfDir, battery, reps).sortBy(_._1)
    spark.stop()
    def ms(r: Either[String, QueryMetrics.Record]): Long =
      r.fold(_ => -1L, m => math.round(m.wallSeconds * 1000))

    val qv = ordered.map(q => ms(q._2)).mkString("[", ",", "]")
    val total = ms3(ordered.map(q => ms(q._2)).filter(_ >= 0).sum / 1000.0)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir).map(_.group(1)).getOrElse("0")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","nq":${ordered.length},"qv":$qv,"sf":$sfNum}"""
    // Lossless copy on disk: FULL query names, seconds at 3 decimals,
    // plus the per-query GC ms of the median rep (the self-diagnosis
    // column: wall ≫ gc → the operator; wall ≈ gc → battery debt) and
    // the Spark jobs it ran; -1 where every rep threw.
    try {
      def perQuery(value: Either[String, QueryMetrics.Record] => Option[String]): String =
        ordered.flatMap { case (n, r) => value(r).map("\"" + n + "\":" + _) }.mkString("{", ",", "}")
      val fullQs = perQuery(r => Some(if (ms(r) < 0) "-1" else ms3(ms(r) / 1000.0).toString))
      val gcQs = perQuery(r => Some(r.fold(_ => -1L, _.gcMs).toString))
      val jobQs = perQuery(r => Some(r.fold(_ => -1, _.jobs.size).toString))
      // errors = the last rep's exception of every query reporting -1
      val errorQs = perQuery(_.left.toOption.map(Verify.jsonStr))
      val w = new java.io.PrintWriter("bench_out.json")
      try w.println(
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$fullQs,"gc_ms":$gcQs,"jobs":$jobQs,"errors":$errorQs,"sf":$sfNum}""")
      finally w.close()
    } catch { case _: Throwable => () }
    println(line)
    System.out.flush()
    // Give any output-forwarding thread (sbt StdoutOutput pump) a moment
    // to drain before the JVM exits.
    Thread.sleep(300)
  }
}

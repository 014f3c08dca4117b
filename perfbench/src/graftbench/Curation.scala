package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.sources.Scratch

/** `curation`: one client runs the training-data job list serially on
  * read-only generated tables — first against an empty scratch dir
  * (cold: index and park builds inside the timed region), then again
  * against the filled one (warm: probes only). Cycles repeat with a
  * fresh scratch dir until the run's seconds are used.
  */
object Curation {
  import Main._

  /** JIT warm-up tables: the sf0.001 shape, so the timed scratch stays cold. */
  private val warmScale = Gen.Scale(1000, 50)

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val c = cfg(a, "curation")
    val jobs = shuffle(new SplittableRandom(a.seed), arr(c \ "jobs").map(str))
    val seed = tableSeed(a)

    // ---- set-up: tables (timed several times), then a warm-up pass of
    // the list on small tables with its own scratch dir
    val tablesMs = (1 to setupReps).map { r =>
      timed(Gen.tables(spark, a.work.resolve(s"tables-$r").toString, tableScale, seed))._2
    }
    val tables = a.work.resolve(s"tables-$setupReps").toString
    val warm = a.work.resolve("warm-tables").toString
    val (_, warmMs) = timed {
      Gen.tables(spark, warm, warmScale, seed + 1)
      spark.conf.set(Scratch.confKey, a.work.resolve("scratch-warmup").toString)
      jobs.foreach(j => SparkEntry.queries(j)(spark, warm).collect())
    }
    res.setup("tables_ms_reps") = tablesMs
    res.setup("warmup_s") = warmMs / 1000.0
    res.setup("total_s") = res.setup("session_s").asInstanceOf[Double] +
      median(tablesMs) / 1000.0 + warmMs / 1000.0

    Trace.reset()
    Heap.reset()
    final case class Pass(wallMs: Double, jobMs: Map[String, Double], builds: Long, bytes: Long)
    val cold = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val warmP = scala.collection.mutable.ArrayBuffer.empty[Pass]
    val firstRows = scala.collection.mutable.Map.empty[String, (Seq[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]
    val t0 = Trace.nowMs
    var cycle = 0
    while (cycle == 0 || Trace.nowMs - t0 < a.seconds * 1000.0) {
      val scratch = a.work.resolve(s"scratch-$cycle")
      spark.conf.set(Scratch.confKey, scratch.toString)
      val digests = scala.collection.mutable.Map.empty[String, String]
      Seq("cold", "warm").foreach { pass =>
        val (ms, wall) = timed {
          jobs.map { j =>
            res.attempted += 1
            val (out, jobMs) = timed {
              try Right(Trace.unit(spark, s"$pass-$cycle-$j", s"job") {
                val df = Trace.span(s"SparkEntry.$j", "driver")(SparkEntry.queries(j)(spark, tables))
                (Trace.span("collect", "driver")(df.collect().toSeq), df.schema)
              })
              catch { case e: Throwable => Left(e) }
            }
            out match {
              case Left(e) => res.fail(1, s"$pass $j threw $e")
              case Right((rows, schema)) =>
                val d = digest(rows)
                if (pass == "cold") {
                  digests(j) = d
                  if (!firstRows.contains(j)) firstRows(j) = (rows, schema)
                } else if (digests.get(j).exists(_ != d))
                  res.fail(1, s"warm $j differs from cold in cycle $cycle")
            }
            j -> jobMs
          }.toMap
        }
        val p = Pass(wall, ms, countFiles(scratch, "_COMPLETE"), dataFiles(scratch)._2)
        if (pass == "cold") cold += p else warmP += p
      }
      cycle += 1
    }
    val wallMs = Trace.nowMs - t0
    Heap.close(res)

    firstRows.foreach { case (j, (rows, schema)) =>
      val path = a.work.resolve("results").resolve(j).toString
      writeRows(spark, rows, schema, path)
      res.checks += Json.obj("kind" -> "oracle", "name" -> j, "units" -> 2 * cycle,
        "sql" -> SparkEntry.oracleSql(j), "tables" -> tables, "result" -> path)
    }

    val rows = tableScale.documents.toDouble
    res.e2e("throughput_per_s") = res.attempted / (wallMs / 1000.0)
    res.e2e("latency_ms") = median(warmP.map(_.wallMs).toSeq)
    res.e2e("tail_latency_ms") = median(cold.map(_.wallMs).toSeq)
    res.e2e("bytes_per_row") = median(cold.map(_.bytes.toDouble).toSeq) / rows
    res.named ++= Seq(
      "curation_cold_s" -> res.e2e("tail_latency_ms") / 1000.0,
      "curation_warm_s" -> res.e2e("latency_ms") / 1000.0)
    res.info("cycles") = cycle
    res.info("job_order") = jobs
    res.info("cold_job_ms") = cold.map(_.jobMs).toSeq
    res.info("warm_job_ms") = warmP.map(_.jobMs).toSeq

    if (a.trace) {
      val n = math.max(1, res.attempted).toDouble
      val isJob = (u: String) => u.startsWith("cold-") || u.startsWith("warm-")
      val split = Trace.layerSplit(_ == "job")
      Trace.report(res, split)
      res.layers ++= Trace.perUnit(Trace.operators(isJob, wallMs, spark.sparkContext.defaultParallelism), n)
      res.layers ++= Trace.perUnit(Trace.plans(isJob), n)
      val buildMs = cold.zip(warmP).map { case (c0, w0) =>
        jobs.map(j => c0.jobMs(j) - w0.jobMs(j)).sum
      }
      res.layers ++= Seq(
        "plans.jobs_per_request" -> res.layers.getOrElse("plans.jobs", 0.0),
        "sources.scratch_builds" -> median(cold.map(_.builds.toDouble).toSeq),
        "sources.scratch_build_ms" -> median(buildMs.toSeq),
        "sources.scratch_bytes" -> median(cold.map(_.bytes.toDouble).toSeq))
    }
  }
}

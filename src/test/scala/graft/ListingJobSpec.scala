package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.LogPipeline

/** A local session lists files on the driver: more than 32 paths (Spark's
  * default `parallelPartitionDiscovery.threshold`) must not become a
  * "Listing leaf files and directories" Spark job, in a streaming
  * micro-batch or in a plain read.
  */
class ListingJobSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val accessLine =
    """46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET /index.html HTTP/1.1" 200 173 "-" "curl/7.68.0""""
  private val badLine = "### not a log line ###"

  /** `n` files of 5 lines (4 access, 1 malformed) under `<in>/ec2/`. */
  private def stage(n: Int): (String, Seq[String]) = {
    val in = Files.createTempDirectory("graft-listing-in").toString
    Files.createDirectories(Paths.get(s"$in/ec2"))
    val paths = (0 until n).map { i =>
      val p = f"$in/ec2/f$i%03d.log"
      Files.writeString(Paths.get(p), (Seq.fill(4)(accessLine) :+ badLine).mkString("", "\n", "\n"))
      p
    }
    (in, paths)
  }

  /** Descriptions of the jobs `body` starts, from any thread. */
  private def jobDescriptions(body: => Unit): Seq[String] = {
    val (out, rec) = QueryMetrics.measure(spark)(body)
    out.toTry.get
    rec.jobs.map(_.description)
  }

  private def listingJobs(descriptions: Seq[String]): Seq[String] =
    descriptions.filter(_.startsWith("Listing leaf files"))

  test("a 48-file micro-batch runs no listing job and loses no line") {
    val files = 48
    val (in, _) = stage(files)
    val out = Files.createTempDirectory("graft-listing-out").toString
    val ckpt = Files.createTempDirectory("graft-listing-ckpt").toString
    val seen = jobDescriptions {
      // no maxFilesPerTrigger: all files land in one micro-batch
      LogPipeline.startIngest(spark, in, out, ckpt).awaitTermination()
    }
    assert(seen.nonEmpty, "the listener saw no job at all")
    assert(listingJobs(seen).isEmpty, listingJobs(seen))
    val stored = spark.read.parquet(s"$out/logs").count()
    val dead = spark.read.parquet(s"$out/dlq").count()
    assert(stored == files * 4L && dead == files.toLong)
    assert(stored + dead == files * 5L)
  }

  test("reading 40 explicit paths launches no job") {
    val (_, paths) = stage(40)
    val sc = spark.sparkContext
    val group = s"listing-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try spark.read.text(paths: _*) finally sc.clearJobGroup()
    org.apache.spark.GraftSparkBridge.waitListenerBus(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }
}

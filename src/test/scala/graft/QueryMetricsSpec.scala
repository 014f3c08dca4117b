package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Parquet

/** `QueryMetrics.measure` records every job and stage of its window,
  * whichever thread runs them, and nothing after it; it is the only
  * code under src/main that attaches a Spark listener.
  */
class QueryMetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a construction-time checkpoint and a job from a Future are both recorded") {
    val sc = spark.sparkContext
    val pool = Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val (out, rec) = try QueryMetrics.measure(spark) {
      sc.setJobDescription("checkpoint")
      val built = try spark.range(100).localCheckpoint() finally sc.setJobDescription(null)
      val arm = Future {
        sc.setJobDescription("future")
        spark.range(10).collect().length
      }
      (built, Await.result(arm, 1.minute))
    } finally pool.shutdown()
    assert(out.toTry.get._2 == 10)
    val described = rec.jobs.map(_.description)
    assert(described.contains("checkpoint") && described.contains("future"), rec.jobs)
    assert(rec.wallSeconds > 0 && rec.jobs.forall(_.ms >= 0), rec)
  }

  test("a parquet read's input records equal its row count") {
    val events = Parquet.read(spark, s"${TestSpark.sf}/events.parquet")
    val (out, rec) = QueryMetrics.measure(spark)(events.collect().length)
    val rows = out.toTry.get
    assert(rows > 0 && rec.inputRecords == rows, rec.stages)
  }

  test("a throwing body returns Left together with its record") {
    val (out, rec) = QueryMetrics.measure(spark) {
      spark.range(5).collect()
      throw new IllegalStateException("boom")
    }
    assert(out.left.map(_.getMessage) == Left("boom"))
    assert(rec.jobs.nonEmpty && rec.stages.nonEmpty, rec)
  }

  test("a job run after measure returns never appears in its record") {
    val sc = spark.sparkContext
    val (_, rec) = QueryMetrics.measure(spark)(spark.range(3).collect())
    sc.setJobDescription("after")
    try spark.range(3).collect() finally sc.setJobDescription(null)
    org.apache.spark.GraftSparkBridge.waitListenerBus(sc)
    assert(rec.jobs.nonEmpty && !rec.jobs.exists(_.description == "after"), rec.jobs)
  }

  test("Spark listeners are attached and drained only in QueryMetrics.measure") {
    MainSources.assertOnly(MainSources.all.flatMap(_.hits("SparkListener|waitListenerBus".r)),
      Set("QueryMetrics.scala:measure", "GraftSparkBridge.scala:waitListenerBus"),
      "QueryMetrics.measure")
  }
}

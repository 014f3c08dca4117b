package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Materialize

/** `Materialize` labels its jobs and cleans up after itself, so queries
  * sharing one session inherit nothing from each other with no sweep
  * between them; it is the only code under src/main that checkpoints or
  * pins a frame.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def description: String =
    spark.sparkContext.getLocalProperty("spark.job.description")

  test("an eager Materialize runs as materialize:<name> and restores the caller's description") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (out, rec) = QueryMetrics.measure(spark)(
        Materialize(spark.range(100).toDF("x"), "spec-eager").count())
      assert(out.toTry.get == 100)
      assert(rec.jobs.map(_.description).distinct == Seq("materialize:spec-eager", "caller"), rec.jobs)
      assert(description == "caller")

      val (failed, frec) = QueryMetrics.measure(spark)(
        Materialize(spark.range(3).select(assert_true(col("id") < 0)), "spec-throws"))
      assert(failed.isLeft)
      assert(frec.jobs.nonEmpty && frec.jobs.forall(_.description == "materialize:spec-throws"), frec.jobs)
      assert(description == "caller")
    } finally sc.setJobDescription(null)
  }

  test("a lazy Materialize labels its shuffle stages and leaves its last pass to the next action") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (out, rec) = QueryMetrics.measure(spark)(Materialize(
        spark.range(100).groupBy((col("id") % 3).as("k")).count(), "spec-lazy", eager = false))
      assert(rec.jobs.nonEmpty && rec.jobs.forall(_.description == "materialize:spec-lazy"), rec.jobs)
      val (n, read) = QueryMetrics.measure(spark)(out.toTry.get.count())
      assert(n.toTry.get == 3)
      assert(read.jobs.nonEmpty && read.jobs.forall(_.description == "caller"), read.jobs)
      assert(description == "caller")
    } finally sc.setJobDescription(null)
  }

  test("within unpersists its frame when use throws") {
    val df = spark.range(50).toDF("x")
    val caller = description
    val e = intercept[IllegalStateException](Materialize.within(df, "spec-within") { pinned =>
      assert(pinned.count() == 50 && pinned.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(description == "materialize:spec-within")
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(df.storageLevel == StorageLevel.NONE) // no CacheManager entry holds it
    assert(description == caller)
  }

  test("a query's checkpoints are released after the next query and a GC, with no sweep") {
    val sc = spark.sparkContext
    // a fresh set of ids: the map's keySet view would hold the RDDs
    def pinned: Set[Int] = sc.getPersistentRDDs.keysIterator.toSet
    def run(name: String): Long = QueryMetrics.measure(spark)(
      SparkEntry.queries(name)(spark, TestSpark.sf).count())._1.toTry.get
    val before = pinned
    run("q_graph_explore")
    val first = pinned -- before
    assert(first.nonEmpty, "q_graph_explore pinned nothing")
    System.gc()
    run("q_dedup_substring")
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((first & pinned).nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert((first & pinned).isEmpty, s"still pinned: ${first & pinned}")
  }

  test("q_sql adds no temp view to the caller's session and leaves its own views alone") {
    spark.range(3).toDF("marker").createOrReplaceTempView("orders")
    try {
      def views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
      val before = views
      assert(SparkEntry.queries("q_sql")(spark, TestSpark.sf).count() > 0)
      assert(views == before)
      val orders = spark.table("orders")
      assert(orders.columns.toSeq == Seq("marker") && orders.count() == 3)
    } finally spark.catalog.dropTempView("orders")
  }

  test("frames are checkpointed and pinned only in Materialize, temp views only in q_sql") {
    MainSources.assertOnly(
      MainSources.all.flatMap(_.hits("""localCheckpoint\(|\.persist\(|\.cache\(\)""".r)),
      Set("Materialize.scala:apply", "Materialize.scala:within"), "graft.sources.Materialize")
    MainSources.assertOnly(MainSources.all.flatMap(_.hits("""TempView\(""".r)),
      Set("Extras.scala:sqlSurface"), "a session of the query's own (Extras.sqlSurface)")
  }
}

package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{LogLines, LogStore}
import graft.functions.ApacheLog

class LogStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("partitioned store round-trip with partition pruning") {
    val root = Files.createTempDirectory("graft-store").toString + "/logs"
    val parsed = LogLines.apacheLines(spark, TestSpark.sf)
      .select(ApacheLog.parsed(col("line")).as("p")).select("p.*")
      .withColumn("source", lit("ec2"))
    LogStore.write(parsed, root)

    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS plan so its scan metrics populate
      val plan = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      plan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum
    }

    val jan10 = LogStore.read(spark, root, "2024-01-10", "2024-01-11", Some("ec2"))
    assert(jan10.count() > 0)
    // the date filter must be a partition filter, not a data filter
    // all rows really are from that day and source
    assert(jan10.filter(to_date(col("ts")) =!= "2024-01-10").count() == 0)

    // pruning scans strictly fewer files than the full store
    val allFiles = scannedFiles(spark.read.parquet(root))
    val prunedFiles = scannedFiles(LogStore.read(spark, root, "2024-01-10", "2024-01-11", Some("ec2")))
    assert(prunedFiles > 0 && prunedFiles < allFiles, s"pruned=$prunedFiles all=$allFiles")
  }

  test("PIT pins the snapshot across concurrent writes; scroll pages partition it in order") {
    val root = Files.createTempDirectory("graft-pit").toString + "/logs"
    def day(d: Int, ips: Seq[String]) = ips.toDF("ip")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")))
      .withColumn("status", lit(200L))
      .withColumn("source", lit("ec2"))
    LogStore.write(day(1, Seq("a", "b", "c")), root)
    LogStore.write(day(2, Seq("d", "e")), root)

    val pit = LogStore.createPit(spark, root)
    val snapshot = LogStore.readPit(spark, root, pit)
      .select("ip").as[String].collect().sorted.toSeq
    assert(snapshot == Seq("a", "b", "c", "d", "e"))

    // a concurrent append lands under the same root: direct reads see
    // it, the PIT does not
    LogStore.write(day(3, Seq("f")), root)
    assert(spark.read.parquet(root).count() == 6)
    assert(LogStore.readPit(spark, root, pit).count() == 5)
    // partition columns are recovered from the pinned paths
    assert(LogStore.readPit(spark, root, pit).columns.contains("log_date"))

    // scroll: pages of 2 in (ip) order cover the snapshot exactly once
    val sortCols = Seq("ip")
    var after: Option[Seq[Any]] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var page = LogStore.scrollPage(spark, root, pit, sortCols, after, 2)
      .select("ip").as[String].collect()
    while (page.nonEmpty) {
      seen ++= page
      after = Some(Seq(page.last))
      page = LogStore.scrollPage(spark, root, pit, sortCols, after, 2)
        .select("ip").as[String].collect()
    }
    assert(seen.toSeq == Seq("a", "b", "c", "d", "e")) // in order, no dup, no miss
  }

  test("PIT excludes uncommitted files under _temporary of an in-flight write") {
    val root = Files.createTempDirectory("graft-pit-tmp").toString + "/logs"
    LogStore.write(
      Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 200L))
        .toDF("ip", "ts", "status").withColumn("source", lit("ec2")), root)
    // simulate a concurrent in-flight Spark write: an uncommitted part
    // file staged under a _temporary directory whose own FILENAME is
    // unprefixed — only the ancestor segment marks it hidden
    val staged = Paths.get(root, "_temporary", "0", "task_0", "log_date=2024-01-02")
    Files.createDirectories(staged)
    Files.write(staged.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val pit = LogStore.createPit(spark, root)
    assert(pit.nonEmpty && pit.forall(!_.contains("_temporary")))
    assert(LogStore.readPit(spark, root, pit).count() == 1)
  }

  test("sliced scroll: hash slices partition the PIT exactly; each slice pages independently") {
    val root = Files.createTempDirectory("graft-slice").toString + "/logs"
    val ips = (1 to 20).map(i => f"10.0.0.$i%02d")
    LogStore.write(ips.toDF("ip")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("status", lit(200L))
      .withColumn("source", lit("ec2")), root)
    val pit = LogStore.createPit(spark, root)
    val pinned = LogStore.readPit(spark, root, pit)
    val slices = (0 until 3).map(i => LogStore.pitSlice(pinned, "ip", i, 3))
    val sets = slices.map(_.select("ip").as[String].collect().toSet)
    // disjoint and complete: every row in exactly one slice
    assert(sets.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
    assert(sets.reduce(_ ++ _) == ips.toSet)
    // a slice drains with its own cursor, unaffected by the others
    var after: Option[Seq[Any]] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var page = LogStore.scrollPageOf(slices(1), Seq("ip"), after, 2)
      .select("ip").as[String].collect()
    while (page.nonEmpty) {
      seen ++= page
      after = Some(Seq(page.last))
      page = LogStore.scrollPageOf(slices(1), Seq("ip"), after, 2)
        .select("ip").as[String].collect()
    }
    assert(seen.toSeq == sets(1).toSeq.sorted)
  }

  test("scroll cursor with duplicate sort-key values: tiebreaker makes pagination exact") {
    val root = Files.createTempDirectory("graft-scroll-dup").toString + "/logs"
    // 6 rows, only TWO distinct sort-key values — a strict cursor on
    // `status` alone would skip tied rows split across a page boundary
    val rows = Seq(("a", 200L), ("b", 200L), ("c", 200L), ("d", 500L), ("e", 500L), ("f", 500L))
    LogStore.write(rows.toDF("ip", "status")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .withColumn("source", lit("ec2")), root)
    val pit = LogStore.createPit(spark, root)
    var after: Option[Seq[Any]] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var page = LogStore.scrollPage(spark, root, pit, Seq("status"), after, 2,
      tiebreaker = Some("ip"))
      .select("status", "ip").as[(Long, String)].collect()
    while (page.nonEmpty) {
      seen ++= page
      after = Some(Seq(page.last._1, page.last._2)) // cursor carries the tiebreaker
      page = LogStore.scrollPage(spark, root, pit, Seq("status"), after, 2,
        tiebreaker = Some("ip"))
        .select("status", "ip").as[(Long, String)].collect()
    }
    assert(seen.toSeq == rows.map(r => (r._2, r._1)).sortBy(identity)) // no dup, no miss
  }

  test("SLM tick: scheduled snapshots, same-day idempotence, retention sweep, incomplete swept") {
    val base = Files.createTempDirectory("graft-slm").toString
    val root = s"$base/logs"
    val snaps = s"$base/snaps"
    LogStore.write(
      Seq(("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 200L))
        .toDF("ip", "ts", "status").withColumn("source", lit("ec2")), root)

    // first tick takes a snapshot; a same-day re-tick is a full noop
    assert(LogStore.slmTick(spark, root, snaps, "2024-02-01") ==
      (Some("snap-2024-02-01"), Seq()))
    assert(LogStore.slmTick(spark, root, snaps, "2024-02-01") == (None, Seq()))
    // a tick before the interval elapses takes nothing
    assert(LogStore.slmTick(spark, root, snaps, "2024-02-01", everyDays = 7)._1.isEmpty)

    // interval elapsed: day-2 and day-3 snapshots; keepLast=2 sweeps day-1
    assert(LogStore.slmTick(spark, root, snaps, "2024-02-02")._1.contains("snap-2024-02-02"))
    val t3 = LogStore.slmTick(spark, root, snaps, "2024-02-03")
    assert(t3 == (Some("snap-2024-02-03"), Seq("snap-2024-02-01")))

    // retained snapshots stay restore-compatible
    val restored = s"$base/restored"
    LogStore.restore(spark, s"$snaps/snap-2024-02-03", restored)
    assert(spark.read.parquet(restored).count() == 1)

    // a half-copied snapshot (no _MANIFEST) neither satisfies the
    // schedule nor survives the sweep
    val fs = new org.apache.hadoop.fs.Path(snaps)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(snaps, "snap-2024-02-04"))
    val t4 = LogStore.slmTick(spark, root, snaps, "2024-02-05")
    assert(t4._1.contains("snap-2024-02-05"))
    assert(t4._2.contains("snap-2024-02-04") && t4._2.contains("snap-2024-02-02"))

    // crash recovery on TODAY's snapshot: a half-copied snap-<today>
    // (partition dir present, no _MANIFEST) is deleted and re-taken
    // cleanly — not copied INTO (which would nest log_date=X/log_date=X
    // and then stamp the corrupt tree complete)
    val half = new org.apache.hadoop.fs.Path(snaps, "snap-2024-02-06")
    fs.mkdirs(new org.apache.hadoop.fs.Path(half, "log_date=2024-01-01"))
    val t5 = LogStore.slmTick(spark, root, snaps, "2024-02-06")
    assert(t5._1.contains("snap-2024-02-06"))
    assert(fs.exists(new org.apache.hadoop.fs.Path(half, "_MANIFEST")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(half,
      "log_date=2024-01-01/log_date=2024-01-01"))) // no nesting
    val restored6 = s"$base/restored6"
    LogStore.restore(spark, s"$snaps/snap-2024-02-06", restored6)
    assert(spark.read.parquet(restored6).count() == 1)
  }

  test("schema evolution: merged read unions old and new day layouts with nulls") {
    val root = Files.createTempDirectory("graft-evo").toString + "/logs"
    val day1 = Seq(("1.1.1.1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 200L))
      .toDF("ip", "ts", "status")
      .withColumn("source", lit("ec2"))
    val day2 = Seq(("2.2.2.2", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 201L, "trace-1"))
      .toDF("ip", "ts", "status", "trace_id") // new agent version adds a field
      .withColumn("source", lit("ec2"))
    LogStore.write(day1, root)
    LogStore.write(day2, root)

    val merged = LogStore.read(spark, root, "2024-01-01", "2024-01-03", mergeSchema = true)
    assert(merged.columns.contains("trace_id"))
    val byDay = merged.select(col("ip"), col("trace_id")).as[(String, Option[String])]
      .collect().toMap
    assert(byDay("1.1.1.1").isEmpty && byDay("2.2.2.2").contains("trace-1"))
  }

  test("compaction collapses per-batch small files; expiry drops aged partitions") {
    val root = Files.createTempDirectory("graft-life").toString + "/logs"
    def batch(day: String, n: Int) = (1 to n).map(i =>
        (s"9.9.9.$i", java.sql.Timestamp.valueOf(s"$day 0$i:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    // 4 appends per day -> 4+ files per partition
    (1 to 4).foreach(_ => LogStore.write(batch("2024-01-01", 3), root))
    (1 to 4).foreach(_ => LogStore.write(batch("2024-01-02", 3), root))

    def dataFiles(): Seq[java.nio.file.Path] = {
      val s = java.nio.file.Files.walk(Paths.get(root))
      try s.iterator().asScala.toList.filter(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val before = dataFiles().size
    assert(before >= 8, s"expected >=8 small files, got $before")

    LogStore.compact(spark, root)
    val after = dataFiles().size
    assert(after < before && after <= 2, s"before=$before after=$after")
    // compaction preserves every row
    assert(spark.read.parquet(root).count() == 24)

    val dropped = LogStore.expire(spark, root, "2024-01-02")
    assert(dropped == Seq("log_date=2024-01-01"))
    val left = spark.read.parquet(root)
    assert(left.count() == 12)
    assert(left.select(max(col("log_date")).cast("string")).as[String].head() == "2024-01-02")
  }

  test("reindex rewrites into a new root with a transform; source store untouched") {
    val base = Files.createTempDirectory("graft-reindex").toString
    val src = s"$base/logs"; val dst = s"$base/logs-v2"
    val batch = (1 to 6).map(i =>
        (s"9.9.9.$i", java.sql.Timestamp.valueOf(s"2024-02-0${i % 2 + 1} 0$i:00:00"), 200L + i * 30))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    LogStore.write(batch, src)
    val srcRows = spark.read.parquet(src).count()

    // migration-style transform: derive a status class, drop raw status
    LogStore.reindex(spark, src, dst) { df =>
      df.withColumn("status_class", (col("status") / 100).cast("int") * 100)
        .drop("status")
    }
    val out = spark.read.parquet(dst)
    assert(out.count() == srcRows)
    assert(out.columns.contains("status_class") && !out.columns.contains("status"))
    assert(out.select("status_class").distinct().as[Int].collect().toSet == Set(200, 300))
    // destination keeps the partition layout; source unchanged
    assert(Files.exists(Paths.get(s"$dst/log_date=2024-02-01/source=ec2")))
    assert(spark.read.parquet(src).count() == srcRows &&
      spark.read.parquet(src).columns.contains("status"))
    // a transform that drops a partition key must refuse
    intercept[IllegalArgumentException] {
      LogStore.reindex(spark, src, s"$base/bad")(_.drop("source"))
    }
  }

  test("ISM policy tick: hot untouched, warm force-merged, cold snapshotted, expired deleted; idempotent (A15)") {
    import graft.sources.Ism
    val root = Files.createTempDirectory("graft-ism").toString + "/logs"
    val snap = Files.createTempDirectory("graft-ism-snap").toString + "/snap"
    def day(d: String, ip: String) =
      Seq((ip, java.sql.Timestamp.valueOf(s"$d 12:00:00"), 200L))
        .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    // two writes per day → ≥2 files per partition (something to merge)
    Seq("2024-01-01", "2024-01-05", "2024-01-07", "2024-01-09").foreach { d =>
      LogStore.write(day(d, "1.1.1.1"), root)
      LogStore.write(day(d, "2.2.2.2"), root)
    }
    val policy = Ism.Policy(compactAfterDays = 1, snapshotAfterDays = 3, deleteAfterDays = 7)
    val r1 = Ism.applyPolicy(spark, root, snap, policy, asOf = "2024-01-09")
      .as[(String, String, String)].collect().toSeq
    assert(r1 == Seq(
      ("2024-01-01", "delete", "deleted"),     // age 8 > 7
      ("2024-01-05", "cold", "snapshotted"),   // age 4 > 3
      ("2024-01-07", "warm", "compacted"),     // age 2 > 1
      ("2024-01-09", "hot", "noop")), s"got $r1")
    // deleted partition gone; cold stays searchable in the live store
    val dates = spark.read.parquet(root).select(col("log_date").cast("string"))
      .distinct().as[String].collect().sorted.toSeq
    assert(dates == Seq("2024-01-05", "2024-01-07", "2024-01-09"))
    // warm partition is one file per source now, rows intact
    val warmDir = new java.io.File(s"$root/log_date=2024-01-07/source=ec2")
    assert(warmDir.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    assert(spark.read.parquet(s"$root/log_date=2024-01-07").count() == 2)
    // the snapshot obeys A11's restore contract
    val restored = Files.createTempDirectory("graft-ism-rest").toString + "/logs"
    LogStore.restore(spark, snap, restored)
    assert(spark.read.parquet(restored).count() == 2) // the cold day's rows
    // a second tick is all noop (cold already snapshotted, warm merged)
    val r2 = Ism.applyPolicy(spark, root, snap, policy, asOf = "2024-01-09")
      .as[(String, String, String)].collect().toSeq
    assert(r2.forall(_._3 == "noop"), s"got $r2")
  }

  test("ISM policy tick restores a crashed swap's parking before it walks the dates (A15)") {
    import graft.sources.Ism
    val root = Files.createTempDirectory("graft-ism-park").toString + "/logs"
    def day(d: String, ip: String) =
      Seq((ip, java.sql.Timestamp.valueOf(s"$d 12:00:00"), 200L))
        .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    Seq("2024-01-07", "2024-01-09").foreach { d =>
      LogStore.write(day(d, "1.1.1.1"), root)
      LogStore.write(day(d, "2.2.2.2"), root)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(n)
    // a swap that crashed between parking and move-in
    assert(fs.rename(p(s"$root/log_date=2024-01-07"), p(s"$root/log_date=2024-01-07.old")))
    val r = Ism.applyPolicy(spark, root, root + "-snap",
      Ism.Policy(compactAfterDays = 1, snapshotAfterDays = 3, deleteAfterDays = 7),
      asOf = "2024-01-09").as[(String, String, String)].collect().toSeq
    assert(r == Seq(("2024-01-07", "warm", "compacted"), ("2024-01-09", "hot", "noop")), s"got $r")
    assert(spark.read.parquet(root)
      .filter(col("log_date").cast("string") === "2024-01-07").count() == 2)
    assert(!fs.exists(p(s"$root/log_date=2024-01-07.old")))
    assert(!fs.exists(p(s"$root.ism-tmp")))
  }

  test("snapshot/restore round-trips partitions via the manifest; alias swap retargets readers") {
    val base = Files.createTempDirectory("graft-snap").toString
    val v1 = s"$base/logs"; val snap = s"$base/snap"; val v2 = s"$base/logs-restored"
    val batch = (1 to 6).map(i =>
        (s"8.8.8.$i", java.sql.Timestamp.valueOf(s"2024-03-0${i % 2 + 1} 0$i:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    LogStore.write(batch, v1)

    val parts = LogStore.snapshot(spark, v1, snap)
    assert(parts == Seq("log_date=2024-03-01", "log_date=2024-03-02"))

    // disaster: the live store loses a partition; restore to a fresh root
    LogStore.expire(spark, v1, "2024-03-02")
    assert(spark.read.parquet(v1).count() == 3)
    LogStore.restore(spark, snap, v2)
    assert(spark.read.parquet(v2).count() == 6)
    // restore refuses an existing target (never clobbers a live store)
    intercept[IllegalArgumentException] { LogStore.restore(spark, snap, v2) }

    // searchable snapshot: query the snapshot directly from its
    // manifest (no restore), partition column intact and date-prunable
    val direct = LogStore.readSnapshot(spark, snap)
    assert(direct.count() == 6)
    assert(direct.columns.contains("log_date"))
    assert(direct.filter(col("log_date") === "2024-03-02").count() == 3)

    // alias: readers follow the pointer; swap retargets them atomically
    val alias = s"$base/logs.alias"
    LogStore.setAlias(spark, alias, v1)
    assert(LogStore.readAlias(spark, alias).count() == 3)
    LogStore.setAlias(spark, alias, v2)
    assert(LogStore.resolveAlias(spark, alias) == v2)
    assert(LogStore.readAlias(spark, alias).count() == 6)
  }

  test("federated alias read: schema-merged union with pruning intact in every store") {
    val base = Files.createTempDirectory("graft-fed").toString
    // two stores with drifted schemas: store B grew a `region` column
    val a = (1 to 4).map(i =>
        (s"1.1.1.$i", java.sql.Timestamp.valueOf(s"2024-04-0${i % 2 + 1} 0$i:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    val b = (1 to 4).map(i =>
        (s"2.2.2.$i", java.sql.Timestamp.valueOf(s"2024-04-0${i % 2 + 1} 0$i:00:00"), 500L, "eu"))
      .toDF("ip", "ts", "status", "region").withColumn("source", lit("lambda"))
    LogStore.write(a, s"$base/storeA")
    LogStore.write(b, s"$base/storeB")
    LogStore.setAlias(spark, s"$base/a.alias", s"$base/storeA")
    LogStore.setAlias(spark, s"$base/b.alias", s"$base/storeB")

    val fed = LogStore.readAliases(spark, Seq(s"$base/a.alias", s"$base/b.alias"))
    assert(fed.count() == 8)
    // schema merge: store A rows surface the missing column as null
    assert(fed.filter(col("region").isNull).count() == 4)
    assert(fed.filter(col("region") === "eu").count() == 4)

    // a date predicate above the union prunes partitions in BOTH stores
    def branchFiles(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      df.collect()
      val plan = df.queryExecution.executedPlan match {
        case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => ad.executedPlan
        case p => p
      }
      plan.collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }
    }
    val all = branchFiles(fed)
    val pruned = branchFiles(fed.filter(col("log_date") === lit("2024-04-01")))
    assert(all.size == 2 && pruned.size == 2)
    assert(pruned.zip(all).forall { case (p, t) => p > 0 && p < t },
      s"pruned=$pruned all=$all — a branch lost partition pruning")
  }

  test("store health: green on a committed store, yellow on empty partition or missing marker, red when bare (A18)") {
    val base = Files.createTempDirectory("graft-health").toString
    assert(LogStore.storeHealth(spark, s"$base/none")._1 == "red")
    val rows = Seq(("1.1.1.1", java.sql.Timestamp.valueOf("2024-08-01 01:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    LogStore.write(rows, s"$base/logs")
    assert(LogStore.storeHealth(spark, s"$base/logs")._1 == "green")
    // a writer that died after mkdir leaves an empty partition -> yellow
    Files.createDirectories(Paths.get(s"$base/logs/log_date=2024-08-02/source=ec2"))
    val (status, issues) = LogStore.storeHealth(spark, s"$base/logs")
    assert(status == "yellow" && issues.exists(_.contains("log_date=2024-08-02")))
  }

  test("index template enforcement: conforming write lands, drift/unmapped/missing refused, evolution opt-in (A20)") {
    import org.apache.spark.sql.types._
    val base = Files.createTempDirectory("graft-tmpl").toString
    val template = StructType(Seq(
      StructField("ip", StringType), StructField("ts", TimestampType),
      StructField("status", LongType), StructField("source", StringType)))
    val t0 = java.sql.Timestamp.valueOf("2024-07-01 01:00:00")
    val ok = Seq(("9.9.9.9", t0, 200L)).toDF("ip", "ts", "status")
      .withColumn("source", lit("ec2"))
    LogStore.writeWithTemplate(ok, s"$base/logs", template)
    assert(spark.read.parquet(s"$base/logs").count() == 1)
    // type drift refused
    val drift = Seq(("9.9.9.9", t0, "200")).toDF("ip", "ts", "status")
      .withColumn("source", lit("ec2"))
    assert(intercept[IllegalArgumentException] {
      LogStore.writeWithTemplate(drift, s"$base/logs", template)
    }.getMessage.contains("type drift on 'status'"))
    // unmapped field refused with dynamic mapping off, accepted with evolution
    val extra = ok.withColumn("region", lit("eu"))
    assert(intercept[IllegalArgumentException] {
      LogStore.writeWithTemplate(extra, s"$base/logs", template)
    }.getMessage.contains("unmapped field 'region'"))
    LogStore.writeWithTemplate(extra, s"$base/logs", template, allowEvolution = true)
    // old rows surface the evolved column as null (A7 semantics)
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$base/logs")
    assert(merged.count() == 2 && merged.filter(col("region").isNull).count() == 1)
    // missing mapped field refused
    val missing = Seq(("1.1.1.1", java.sql.Timestamp.valueOf("2024-07-01 02:00:00")))
      .toDF("ip", "ts").withColumn("source", lit("ec2"))
    assert(intercept[IllegalArgumentException] {
      LogStore.writeWithTemplate(missing, s"$base/logs", template)
    }.getMessage.contains("missing mapped field 'status'"))
  }

  test("index stats: per-(log_date, source) doc counts, file counts and store bytes (A17)") {
    val base = Files.createTempDirectory("graft-stats").toString
    val rows = (1 to 6).map(i =>
        (s"3.3.3.$i", java.sql.Timestamp.valueOf(s"2024-06-0${i % 2 + 1} 0$i:00:00"), 200L))
      .toDF("ip", "ts", "status")
      .withColumn("source", lit("ec2"))
    LogStore.write(rows, s"$base/logs")
    // byte totals agree with the filesystem's own du of the committed files
    val committed = java.nio.file.Files.walk(Paths.get(s"$base/logs")).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("_"))
      .toList
    val fsBytes = committed.map(p => java.nio.file.Files.size(p)).sum
    // part files that are not committed: a Spark write's task output
    // and an epoch write's staging dir, both below a partition path
    Seq("_temporary/0/_temporary/attempt_0/log_date=2024-06-01/source=ec2",
        "_staging-epoch-7-w/log_date=2024-06-01/source=ec2").foreach { d =>
      val dir = Files.createDirectories(Paths.get(s"$base/logs/$d"))
      Files.copy(committed.head, dir.resolve("part-00000-x.c000.snappy.parquet"))
    }
    val stats = LogStore.indexStats(spark, s"$base/logs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // two dates x one source; doc counts partition 6 rows 3/3
    assert(stats.map(s => (s._1, s._2, s._3)).toSet ==
      Set(("2024-06-01", "ec2", 3L), ("2024-06-02", "ec2", 3L)))
    assert(stats.forall(s => s._4 > 0 && s._5 > 0), s"files/bytes must be positive: ${stats.toSeq}")
    assert(stats.map(_._4).sum == committed.size, s"uncommitted files counted: ${stats.toSeq}")
    assert(stats.map(_._5).sum == fsBytes)
  }

  test("field caps: union of member schemas with per-field presence and type-conflict flags (C65)") {
    val base = Files.createTempDirectory("graft-fcaps").toString
    val a = Seq(("1.1.1.1", java.sql.Timestamp.valueOf("2024-04-01 01:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    // store B grew `region` AND drifted `status` to a string type
    val b = Seq(("2.2.2.2", java.sql.Timestamp.valueOf("2024-04-01 02:00:00"), "500", "eu"))
      .toDF("ip", "ts", "status", "region").withColumn("source", lit("lambda"))
    LogStore.write(a, s"$base/storeA")
    LogStore.write(b, s"$base/storeB")
    LogStore.setAlias(spark, s"$base/a.alias", s"$base/storeA")
    LogStore.setAlias(spark, s"$base/b.alias", s"$base/storeB")
    val caps = LogStore.fieldCaps(spark, Seq(s"$base/a.alias", s"$base/b.alias"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(caps("ip") == (("string", 2L, true, false)))
    assert(caps("region") == (("string", 1L, false, false)),
      "a field present in one member must report in_all_members=false")
    val st = caps("status")
    assert(st._2 == 2L && st._4, s"drifted status must flag a type conflict: $st")
    assert(st._1.split(',').toSet == Set("bigint", "string"))
  }

  test("cross-store reindex: federated union lands in one new root, drifted schema null-filled, members untouched") {
    val base = Files.createTempDirectory("graft-xreindex").toString
    val a = (1 to 3).map(i =>
        (s"1.1.1.$i", java.sql.Timestamp.valueOf(s"2024-05-0$i 01:00:00"), 200L))
      .toDF("ip", "ts", "status").withColumn("source", lit("ec2"))
    val b = (1 to 3).map(i =>
        (s"2.2.2.$i", java.sql.Timestamp.valueOf(s"2024-05-0$i 02:00:00"), 500L, "eu"))
      .toDF("ip", "ts", "status", "region").withColumn("source", lit("lambda"))
    LogStore.write(a, s"$base/storeA")
    LogStore.write(b, s"$base/storeB")
    LogStore.setAlias(spark, s"$base/a.alias", s"$base/storeA")
    LogStore.setAlias(spark, s"$base/b.alias", s"$base/storeB")

    LogStore.reindexFederated(spark,
      Seq(s"$base/a.alias", s"$base/b.alias"), s"$base/merged")()
    val merged = spark.read.parquet(s"$base/merged")
    assert(merged.count() == 6)
    // layout enforced: per-date partition dirs exist in the new root
    val fs = new org.apache.hadoop.fs.Path(s"$base/merged")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dates = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/merged"))
      .map(_.getPath.getName).filter(_.startsWith("log_date=")).sorted
    assert(dates.toSeq == Seq("log_date=2024-05-01", "log_date=2024-05-02", "log_date=2024-05-03"))
    // drifted schema: storeA rows null-fill the region column
    assert(merged.filter(col("region").isNull).count() == 3)
    assert(merged.filter(col("region") === "eu").count() == 3)
    // members stay live and untouched
    assert(spark.read.parquet(s"$base/storeA").count() == 3)
    assert(spark.read.parquet(s"$base/storeB").count() == 3)
    // a transform rides the copy (and must keep the partition keys)
    LogStore.reindexFederated(spark,
      Seq(s"$base/a.alias", s"$base/b.alias"), s"$base/merged2")(
      _.filter(col("status") === 500L))
    assert(spark.read.parquet(s"$base/merged2").count() == 3)
  }

  test("federated PIT pins every member; scroll over the union survives appends to any member") {
    val base = Files.createTempDirectory("graft-fedpit").toString
    def mk(tag: String, ips: Seq[String]) = ips.toDF("ip")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00")))
      .withColumn("status", lit(200L))
      .withColumn("source", lit(tag))
    LogStore.write(mk("ec2", Seq("a", "c")), s"$base/storeA")
    LogStore.write(mk("lambda", Seq("b", "d")), s"$base/storeB")
    LogStore.setAlias(spark, s"$base/a.alias", s"$base/storeA")
    LogStore.setAlias(spark, s"$base/b.alias", s"$base/storeB")

    val pit = LogStore.createPitFederated(spark, Seq(s"$base/a.alias", s"$base/b.alias"))
    // concurrent appends land in BOTH members after the pin
    LogStore.write(mk("ec2", Seq("e")), s"$base/storeA")
    LogStore.write(mk("lambda", Seq("f")), s"$base/storeB")
    assert(LogStore.readAliases(spark,
      Seq(s"$base/a.alias", s"$base/b.alias")).count() == 6)
    val pinned = LogStore.readPitFederated(spark, pit)
    assert(pinned.count() == 4)
    assert(pinned.columns.contains("log_date"))

    // a paginated export over the pinned union is exact: in order, no
    // dup, no miss — regardless of the appends above
    var after: Option[Seq[Any]] = None
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var page = LogStore.scrollPageOf(
      LogStore.readPitFederated(spark, pit), Seq("ip"), after, 3)
      .select("ip").as[String].collect()
    while (page.nonEmpty) {
      seen ++= page
      after = Some(Seq(page.last))
      page = LogStore.scrollPageOf(
        LogStore.readPitFederated(spark, pit), Seq("ip"), after, 3)
        .select("ip").as[String].collect()
    }
    assert(seen.toSeq == Seq("a", "b", "c", "d"))
  }

  test("size-based rollover opens new generations; rollover read unions all with pruning") {
    val root = Files.createTempDirectory("graft-roll").toString + "/logs"
    def batch(day: Int, n: Int) = spark.range(n).select(
      concat(lit("10.0.0."), col("id") % 250).as("ip"),
      lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")).as("ts"),
      lit(200L).as("status"),
      lit("ec2").as("source"))
    // tiny threshold: every batch after the first crosses it, so each
    // write opens a fresh generation
    val g1 = LogStore.rolloverWrite(batch(1, 500), root, maxBytes = 1)
    val g2 = LogStore.rolloverWrite(batch(2, 500), root, maxBytes = 1)
    val g3 = LogStore.rolloverWrite(batch(3, 500), root, maxBytes = 1)
    assert(Set(g1, g2, g3).size == 3, s"expected 3 generations, got $g1 $g2 $g3")
    // a huge threshold keeps appending to the current generation
    val g4 = LogStore.rolloverWrite(batch(4, 10), root, maxBytes = Long.MaxValue)
    assert(g4 == g3, "small batch must not roll over")

    val all = LogStore.readRollover(spark, root, "2024-01-01", "2024-02-01")
    assert(all.count() == 1510)
    // per-generation partition pruning still applies
    val day2 = LogStore.readRollover(spark, root, "2024-01-02", "2024-01-03")
    assert(day2.count() == 500)
    assert(day2.filter(to_date(col("ts")) =!= "2024-01-02").count() == 0)
  }

  test("continuous replication follower converges the replica, tick by tick, idempotent under redelivery and crash-resume (A10c)") {
    val base = Files.createTempDirectory("graft-ccr").toString
    val leader = base + "/leader"; val replica = base + "/replica"
    def batch(day: Int, n: Int) = spark.range(n).select(
      concat(lit("10.0.0."), col("id") % 250).as("ip"),
      lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")).as("ts"),
      lit(200L).as("status"),
      lit("ec2").as("source"))
    def rows(root: String) =
      LogStore.readRollover(spark, root, "2024-01-01", "2024-02-01")
        .select("ip", "ts", "status", "source")
        .as[(String, java.sql.Timestamp, Long, String)].collect().sorted.toSeq

    // batch 1 lands in gen 1; the first tick replicates it
    LogStore.rolloverWrite(batch(1, 300), leader, maxBytes = Long.MaxValue)
    val t1 = LogStore.followTick(spark, leader, replica)
    assert(t1.nonEmpty && rows(replica) == rows(leader))
    // a converged follower's tick copies NOTHING (idempotency/redelivery)
    assert(LogStore.followTick(spark, leader, replica).isEmpty)

    // the LIVE generation gains files; the tick copies only the delta
    LogStore.rolloverWrite(batch(2, 300), leader, maxBytes = Long.MaxValue)
    val t2 = LogStore.followTick(spark, leader, replica)
    assert(t2.nonEmpty && t2.toSet.intersect(t1.toSet).isEmpty,
      s"already-replicated files re-copied: ${t2.toSet.intersect(t1.toSet)}")
    assert(rows(replica) == rows(leader))

    // the leader rolls to a new generation; the follower tails it too
    LogStore.rolloverWrite(batch(3, 300), leader, maxBytes = 1)
    val t3 = LogStore.followTick(spark, leader, replica)
    assert(t3.forall(_.startsWith("gen=000002")), s"unexpected copies: $t3")
    assert(rows(replica) == rows(leader))

    // crash-resume: a killed follower leaves a missing file and a stale
    // hidden temp; the next tick restores the file and readers never see
    // the temp
    val fs = new org.apache.hadoop.fs.Path(replica)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val victim = new org.apache.hadoop.fs.Path(replica + "/" + t3.head)
    fs.delete(victim, false)
    fs.create(new org.apache.hadoop.fs.Path(
      victim.getParent, ".inflight-" + victim.getName)).close()
    val t4 = LogStore.followTick(spark, leader, replica)
    assert(t4 == Seq(t3.head), s"resume tick copied $t4")
    assert(rows(replica) == rows(leader))
    assert(LogStore.followTick(spark, leader, replica).isEmpty)
  }

  test("delete_by_query rewrites only affected partitions and reports the deleted count (A24)") {
    val root = Files.createTempDirectory("graft-dbq").toString + "/logs"
    def batch(day: Int, status: Long, n: Int) = spark.range(n).select(
      concat(lit("10.0.0."), col("id") % 250).as("ip"),
      lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")).as("ts"),
      lit(status).as("status"),
      lit("ec2").as("source"))
    LogStore.write(batch(1, 200L, 100).unionAll(batch(1, 500L, 40))
      .unionAll(batch(2, 200L, 60)), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day2Before = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-02"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet

    val deleted = LogStore.deleteByQuery(spark, root, col("status") === 500L)
    assert(deleted == 40L, s"deleted $deleted")
    val left = spark.read.parquet(root)
    assert(left.count() == 160 && left.filter(col("status") === 500L).count() == 0)
    // the untouched partition keeps its exact files (no needless rewrite)
    val day2After = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-02"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet
    assert(day2After == day2Before, "unaffected partition was rewritten")
    // idempotent: nothing left to delete
    assert(LogStore.deleteByQuery(spark, root, col("status") === 500L) == 0L)
    // a predicate matching a WHOLE partition removes the partition dir
    assert(LogStore.deleteByQuery(spark, root,
      col("log_date") === "2024-01-02") == 60L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-02")))
    assert(spark.read.parquet(root).count() == 100)
  }

  test("update_by_query transforms matching rows in place; unaffected partitions untouched (A25)") {
    val root = Files.createTempDirectory("graft-ubq").toString + "/logs"
    def batch(day: Int, status: Long, n: Int) = spark.range(n).select(
      concat(lit("10.0.0."), col("id") % 250).as("ip"),
      lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")).as("ts"),
      lit(status).as("status"),
      lit("ec2").as("source"))
    LogStore.write(batch(1, 500L, 30).unionAll(batch(1, 200L, 70))
      .unionAll(batch(2, 200L, 50)), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day2Before = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-02"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet
    val n = LogStore.updateByQuery(spark, root, col("status") === 500L)(
      _.withColumn("status", lit(503L)))
    assert(n == 30L)
    val after = spark.read.parquet(root)
    assert(after.count() == 150)
    assert(after.filter(col("status") === 500L).count() == 0)
    assert(after.filter(col("status") === 503L).count() == 30)
    val day2After = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-02"))
      .map(s => s.getPath.getName -> s.getModificationTime).toSet
    assert(day2After == day2Before, "unaffected partition was rewritten")
    // a partition-moving transform is refused before touching the store
    intercept[IllegalArgumentException] {
      LogStore.updateByQuery(spark, root, col("status") === 503L)(
        _.withColumn("log_date", lit("2024-02-01").cast("date")))
    }
    assert(spark.read.parquet(root).count() == 150)
    // a transform that drops the matched rows drops them in an
    // all-matching partition (day 3, removed) as in a mixed one (day 2)
    LogStore.write(batch(2, 404L, 5).unionAll(batch(3, 404L, 10)), root)
    assert(LogStore.updateByQuery(spark, root, col("status") === 404L)(
      _.filter(lit(false))) == 15L)
    val dropped = spark.read.parquet(root)
    assert(dropped.count() == 150 && dropped.filter(col("status") === 404L).count() == 0)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/log_date=2024-01-03")))
  }

  test("json-lines and csv readers honor the explicit schema") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    java.nio.file.Paths.get(dir)
    Files.writeString(java.nio.file.Path.of(dir, "a.json"),
      """{"ip":"1.2.3.4","ts":"2024-01-01T00:00:00Z","verb":"GET","path":"/x","proto":"HTTP/1.1","status":200,"bytes":12,"referrer":"-","agent":"curl","source":"ec2"}""" + "\n")
    val j = LogStore.readJsonLogs(spark, dir + "/a.json")
    assert(j.schema == LogStore.logSchema)
    assert(j.count() == 1 && j.select("status").as[Long].head() == 200L)

    Files.writeString(java.nio.file.Path.of(dir, "b.csv"),
      "1.2.3.4,2024-01-01T00:00:00Z,GET,/x,HTTP/1.1,200,12,-,curl,ecs\n")
    val c = LogStore.readCsvLogs(spark, dir + "/b.csv")
    assert(c.count() == 1 && c.select("source").as[String].head() == "ecs")
  }

  test("upsert store: latest version wins, tombstones delete, compaction folds history (A27)") {
    val root = Files.createTempDirectory("graft-upsert").toString + "/docs"
    def batch(rows: Seq[(Long, String)], day: Int) = rows.toDF("doc_id", "body")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")))
      .withColumn("source", lit("ec2"))
    LogStore.upsertWrite(batch(Seq((1L, "v1"), (2L, "v1"), (3L, "v1")), 1), root, seq = 1)
    LogStore.upsertWrite(batch(Seq((1L, "v2")), 2), root, seq = 2)       // replace id 1
    LogStore.upsertWrite(batch(Seq((2L, "gone")), 2), root, seq = 3, deleted = lit(true)) // delete id 2
    val latest = LogStore.readLatest(spark, root)
      .select("doc_id", "body").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "v2", 3L -> "v1"))
    // redelivery of an OLD seq cannot resurrect an old version
    LogStore.upsertWrite(batch(Seq((1L, "v1")), 1), root, seq = 1)
    assert(LogStore.readLatest(spark, root)
      .filter(col("doc_id") === 1L).select("body").as[String].head() == "v2")
    // compaction folds physically: history rows disappear, reads unchanged
    val rawBefore = spark.read.parquet(root).count()
    LogStore.compactUpserts(spark, root)
    val rawAfter = spark.read.parquet(root).count()
    assert(rawAfter == 2 && rawBefore > rawAfter, s"$rawBefore -> $rawAfter")
    val after = LogStore.readLatest(spark, root)
      .select("doc_id", "body").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "v2", 3L -> "v1"))
    // id 1's survivor lives in its LATEST version's partition (day 2)
    assert(spark.read.parquet(root)
      .filter(col("doc_id") === 1L)
      .select(col("log_date").cast("string")).as[String].head() == "2024-01-02")
  }

  test("Bloom skipping index: point lookup prunes partitions, never loses a holder (A26)") {
    val root = Files.createTempDirectory("graft-bloom").toString + "/logs"
    def day(d: Int, reqs: Seq[String]) = reqs.toDF("req_id")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")))
      .withColumn("source", lit("ec2"))
    // the needle lives ONLY on day 3; 9 other days carry 50 ids each
    (1 to 10).foreach { d =>
      val ids = (1 to 50).map(i => s"req-$d-$i") ++
        (if (d == 3) Seq("needle-1") else Nil)
      LogStore.write(day(d, ids), root)
    }
    LogStore.writeBloomIndex(spark, root, "req_id")

    // no false negatives: the true holder is always a candidate
    val cands = LogStore.bloomCandidates(spark, root, "req_id", "needle-1")
    assert(cands.map(_._1).contains("2024-01-03"), s"cands $cands")
    // the filter actually prunes: candidates ≪ 10 partitions
    assert(cands.size < 10, s"no pruning: $cands")

    // the pruned read returns exactly the unpruned truth
    val pruned = LogStore.readWithBloomIndex(spark, root, "req_id", "needle-1")
      .select("req_id", "log_date").collect()
    assert(pruned.length == 1 && pruned.head.getString(0) == "needle-1")
    // an absent value: candidate list is (almost always) empty and the
    // read returns nothing either way
    assert(LogStore.readWithBloomIndex(spark, root, "req_id", "no-such-id").count() == 0)
    // a value present in every partition qualifies every partition
    (1 to 10).foreach(d => assert(
      LogStore.bloomCandidates(spark, root, "req_id", s"req-$d-7").map(_._1)
        .contains(f"2024-01-$d%02d")))
  }

  test("bloom read scans exact (log_date, source) PAIRS, not the isin cross product") {
    val root = Files.createTempDirectory("graft-bloompair").toString + "/logs"
    def part(d: Int, src: String, ids: Seq[String]) = ids.toDF("req_id")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")))
      .withColumn("source", lit(src))
    // the probe value lives in (d1, ec2) and (d2, ecs) ONLY; the cross
    // product would also scan (d1, ecs) and (d2, ec2)
    LogStore.write(part(1, "ec2", Seq("needle", "a1")), root)
    LogStore.write(part(1, "ecs", Seq("b1", "b2")), root)
    LogStore.write(part(2, "ec2", Seq("c1", "c2")), root)
    LogStore.write(part(2, "ecs", Seq("needle", "d1")), root)
    LogStore.writeBloomIndex(spark, root, "req_id")
    val df = LogStore.readWithBloomIndex(spark, root, "req_id", "needle")
    assert(df.count() == 2)
    val scan = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.selectedPartitions.partitionCount == 2,
      s"scanned ${scan.selectedPartitions.partitionCount} partitions, want the 2 candidates")
  }

  test("crashed-swap recovery: parked .old with no live dir restored, stale parking dropped") {
    val root = Files.createTempDirectory("graft-park").toString + "/logs"
    def batch(day: Int, n: Int) = spark.range(n).select(
      concat(lit("10.0.0."), col("id") % 250).as("ip"),
      lit(java.sql.Timestamp.valueOf(f"2024-01-$day%02d 00:00:00")).as("ts"),
      lit(200L).as("status"), lit("ec2").as("source"))
    LogStore.write(batch(1, 30).unionAll(batch(2, 20)), root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(s"$root/$n")
    // crash between parking and move-in: the only copy sits at .old —
    // discovered (if at all) under the CORRUPTED key '2024-01-01.old',
    // so date-pruned readers miss it entirely
    assert(fs.rename(p("log_date=2024-01-01"), p("log_date=2024-01-01.old")))
    assert(spark.read.parquet(root)
      .filter(col("log_date").cast("string") === "2024-01-01").count() == 0)
    assert(LogStore.recoverParkedPartitions(spark, root) == 1)
    assert(spark.read.parquet(root).count() == 50)
    assert(spark.read.parquet(root)
      .filter(col("log_date").cast("string") === "2024-01-01").count() == 30)
    // stale parking beside a live dir is dropped, not restored over it
    fs.mkdirs(p("log_date=2024-01-02.old"))
    assert(LogStore.recoverParkedPartitions(spark, root) == 0)
    assert(!fs.exists(p("log_date=2024-01-02.old")))
    assert(spark.read.parquet(root).count() == 50)
    // every swap entry point self-heals: delete_by_query after a "crash"
    assert(fs.rename(p("log_date=2024-01-02"), p("log_date=2024-01-02.old")))
    assert(LogStore.deleteByQuery(spark, root, col("status") === 999L) == 0L)
    assert(spark.read.parquet(root).count() == 50)
  }

  test("epoch fold: crash between the whole-root renames is recovered from the .old parking") {
    val base = Files.createTempDirectory("graft-fold").toString
    val root = s"$base/logs"
    def batch(n: Int) = spark.range(n).select(
      concat(lit("10.3.0."), col("id")).as("ip"),
      lit(java.sql.Timestamp.valueOf("2024-04-01 00:00:00")).as("ts"),
      lit(200L).as("status"), lit("ec2").as("source"))
    graft.streaming.LogPipeline.idempotentBatchWrite(
      batch(30), root, 0, Seq("log_date", "source"))
    graft.streaming.LogPipeline.idempotentBatchWrite(
      batch(20), root, 1, Seq("log_date", "source"))
    assert(spark.read.parquet(root).count() == 50)
    // simulate the fold crash window: root parked, replacement not moved in
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root),
      new org.apache.hadoop.fs.Path(s"$root.old")))
    // next fold restores the parking FIRST, then folds to the date layout
    assert(LogStore.foldEpochs(spark, root))
    val folded = spark.read.parquet(root)
    assert(folded.count() == 50 && !folded.columns.contains("epoch"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root.old")))
    // idempotent: a date-layout store folds as a no-op
    assert(!LogStore.foldEpochs(spark, root))
  }

  test("z-order rewrite tightens per-file spans on BOTH clustered columns (A28)") {
    val root = Files.createTempDirectory("graft-zorder").toString + "/logs"
    // status and bytes deliberately uncorrelated so no 1-D sort can
    // serve both; 1024 rows in one (date, source) partition
    val rows = (0 until 1024).map { i =>
      (s"9.9.9.${i % 250}",
        java.sql.Timestamp.valueOf("2024-02-01 10:00:00"),
        200L + (i * 7) % 400,           // status-ish key
        ((i * 131) % 997).toLong)       // bytes-ish key, decorrelated
    }.toDF("ip", "ts", "status", "bytes").withColumn("source", lit("ec2"))
    LogStore.write(rows, root)

    def spans(): (Double, Double, Long) = {
      val f = LogStore.fileSpans(spark, root, "status", "bytes").collect()
      val w1 = f.map(r => (r.getAs[Long]("max1") - r.getAs[Long]("min1")).toDouble).sum / f.length
      val w2 = f.map(r => (r.getAs[Long]("max2") - r.getAs[Long]("min2")).toDouble).sum / f.length
      (w1, w2, f.length.toLong)
    }
    // hash-compact into 8 full-width files first (the layout to beat)
    LogStore.compact(spark, root, filesPerPartition = 8)
    val (h1, h2, hn) = spans()

    LogStore.zorderCompact(spark, root, ("status", "bytes"), filesPerPartition = 8)
    val (z1, z2, zn) = spans()
    // every row survives the swap
    assert(spark.read.parquet(root).count() == 1024)
    assert(zn >= 4L, s"expected multiple z files, got $zn")
    // the z layout must tighten BOTH dimensions vs hash placement
    assert(z1 < h1 * 0.8 && z2 < h2 * 0.8,
      s"z spans ($z1, $z2) should beat hash spans ($h1, $h2) on both axes")
  }
}

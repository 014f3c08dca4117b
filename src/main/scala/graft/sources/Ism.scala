package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A15 — index state management policy runner (SURVEY §2).
  *
  * OpenSearch ISM is what actually operates the reference's daily
  * indexes in production: a policy walks each index through
  * hot → warm → cold → delete, firing actions (force_merge, snapshot,
  * delete) when age conditions trip. The repo has each action as an
  * A-block primitive (A8 compaction, A11 snapshot, A9 retention);
  * this runner is the POLICY object users configure, evaluated as a
  * deterministic pass over the store's date partitions:
  *
  *   - hot (age ≤ compactAfterDays): untouched — still receiving reads
  *     and possibly late appends;
  *   - warm: force_merge — the partition is rewritten to one file per
  *     source in a sibling tmp and swapped in by `LogStore.swapIn`, the
  *     swap every store rewrite uses; a tick first restores what a
  *     crashed swap left parked (`LogStore.recoverParkedPartitions`);
  *   - cold: copied into the snapshot dir once (manifest-tracked,
  *     A11's restore contract) — the live partition stays searchable;
  *   - delete: the partition directory is dropped (A9) — its snapshot,
  *     if the cold phase took one, is the long-retention copy.
  *
  * Every action is idempotent and the pass reports what it did per
  * partition ("noop" when already in target state), so a scheduler can
  * run it every tick — the ISM execution model. Directory-level
  * operations only; no data is read except the warm rewrite.
  */
object Ism {

  final case class Policy(compactAfterDays: Int = 1,
                          snapshotAfterDays: Int = 3,
                          deleteAfterDays: Int = 7) {
    require(compactAfterDays <= snapshotAfterDays &&
      snapshotAfterDays <= deleteAfterDays, "phases must be ordered")
  }

  /** One policy tick over `root`'s log_date partitions, deterministic
    * given `asOf` (ISO date). Returns (log_date, phase, action) rows.
    */
  def applyPolicy(spark: SparkSession, root: String, snapDir: String,
                  policy: Policy, asOf: String): DataFrame = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val asOfDay = java.time.LocalDate.parse(asOf)
    if (!fs.exists(rootPath))
      return Seq.empty[(String, String, String)].toDF("log_date", "phase", "action")
    LogStore.recoverParkedPartitions(spark, root)
    val tmpRoot = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + ".ism-tmp")

    val parts = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("log_date="))
      .sortBy(_.getPath.getName)
    val report = parts.map { st =>
      val name = st.getPath.getName
      val date = name.stripPrefix("log_date=")
      val age = java.time.temporal.ChronoUnit.DAYS
        .between(java.time.LocalDate.parse(date), asOfDay)
      if (age > policy.deleteAfterDays) {
        fs.delete(st.getPath, true)
        (date, "delete", "deleted")
      } else if (age > policy.snapshotAfterDays) {
        val dst = new org.apache.hadoop.fs.Path(snapDir, name)
        if (fs.exists(dst)) (date, "cold", "noop")
        else {
          fs.mkdirs(new org.apache.hadoop.fs.Path(snapDir))
          org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, dst, false, conf)
          (date, "cold", "snapshotted")
        }
      } else if (age > policy.compactAfterDays) {
        if (Parquet.dataFiles(fs, st.getPath).length <= countSources(fs, st.getPath))
          (date, "warm", "noop")
        else {
          // the live partition stays readable until the swap
          val tmp = new org.apache.hadoop.fs.Path(tmpRoot, name)
          Parquet.read(spark, st.getPath.toString)
            .repartition(1, col("source"))
            .write.mode("overwrite").partitionBy("source")
            .parquet(tmp.toString)
          LogStore.swapIn(fs, tmp, st.getPath)
          fs.delete(tmpRoot, true)
          (date, "warm", "compacted")
        }
      } else (date, "hot", "noop")
    }
    // keep the snapshot dir restore-compatible: rewrite the manifest to
    // the partitions currently snapshotted (A11's restore contract)
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    if (fs.exists(snapPath)) {
      val names = fs.listStatus(snapPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("log_date="))
        .map(_.getPath.getName).sorted
      if (names.nonEmpty) {
        val out = fs.create(new org.apache.hadoop.fs.Path(snapPath, "_MANIFEST"), true)
        try out.write((names.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
      }
    }
    report.toDF("log_date", "phase", "action").orderBy("log_date")
  }

  private def countSources(fs: org.apache.hadoop.fs.FileSystem,
                           part: org.apache.hadoop.fs.Path): Int =
    fs.listStatus(part).count(s =>
      s.isDirectory && s.getPath.getName.startsWith("source="))
}

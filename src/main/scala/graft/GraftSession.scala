package graft

import org.apache.spark.sql.SparkSession

/** One-stop session factory with graft's recommended configuration —
  * what a library user calls instead of hand-assembling confs.
  */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // local-mode default; a real cluster raises this (or lets AQE
      // coalesce) — never leave Spark's 200 default on a laptop
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // local-mode default: more paths than this (32 by default) are
      // listed by a Spark job, whose tasks in local mode run in the
      // driver JVM against the same filesystem — slower than listing on
      // the driver at any count (a 62-file micro-batch paid ~0.4 s for
      // it); a cluster over an object store lowers this again
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      // local filesystem default: without libhadoop, Hadoop's local FS
      // forks a `chmod` for every file create and mkdir and a `readlink`
      // for every checkpoint-log rename (~7 ms each, on the sink's and
      // the micro-batch's critical path); these classes do both through
      // java.nio and keep the checksums (graft.sources.LocalFs). Unset,
      // `file:` resolves by classpath order (Spark's jars: hive-exec's
      // ProxyLocalFileSystem, which forks the same way)
      .config("spark.hadoop.fs.file.impl", "graft.sources.ForkFreeLocalFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", "graft.sources.ForkFreeLocalFs")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the driver-generated events table uses parquet TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // native expressions available from SQL without registration calls
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // static conf (must precede session creation): the generated-class
      // cache defaults to 100 entries — query batteries the size of this
      // library's thrash it (~+0.1 s per small query once exceeded)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")

  def get(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Core count for the local harness mains: `SPARK_GRAFT_CPUS` if set,
    * else min(32, nproc).
    */
  private def localCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** The harness mains' session: `local[cpus]` with `cpus` shuffle
    * partitions and the caller's log level.
    */
  def local(logLevel: String, cpus: Int = localCpus): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}

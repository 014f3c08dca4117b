package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Resolution point for every engine-managed scratch artifact: the
  * memoized index builds and parked corpus-sized intermediates, all
  * built through [[ensure]].
  *
  * These artifacts are written and read by SPARK JOBS — executor
  * tasks on a multi-node cluster — so the root must be a filesystem
  * every node and the driver can see. `java.io.tmpdir` is only that
  * in local mode; a driver-local path on a real cluster means each
  * executor writes its task's files to its own disk and the read-back
  * sees partial or no data. Deployments set `spark.graft.scratch.dir`
  * to a shared location (HDFS / S3 / NFS — the same class of path as
  * the Spark checkpoint dir); the tmpdir default keeps zero-config
  * local runs working.
  */
object Scratch {

  val confKey = "spark.graft.scratch.dir"

  private val warned = new java.util.concurrent.atomic.AtomicBoolean(false)

  def root(spark: SparkSession): String =
    spark.conf.getOption(confKey).getOrElse {
      // the tmpdir default is only correct when driver and executors
      // share a filesystem — warn LOUDLY (once) on a real cluster
      // instead of silently reading back partial executor-local data
      if (!spark.sparkContext.isLocal && warned.compareAndSet(false, true))
        System.err.println(
          s"[graft] WARNING: $confKey is unset on a non-local master; " +
            "scratch artifacts default to the driver-local java.io.tmpdir, " +
            "which executors cannot share — set it to HDFS/S3/NFS")
      sys.props("java.io.tmpdir")
    }

  /** `<root>/<name>` composed URI-safely (the root may be an
    * `hdfs://`/`s3a://` URI, which `java.io.File` would mangle).
    */
  def path(spark: SparkSession, name: String): String =
    new Path(root(spark), name).toString

  /** Build-once memoization with generation cleanup — the ONE artifact
    * lifecycle: every memoized scratch artifact (IVF / PQ / NN-graph /
    * inverted index / rollup / media table / canonical map / BPE merges
    * / parks) is keyed, marked and swept here. The artifact lives at
    * `<root>/<family>-<gen>`:
    *
    *  - `family = graft-<name>-digest(dir)`: stable for the LOGICAL
    *    artifact. `name` carries the operator and its layout version;
    *    the dir digest keeps sf0.001/sf0.01/sf0.1 artifacts from
    *    sweeping each other;
    *  - `gen = digest(knobs :+ fingerprint(dir, table))`: everything
    *    that invalidates it — the derived knobs and the source table's
    *    file listing, so regenerating the data in place rebuilds
    *    instead of serving the old generation.
    *
    * First call per (family, gen) pays `build(path)`; the `_COMPLETE`
    * marker is written LAST so a crashed build is rebuilt, never read.
    * A fresh build first deletes the family's SUPERSEDED generations —
    * they belong to regenerated data, and without the sweep every
    * in-place regeneration would leak a corpus-sized artifact on the
    * shared scratch root forever. Lifetime contract: frames read from
    * a generation must be drained before its source data regenerates
    * (every caller consumes within one query invocation).
    */
  def ensure(spark: SparkSession, name: String, dir: String, table: String,
             knobs: Any*)(build: String => Unit): String = {
    val family = s"graft-$name-${digest(dir)}"
    val gen = digest(knobs.map(_.toString) :+ fingerprint(spark, dir, table): _*)
    val artifact = path(spark, s"$family-$gen")
    val marker = new Path(s"$artifact/_COMPLETE")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      scala.util.Try {
        fs.listStatus(new Path(root(spark)))
          .filter(st => st.getPath.getName.startsWith(s"$family-") &&
            st.getPath.getName != s"$family-$gen")
          .foreach(st => fs.delete(st.getPath, true))
      }
      build(artifact)
      fs.create(marker, true).close()
    }
    artifact
  }

  /** Digest of `dir/table`'s file listing (name, length, mtime, sorted
    * by name): changes whenever the table is regenerated in place. A
    * missing table digests to the empty listing.
    */
  def fingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("MD5")
    if (fs.exists(p)) {
      fs.listStatus(p).sortBy(_.getPath.getName).foreach { st =>
        md.update(s"${st.getPath.getName}#${st.getLen}#${st.getModificationTime};"
          .getBytes("UTF-8"))
      }
    }
    hex(md.digest())
  }

  /** md5 hex digest of the parts joined by `#`. */
  def digest(parts: String*): String =
    hex(java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("#").getBytes("UTF-8")))

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString
}

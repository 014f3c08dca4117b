package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Single-path parquet reads without Spark's schema-inference job.
  *
  * `spark.read.parquet(path)` infers the schema from one footer, but
  * Spark 4.1 reads that footer inside a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel` always runs
  * `parallelize(files).collect()`), so every read pays a job's
  * scheduling round trip — during planning, for an optimizer rule that
  * reads a table. `read` reads the same footer on the driver, with the
  * two calls Spark's task makes, and hands the schema to
  * `spark.read.schema(s).parquet(path)`. Listing, partition discovery,
  * the plan and the scan are unchanged.
  *
  * The footer is the one Spark's non-merging inference picks: the
  * path's `_common_metadata`, then its `_metadata`, then the first data
  * file in full-path string order (Spark sorts the listed leaves and
  * takes the head). Names Spark's listing hides — a leading `_` without
  * `=`, a leading `.`, a `._COPYING_` suffix — are skipped at every
  * level, so `_SUCCESS`, `_COMPLETE`, `_temporary/` and `.crc` files
  * never count; `dataFiles` applies the same rule to a whole store
  * listing. Spark would also honour summary files nested below the
  * path; graft writes none (Parquet's summary level stays NONE).
  *
  * Everything else falls back to `spark.read.parquet(path)`, so errors
  * stay Spark's own: a missing path or glob, no data file, an
  * unreadable footer, a hidden file named directly, or a streaming
  * sink directory (`_spark_metadata` lists its files, not the
  * directory). Reads that merge many footers (`mergeSchema`) or pin
  * files under a `basePath` stay on Spark's reader: merging is the
  * case the parallel job exists for.
  */
object Parquet {
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's non-merging inference would give `path`, read
    * on the driver; None where `read` falls back to Spark.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val state = spark.sessionState
      val conf = state.newHadoopConf()
      val p = new Path(path)
      val fs = p.getFileSystem(conf)
      footerFile(fs, fs.getFileStatus(p)).map { st =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
          new ParquetToSparkSchemaConverter(state.conf))
      }
    } catch { case NonFatal(_) => None }

  /** The files Spark's listing of `root` reads: every file below it
    * with no hidden name on the way down, so part files an in-flight
    * write stages under `_temporary/…` or `_staging-epoch-N-…/` and the
    * `.crc` and `_SUCCESS` sidecars never count. Empty when `root` is
    * missing.
    */
  def dataFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName))
        .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    if (fs.exists(root)) walk(root) else Nil
  }

  // Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName)
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footerFile(fs: FileSystem, root: FileStatus): Option[FileStatus] =
    if (!root.isDirectory) Some(root).filterNot(f => hidden(f.getPath.getName))
    else {
      val children = fs.listStatus(root.getPath)
      def named(n: String) = children.find(_.getPath.getName == n)
      if (named("_spark_metadata").isDefined) None
      else named("_common_metadata").orElse(named("_metadata"))
        .orElse(firstDataFile(fs, children))
    }

  /** Depth-first in the order of `name` + "/" for directories: every
    * path below a directory starts with that key, so the first file
    * found is the least full path string.
    */
  private def firstDataFile(fs: FileSystem, entries: Array[FileStatus]): Option[FileStatus] =
    entries.filterNot(e => hidden(e.getPath.getName))
      .sortBy(e => if (e.isDirectory) e.getPath.getName + "/" else e.getPath.getName)
      .iterator
      .flatMap(e => if (e.isDirectory) firstDataFile(fs, fs.listStatus(e.getPath)) else Some(e))
      .nextOption()
}

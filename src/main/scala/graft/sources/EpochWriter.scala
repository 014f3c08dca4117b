package graft.sources

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The epoch-idempotent parquet layout (SURVEY A5b) and its one writer.
  *
  * A micro-batch `N` lands under `<root>/epoch=N/`, in Hive-style
  * partition dirs below it; a re-run of batch `N` replaces that
  * directory whole, so a redelivered batch never appends beside its
  * own earlier output. One call writes one batch to any number of
  * roots (routes) in ONE Spark job: the job reads the batch once,
  * tags each row with the first route whose predicate holds, sorts
  * each partition by (route, partition values) and keeps one file
  * open per task, as Spark's V1 writer does.
  *
  * The files are Spark's own: `ParquetFileFormat.prepareWrite` sets up
  * each route's job conf and its `OutputWriterFactory` writes them, so
  * schema, footer, compression, timestamp type and `.crc` sidecars
  * match `df.write.partitionBy(…).parquet`, file for file (one per
  * task and partition dir, and one from task 0 even with no rows for
  * an unpartitioned route, so a reader always finds a schema).
  * Unlike `DataFrameWriter`, each route's job conf is broadcast once
  * instead of travelling twice inside every task (the write job
  * description and its stats tracker each hold a copy), and no commit
  * protocol runs: tasks write into a hidden `_staging-epoch-N-<write>`
  * dir under the root, named for this call alone, and the commit is a
  * delete of `epoch=N` plus one rename of that dir into its place; it
  * does not go through `LogStore.swapIn`, because an epoch lost
  * between the two is rewritten by checkpoint replay.
  * Readers (Spark's listing, `Parquet.read`, and `Parquet.dataFiles`,
  * which `LogStore.createPit`, `storeHealth`, `indexStats`,
  * `followTick` and the ISM tick list through) skip the `_` name, so a
  * staging dir left by a killed or failed write stays invisible until
  * the next write of that epoch removes it.
  *
  * A failed job does not stop its other running tasks; they are only
  * marked killed. Such a task checks the mark before each file it
  * opens, and whatever it still writes lands in its own call's staging
  * dir, which is never committed: a retry of the batch stages under a
  * new name, so it cannot commit a file of the failed call. A failed
  * task attempt's retry within one job rewrites the same file names
  * (they depend on the partition, not the attempt), deleting what the
  * failed attempt left. Speculative attempts would race on those
  * names, so the writer is for sessions that leave `spark.speculation`
  * off, its default.
  */
object EpochWriter {

  /** One destination of a batch: the rows where `rows` holds (and no
    * earlier route's predicate does), as the batch columns `columns`,
    * under `<root>/epoch=<batchId>/` in `partitionCols` dirs (named in
    * `columns`; the data files keep the other columns, in order).
    */
  final case class Route(root: String, rows: Column, columns: Seq[String],
                         partitionCols: Seq[String] = Nil)

  /** Where the write `writeId` of `batchId` stages its files under `root`. */
  def stagingDir(root: Path, batchId: Long, writeId: String): Path =
    new Path(root, s"${stagingPrefix(batchId)}$writeId")

  private def stagingPrefix(batchId: Long): String = s"_staging-epoch-$batchId-"

  /** What a task needs of one route. */
  private final case class Target(staging: String, partitionCols: Seq[String],
                                  dataSchema: StructType, factory: OutputWriterFactory,
                                  conf: Broadcast[SerializableConfiguration], ext: String)

  /** Write `batch` as epoch `batchId` of every route's root, in one job.
    *
    * Before the job, each root gets the fold-aware prelude: a batch at
    * or below the root's fold watermark was already folded into it
    * (`LogStore.foldEpochs`), so its route is skipped and its rows are
    * dropped; a flat (folded) root that takes a new batch first moves
    * its `log_date=` dirs under `epoch=-1`, so the root keeps one
    * directory scheme (Spark's partition discovery throws on a root
    * that mixes `epoch=` and `log_date=` dirs, which would make the
    * store unreadable). If the job fails, this call's staging dirs are
    * removed and every root is left as it was.
    */
  def write(batch: DataFrame, batchId: Long, routes: Seq[Route]): Unit = {
    val spark = batch.sparkSession
    val sc = spark.sparkContext
    val roots = routes.map(r => new Path(r.root))
    val fs = roots.map(_.getFileSystem(sc.hadoopConfiguration))
    val live = routes.indices.filter(i => takesBatch(fs(i), roots(i), batchId))
    if (live.isEmpty) return

    val routeCol = "__epoch_route"
    val tagged = batch.withColumn(routeCol,
      routes.indices.reverse.foldLeft(lit(null).cast(IntegerType)) { (rest, i) =>
        when(routes(i).rows, lit(if (live.contains(i)) i else -1)).otherwise(rest)
      })
    val route = tagged.col(routeCol)
    val nParts = live.map(routes(_).partitionCols.size).max
    val parts = (0 until nParts).map { j =>
      routes.indices.foldLeft(lit(null).cast(StringType)) { (rest, i) =>
        routes(i).partitionCols.lift(j).fold(rest)(c =>
          // "" and NULL are one partition (`__HIVE_DEFAULT_PARTITION__`),
          // as Spark's writer makes them with its Empty2Null
          when(route === i, nullIfEmpty(tagged.col(c).cast(StringType))).otherwise(rest))
      }.as(s"__epoch_part$j")
    }
    val data = routes.indices.map { i =>
      val r = routes(i)
      when(route === i, struct(r.columns.filterNot(r.partitionCols.contains).map(tagged.col): _*))
        .as(s"__epoch_data$i")
    }
    val rows = tagged.filter(route >= 0)
      .select((route +: parts) ++ data: _*)
      .sortWithinPartitions((routeCol +: parts.indices.map(j => s"__epoch_part$j")).map(col): _*)

    val uuid = UUID.randomUUID().toString
    val staging = live.map(i => i -> stagingDir(roots(i), batchId, uuid)).toMap
    val broadcasts = scala.collection.mutable.ArrayBuffer.empty[Broadcast[SerializableConfiguration]]
    try {
      val targets = routes.indices.map { i =>
        staging.get(i).map { dir =>
          if (!fs(i).mkdirs(dir)) throw new IOException(s"cannot create $dir")
          // left by earlier writes of this epoch that were killed or failed
          fs(i).listStatus(roots(i), (p: Path) =>
            p.getName.startsWith(stagingPrefix(batchId)) && p.getName != dir.getName)
            .foreach(st => fs(i).delete(st.getPath, true))
          val schema = rows.schema(s"__epoch_data$i").dataType.asInstanceOf[StructType]
          val job = Job.getInstance(spark.sessionState.newHadoopConf())
          val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
          val ext = factory.getFileExtension(
            new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID()))
          val conf = sc.broadcast(new SerializableConfiguration(job.getConfiguration))
          broadcasts += conf
          Target(dir.toString, routes(i).partitionCols, schema, factory, conf, ext)
        }.orNull
      }.toArray
      val qe = rows.queryExecution
      SQLExecution.withNewExecutionId(qe, Some(s"epoch write $batchId")) {
        val rdd = qe.toRdd
        // no partition at all (an empty local relation): run one
        // empty task so unpartitioned routes still get their file
        val input = if (rdd.getNumPartitions > 0) rdd else sc.parallelize(Seq.empty[InternalRow], 1)
        sc.runJob(input, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writeTask(targets, uuid, nParts, ctx, it))
      }
    } catch { case e: Throwable =>
      staging.foreach { case (i, dir) =>
        try fs(i).delete(dir, true) catch { case scala.util.control.NonFatal(_) => () }
      }
      throw e
    } finally broadcasts.foreach(_.destroy())

    live.foreach { i =>
      val epoch = new Path(roots(i), s"epoch=$batchId")
      fs(i).delete(epoch, true)
      if (!fs(i).rename(staging(i), epoch))
        throw new IOException(s"cannot move ${staging(i)} to $epoch")
    }
  }

  private def nullIfEmpty(c: Column): Column = when(c =!= "", c)

  /** The fold-aware prelude of one root; false when the batch was folded. */
  private def takesBatch(fs: FileSystem, root: Path, batchId: Long): Boolean =
    !fs.exists(root) || {
      val folded = LogStore.readFoldHwm(fs, root).exists(batchId <= _)
      if (!folded) LogStore.rehomeIntoReservedEpoch(fs, root)
      !folded
    }

  /** One task: rows arrive sorted by (route, partition values); a new
    * file opens whenever that key changes.
    */
  private def writeTask(targets: Array[Target], uuid: String, nParts: Int,
                        ctx: TaskContext, rows: Iterator[InternalRow]): Unit = {
    val (part, attempt) = (ctx.partitionId(), ctx.attemptNumber())
    val contexts = new Array[TaskAttemptContext](targets.length)
    val written = new Array[Boolean](targets.length)
    def open(r: Int, dir: String): OutputWriter = {
      // the job failed and this task runs on: open nothing more
      if (ctx.isInterrupted()) throw new TaskKilledException("epoch write job failed")
      val t = targets(r)
      if (contexts(r) == null)
        contexts(r) = new TaskAttemptContextImpl(t.conf.value.value,
          new TaskAttemptID("graft", ctx.stageId(), TaskType.MAP, part, attempt))
      // Spark's names: `-c000` in a single-dir write, `.c000` in a partitioned one
      val file =
        if (dir.isEmpty) new Path(t.staging, f"part-$part%05d-$uuid-c000${t.ext}")
        else new Path(new Path(t.staging, dir), f"part-$part%05d-$uuid.c000${t.ext}")
      if (attempt > 0) file.getFileSystem(contexts(r).getConfiguration).delete(file, false)
      written(r) = true
      t.factory.newInstance(file.toString, t.dataSchema, contexts(r))
    }

    var writer: OutputWriter = null
    var route = -1
    val key = new Array[UTF8String](nParts)
    def sameKey(row: InternalRow): Boolean =
      row.getInt(0) == route && key.indices.forall { j =>
        if (row.isNullAt(1 + j)) key(j) == null else row.getUTF8String(1 + j) == key(j)
      }
    try {
      rows.foreach { row =>
        if (!sameKey(row)) {
          if (writer != null) writer.close()
          writer = null
          route = row.getInt(0)
          key.indices.foreach(j =>
            key(j) = if (row.isNullAt(1 + j)) null else row.getUTF8String(1 + j).clone())
          val cols = targets(route).partitionCols
          writer = open(route, cols.indices.map(j =>
            ExternalCatalogUtils.getPartitionPathString(cols(j), Option(key(j)).map(_.toString).orNull)
          ).mkString("/"))
        }
        writer.write(row.getStruct(1 + nParts + route, targets(route).dataSchema.length))
      }
      if (writer != null) writer.close()
      writer = null
      if (part == 0)
        targets.indices.filter(r => targets(r) != null && targets(r).partitionCols.isEmpty && !written(r))
          .foreach(r => open(r, "").close())
    } catch { case e: Throwable =>
      if (writer != null) try writer.close() catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
  }
}

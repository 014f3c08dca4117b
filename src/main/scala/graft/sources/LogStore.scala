package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch source/sink layer (SURVEY §2 A-block completeness).
  *
  * The reference delivers logs as JSON documents into per-source,
  * daily-rotated OpenSearch indexes with an S3 raw backup
  * (lib/common/utils.ts:40-83). The Spark-native equivalents:
  *  - readers for the wire formats logs actually arrive in (text lines,
  *    JSON-lines, CSV) with explicit schemas — no runtime inference on
  *    the hot path;
  *  - a date/source-partitioned parquet store whose layout IS the index
  *    rotation: a time-range query prunes to the matching partition
  *    directories and reads nothing else (the property that replaces
  *    "query only today's index" at 100 TB).
  */
object LogStore {

  /** Parsed-log schema — the "index mapping". */
  val logSchema: StructType = StructType(Seq(
    StructField("ip", StringType),
    StructField("ts", TimestampType),
    StructField("verb", StringType),
    StructField("path", StringType),
    StructField("proto", StringType),
    StructField("status", LongType),
    StructField("bytes", LongType),
    StructField("referrer", StringType),
    StructField("agent", StringType),
    StructField("source", StringType)))

  /** Raw text lines (Apache/NGINX). */
  def readTextLogs(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).withColumnRenamed("value", "line")

  /** JSON-lines logs (the Firehose delivery format) with explicit schema. */
  def readJsonLogs(spark: SparkSession, path: String, schema: StructType = logSchema): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV logs with explicit schema (header-less agent exports). */
  def readCsvLogs(spark: SparkSession, path: String, schema: StructType = logSchema): DataFrame =
    spark.read.schema(schema).option("header", "false").csv(path)

  /** Write the store: one parquet dataset partitioned by (log_date,
    * source) — the daily index rotation as a physical layout.
    */
  def write(parsed: DataFrame, root: String): Unit =
    parsed
      .withColumn("log_date", to_date(col("ts")))
      .write.mode("append")
      .partitionBy("log_date", "source")
      .parquet(root)

  /** Read back with partition pruning. The whole root is listed when
    * the frame is built; the date range (and source, if given) become
    * partition filters, so only files under matching `log_date=` /
    * `source=` directories are picked for the scan.
    *
    * `mergeSchema` handles schema evolution: log formats grow fields
    * over time (a new agent version emits an extra column), and a
    * union-schema read surfaces old days with nulls instead of failing
    * — the OpenSearch dynamic-mapping behavior, opt-in because schema
    * merging reads every file's footer in a Spark job (costly at
    * 100 TB). Default reads take the schema from ONE footer, read on
    * the driver by `Parquet.read`: the first data file in path-string
    * order (under the string-least `epoch=` / `log_date=` directory),
    * so a column that file lacks is absent from a default read.
    */
  def read(spark: SparkSession, root: String,
           fromDate: String, untilDate: String,
           source: Option[String] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val all =
      if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(root)
      else Parquet.read(spark, root)
    val base = all
      .filter(col("log_date") >= lit(fromDate) && col("log_date") < lit(untilDate))
    source.fold(base)(s => base.filter(col("source") === s))
  }

  // ---- C61: point-in-time + scroll ------------------------------------

  /** C61 — point-in-time (PIT) snapshot: pin the store's data-file
    * MANIFEST at creation time, so every read against the PIT sees the
    * identical snapshot regardless of concurrent appends, compactions,
    * or rollovers landing under the same root. OpenSearch PIT holds
    * segment readers open; an immutable-file store pins the file list —
    * the same contract with no locks, because parquet data files are
    * never mutated in place. The manifest is plan-sized metadata (file
    * paths, not data).
    */
  def createPit(spark: SparkSession, root: String): Seq[String] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a concurrent in-flight write's part files sit under a hidden
    // `_temporary/...` dir; pinning those would break the snapshot
    // consistency the manifest exists to give
    Parquet.dataFiles(fs, rootPath).map(_.getPath.toString).sorted
  }

  /** Read the pinned snapshot; `basePath` recovers the (log_date,
    * source) partition columns from the pinned paths.
    */
  def readPit(spark: SparkSession, root: String, manifest: Seq[String]): DataFrame = {
    require(manifest.nonEmpty, s"empty PIT manifest for $root")
    spark.read.option("basePath", root).parquet(manifest: _*)
  }

  /** One scroll page over a PIT: lexicographic keyset cursor on
    * `sortCols` (the `search_after` form). The cursor predicate is
    * pushable and `orderBy + limit` compiles to TakeOrderedAndProject —
    * a bounded per-partition heap, never an OFFSET scan — so at 100 TB
    * a deep page costs the same as the first.
    *
    * CONTRACT: the cursor is strictly-after, so `sortCols` as a whole
    * must be a UNIQUE, NON-NULL key — otherwise rows tied with a page's
    * last row are skipped (and a NULL key value nulls every cursor
    * clause, ending pagination early). OpenSearch enforces the same by
    * always appending a `_shard_doc` tiebreaker; here `tiebreaker`
    * (when the caller's sort is not already unique) is appended as the
    * last sort key and must itself be unique and non-null.
    */
  def scrollPage(spark: SparkSession, root: String, manifest: Seq[String],
                 sortCols: Seq[String], after: Option[Seq[Any]],
                 pageSize: Int, tiebreaker: Option[String] = None): DataFrame =
    scrollPageOf(readPit(spark, root, manifest), sortCols, after, pageSize, tiebreaker)

  /** Keyset page over ANY pinned snapshot frame — the engine behind
    * scrollPage, public so a FEDERATED PIT (readPitFederated) exports
    * with the same exact-pagination contract.
    */
  def scrollPageOf(base: DataFrame, sortCols: Seq[String], after: Option[Seq[Any]],
                   pageSize: Int, tiebreaker: Option[String] = None): DataFrame = {
    val keys = sortCols ++ tiebreaker.filterNot(sortCols.contains)
    val paged = after.fold(base) { vals =>
      require(vals.length == keys.length,
        s"after key arity ${vals.length} != sort-key arity ${keys.length} (incl. tiebreaker)")
      // (k1 > a1) OR (k1 = a1 AND k2 > a2) OR ... — strictly-after in
      // lexicographic order, every disjunct a pushable range predicate
      val clauses = keys.indices.map { i =>
        ((0 until i).map(j => col(keys(j)) === lit(vals(j))) :+
          (col(keys(i)) > lit(vals(i)))).reduce(_ && _)
      }
      base.filter(clauses.reduce(_ || _))
    }
    paged.orderBy(keys.map(col): _*).limit(pageSize)
  }

  /** C62 — SLICED scroll (OpenSearch `slice: {id, max}`): partition a
    * PIT export into `n` disjoint hash slices so independent workers
    * drain it in parallel, each with its own keyset cursor. The slice
    * predicate is a deterministic hash of the id column — every row
    * lands in exactly one slice regardless of file layout, so the
    * union of slices is the snapshot with no dup and no miss
    * (LogStoreSpec proves the partition property). The predicate rides
    * the scan as a data filter; each slice's pagination keeps the
    * TakeOrderedAndProject bounded-heap shape.
    */
  def pitSlice(pinned: DataFrame, idCol: String, sliceId: Int, maxSlices: Int): DataFrame = {
    require(maxSlices > 0 && sliceId >= 0 && sliceId < maxSlices,
      s"bad slice $sliceId/$maxSlices")
    pinned.filter(pmod(xxhash64(col(idCol)), lit(maxSlices)) === sliceId)
  }

  /** C61×A13 — PIT over a FEDERATION: pin every member store's file
    * manifest at one instant, so a paginated export over the union
    * survives concurrent appends/compactions to ANY member. The
    * manifest is per-member (root → pinned files): partition columns
    * recover against each member's own basePath, and drifted member
    * schemas null-fill exactly like a live federated read.
    */
  def createPitFederated(spark: SparkSession,
                         aliasFiles: Seq[String]): Seq[(String, Seq[String])] = {
    require(aliasFiles.nonEmpty, "federated PIT needs at least one alias")
    aliasFiles.map { f =>
      val root = resolveAlias(spark, f)
      root -> createPit(spark, root)
    }
  }

  def readPitFederated(spark: SparkSession,
                       manifests: Seq[(String, Seq[String])]): DataFrame = {
    val nonEmpty = manifests.filter(_._2.nonEmpty)
    require(nonEmpty.nonEmpty, "federated PIT pinned no files")
    nonEmpty.map { case (root, files) =>
      spark.read.option("mergeSchema", "true").option("basePath", root)
        .parquet(files: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A4b — size-based rollover (the ISM `rollover` action: an index
    * rolls to a new generation when it exceeds a size threshold, so no
    * single index grows unbounded even under skewed daily volume —
    * date rotation alone can't cap a hot day). Generations are
    * `gen=NNNNNN` directories under the root; a batch appends to the
    * CURRENT generation, and the NEXT batch opens a fresh generation
    * if the current one has crossed `maxBytes` (OpenSearch semantics:
    * rollover happens on the management call, so a generation may
    * exceed the threshold by at most one batch — never torn across
    * two). Readers glob all generations; per-generation layout is the
    * same (log_date, source) partitioning, so pruning is unchanged.
    */
  def rolloverWrite(parsed: DataFrame, root: String, maxBytes: Long): String = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(parsed.sparkSession.sparkContext.hadoopConfiguration)
    val gens = {
      val p = new org.apache.hadoop.fs.Path(root)
      if (fs.exists(p))
        fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("gen=")).sorted
      else Array.empty[String]
    }
    val current = gens.lastOption.getOrElse("gen=000001")
    val target =
      if (gens.isEmpty) current
      else {
        val size = fs.getContentSummary(
          new org.apache.hadoop.fs.Path(root, current)).getLength
        if (size >= maxBytes)
          f"gen=${current.stripPrefix("gen=").toInt + 1}%06d"
        else current
      }
    write(parsed, s"$root/$target")
    target
  }

  /** Read across every generation of a rolled-over store, pruning
    * intact per generation (the same multi-root union as A13).
    */
  def readRollover(spark: SparkSession, root: String,
                   fromDate: String, untilDate: String): DataFrame = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootPath), s"rollover root does not exist: $root")
    // match on the entry NAME, not the full path: an ancestor directory
    // containing 'gen=' must not make unrelated entries look like
    // generations
    val gens = fs.listStatus(rootPath)
      .filter(_.getPath.getName.startsWith("gen="))
      .map(_.getPath.toString).sorted
    require(gens.nonEmpty, s"no gen=* generations under rollover root: $root")
    gens.map(g => read(spark, g, fromDate, untilDate))
      .reduce(_.unionByName(_))
  }

  /** A8 — compaction: streaming micro-batches append one file per
    * batch per partition — at 100 TB the small-files problem makes
    * listing and scanning the store the bottleneck, so a periodic
    * compactor rewrites each (log_date, source) partition to
    * `filesPerPartition` files, through `rewritePartitions` (never
    * overwrite-in-place, which reads the directory it rewrites). A
    * production job compacts only closed (past-date) partitions, which
    * never receive concurrent appends.
    */
  def compact(spark: SparkSession, root: String, filesPerPartition: Int = 1): Unit = {
    recoverParkedPartitions(spark, root)
    // the A5b epoch-idempotent sink's layout folds here (one rewrite
    // doubles as the small-file compaction, so an epoched store pays
    // the scan once, not twice)
    if (foldEpochs(spark, root, filesPerPartition)) return
    rewritePartitions(spark, root, "compact", Parquet.read(spark, root)
      .repartition(filesPerPartition, col("log_date"), col("source")))(identity)
  }

  /** The one partition rewrite of the store's maintenance operations:
    * write `df` partitioned by (log_date, source) to the sibling
    * `<root>.<op>-tmp` while the live store stays readable, then
    * `swapIn` each `log_date=` dir that `replace` names, given the names
    * staged, and delete the tmp. A named dir with nothing staged is
    * removed; every staged dir lands before any removal, so a crash
    * never drops rows the rewrite moved to another date. A crash
    * mid-write leaves the store untouched; mid-swap, each partition is
    * wholly old or wholly new, and the next run's
    * `recoverParkedPartitions` finishes the interrupted swap.
    */
  private def rewritePartitions(spark: SparkSession, root: String, op: String, df: DataFrame)
                               (replace: Set[String] => Set[String]): Unit = {
    val rootPath = new Path(root)
    val tmp = new Path(root.stripSuffix("/") + s".$op-tmp")
    df.write.mode("overwrite").partitionBy("log_date", "source").parquet(tmp.toString)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = dateDirs(fs, tmp).toSet
    replace(staged).toSeq.sortBy(n => (!staged(n), n))
      .foreach(n => swapIn(fs, new Path(tmp, n), new Path(rootPath, n)))
    fs.delete(tmp, true)
  }

  /** Names of the `log_date=` partition dirs directly under `dir`. */
  private def dateDirs(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("log_date="))
      .map(_.getPath.getName)

  /** A28 — Z-order clustered rewrite (the lakehouse multi-dimension
    * layout device: interleave the bits of two normalized sort keys so
    * files carry TIGHT min/max ranges on BOTH columns at once — a
    * point/range predicate on either column then prunes most files via
    * parquet footer stats, where a plain sort helps only its leading
    * column; the technique behind Delta/Iceberg OPTIMIZE ZORDER BY,
    * from Morton 1966). Within each (log_date, source) partition the
    * rewrite range-partitions rows by the 32-bit Morton code of the
    * two columns (16 bits each, min/max-normalized) and swaps files in
    * through `rewritePartitions`.
    *
    * The Morton code is one folded codegen'd bit expression — no UDF;
    * normalization bounds come from one bounded stats row. `fileSpans`
    * is the measurement half: per-file min/max of the clustered
    * columns (the footer stats a pruning scan would consult), which
    * LogStoreSpec uses to assert the normalized span per file SHRINKS
    * on both dimensions vs a hash-compacted layout.
    */
  def zorderCompact(spark: SparkSession, root: String,
                    zCols: (String, String),
                    filesPerPartition: Int = 4): Unit = {
    recoverParkedPartitions(spark, root)
    // an A5b epoch-layout store must fold to the date layout first —
    // the rewrite below re-partitions by (log_date, source) and would
    // silently drop the epoch scheme mid-store otherwise (same
    // discipline as compact)
    foldEpochs(spark, root, filesPerPartition)
    val df = Parquet.read(spark, root)
    val (a, b) = (col(zCols._1).cast("double"), col(zCols._2).cast("double"))
    val st = df.agg(min(a).as("a0"), max(a).as("a1"),
      min(b).as("b0"), max(b).as("b1")).collect().head
    def norm(c: org.apache.spark.sql.Column, lo: Double, hi: Double) = {
      val w = if (hi > lo) hi - lo else 1.0
      least(greatest(floor((c - lit(lo)) / lit(w) * 65535.0), lit(0.0)),
        lit(65535.0)).cast("long")
    }
    val na = norm(a, st.getDouble(0), st.getDouble(1))
    val nb = norm(b, st.getDouble(2), st.getDouble(3))
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(na, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(nb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    val nParts = math.max(
      df.select(col("log_date"), col("source")).distinct().count().toInt, 1) *
      filesPerPartition
    rewritePartitions(spark, root, "zorder", df.withColumn("__z", z)
      .repartitionByRange(nParts, col("log_date"), col("source"), col("__z"))
      .sortWithinPartitions(col("log_date"), col("source"), col("__z"))
      .drop("__z"))(identity)
  }

  /** Per-file min/max of two columns — the parquet footer stats a
    * pruning scan consults, surfaced as a frame so layout quality is
    * measurable (see zorderCompact).
    */
  def fileSpans(spark: SparkSession, root: String,
                c1: String, c2: String): DataFrame =
    Parquet.read(spark, root)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(c1)).as("min1"), max(col(c1)).as("max1"),
        min(col(c2)).as("min2"), max(col(c2)).as("max2"),
        count(lit(1)).as("n_rows"))

  /** A8b — fold the A5b epoch layout (`epoch=<batchId>/log_date=…/
    * source=…`, the idempotent streaming sink's unit of replacement)
    * into the plain date layout the batch store uses. The fold CHANGES
    * the directory scheme, so the per-partition swap doesn't apply; the
    * rewrite lands in a sibling tmp and `swapIn` replaces the whole
    * root with it. A crash mid-swap leaves the complete store parked
    * at `<root>.old`, which the next fold (or compact) restores before
    * doing anything else; at no point can a reader see a HALF-folded
    * mix of epoch and date dirs. No-op (false) on stores with no epoch
    * dirs.
    *
    * Fold + resumed ingest (the lifecycle hazard): a fold flattens the
    * scheme, but the stream's checkpoint lives on — a later micro-batch
    * writing `epoch=N` beside flat `log_date=` dirs would make partition
    * discovery throw ("conflicting directory structures"), and a
    * crash-REPLAYED batch would duplicate rows the fold already
    * absorbed. The contract that closes both holes:
    *  - the fold records the highest non-negative batch id it absorbed
    *    in a `_graft_fold_hwm` sidecar written INTO the rewrite tmp, so
    *    the whole-root swap publishes data + watermark atomically;
    *  - `idempotentBatchWrite` consults it: a replayed batch at or
    *    below the watermark is a no-op (its rows are the folded ones),
    *    and a NEW batch first re-homes the flat `log_date=` dirs under
    *    the reserved `epoch=-1` partition (pure directory renames, no
    *    data rewrite) so the root is uniformly epoch-schemed again —
    *    the next fold flattens it back and advances the watermark.
    * The no-op is exact under the same quiesce discipline the compactor
    * already documents: a fold must not run concurrently with an
    * in-flight micro-batch write (otherwise it could absorb a PARTIAL
    * epoch, which no filesystem layout can later tell apart from a
    * complete one).
    */
  def foldEpochs(spark: SparkSession, root: String,
                 filesPerPartition: Int = 1): Boolean = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    restoreParked(fs, rootPath)
    if (!fs.exists(rootPath)) return false
    // crash repair: a half-re-homed root (some flat log_date= dirs, some
    // already under epoch=-1) is unreadable — finish the renames first
    val st0 = fs.listStatus(rootPath).toSeq
    if (st0.exists(s => s.isDirectory && s.getPath.getName.startsWith("log_date=")) &&
        st0.exists(s => s.isDirectory && s.getPath.getName.startsWith("epoch=")))
      rehomeIntoReservedEpoch(fs, rootPath)
    val epochIds = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("epoch="))
      .map(_.getPath.getName.stripPrefix("epoch=").toLong)
    if (epochIds.isEmpty) return false
    val newHwm = (epochIds.filter(_ >= 0) ++ readFoldHwm(fs, rootPath)) match {
      case Seq() => None
      case ids   => Some(ids.max)
    }
    val tmp = new Path(root.stripSuffix("/") + ".fold-tmp")
    Parquet.read(spark, root).drop("epoch")
      .repartition(filesPerPartition, col("log_date"), col("source"))
      .write.mode("overwrite")
      .partitionBy("log_date", "source")
      .parquet(tmp.toString)
    // the watermark rides the tmp dir so it lands in the same rename as
    // the data it describes — no window where folded data is live but
    // the replay guard is missing
    newHwm.foreach { h =>
      val out = fs.create(new Path(tmp, foldHwmFileName), true)
      try out.write(h.toString.getBytes("UTF-8")) finally out.close()
    }
    swapIn(fs, tmp, rootPath)
    true
  }

  /** Sidecar recording the highest batch id a fold has absorbed
    * (underscore-prefixed → invisible to Spark's file listing).
    */
  val foldHwmFileName = "_graft_fold_hwm"

  /** Highest batch id folded into this root, if it was ever folded. */
  def readFoldHwm(fs: org.apache.hadoop.fs.FileSystem,
                  rootPath: org.apache.hadoop.fs.Path): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(rootPath, foldHwmFileName)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // read to EOF in a loop: a single read() may return short, and a
        // truncated digit string parses as a LOWER watermark — which
        // would let a replayed folded batch re-write as a new epoch
        val out = new java.io.ByteArrayOutputStream(64)
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, "UTF-8").trim.toLong)
      } finally in.close()
    }
  }

  /** Move a folded store's flat `log_date=` dirs under the reserved
    * `epoch=-1` partition — pure directory renames, so a resumed ingest
    * can add `epoch=<batchId>` dirs without mixing two partition
    * schemes under one root. Each dir moves in one atomic rename; a
    * crash part-way leaves every dir in exactly one place, and both
    * this method and `foldEpochs` finish the job on the next call.
    * Returns the number of dirs moved (0 = store was not flat).
    */
  def rehomeIntoReservedEpoch(fs: org.apache.hadoop.fs.FileSystem,
                              rootPath: org.apache.hadoop.fs.Path): Int = {
    val flat = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("log_date="))
    if (flat.isEmpty) return 0
    val reserved = new org.apache.hadoop.fs.Path(rootPath, "epoch=-1")
    if (!fs.exists(reserved)) fs.mkdirs(reserved)
    flat.foreach { s =>
      val dest = new org.apache.hadoop.fs.Path(reserved, s.getPath.getName)
      if (fs.exists(dest) || !fs.rename(s.getPath, dest))
        throw new java.io.IOException(
          s"rehomeIntoReservedEpoch: cannot move ${s.getPath} to $dest")
    }
    flat.size
  }

  /** A10 — reindex (the OpenSearch `_reindex` API re-expressed):
    * rewrite a store into a NEW root applying a per-row transform —
    * mapping fixes, enrichment backfills, schema migrations. The
    * destination keeps the date/source partitioning (transforms may
    * add/drop payload columns but not the partition keys), writes are
    * committed to the new root only (the source store stays live and
    * untouched — reindex-then-alias-swap, as the reference's operators
    * would run it), and the copy streams partition-parallel with no
    * shuffle unless the transform itself needs one.
    */
  def reindex(spark: SparkSession, srcRoot: String, dstRoot: String)
             (transform: DataFrame => DataFrame): Unit = {
    val out = transform(Parquet.read(spark, srcRoot))
    require(Seq("log_date", "source").forall(out.columns.contains),
      "reindex transform must preserve the log_date/source partition keys")
    out.write.mode("overwrite")
      .partitionBy("log_date", "source")
      .parquet(dstRoot)
  }

  /** A10b — CROSS-STORE reindex (`_reindex` with a remote source,
    * re-expressed): rewrite the UNION behind a set of aliases into one
    * new root — the consolidation migration a fleet runs when retiring
    * per-team stores. Drifted member schemas null-fill through the
    * federated read's merge semantics, the (log_date, source) layout
    * is enforced on the destination, members stay live and untouched
    * (reindex-then-alias-swap, same as A10), and the copy streams
    * partition-parallel — no shuffle unless the transform adds one.
    */
  def reindexFederated(spark: SparkSession, aliasFiles: Seq[String], dstRoot: String)
                      (transform: DataFrame => DataFrame = identity): Unit = {
    val out = transform(readAliases(spark, aliasFiles))
    require(Seq("log_date", "source").forall(out.columns.contains),
      "federated reindex must preserve the log_date/source partition keys")
    out.write.mode("overwrite")
      .partitionBy("log_date", "source")
      .parquet(dstRoot)
  }

  /** A24 — `_delete_by_query` (predicate-driven deletion: the GDPR /
    * bad-batch surgery every log fleet eventually runs — retention
    * expiry (A9) drops whole date partitions, this drops ROWS matching
    * an arbitrary predicate). Only partitions that actually CONTAIN
    * matches are rewritten, through `rewritePartitions` (the delete
    * predicate prunes the probe); a partition every row of which
    * matched is removed. Partitions without matches are never touched,
    * so cost scales with affected data, not store size. Returns the
    * count of deleted rows (the `_delete_by_query` response's
    * `deleted`).
    */
  def deleteByQuery(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column): Long = {
    recoverParkedPartitions(spark, root)
    val all = Parquet.read(spark, root)
    // Normalize once: under three-valued logic a NULL-valued predicate is
    // neither `p` nor `!p`, so filtering keep-rows with `!predicate` would
    // silently drop them. `_delete_by_query` semantics: NULL = no match.
    val p = coalesce(predicate, lit(false))
    // log_date values of partitions that contain matches — only these rewrite
    val affected = all.filter(p)
      .select(col("log_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (affected.isEmpty) return 0L
    val affectedCol = col("log_date").cast("string").isin(affected: _*)
    val deleted = all.filter(p && affectedCol).count()
    rewritePartitions(spark, root, "delete", all.filter(affectedCol && !p))(
      _ => affected.map(d => s"log_date=$d").toSet)
    deleted
  }

  /** Where `swapIn` parks the `dest` it replaces. */
  private def parking(dest: Path): Path = new Path(dest.getParent, dest.getName + ".old")

  /** Finish a swap of `dest` that a crash interrupted: a parked copy
    * with no live `dest` is the only copy (the crash hit between
    * parking and move-in) and is restored; a parked copy beside a live
    * `dest` (the crash hit after the move-in) is dropped. True when a
    * copy was restored.
    */
  private[sources] def restoreParked(fs: FileSystem, dest: Path): Boolean = {
    val parked = parking(dest)
    if (!fs.exists(parked)) false
    else if (fs.exists(dest)) { fs.delete(parked, true); false }
    else if (fs.rename(parked, dest)) true
    else throw new java.io.IOException(s"cannot restore parked $parked to $dest")
  }

  /** The one way a store directory is replaced: park the live `dest`
    * beside it (`<dest>.old`, same filesystem, so an atomic rename),
    * move `staged` in, then drop the parking. A missing `staged` dir
    * removes `dest`. At no point is the only copy a half-deleted tree:
    * a crash after the parking leaves it for `restoreParked`. Every
    * rename is checked, and a failed one throws before the caller
    * deletes its staging, so a failed rewrite never reports success.
    */
  private[sources] def swapIn(fs: FileSystem, staged: Path, dest: Path): Unit = {
    def fail(msg: String) = throw new java.io.IOException(s"swapIn: $msg")
    restoreParked(fs, dest)
    val parked = parking(dest)
    val hadOld = fs.exists(dest)
    if (hadOld && !fs.rename(dest, parked)) fail(s"cannot park $dest at $parked")
    if (fs.exists(staged) && !fs.rename(staged, dest)) {
      // put the old copy back so the store stays readable, then abort
      if (hadOld && !fs.rename(parked, dest))
        fail(s"cannot move $staged into $dest; the old copy stays parked at $parked")
      fail(s"cannot move $staged into $dest")
    }
    if (hadOld) fs.delete(parked, true)
  }

  /** Startup/next-run recovery for crashed swaps: `restoreParked` for
    * each `<dir>.old` parking under `root`. Every rewrite entry point
    * (compact / z-order / delete_by_query / update_by_query /
    * upsert-compaction / the ISM tick) runs this before reading the
    * store, so a crashed prior run never makes data invisible to the
    * next one. Returns restored-dir count.
    */
  def recoverParkedPartitions(spark: SparkSession, root: String): Int = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0
    fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.endsWith(".old"))
      .count(s => restoreParked(fs, new Path(rootPath, s.getPath.getName.stripSuffix(".old"))))
  }

  /** A25 — `_update_by_query` (in-place predicate-driven rewrite: fix
    * a bad mapping, scrub a field, backfill an enrichment — A10's
    * reindex rewrites the WHOLE store to a new root; this touches only
    * the partitions containing matches, in place). The transform
    * applies to the MATCHING rows only; non-matching rows of affected
    * partitions are carried unchanged; untouched partitions keep their
    * exact files. The affected partitions are replaced through
    * `rewritePartitions`, as in A24, so matched rows a transform drops
    * are gone whether or not their partition held other rows. Returns
    * the updated-row count.
    */
  def updateByQuery(spark: SparkSession, root: String,
                    predicate: org.apache.spark.sql.Column)
                   (transform: DataFrame => DataFrame): Long = {
    recoverParkedPartitions(spark, root)
    val all = Parquet.read(spark, root)
    // NULL predicate = no match (see deleteByQuery) — without this a
    // NULL-valued row in an affected partition is neither transformed
    // nor carried by `!predicate`, i.e. silently dropped.
    val p = coalesce(predicate, lit(false))
    val affected = all.filter(p)
      .select(col("log_date").cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (affected.isEmpty) return 0L
    val affectedCol = col("log_date").cast("string").isin(affected: _*)
    val updated = all.filter(p && affectedCol).count()
    val out = transform(all.filter(affectedCol && p))
    require(out.columns.sorted.sameElements(all.columns.sorted),
      "update_by_query transform must preserve the store schema")
    // a transform that MOVES rows across partitions would strand them in
    // unswapped tmp dirs (and could collide with live partitions) — that
    // migration is A10 reindex's job, not an in-place update's
    require(out.filter(!col("log_date").cast("string").isin(affected: _*)).isEmpty,
      "update_by_query transform must not change log_date; use reindex")
    rewritePartitions(spark, root, "update", all.filter(affectedCol && !p)
      .unionByName(out.select(all.columns.map(col): _*)))(
      _ => affected.map(d => s"log_date=$d").toSet)
    updated
  }

  /** A10c — CONTINUOUS cross-store replication (OpenSearch CCR
    * re-expressed: a follower index continuously tails its leader;
    * unified-log fleets run it for cross-region DR and read locality).
    * A10b consolidates once; this follower converges a replica batch
    * after batch while the leader keeps writing.
    *
    * Spark-native shape: the leader is an A4b rollover store whose
    * parquet part-files are IMMUTABLE once committed — so the
    * replication state IS the replica's file listing, no sequence
    * numbers or soft-delete retention leases needed (the file set
    * plays the role of CCR's operation history, and a file is the
    * operation). One tick:
    *
    *   1. list the leader's `gen=*` trees (sealed generations never
    *      change; the live generation only gains files);
    *   2. diff against the replica by relative path + length —
    *      already-replicated files are skipped, so ticks are
    *      idempotent and REDELIVERY-SAFE by construction;
    *   3. copy each missing file via a hidden `.inflight-` temp then
    *      rename — a follower killed mid-copy leaves only hidden temps
    *      (invisible to readers and to the next diff), so resume after
    *      a crash needs no checkpoint repair; the next tick simply
    *      re-copies.
    *
    * At scale each tick's list-and-diff is metadata-only (an object
    * store serves it server-side) and copies parallelize per file; the
    * replica is readable THROUGHOUT via readRollover — every committed
    * file is whole, hidden temps are filtered by the parquet reader.
    * Returns the relative paths copied this tick (empty = converged).
    */
  def followTick(spark: SparkSession, srcRoot: String, dstRoot: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(srcRoot)
    val fs = src.getFileSystem(conf)
    require(fs.exists(src), s"follower: leader root does not exist: $srcRoot")
    val dst = new org.apache.hadoop.fs.Path(dstRoot)
    val dfs = dst.getFileSystem(conf)
    val srcDir = fs.makeQualified(src).toUri.getPath.stripSuffix("/") + "/"
    val leaderFiles = fs.listStatus(src).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .flatMap(g => Parquet.dataFiles(fs, g.getPath))
      .map(st => st.getPath.toUri.getPath.stripPrefix(srcDir) -> st)
    val missing = leaderFiles.filter { case (rel, st) =>
      val t = new org.apache.hadoop.fs.Path(dst, rel)
      !(dfs.exists(t) && dfs.getFileStatus(t).getLen == st.getLen)
    }
    missing.foreach { case (rel, st) =>
      val target = new org.apache.hadoop.fs.Path(dst, rel)
      dfs.mkdirs(target.getParent)
      val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".inflight-${target.getName}")
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, dfs, tmp, false, true, conf)
      dfs.delete(target, false)
      dfs.rename(tmp, target)
    }
    missing.map(_._1).sorted
  }

  /** The continuous face of A10c: a rate-source heartbeat drives
    * `followTick` from a foreachBatch sink, so the follower runs under
    * Structured Streaming's restart/trigger machinery (kill it, start
    * it again with any checkpoint — the tick itself owns convergence,
    * so the checkpoint only schedules heartbeats).
    */
  def startFollower(spark: SparkSession, srcRoot: String, dstRoot: String,
                    ckpt: String, intervalMs: Long = 1000L): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        followTick(spark, srcRoot, dstRoot); ()
      }
      .start()

  /** A11 — snapshot: point-in-time copy of the store's partition dirs
    * plus a manifest naming them (the restore contract). Partition
    * granularity means an object-store implementation can copy
    * server-side and incrementally; restore materializes into a FRESH
    * root (never over a live store), manifest-driven so a partial
    * snapshot dir is detected rather than silently half-restored.
    */
  def snapshot(spark: SparkSession, root: String, snapDir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    val fs = rootPath.getFileSystem(conf)
    fs.mkdirs(snapPath)
    val parts = fs.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("log_date="))
      .map(_.getPath)
    parts.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, p, fs, new org.apache.hadoop.fs.Path(snapPath, p.getName),
        false, conf)
    }
    val names = parts.map(_.getName).sorted
    val out = fs.create(new org.apache.hadoop.fs.Path(snapPath, "_MANIFEST"), true)
    try out.write((names.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
    names
  }

  def restore(spark: SparkSession, snapDir: String, newRoot: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    val rootPath = new org.apache.hadoop.fs.Path(newRoot)
    val fs = snapPath.getFileSystem(conf)
    val manifest = new org.apache.hadoop.fs.Path(snapPath, "_MANIFEST")
    require(fs.exists(manifest), s"no _MANIFEST in $snapDir — not a snapshot")
    val names = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    names.foreach { n =>
      val src = new org.apache.hadoop.fs.Path(snapPath, n)
      require(fs.exists(src), s"snapshot partition $n named in manifest is missing")
    }
    require(!fs.exists(rootPath), s"restore target $newRoot already exists")
    fs.mkdirs(rootPath)
    names.foreach { n =>
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(snapPath, n),
        fs, new org.apache.hadoop.fs.Path(rootPath, n), false, conf)
    }
  }

  /** A16 — snapshot lifecycle management (SLM: the scheduler policy
    * that OPERATES A11 the way A15's ISM operates the indexes — take a
    * snapshot every `everyDays`, retain the newest `keepLast`, delete
    * the rest). One deterministic pass per tick, every action
    * idempotent: a second tick on the same date re-takes nothing and
    * deletes nothing; retention counts only manifest-complete
    * snapshots, so a half-copied snapshot (no `_MANIFEST` yet) is never
    * treated as satisfying the schedule NOR silently retained forever —
    * it is swept like an expired one. Returns (taken, deleted).
    */
  def slmTick(spark: SparkSession, root: String, snapRoot: String,
              today: String, everyDays: Int = 1,
              keepLast: Int = 2): (Option[String], Seq[String]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snapRootPath = new org.apache.hadoop.fs.Path(snapRoot)
    val fs = snapRootPath.getFileSystem(conf)
    def listSnaps(): Seq[(String, Boolean)] =
      if (!fs.exists(snapRootPath)) Seq.empty
      else fs.listStatus(snapRootPath).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
        .map(s => (s.getPath.getName,
          fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_MANIFEST"))))
        .sortBy(_._1)
    val before = listSnaps()
    val complete = before.collect { case (n, true) => n }
    val latestDate = complete.lastOption.map(_.stripPrefix("snap-"))
    val due = latestDate.forall(d =>
      !java.time.LocalDate.parse(d).plusDays(everyDays.toLong)
        .isAfter(java.time.LocalDate.parse(today)))
    val name = s"snap-$today"
    val taken =
      if (due && !complete.contains(name)) {
        // crash recovery: a half-copied snap-<today> left by a dead tick
        // (present but manifest-less) must be DELETED before re-taking —
        // FileUtil.copy into an existing destination directory nests the
        // source INSIDE it (log_date=X/log_date=X), and stamping that
        // with _MANIFEST would mark a corrupt snapshot complete
        if (before.exists { case (n, done) => n == name && !done })
          fs.delete(new org.apache.hadoop.fs.Path(snapRoot, name), true)
        snapshot(spark, root, s"$snapRoot/$name")
        Some(name)
      } else None
    val after = (complete ++ taken).distinct.sorted
    val expired = after.dropRight(keepLast) ++
      before.collect { case (n, false) if !taken.contains(n) => n }
    expired.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(snapRoot, n), true))
    (taken, expired.sorted)
  }

  /** A11b — searchable snapshot: query a snapshot DIRECTLY from its
    * manifest, no restore (OpenSearch searchable snapshots — the cold
    * tier answers queries from repository storage). The manifest names
    * the valid partitions, so a partially-copied snapshot is refused
    * exactly like restore would; `basePath` keeps the `log_date=`
    * directory names materializing as the partition column, and date
    * predicates prune snapshot partitions the same as live ones.
    */
  def readSnapshot(spark: SparkSession, snapDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val snapPath = new org.apache.hadoop.fs.Path(snapDir)
    val fs = snapPath.getFileSystem(conf)
    val manifest = new org.apache.hadoop.fs.Path(snapPath, "_MANIFEST")
    require(fs.exists(manifest), s"no _MANIFEST in $snapDir — not a snapshot")
    val names = {
      val in = fs.open(manifest)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toList
      finally in.close()
    }
    names.foreach { n =>
      require(fs.exists(new org.apache.hadoop.fs.Path(snapPath, n)),
        s"snapshot partition $n named in manifest is missing")
    }
    spark.read.option("basePath", snapDir)
      .parquet(names.map(n => s"$snapDir/$n"): _*)
  }

  /** A12 — index alias: a named pointer file resolving to a store root,
    * swapped with write-temp-then-rename (atomic on HDFS-like
    * filesystems) — the final step of reindex-then-alias-swap: readers
    * hold the alias, the swap retargets every subsequent read with no
    * window where the alias is missing or half-written.
    */
  def setAlias(spark: SparkSession, aliasFile: String, root: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val alias = new org.apache.hadoop.fs.Path(aliasFile)
    val tmp = new org.apache.hadoop.fs.Path(aliasFile + ".tmp")
    val fs = alias.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try out.write(root.getBytes("UTF-8")) finally out.close()
    fs.delete(alias, false)
    require(fs.rename(tmp, alias), s"alias swap rename failed for $aliasFile")
  }

  def resolveAlias(spark: SparkSession, aliasFile: String): String = {
    val alias = new org.apache.hadoop.fs.Path(aliasFile)
    val fs = alias.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(alias)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  def readAlias(spark: SparkSession, aliasFile: String): DataFrame =
    Parquet.read(spark, resolveAlias(spark, aliasFile))

  /** A13 — federated read: one query over SEVERAL aliased stores
    * (Discover's "Change index pattern" selecting a multi-index
    * pattern, README:312). Stores are unioned by column NAME with
    * missing columns null-filled, so schema evolution across stores
    * behaves like the single-store mergeSchema read (A7). Filters
    * above the union are pushed into EVERY branch by Catalyst, so a
    * log_date predicate still prunes partitions independently in each
    * store — federation costs no pruning (LogStoreSpec proves it on
    * per-branch scan file counts).
    */
  def readAliases(spark: SparkSession, aliasFiles: Seq[String]): DataFrame = {
    require(aliasFiles.nonEmpty, "readAliases needs at least one alias")
    aliasFiles
      .map(f => spark.read.option("mergeSchema", "true")
        .parquet(resolveAlias(spark, f)))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** A18 — store health (the `_cluster/health`-style green/yellow/red
    * verdict for a partitioned store): green = every partition dir has
    * data files and the root has a `_SUCCESS` commit marker; yellow =
    * committed but some partition is EMPTY (a writer produced a dir
    * and died) or the marker is missing (a bare-append store —
    * readable, but no commit evidence); red = no data at all. Driver
    * metadata walk only — health must not cost a scan.
    */
  def storeHealth(spark: SparkSession, root: String): (String, Seq[String]) = {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hadoopPath)) return ("red", Seq("store root missing"))
    val empty = dateDirs(fs, hadoopPath)
      .filter(p => Parquet.dataFiles(fs, new Path(hadoopPath, p)).isEmpty)
    val issues = empty.map(p => s"empty partition $p") ++
      (if (!fs.exists(new org.apache.hadoop.fs.Path(root, "_SUCCESS")))
        Seq("no _SUCCESS commit marker") else Nil)
    if (Parquet.dataFiles(fs, hadoopPath).isEmpty) ("red", Seq("no data files"))
    else if (issues.nonEmpty) ("yellow", issues)
    else ("green", Nil)
  }

  /** A20 — index templates / mappings enforcement (OpenSearch index
    * templates pin a mapping so writers can't silently drift the
    * schema; dynamic mapping OFF is the production posture). A write
    * through the template is checked at PLAN time (driver-side schema
    * comparison — no data is read to decide): every template field
    * must be present with the exact type, and fields outside the
    * template are refused unless `allowEvolution` (the A7 opt-in —
    * evolved fields then surface as nulls on old data via mergeSchema,
    * exactly dynamic-mapping-on semantics).
    */
  def writeWithTemplate(parsed: DataFrame, root: String,
                        template: StructType,
                        allowEvolution: Boolean = false): Unit = {
    val got = parsed.schema
    val errs = template.fields.toSeq.flatMap { f =>
      got.fields.find(_.name == f.name) match {
        case None => Some(s"missing mapped field '${f.name}'")
        case Some(g) if g.dataType != f.dataType =>
          Some(s"type drift on '${f.name}': ${g.dataType.simpleString} vs mapped ${f.dataType.simpleString}")
        case _ => None
      }
    } ++ (if (allowEvolution) Nil
          else got.fieldNames.toSeq.filterNot(template.fieldNames.contains)
            .map(n => s"unmapped field '$n' (dynamic mapping is off)"))
    require(errs.isEmpty, s"template violation: ${errs.mkString("; ")}")
    write(parsed, root)
  }

  /** A17 — index stats (the `_cat/indices` / `_stats` API: the ops
    * dashboard's per-index doc count and store size). Two metadata
    * sources, neither a data scan: file counts + byte sizes come from
    * a directory listing (plan-sized — the store's partition dirs),
    * and doc counts from parquet FOOTERS via a count() aggregate,
    * which the datasource answers from row-group metadata without
    * reading column data. Output one row per (log_date, source)
    * "index" plus the metadata rollup a `_cat/indices` table shows.
    */
  def indexStats(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val hadoopPath = new Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a data file's parent dirs name its partition: log_date=…/source=…/,
    // with the values escaped as Spark writes them (`eks:api` → `eks%3Aapi`)
    def value(dir: Path, key: String) = org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName(dir.getName.stripPrefix(s"$key="))
    val perFile = Parquet.dataFiles(fs, hadoopPath).flatMap { f =>
      val src = f.getPath.getParent
      val date = src.getParent
      if (src.getName.startsWith("source=") && date.getName.startsWith("log_date="))
        Some((value(date, "log_date"), value(src, "source"), f.getLen))
      else None
    }
    import spark.implicits._
    val sizes = perFile.toDF("log_date", "source", "bytes")
      .groupBy(col("log_date"), col("source"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("store_bytes"))
    val counts = Parquet.read(spark, root)
      .groupBy(col("log_date").cast("string").as("log_date"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
    counts.join(sizes, Seq("log_date", "source"), "left")
      .select(col("log_date"), col("source"), col("n_docs"),
        coalesce(col("n_files"), lit(0L)).as("n_files"),
        coalesce(col("store_bytes"), lit(0L)).as("store_bytes"))
      .orderBy(col("log_date"), col("source"))
  }

  /** C65 — field capabilities (`_field_caps`: which fields exist with
    * which types across the indexes a query targets — what Discover
    * calls before rendering its field list, and the first API a
    * cross-store query planner consults). Pure schema metadata over
    * the resolved alias members: no data is read. A field present in
    * only some members reports searchable-everywhere = false (the
    * null-filled A13 semantics); a field whose members disagree on
    * type lists every type (the conflict `_field_caps` surfaces).
    */
  def fieldCaps(spark: SparkSession, aliasFiles: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(aliasFiles.nonEmpty, "fieldCaps needs at least one alias")
    val members = aliasFiles.map(f =>
      spark.read.option("mergeSchema", "true").parquet(resolveAlias(spark, f)))
    val rows = for {
      (m, idx) <- members.zipWithIndex
      field <- m.schema.fields
    } yield (field.name, field.dataType.simpleString, idx.toLong)
    import spark.implicits._
    rows.toDF("field", "dtype", "member")
      .groupBy(col("field"))
      .agg(
        array_sort(collect_set(col("dtype"))).as("types"),
        countDistinct(col("member")).as("n_members"))
      .withColumn("in_all_members", col("n_members") === lit(aliasFiles.size.toLong))
      .withColumn("type_conflict", size(col("types")) > 1)
      .select(col("field"), concat_ws(",", col("types")).as("types"),
        col("n_members"), col("in_all_members"), col("type_conflict"))
      .orderBy(col("field"))
  }

  /** Retention: drop whole log_date partitions older than `beforeDate`
    * — the lifecycle half of the reference's daily index rotation
    * (README:30), where indexes age out after their retention window.
    * Directory-level deletes: no data is read or rewritten.
    */
  def expire(spark: SparkSession, root: String, beforeDate: String): Seq[String] = {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hadoopPath)) return Nil
    fs.listStatus(hadoopPath).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith("log_date=") &&
          p.getName.stripPrefix("log_date=") < beforeDate
      }
      .map { p => fs.delete(p, true); p.getName }
  }

  // ---- A27: document-identity upserts (the _id semantics) -------------

  /** A27 — document-identity upserts: OpenSearch indexes a doc with an
    * existing `_id` by REPLACING it, and deletes by id; an append-only
    * parquet store expresses both as the Hudi/Iceberg merge-on-read
    * pattern. Writes append (doc_id, seq, deleted, payload) rows —
    * immutable files, no read-modify-write; `readLatest` resolves each
    * id to its highest-seq version and drops tombstones (ONE max_by
    * aggregate keyed on doc_id — map-side combined, the exchange
    * carries live ids); `compactUpserts` folds the history physically
    * (through `rewritePartitions`), after which reads carry
    * no merge debt. `seq` is caller-supplied and monotone per id (the
    * OpenSearch `_seq_no` contract) so replay/redelivery is idempotent:
    * re-writing an old seq can never resurrect an old version.
    * `deleted` is evaluated per row of `batch`: true marks a tombstone.
    */
  def upsertWrite(batch: DataFrame, root: String, seq: Long,
                  deleted: Column = lit(false)): Unit =
    batch
      .withColumn("seq", lit(seq))
      .withColumn("deleted", deleted)
      .withColumn("log_date", to_date(col("ts")))
      .write.mode("append")
      .partitionBy("log_date", "source")
      .parquet(root)

  /** Merge-on-read: latest version per doc id, tombstones dropped. */
  def readLatest(spark: SparkSession, root: String): DataFrame = {
    val all = Parquet.read(spark, root)
    val payload = all.columns.filterNot(Seq("doc_id", "seq", "deleted").contains)
    all
      .groupBy(col("doc_id"))
      .agg(max(col("seq")).as("seq"),
        max_by(struct((col("deleted") +: payload.map(col)): _*), col("seq")).as("v"))
      .filter(!col("v.deleted"))
      .select(col("doc_id") +: col("seq") +: payload.map(p => col(s"v.$p").as(p)): _*)
  }

  /** Fold the upsert history physically: rewrite every partition to
    * its resolved latest versions (tombstoned ids disappear) through
    * `rewritePartitions`; a partition that resolved to nothing (every
    * id moved or tombstoned) is removed. NOTE: resolution is global (an
    * id's versions may span log_date partitions when its ts changed) —
    * the fold keeps each surviving id in its LATEST version's partition.
    */
  def compactUpserts(spark: SparkSession, root: String): Unit = {
    recoverParkedPartitions(spark, root)
    val rootPath = new Path(root)
    val live = dateDirs(rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration), rootPath)
    rewritePartitions(spark, root, "upsert", readLatest(spark, root)
      .withColumn("deleted", lit(false))
      .withColumn("log_date", to_date(col("ts"))))(_ ++ live)
  }

  // ---- A26: Bloom-filter partition-skipping index ---------------------

  /** A26 — per-partition Bloom skipping index for point lookups (the
    * doc-values/terms-skipping role an index plays for OpenSearch term
    * queries; the same design as Delta/Hudi Bloom indexes). Parquet
    * min/max footers prune RANGES; a needle-in-haystack term lookup
    * ("find request-id X across 90 days") prunes NOTHING because every
    * partition's [min,max] spans the needle. The sidecar stores one
    * fixed-size Bloom filter per (log_date, source) partition over the
    * indexed column; a probe consults the plan-sized sidecar first and
    * scans only partitions whose filter claims the value.
    *
    * Spark-first build (the E45 BFF device): k bit positions are
    * xxhash64 double-hashing column arithmetic; the filter is ONE
    * `bit_or` aggregate per 64-bit word — mergeable map-side, so the
    * build is a single scan at any scale. Probe hashing runs through
    * the SAME Spark expressions on a one-row frame, so build and probe
    * can never disagree on the hash. Bloom guarantees NO false
    * negatives: the candidate list always contains every partition
    * truly holding the value (LogStoreSpec pins this plus the pruning).
    */
  val bloomIdxBitsLog2 = 16 // 65536 bits = 1024 words per partition
  val bloomIdxK = 4

  private def bloomPositions(value: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] = {
    val m = 1L << bloomIdxBitsLog2
    // reduce both hashes mod m BEFORE combining: xxhash64 spans the full
    // long range and i·h2 would overflow under ANSI arithmetic
    val h1 = pmod(xxhash64(value.cast("string")), lit(m))
    val h2 = pmod(xxhash64(value.cast("string"), lit(1)), lit(m))
    (0 until bloomIdxK).map(i => pmod(h1 + lit(i.toLong) * h2, lit(m)))
  }

  def bloomIndexPath(root: String, column: String): String =
    root.stripSuffix("/") + s".bloomidx-$column"

  def writeBloomIndex(spark: SparkSession, root: String, column: String): String = {
    val path = bloomIndexPath(root, column)
    val pos = explode(array(bloomPositions(col(column)): _*)).as("pos")
    Parquet.read(spark, root)
      .select(col("log_date").cast("string").as("log_date"), col("source"), pos)
      .select(col("log_date"), col("source"),
        (col("pos") / 64).cast("long").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("mask"))
      .groupBy(col("log_date"), col("source"), col("word"))
      .agg(bit_or(col("mask")).as("bits"))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Partitions whose filter claims `value` — every true holder is in
    * the list (no false negatives); FP rate is the filter's ~(1-e^-kn/m)^k.
    */
  def bloomCandidates(spark: SparkSession, root: String, column: String,
                      value: String): Seq[(String, String)] = {
    // hash the probe through the SAME expressions as the build
    val posRow = spark.range(1)
      .select(array(bloomPositions(lit(value)): _*).as("ps"))
      .select(explode(col("ps")).as("pos"))
      .select((col("pos") / 64).cast("long").as("word"),
        call_function("shiftleft", lit(1L), (col("pos") % 64).cast("int")).as("mask"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val idx = Parquet.read(spark, bloomIndexPath(root, column))
    // per sidecar row, how many of the distinct probe bits it satisfies;
    // a partition qualifies when EVERY probe bit is set somewhere in it
    val hit = posRow.map { case (w, mk) =>
      (col("word") === w && (col("bits").bitwiseAND(mk)) =!= 0L).cast("int")
    }.reduce(_ + _)
    idx
      .select(col("log_date"), col("source"), hit.as("nhit"))
      .groupBy(col("log_date"), col("source"))
      .agg(sum(col("nhit")).as("nhit"))
      .filter(col("nhit") === posRow.size)
      .select(col("log_date"), col("source"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  /** Point lookup through the index: read ONLY candidate partitions
    * (isin on the partition columns → directory pruning), then apply
    * the exact predicate.
    */
  def readWithBloomIndex(spark: SparkSession, root: String, column: String,
                         value: String): DataFrame = {
    val cands = bloomCandidates(spark, root, column, value)
    val base = Parquet.read(spark, root)
    if (cands.isEmpty) return base.filter(lit(false))
    // exact per-pair disjunction, not isin(dates) AND isin(sources): the
    // cross product would scan non-candidate partitions whenever the
    // claims span multiple dates and sources
    val pairPred = cands.map { case (d, s) =>
      col("log_date").cast("string") === d && col("source") === s
    }.reduce(_ || _)
    base.filter(pairPred && col(column).cast("string") === value)
  }
}

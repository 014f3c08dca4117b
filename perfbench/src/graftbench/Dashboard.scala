package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.functions.{QueryDsl, QueryString}
import graft.sources.LogStore
import graft.streaming.LogPipeline

/** `dashboard`: Discover-style panels loading in parallel — a closed
  * loop of `clients` threads on one session. Half the requests are
  * store-backed panels over a corpus written through the ingest write
  * path; the other half are registered queries on generated tables.
  */
object Dashboard {
  import Main._

  /** One request. Store-backed requests carry their range, source,
    * filter and panel; registered ones only a query name.
    */
  final case class Req(id: Int, name: String, fromS: Long, untilS: Long,
                       source: Option[String], filter: Int, dsl: Boolean,
                       registered: Boolean = false)

  final case class Filter(qs: String, dsl: String, sql: String)

  val panels = Seq("hits", "histogram", "terms", "percentiles", "cardinality")

  private val clients = 2
  /** Two clients complete ~50 requests in 10 s: p75 keeps ten beyond it. */
  private val tailPercentile = 0.75
  private val corpusLines = 10000
  private val corpusDays = 7.0
  /** Epochs the corpus is written in before the fold. */
  private val corpusChunks = 2

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val c = cfg(a, "dashboard")
    val registered = arr(c \ "registered").map(str)
    val filters = arr(c \ "filters").map(f => Filter(str(f \ "qs"), str(f \ "dsl"), str(f \ "sql")))

    // ---- set-up: the corpus generated, written through the ingest write
    // path, folded and kept as DuckDB ground truth on one thread, beside
    // the tables and one warm-up run of each registered query on them,
    // on two threads (the first, q_search_indexed, builds the inverted
    // index, so timed requests are warm probes); then one warm-up panel
    // of each kind on the corpus. The corpus lines live only on their
    // thread, so the timed region's heap holds none of them.
    val store = a.work.resolve("store")
    val root = store.resolve("logs").toString
    val tables = a.work.resolve("tables").toString
    val truth = a.work.resolve("truth.parquet").toString
    val setupStart = Trace.nowMs
    val corpusDone = background(timed {
      val corpus = new Gen.Lines(a.seed, traffic(a), Gen.eventStart, corpusDays * 86400000.0 / corpusLines)
      val lines = Seq.fill(corpusLines)(corpus.next(corpus.pickSource()))
      val folded = writeCorpus(spark, lines, store, corpusChunks)
      Gen.writeTruth(spark, lines, truth)
      folded
    })
    val parts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    parts("tables_ms") = timed(Gen.tables(spark, tables, tableScale, tableSeed(a)))._2
    parts("index_ms") = timed(SparkEntry.queries("q_search_indexed")(spark, tables).collect())._2
    parts("warm_queries_ms") = timed {
      val (odd, even) = registered.filterNot(_ == "q_search_indexed").zipWithIndex.partition(_._2 % 2 == 1)
      def warm(qs: Seq[(String, Int)]): Unit = qs.foreach(q => SparkEntry.queries(q._1)(spark, tables).collect())
      val other = background(warm(odd))
      warm(even)
      other()
    }._2
    val ((foldBytes, foldMs), corpusMs) = corpusDone()
    parts("corpus_ms") = corpusMs
    val warmRnd = new SplittableRandom(a.seed + 77L)
    parts("warm_panels_ms") = timed(storeRound(warmRnd, panels.size, filters.size, corpusDays)
      .foreach(r => execStore(spark, root, r, filters).collect()))._2
    res.setup ++= parts
    res.setup("total_s") = res.setup("session_s").asInstanceOf[Double] + (Trace.nowMs - setupStart) / 1000.0

    val reqs = new Requests(new SplittableRandom(a.seed), registered, filters.size, corpusDays)

    val scratch = a.work.resolve("scratch")
    val markersBefore = countFiles(scratch, "_COMPLETE")
    Trace.reset()
    Heap.reset()
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double)]()
    // clients keep what the checks need and nothing more: a digest per
    // registered request plus one full result per query, panel rows
    val digests = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val kept = new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Row], StructType)]()
    val panelRows = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Row]]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = Trace.nowMs
    val deadline = t0 + a.seconds * 1000.0
    val threads = (0 until clients).map { k =>
      val t = new Thread(() => {
        while (Trace.nowMs < deadline) {
          val r = reqs.next()
          val s0 = Trace.nowMs
          try {
            val (rows, schema) = Trace.unit(spark, s"req-${r.id}", "request") {
              val df =
                if (r.registered) Trace.span(s"SparkEntry.${r.name}", "driver") {
                  SparkEntry.queries(r.name)(spark, tables)
                }
                else execStore(spark, root, r, filters)
              (Trace.span("collect", "driver")(df.collect().toSeq), df.schema)
            }
            lat.add((r.id, Trace.nowMs - s0))
            if (r.registered) {
              val d = digest(rows)
              digests.put(r.id, d)
              kept.putIfAbsent(r.name, (d, rows, schema))
            } else panelRows.put(r.id, rows)
          } catch {
            case e: Throwable => errors.add(s"request ${r.id} ${r.name}: $e")
          }
        }
      }, s"graftbench-client-$k")
      t.start()
      t
    }
    threads.foreach(_.join())
    val wallMs = Trace.nowMs - t0
    Heap.close(res)
    val markersAfter = countFiles(scratch, "_COMPLETE")

    // ---- outputs: registered results → DuckDB oracle, repeats → digest of
    // the kept one; store panels → DuckDB over the generator's ground truth
    val done = lat.toArray.map(_.asInstanceOf[(Int, Double)]).toSeq
    res.attempted = done.size + errors.size
    errors.forEach(e => res.fail(1, e))
    kept.forEach { (name, k) =>
      val (d0, rows, schema) = k
      val ids = done.map(_._1).filter(id => reqs(id).name == name)
      val path = a.work.resolve("results").resolve(name).toString
      writeRows(spark, rows, schema, path)
      res.checks += Json.obj("kind" -> "oracle", "name" -> name, "units" -> ids.size,
        "sql" -> SparkEntry.oracleSql(name), "tables" -> tables, "result" -> path)
      ids.filter(id => digests.get(id) != d0).foreach { id =>
        res.fail(1, s"request $id: $name differs from its other runs")
      }
    }
    done.map(_._1).sorted.filterNot(id => reqs(id).registered).foreach { id =>
      val r = reqs(id)
      res.checks += Json.obj("kind" -> "panel", "id" -> id, "panel" -> r.name,
        "from_s" -> r.fromS, "until_s" -> r.untilS, "source" -> r.source,
        "filter_sql" -> (if (r.filter < 0) "TRUE" else filters(r.filter).sql),
        "truth" -> truth,
        "rows" -> panelRows.get(id).map(row => row.toSeq.map(toJson)))
    }

    val ms = done.map(_._2)
    res.e2e("throughput_per_s") = done.size / (wallMs / 1000.0)
    res.e2e("latency_ms") = median(ms)
    res.e2e("tail_latency_ms") = percentile(ms, tailPercentile)
    res.e2e("bytes_per_row") = dataFiles(store)._2.toDouble / corpusLines
    res.named ++= Seq(
      "dashboard_p50_ms" -> res.e2e("latency_ms"),
      f"dashboard_p${tailPercentile * 100}%.0f_ms" -> res.e2e("tail_latency_ms"),
      "store_bytes_per_line" -> res.e2e("bytes_per_row"))
    res.info("requests") = done.size
    res.info("latency_ms_by_kind") = done.groupBy { case (id, _) => reqs(id).name }
      .map { case (k, xs) => k -> median(xs.map(_._2)) }
    res.info("tail_beyond") = beyond(ms, tailPercentile)

    if (a.trace) {
      val n = math.max(1, done.size).toDouble
      val isReq = (u: String) => u.startsWith("req-")
      val split = Trace.layerSplit(_ == "request")
      Trace.report(res, split)
      val compile = Trace.spans.toArray.map(_.asInstanceOf[Trace.Span])
        .filter(s => s.name.endsWith(".compile")).map(s => s.end - s.start).sum
      res.layers ++= Trace.perUnit(Trace.operators(isReq, wallMs, spark.sparkContext.defaultParallelism), n)
      res.layers ++= Trace.perUnit(Trace.plans(isReq), n)
      res.layers ++= Seq(
        "plans.jobs_per_request" -> res.layers.getOrElse("plans.jobs", 0.0),
        "functions.query_compile_ms" -> compile / n,
        "sources.fold_ms" -> foldMs,
        "sources.fold_bytes_rewritten" -> foldBytes.toDouble,
        "sources.files_after_fold" -> dataFiles(store.resolve("logs"))._1.toDouble,
        "sources.scratch_builds" -> (markersAfter - markersBefore).toDouble,
        "sources.scratch_bytes" -> dataFiles(scratch)._2.toDouble)
    }
  }

  private def toJson(v: Any): Any = v match {
    case null => null
    case s: scala.collection.Seq[_] => s.map(toJson)
    case n: java.lang.Number => n
    case other => other.toString
  }

  /** The seeded request sequence. Every round asks for the registered
    * queries in their listed order, each followed by a store-backed
    * panel (see [[storeRound]]); only range starts and the
    * query-string/DSL choice come from the seed. Any prefix of the
    * sequence thus asks for the same mix of work whatever the seed, so
    * where a run's time cuts it off does not move its figures. Rounds are
    * made as clients take from them; ids follow the order taken.
    */
  final class Requests(rnd: SplittableRandom, registered: Seq[String], nFilters: Int, days: Double) {
    private val issued = scala.collection.mutable.ArrayBuffer.empty[Req]
    private var round = List.empty[Req]

    def next(): Req = synchronized {
      if (round.isEmpty)
        round = registered.zip(storeRound(rnd, registered.size, nFilters, days)).toList.flatMap {
          case (q, panel) => List(Req(0, q, 0, 0, None, -1, dsl = false, registered = true), panel)
        }
      val r = round.head.copy(id = issued.size)
      round = round.tail
      issued += r
      r
    }

    def apply(id: Int): Req = synchronized(issued(id))
  }

  /** One round of `n` store-backed requests. Panel kind, range length
    * (a log-spaced ladder from 1 h to 7 d, taken from both ends in turn),
    * source (none or one of three) and filter (none or one of the
    * catalogue) each cycle through their values in a fixed order; only
    * range starts and the query-string/DSL choice are drawn.
    */
  def storeRound(rnd: SplittableRandom, n: Int, nFilters: Int, days: Double): Seq[Req] = {
    val (lo, hi) = (math.log(3600.0), math.log(7 * 86400.0))
    val span = (days * 86400).toLong
    val sources = Seq(None, Some("ec2"), Some("ecs"), Some("eks"))
    (0 until n).map { i =>
      val rung = if (i % 2 == 0) i / 2 else n - 1 - i / 2
      val len = math.exp(lo + (hi - lo) * rung / math.max(1, n - 1)).toLong
      val from = Gen.eventStart + rnd.nextLong(math.max(1L, span - len))
      Req(0, panels(i % panels.size), from, from + len, sources(i % sources.size),
        i % (nFilters + 1) - 1, rnd.nextBoolean())
    }
  }

  private val dayFmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
  private def day(epochS: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(epochS, 86400L)).format(dayFmt)

  /** Build a store-backed panel: LogStore.read over the covering dates,
    * the exact range, the compiled filter, then the panel itself.
    */
  def execStore(spark: SparkSession, root: String, r: Req, filters: Seq[Filter]): DataFrame = {
    val base = Trace.span("LogStore.read", "sources") {
      LogStore.read(spark, root, day(r.fromS), day(r.untilS + 86400L), r.source)
    }
    val ranged = base.filter(col("ts") >= lit(new java.sql.Timestamp(r.fromS * 1000L)) &&
      col("ts") < lit(new java.sql.Timestamp(r.untilS * 1000L)))
    val filtered =
      if (r.filter < 0) ranged
      else {
        val f = filters(r.filter)
        val pred: Column =
          if (r.dsl) Trace.span("QueryDsl.compile", "functions")(QueryDsl.compile(ranged, f.dsl))
          else Trace.span("QueryString.compile", "functions")(QueryString.compile(ranged, f.qs))
        ranged.filter(pred)
      }
    r.name match {
      case "hits" =>
        filtered.select(unix_timestamp(col("ts")).as("ts_s"), col("source"), col("format"),
          col("ip"), col("path"), col("status"), col("bytes"), col("msg"))
          .orderBy(col("ts_s").desc, col("path").asc_nulls_last, col("msg").asc_nulls_last)
          .limit(50)
      case "histogram" =>
        filtered.groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("bucket_s")).count()
      case "terms" =>
        filtered.groupBy(col("ip")).count().orderBy(col("count").desc, col("ip").asc).limit(10)
      case "percentiles" =>
        filtered.agg(percentile_approx(col("bytes"), lit(Array(0.5, 0.9, 0.99)), lit(10000)).as("p"))
      case "cardinality" =>
        filtered.agg(approx_count_distinct(col("ip")).as("n"))
    }
  }

  /** The ingest sink's write path, in `chunks` epochs, then a fold.
    * Returns (bytes the fold rewrote, fold ms).
    */
  def writeCorpus(spark: SparkSession, lines: Seq[Gen.Line], store: Path,
                  chunks: Int): (Long, Double) = {
    import spark.implicits._
    val per = (lines.size + chunks - 1) / chunks
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val raw = chunk.map(l => (l.text, l.source)).toDF("value", "source")
        .repartition(spark.sparkContext.defaultParallelism)
      val t = LogPipeline.transformed(raw).persist()
      LogPipeline.idempotentBatchWrite(t.filter(col("valid")).drop("valid", "line"),
        store.resolve("logs").toString, i.toLong, Seq("log_date", "source"))
      LogPipeline.idempotentBatchWrite(t.filter(!col("valid")).select(col("source"), col("line")),
        store.resolve("dlq").toString, i.toLong, Seq.empty)
      t.unpersist()
    }
    val bytes = dataFiles(store.resolve("logs"))._2
    val (_, ms) = timed(LogStore.foldEpochs(spark, store.resolve("logs").toString))
    (bytes, ms)
  }
}

package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program reads is made here
  * from the run's seed, so the same seed gives byte-identical inputs.
  */
object Gen {

  /** Table sizes of one generated data directory (the shape of the `sf`
    * directories `graft.Verify` and `graft.Bench` read).
    */
  final case class Scale(events: Int, documents: Int)

  private val vocab = Array(
    "query", "row", "stream", "the", "spark", "line", "small", "fast", "group",
    "customer", "part", "column", "order", "scan", "a", "slow", "agg", "key",
    "window", "table", "merge", "vector", "join", "batch", "sort", "value",
    "hash", "filter", "big", "data")
  private val eventTypes = Array("signup", "click", "error", "view", "purchase")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh", "en")

  /** Write `events` and `documents` parquet tables under `dir`. Timestamps
    * are written without a zone (TIMESTAMP_NTZ), so DuckDB and Spark read
    * the same wall-clock values.
    */
  def tables(spark: SparkSession, dir: String, scale: Scale, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 7919L + 17L)
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400L * 1000000L
    val users = math.max(10, scale.events / 66)
    // ascending, distinct timestamps: a seeded gap per event
    val gaps = Array.fill(scale.events)(1L + rnd.nextLong(2L * spanMicros / scale.events))
    val total = gaps.sum.toDouble
    var acc = 0L
    val events = (0 until scale.events).map { i =>
      acc += gaps(i)
      val micros = (acc / total * (spanMicros - 1000000L)).toLong + i
      val value = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100.0) / 100.0
      Row(i.toLong, t0.plusNanos(micros * 1000L), rnd.nextInt(users).toLong,
        eventTypes(rnd.nextInt(eventTypes.length)), value,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampNTZType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    write(spark, events, evSchema, s"$dir/events.parquet")

    val texts = new Array[String](scale.documents)
    val docs = (0 until scale.documents).map { i =>
      val roll = rnd.nextDouble()
      val text =
        if (i > 10 && roll < 0.05) texts(rnd.nextInt(i)) + " dup"   // near duplicate
        else if (i > 10 && roll < 0.052) texts(rnd.nextInt(i))      // exact duplicate
        else Array.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(spark, docs, docSchema, s"$dir/documents.parquet")
  }

  private def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  // ---- raw log lines --------------------------------------------------

  /** Start of generated event time: 2024-03-01T00:00:00Z. */
  val eventStart = 1709251200L

  /** Ground truth of one generated line. `format` is null for a
    * malformed line (it must land in the dead-letter store).
    */
  final case class Line(seq: Long, source: String, format: String, epochS: Long,
                        ip: String, verb: String, path: String, status: Long,
                        bytes: Long, level: String, msg: String, text: String)

  private val accessFmt = DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss Z", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val errorFmt = DateTimeFormatter.ofPattern("EEE MMM dd HH:mm:ss yyyy", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val nginxFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss", Locale.US)
    .withZone(ZoneOffset.UTC)
  private val endpoints = Array("orders", "users", "cart", "search", "login", "static")
  private val agents = Array(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "curl/8.4.0",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0")

  /** Knobs of the traffic shape (`config.json` → `traffic`). */
  final case class Traffic(sourceShares: Seq[(String, Double)], errorShare: Double,
                           malformedShare: Double, lateShare: Double, lateMaxDays: Int)

  /** Seeded line generator. Event time advances `stepMs` per line from
    * `startEpochS`; a `lateShare` of lines reaches back up to
    * `lateMaxDays`, which spreads each micro-batch over many `log_date`
    * partitions.
    */
  final class Lines(seed: Long, traffic: Traffic, startEpochS: Long, stepMs: Double) {
    private val rnd = new SplittableRandom(seed * 104729L + 3L)
    private var seq = 0L
    // Zipf-ish client population: a few heavy hitters, a long tail
    private def ip(): String = {
      val u = rnd.nextDouble()
      val id = (math.pow(u, 3.0) * 5000).toInt
      s"10.${id / 65536 % 256}.${id / 256 % 256}.${id % 256}"
    }

    // sources come in shuffled blocks of 20 that hold each source's share
    // exactly, so every seed sends the same mix and only its order varies
    private val block = {
      val n = traffic.sourceShares.map { case (s, w) => s -> math.round(w * 20).toInt }
      n.flatMap { case (s, k) => Seq.fill(k)(s) }
    }
    private var queue: List[String] = Nil

    /** Source of the next file, by the skewed source shares. */
    def pickSource(): String = {
      if (queue.isEmpty) {
        val a = block.toArray
        for (i <- a.indices.reverse) {
          val j = rnd.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
        }
        queue = a.toList
      }
      val s = queue.head
      queue = queue.tail
      s
    }

    /** One file's worth of lines from one source. */
    def file(n: Int): Seq[Line] = {
      val s = pickSource()
      Seq.fill(n)(next(s))
    }

    def next(source: String): Line = {
      val s = seq; seq += 1
      val now = startEpochS + (s * stepMs / 1000.0).toLong
      val epochS =
        if (rnd.nextDouble() < traffic.lateShare)
          now - 3600L - rnd.nextLong(traffic.lateMaxDays * 86400L)
        else now
      val inst = Instant.ofEpochSecond(epochS)
      val client = ip()
      if (rnd.nextDouble() < traffic.malformedShare) {
        val junk = s"!! truncated write $s ${rnd.nextInt(1 << 20)} <<"
        return Line(s, source, null, epochS, null, null, null, 0, 0, null, null,
          wrap(source, junk, s))
      }
      val isError = rnd.nextDouble() < traffic.errorShare
      if (!isError || source == "ecs") {
        val verb = if (rnd.nextDouble() < 0.7) "GET" else "POST"
        val path = s"/api/${endpoints(rnd.nextInt(endpoints.length))}/$s"
        val r = rnd.nextDouble()
        val status = if (r < 0.80) 200L else if (r < 0.88) 201L else if (r < 0.95) 404L
                     else if (r < 0.98) 500L else 503L
        val bytes = (200 + math.round(-4000.0 * math.log(1.0 - rnd.nextDouble())))
        val text = s"""$client - - [${accessFmt.format(inst)}] "$verb $path HTTP/1.1" $status $bytes "-" "${agents(rnd.nextInt(agents.length))}""""
        Line(s, source, "access", epochS, client, verb, path, status, bytes, null, null,
          wrap(source, text, s))
      } else if (source == "ec2") {
        val level = if (rnd.nextDouble() < 0.6) "error" else "warn"
        val msg = s"File does not exist: /var/www/html/missing/$s"
        val text = s"[${errorFmt.format(inst)}] [$level] [client $client] $msg"
        Line(s, source, "error", epochS, client, null, null, 0, 0, level, msg, text)
      } else {
        val level = if (rnd.nextDouble() < 0.7) "error" else "crit"
        val msg = s"""open() "/usr/share/nginx/html/missing/$s" failed (2: No such file or directory)"""
        val pid = 1 + rnd.nextInt(16)
        val text = s"${nginxFmt.format(inst)} [$level] $pid#$pid: *$s $msg, client: $client, server: localhost"
        Line(s, source, "nginx_error", epochS, client, null, null, 0, 0, level, msg,
          wrap(source, text, s))
      }
    }

    /** ECS lines ride in a FireLens envelope, EKS lines in a Fluent Bit one. */
    private def wrap(source: String, line: String, s: Long): String = source match {
      case "ecs" =>
        s"""{"container_id":"c${s % 997}","container_name":"app-${s % 4}","ecs_cluster":"graft","ecs_task_arn":"arn:aws:ecs:task/${s % 16}","source":"stdout","log":${jsonStr(line)}}"""
      case "eks" =>
        s"""{"log":${jsonStr(line)},"stream":"stdout","kubernetes":{"pod_name":"nginx-${s % 8}","namespace_name":"web","container_name":"nginx","host":"node-${s % 3}"}}"""
      case _ => line
    }
  }

  def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Write lines as one text file, atomically: written under a dot-name
    * the file source ignores, then renamed into place.
    */
  def writeFile(dir: Path, name: String, lines: Seq[Line]): Path =
    writeBytes(dir, name, body(lines))

  /** The bytes of a text file holding `lines`. */
  def body(lines: Seq[Line]): Array[Byte] =
    lines.iterator.map(_.text).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)

  /** Write a file atomically, as [[writeFile]] does. */
  def writeBytes(dir: Path, name: String, body: Array[Byte]): Path = {
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, body)
    val dst = dir.resolve(name)
    Files.move(tmp, dst, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Ground truth of valid lines as a parquet table, for the DuckDB
    * panel checks: one row per line that must be in the store.
    */
  def writeTruth(spark: SparkSession, lines: Seq[Line], path: String): Unit = {
    val rows = lines.filter(_.format != null).map { l =>
      Row(l.seq, l.source, l.format, l.epochS, l.ip, l.verb, l.path,
        if (l.format == "access") l.status else null,
        if (l.format == "access") l.bytes else null, l.level, l.msg)
    }
    val schema = StructType(Seq(
      StructField("seq", LongType), StructField("source", StringType),
      StructField("format", StringType), StructField("ts_s", LongType),
      StructField("ip", StringType), StructField("verb", StringType),
      StructField("path", StringType), StructField("status", LongType),
      StructField("bytes", LongType), StructField("level", StringType),
      StructField("msg", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }
}

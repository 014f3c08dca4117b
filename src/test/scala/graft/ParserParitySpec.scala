package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{RegExpExtract, RLike}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ApacheErrorLog, ApacheLog, Grok, LineGrammar, NginxErrorLog}
import graft.operators.{LogAnalytics, Observability}
import graft.plans.RegexGroups
import graft.sources.{Envelopes, LogLines}
import graft.streaming.LogPipeline

/** The parse batteries read every field of a grammar from one
  * [[RegexGroups]] match. The oracle here is what they were built from:
  * one `regexp_extract` per field and an `rlike` for validity, written
  * out inline, with the same conversions.
  */
class ParserParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val accessLine =
    """46.99.153.40 - - [29/Jul/2021:15:32:33 +0000] "GET / HTTP/1.1" 200 173 "-" "curl/7.68.0""""
  private val dashBytes =
    """10.0.0.1 - - [29/Jul/2021:15:32:33 +0000] "HEAD /x HTTP/1.1" 304 - "-" "curl/7.68.0""""
  private val errorLine =
    "[Wed Oct 11 14:32:52 2000] [error] [client 127.0.0.1] client denied by server configuration"
  private val nginxLine =
    "2026/08/12 10:00:01 [error] 31#31: *1021 open() \"/x\" failed " +
      "(2: No such file or directory), client: 10.1.2.3, server: localhost"
  private val nginxBare = "2026/08/12 10:00:02 [notice] 1#1: *7 signal process started"
  private val garbage = "garbage ###"
  private val edgeLines: Seq[String] =
    Seq(accessLine, dashBytes, errorLine, nginxLine, nginxBare, garbage, null) ++
      Seq(accessLine, errorLine, nginxLine, nginxBare).map(_ + "\r")

  /** The sf0.001 lines of every grammar, FireLens- and Fluent Bit-wrapped
    * lines unwrapped, and the edge cases above.
    */
  private lazy val lines: DataFrame = {
    val sf = TestSpark.sf
    val fluentBit = LogLines.nginxErrorLines(spark, sf).select(to_json(struct(
      col("line").as("log"), lit("stderr").as("stream"),
      struct(lit("web-1").as("pod_name"), lit("default").as("namespace_name"),
        lit("nginx").as("container_name"), lit("node-1").as("host")).as("kubernetes")))
      .as("envelope"))
    Seq(LogLines.apacheLines(spark, sf), LogLines.errorLines(spark, sf),
      LogLines.nginxErrorLines(spark, sf),
      Envelopes.unwrapFirelens(LogLines.firelensLines(spark, sf), "envelope"),
      Envelopes.unwrapFluentBit(fluentBit, "envelope"),
      edgeLines.toDF("line"))
      .map(_.select("line")).reduce(_ union _).cache()
  }

  /** One grammar: its parser and, per field, the accessor and the
    * oracle as a function of `regexp_extract(line, pattern, i)`.
    */
  private case class Grammar(parser: LineGrammar,
                             fields: Seq[(String, Column => Column, (Int => Column) => Column)]) {
    def pattern: String = parser.pattern
  }

  private val grammars: Map[String, Grammar] = Map(
    "access" -> Grammar(ApacheLog, Seq(
      ("ip", ApacheLog.ip, x => x(1)),
      ("ts", ApacheLog.ts, x => to_timestamp(x(4), "dd/MMM/yyyy:HH:mm:ss Z")),
      ("verb", ApacheLog.verb, x => x(5)),
      ("path", ApacheLog.path, x => x(6)),
      ("proto", ApacheLog.proto, x => x(7)),
      ("status", ApacheLog.status, x => x(8).cast("long")),
      ("bytes", ApacheLog.bytes, x => nullif(x(9), lit("-")).cast("long")),
      ("referrer", ApacheLog.referrer, x => x(10)),
      ("agent", ApacheLog.agent, x => x(11)))),
    "error" -> Grammar(ApacheErrorLog, Seq(
      ("ts", ApacheErrorLog.ts,
        x => to_timestamp(substring(x(1), 5, 24), "MMM dd HH:mm:ss yyyy")),
      ("level", ApacheErrorLog.level, x => x(2)),
      ("client_ip", ApacheErrorLog.clientIp, x => x(3)),
      ("msg", ApacheErrorLog.msg, x => x(4)))),
    "nginx" -> Grammar(NginxErrorLog, Seq(
      ("ts", NginxErrorLog.ts, x => to_timestamp(x(1), "yyyy/MM/dd HH:mm:ss")),
      ("level", NginxErrorLog.level, x => x(2)),
      ("pid", NginxErrorLog.pid, x => x(3).cast("long")),
      ("conn", NginxErrorLog.conn, x => x(5).cast("long")),
      ("client_ip", NginxErrorLog.clientIp, x => x(7)),
      ("msg", NginxErrorLog.msg, x => x(6)))))

  private def assertSameRows(ours: DataFrame, oracle: DataFrame, clue: String): Unit = {
    assert(ours.schema == oracle.schema, clue)
    assert(ours.exceptAll(oracle).isEmpty && oracle.exceptAll(ours).isEmpty, clue)
  }

  /** Kernel vs oracle over `df`: validity, each accessor, and `parsed`'s
    * fields; with `typed = false` only validity and the string accessors.
    */
  private def assertParity(name: String, df: DataFrame, typed: Boolean): Unit = {
    val g = grammars(name)
    val l = col("line")
    val x = (i: Int) => regexp_extract(l, g.pattern, i)
    val kept = g.fields.filter { case (_, acc, _) =>
      typed || df.select(acc(l)).schema.head.dataType == StringType }
    val oracle = l +: l.rlike(g.pattern).as("valid") +: kept.map { case (f, _, o) => o(x).as(f) }
    val ours = l +: g.parser.isValid(l).as("valid") +: kept.map { case (f, acc, _) => acc(l).as(f) }
    assertSameRows(df.select(ours: _*), df.select(oracle: _*), s"$name accessors")
    // `parsed` converts every field, so it runs on matching lines only
    if (typed) {
      val viaParsed = df.select(l, g.parser.isValid(l).as("valid"), g.parser.parsed(l).as("p"))
        .select(col("line") +: col("valid") +: kept.map { case (f, _, _) => col(s"p.$f").as(f) }: _*)
      assertSameRows(viaParsed, df.select(oracle: _*), s"$name parsed")
    }
  }

  test("every group and the match flag equal regexp_extract and rlike") {
    val grok = Grok.compile(Observability.syslogGrok).regex
    (grammars.values.map(_.pattern) ++ Seq(grok)).foreach { p =>
      val n = java.util.regex.Pattern.compile(p).matcher("").groupCount()
      val m = RegexGroups(col("line"), p)
      val ours = RegexGroups.matched(m).as("m") +:
        (1 to n).map(i => RegexGroups.group(m, i).as(s"g$i"))
      val oracle = col("line").rlike(p).as("m") +:
        (1 to n).map(i => regexp_extract(col("line"), p, i).as(s"g$i"))
      assertSameRows(lines.select(col("line") +: ours: _*),
        lines.select(col("line") +: oracle: _*), p)
    }
  }

  test("the three batteries match the regexp_extract/rlike oracle on every line") {
    grammars.keys.foreach { name =>
      val g = grammars(name)
      // casts and timestamps of "" raise under ANSI mode on both sides, so
      // converted fields are compared on the lines the grammar matches
      assertParity(name, lines.filter(col("line").rlike(g.pattern)), typed = true)
      assertParity(name, lines, typed = false)
    }
  }

  test("edge lines: no match, NULL, '-' bytes, no nginx tail, trailing \\r") {
    val l = col("line")
    def one(s: String, c: Column) = Seq(s).toDF("line").select(c).collect().head
    // a non-matching line: string fields "", not valid
    val bad = one(garbage, struct(ApacheLog.isValid(l), ApacheLog.ip(l), ApacheErrorLog.msg(l),
      NginxErrorLog.level(l))).getStruct(0)
    assert(bad.toSeq == Seq(false, "", "", ""))
    // a NULL line: validity and every field NULL
    val nul = Seq[String](null).toDF("line").select(ApacheLog.isValid(l), ApacheLog.ip(l),
      ApacheLog.status(l), NginxErrorLog.pid(l)).collect().head
    assert((0 until 4).forall(nul.isNullAt))
    assert(one(dashBytes, ApacheLog.bytes(l)).isNullAt(0))
    assert(one(dashBytes, ApacheLog.status(l)).getLong(0) == 304L)
    val bare = one(nginxBare, NginxErrorLog.groups(l)).getStruct(0)
    assert(bare.getString(7) == "" && bare.getString(8) == "")
    assert(bare.getString(6) == "signal process started")
    // `$` matches before a final \r, which no field takes
    val cr = one(accessLine + "\r", struct(ApacheLog.isValid(l), ApacheLog.agent(l))).getStruct(0)
    assert(cr.toSeq == Seq(true, "curl/7.68.0"))
    assert(one(errorLine + "\r", ApacheErrorLog.msg(l)).getString(0) ==
      "client denied by server configuration")
  }

  test("casts of a non-matching line: NULL without ANSI, the same error with it") {
    val l = col("line")
    val ours = Seq(ApacheLog.status(l), ApacheLog.ts(l), NginxErrorLog.pid(l))
    val oracle = Seq(regexp_extract(l, ApacheLog.pattern, 8).cast("long"),
      to_timestamp(regexp_extract(l, ApacheLog.pattern, 4), "dd/MMM/yyyy:HH:mm:ss Z"),
      regexp_extract(l, NginxErrorLog.pattern, 3).cast("long"))
    def outcome(s: SparkSession, c: Column) = scala.util.Try(
      s.createDataFrame(Seq(Tuple1(garbage))).toDF("line").select(c).collect().head.get(0))
        .fold(e => e.getClass.getName, v => String.valueOf(v))
    val lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    ours.zip(oracle).foreach { case (o, r) =>
      assert(outcome(lenient, o) == "null")
      assert(outcome(lenient, r) == "null")
      assert(outcome(spark, o) == outcome(spark, r))
    }
  }

  test("Grok.parse matches one regexp_extract per field with the same conversions") {
    val c = Grok.compile(Observability.syslogGrok)
    val df = LogLines.syslogLines(spark, TestSpark.sf).select("line")
      .union(Seq(garbage, null).toDF("line"))
    val oracle = df.select(col("line") +: c.fields.map { case (field, idx, conv) =>
      val raw = regexp_extract(col("line"), c.regex, idx)
      (conv match {
        case "int"   => nullif(raw, lit("")).cast("long")
        case "float" => nullif(raw, lit("")).cast("double")
        case _       => raw
      }).as(field)
    }: _*)
    assertSameRows(Grok.parse(df, "line", Observability.syslogGrok), oracle, "grok")
  }

  test("the interpreted path agrees with the generated code") {
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val rows = edgeLines.map(Tuple1(_))
    def parse(s: SparkSession) = s.createDataFrame(rows).toDF("line")
      .select(col("line"), ApacheLog.groups(col("line")).as("a"),
        NginxErrorLog.groups(col("line")).as("n"))
    assertSameRows(parse(interpreted), parse(spark), "interpreted")
  }

  test("transformed has no regexp_extract or rlike and one kernel per grammar") {
    val raw = lines.select(col("line").as("value"), lit("ec2").as("source"))
    val plan = LogPipeline.transformed(raw).queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(!exprs.exists(e => e.isInstanceOf[RegExpExtract] || e.isInstanceOf[RLike]))
    val kernels = exprs.collect { case r: RegexGroups => r.pattern }
    assert(kernels.sorted == grammars.values.map(_.pattern).toSeq.sorted, kernels)
  }

  test("a select of several accessors matches each line once (generated code)") {
    val df = LogAnalytics.apacheParse(spark, TestSpark.sf)
    df.collect() // AQE fixes the final plan, whose stages are printed
    val code = codegenString(df.queryExecution.executedPlan)
    assert("""\.matcher\(""".r.findAllMatchIn(code).size == 1, code)
  }
}

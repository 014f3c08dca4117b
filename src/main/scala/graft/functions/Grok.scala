package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.RegexGroups

/** C69 — grok pattern compiler (the `grok` ingest processor every
  * OpenSearch / Logstash log pipeline leans on; the reference's Lambda
  * transformers hand-regex their lines, and grok is the pattern-macro
  * layer users reach for the moment a third log format shows up).
  *
  * Grok IS regex plus a macro library: `%{NAME:field}` references a
  * named library pattern and captures it as `field` (optional `:int` /
  * `:float` third segment converts the capture). Compilation happens
  * ONCE on the driver — the output is a plain Java regex and an ordered
  * field list, so the runtime plan is the same codegen'd
  * [[graft.plans.RegexGroups]] projection the hand-written parse
  * batteries (B1/B1b) use: no interpretation, no UDFs, scan-parallel at
  * any scale.
  *
  * Library patterns use only non-capturing groups, so capture-group
  * indexes correspond 1:1 (in order) to the `%{NAME:field}` references —
  * including references nested inside composite patterns.
  */
object Grok {

  /** Base pattern library (the commonly-used subset of the public
    * logstash/OpenSearch grok pattern set, re-expressed; regexes kept to
    * the portable core — no lookaround — so the same compiled pattern
    * runs under Java regex and RE2-class engines alike).
    */
  val patterns: Map[String, String] = Map(
    "INT"               -> """[+-]?[0-9]+""",
    "NUMBER"            -> """[+-]?[0-9]+(?:\.[0-9]+)?""",
    "WORD"              -> """\w+""",
    "NOTSPACE"          -> """\S+""",
    "DATA"              -> """.*?""",
    "GREEDYDATA"        -> """.*""",
    "IP"                -> """(?:[0-9]{1,3}\.){3}[0-9]{1,3}""",
    "HOSTNAME"          -> """[A-Za-z0-9][A-Za-z0-9-]*(?:\.[A-Za-z0-9][A-Za-z0-9-]*)*""",
    "USERNAME"          -> """[A-Za-z0-9._-]+""",
    "LOGLEVEL"          -> """(?:TRACE|DEBUG|INFO|WARN|WARNING|ERROR|FATAL|trace|debug|info|warn|warning|error|fatal)""",
    "TIMESTAMP_ISO8601" -> """[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9]+)?(?:Z|[+-][0-9]{2}:?[0-9]{2})?""",
    "HTTPDATE"          -> """[0-9]{2}/\w{3}/[0-9]{4}:[0-9]{2}:[0-9]{2}:[0-9]{2} [+-][0-9]{4}""",
    "URIPATH"           -> """(?:/[A-Za-z0-9_.%+-]*)+""",
    "QUOTEDSTRING"      -> """"[^"]*"""",
    // composite: references expand recursively, their captures slot into
    // the caller's group order at the point of reference
    "COMMONAPACHELOG"   -> ("""%{IP:clientip} %{NOTSPACE:ident} %{NOTSPACE:auth} \[%{HTTPDATE:timestamp}\] """ +
      """"%{WORD:verb} %{NOTSPACE:request} HTTP/%{NUMBER:httpversion}" %{INT:response} %{INT:bytes}"""))

  private val Ref = """%\{(\w+)(?::(\w+))?(?::(\w+))?\}""".r

  /** One compiled grok expression: the flat regex and, per captured
    * field, its name, 1-based group index, and declared conversion.
    */
  final case class Compiled(regex: String, fields: Seq[(String, Int, String)])

  /** Expand `%{...}` references (recursively, depth-capped against
    * library cycles) into a single regex; field references become
    * capturing groups in reference order, bare references non-capturing.
    */
  def compile(expr: String): Compiled = {
    val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def expand(e: String, depth: Int): String = {
      require(depth < 16, s"grok expansion too deep (cycle?): $e")
      Ref.replaceAllIn(e, m => {
        val name = m.group(1)
        val body = patterns.getOrElse(name,
          throw new IllegalArgumentException(s"unknown grok pattern %{$name}"))
        val inner = expand(body, depth + 1)
        val out = Option(m.group(2)) match {
          case Some(field) =>
            fields += ((field, Option(m.group(3)).getOrElse("string")))
            s"($inner)"
          case None => s"(?:$inner)"
        }
        java.util.regex.Matcher.quoteReplacement(out)
      })
    }
    val regex = expand(expr, 0)
    Compiled(regex, fields.toSeq.zipWithIndex.map { case ((f, t), i) => (f, i + 1, t) })
  }

  /** Apply a compiled grok to a line column: one [[graft.plans.RegexGroups]]
    * match per line (codegen'd; the regex is compiled once per task),
    * one field per capture, `:int`/`:float` conversions as casts.
    * A non-matching line yields empty-string/NULL fields, never an
    * error — grok's `_grok_parse_failure` convention maps to the DLQ
    * split (A5) downstream.
    */
  def parse(df: DataFrame, lineCol: String, grokExpr: String): DataFrame = {
    val c = compile(grokExpr)
    val m = RegexGroups(col(lineCol), c.regex)
    val cols = c.fields.map { case (field, idx, conv) =>
      val raw = RegexGroups.group(m, idx)
      // a non-matching line extracts "" — nulled before the cast so ANSI
      // mode yields NULL fields (the DLQ convention), not a cast error;
      // a MATCHED capture is shape-guaranteed by its pattern, so the
      // cast itself can never throw. `when`, not nullif: nullif's
      // common-expression rewrite would match the line a second time in
      // a projection of its own
      val nonEmpty = when(raw =!= "", raw)
      (conv match {
        case "int"   => nonEmpty.cast("long")
        case "float" => nonEmpty.cast("double")
        case _       => raw
      }).as(field)
    }
    df.select(col("*") +: cols: _*)
  }
}

package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** C82 — the OpenSearch Query DSL: the JSON `_search` request body
  * (`{"query": {"bool": {...}}}`) every reference user actually POSTs —
  * C56 compiles the Discover search-bar STRING grammar; this compiles
  * the structured JSON grammar dashboards and clients generate.
  * Reference anchor: README:312's Discover workflows serialize to
  * exactly these bodies.
  *
  * Same contract as C56: the tree compiles to ONE native Column
  * predicate — every leaf is an ordinary comparison/contains/like, so
  * conjunctive legs land in the parquet scan as PushedFilters and the
  * DSL costs nothing at execution time. No UDF, no per-clause pass.
  *
  * Supported: bool (must/filter/should/must_not + minimum_should_match
  * — should-satisfaction counts as summed int casts, one expression),
  * match (analyzed OR/AND over whitespace tokens), match_phrase, term,
  * terms, range (gt/gte/lt/lte), exists, prefix, wildcard (`*`/`?` →
  * LIKE with escaping), ids, match_all.
  */
object QueryDsl {

  /** Compile a `_search`-body query JSON (the value of its `"query"`
    * key, or the whole body if it has one) against df's schema.
    */
  def compile(df: DataFrame, json: String): Column = {
    val root = JsonMethods.parse(json) match {
      case JObject(fields) if fields.exists(_._1 == "query") =>
        fields.find(_._1 == "query").get._2
      case other => other
    }
    node(df, root)
  }

  private def node(df: DataFrame, j: JValue): Column = j match {
    case JObject(List((kind, body))) =>
      kind match {
        case "match_all"    => lit(true)
        case "bool"         => boolQ(df, body)
        case "match"        => matchQ(df, body, phrase = false)
        case "match_phrase" => matchQ(df, body, phrase = true)
        case "term"         => termQ(df, body)
        case "terms"        => termsQ(df, body)
        case "range"        => rangeQ(df, body)
        case "exists"       => df.col(str(body \ "field")).isNotNull
        case "prefix"       => fieldVal(body) match { case (f, v) => df.col(f).startsWith(str(v)) }
        case "wildcard"     => fieldVal(body) match { case (f, v) => df.col(f).like(toLike(str(v))) }
        case "ids"          => df.col("doc_id").isin(arr(body \ "values").map(toLit): _*)
        case other          => throw new IllegalArgumentException(s"unsupported query clause: $other")
      }
    case other => throw new IllegalArgumentException(s"expected a single-clause object, got $other")
  }

  private def boolQ(df: DataFrame, body: JValue): Column = {
    def clauses(name: String): Seq[Column] = body \ name match {
      case JNothing   => Nil
      case JArray(xs) => xs.map(node(df, _))
      case single     => Seq(node(df, single))
    }
    val must    = clauses("must") ++ clauses("filter")
    val mustNot = clauses("must_not")
    val should  = clauses("should")
    val msm = body \ "minimum_should_match" match {
      case JInt(n) => n.toInt
      case _       => if (should.nonEmpty && must.isEmpty) 1 else 0
    }
    val legs =
      must ++
        mustNot.map(c => !coalesce(c, lit(false))) ++
        (if (should.isEmpty || msm == 0) Nil
         else Seq(should.map(c => coalesce(c, lit(false)).cast("int"))
           .reduce(_ + _) >= msm))
    if (legs.isEmpty) lit(true) else legs.reduce(_ && _)
  }

  /** match = analyzed query: whitespace tokens, each a contains();
    * operator "or" (default) | "and". match_phrase = one contains of
    * the whole phrase (positions collapse for a space-joined analyzer).
    */
  private def matchQ(df: DataFrame, body: JValue, phrase: Boolean): Column = {
    val (field, spec) = fieldVal(body)
    val (q, andOp) = spec match {
      case JObject(_) => (str(spec \ "query"), str0(spec \ "operator").contains("and"))
      case v          => (str(v), false)
    }
    if (phrase) df.col(field).contains(q)
    else {
      val toks = q.trim.split("\\s+").toSeq.map(t => df.col(field).contains(t))
      if (andOp) toks.reduce(_ && _) else toks.reduce(_ || _)
    }
  }

  private def termQ(df: DataFrame, body: JValue): Column = {
    val (field, spec) = fieldVal(body)
    val v = spec match {
      case JObject(_) => spec \ "value"
      case other      => other
    }
    df.col(field) === toLit(v)
  }

  private def termsQ(df: DataFrame, body: JValue): Column = {
    val (field, spec) = fieldVal(body)
    df.col(field).isin(arr(spec).map(toLit): _*)
  }

  private def rangeQ(df: DataFrame, body: JValue): Column = {
    val (field, spec) = fieldVal(body)
    val c = df.col(field)
    val legs = Seq(
      (spec \ "gt", (v: JValue) => c > toLit(v)),
      (spec \ "gte", (v: JValue) => c >= toLit(v)),
      (spec \ "lt", (v: JValue) => c < toLit(v)),
      (spec \ "lte", (v: JValue) => c <= toLit(v))
    ).collect { case (v, f) if v != JNothing => f(v) }
    require(legs.nonEmpty, s"range over $field needs at least one bound")
    legs.reduce(_ && _)
  }

  // OpenSearch wildcard: * = any run, ? = one char, backslash escapes a
  // metacharacter (`\*` = literal asterisk). Tokenize left-to-right so the
  // escape is seen BEFORE the wildcard substitution; LIKE's own
  // metacharacters (% _ \) are escaped with LIKE's default `\`.
  private[functions] def toLike(p: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < p.length) {
      p.charAt(i) match {
        case '\\' if i + 1 < p.length && "*?\\".contains(p.charAt(i + 1)) =>
          val c = p.charAt(i + 1)
          sb.append(if (c == '\\') "\\\\" else c.toString)
          i += 2
        case '*'  => sb.append('%'); i += 1
        case '?'  => sb.append('_'); i += 1
        case '%'  => sb.append("\\%"); i += 1
        case '_'  => sb.append("\\_"); i += 1
        case '\\' => sb.append("\\\\"); i += 1 // lone backslash = literal
        case c    => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  private def fieldVal(body: JValue): (String, JValue) = body match {
    case JObject(List((f, v))) => (f, v)
    case other => throw new IllegalArgumentException(s"expected {field: spec}, got $other")
  }

  private def arr(j: JValue): Seq[JValue] = j match {
    case JArray(xs) => xs
    case other      => throw new IllegalArgumentException(s"expected array, got $other")
  }

  private def toLit(j: JValue): Column = j match {
    case JString(s)  => lit(s)
    case JInt(n)     => lit(n.toLong)
    case JLong(n)    => lit(n)
    case JDouble(d)  => lit(d)
    case JDecimal(d) => lit(d.toDouble)
    case JBool(b)    => lit(b)
    case other       => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  private def str(j: JValue): String = j match {
    case JString(s) => s
    case JInt(n)    => n.toString
    case other      => throw new IllegalArgumentException(s"expected string, got $other")
  }

  private def str0(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _          => None
  }
}

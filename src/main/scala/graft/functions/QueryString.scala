package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, NumericType, StructType}

/** C56 — Lucene `query_string` / Kibana-DQL compiler (the Discover
  * search bar the reference's users actually type into — README.md:
  * 295-314 runs Discover over the aggregated indexes; its query box
  * speaks this grammar).
  *
  * Supported subset (the operators the search bar's docs teach):
  *   - `field:value` term match; numeric fields compare numerically
  *   - `field:"quoted value"` exact match (spaces/colons inside)
  *   - `field:pre*`, `field:te?m` wildcards (`*` any run, `?` one char,
  *     a backslash escapes either: `a\*b` matches the text `a*b`)
  *   - `field:[a TO b]` / `field:{a TO b}` ranges, mixed brackets OK
  *   - `field:>n  >=n  <n  <=n` open ranges
  *   - `AND OR NOT` (case-insensitive) + `&& || !`, parentheses;
  *     adjacency = AND (the DQL default); NOT binds tightest
  *   - a bare term (no field) searches the caller's default fields
  *     (substring match — the analyzed-text behavior)
  *
  * The compiler emits an ordinary Catalyst `Column` predicate — so a
  * query-string filter gets EXACTLY the scan treatment a hand-written
  * one does: pushed to parquet (`PushedFilters`), codegen'd, prunable.
  * There is no interpretation at run time; parse happens once on the
  * driver. That is the whole design: the DSL is a veneer over the
  * native predicate path, not an engine beside it.
  */
object QueryString {

  // ---- lexer ---------------------------------------------------------

  private sealed trait Tok
  private case object LP extends Tok
  private case object RP extends Tok
  private case object AND extends Tok
  private case object OR extends Tok
  private case object NOT extends Tok
  /** A field:value clause or a bare term. */
  private final case class Clause(field: Option[String], body: String) extends Tok

  private def lex(q: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = q.length
    def readQuoted(from: Int): (String, Int) = {
      val sb = new StringBuilder
      var j = from + 1
      while (j < n && q.charAt(j) != '"') { sb.append(q.charAt(j)); j += 1 }
      require(j < n, s"unterminated quote in query string at offset $from")
      (sb.toString, j + 1)
    }
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '(') { out += LP; i += 1 }
      else if (c == ')') { out += RP; i += 1 }
      else if (c == '!') { out += NOT; i += 1 }
      else if (c == '&' && i + 1 < n && q.charAt(i + 1) == '&') { out += AND; i += 2 }
      else if (c == '|' && i + 1 < n && q.charAt(i + 1) == '|') { out += OR; i += 2 }
      else {
        // read one word / clause up to whitespace or paren, honoring
        // quotes and [..] / {..} range bodies (which contain spaces)
        val sb = new StringBuilder
        var field: Option[String] = None
        var done = false
        while (i < n && !done) {
          val ch = q.charAt(i)
          if (ch == '"') { val (s, j) = readQuoted(i); sb.append('"').append(s).append('"'); i = j }
          else if ((ch == '[' || ch == '{') && sb.isEmpty && field.isDefined) {
            val close = Set(']', '}') // mixed inclusive/exclusive brackets allowed
            val sb2 = new StringBuilder().append(ch)
            i += 1
            while (i < n && !close.contains(q.charAt(i))) { sb2.append(q.charAt(i)); i += 1 }
            require(i < n, "unterminated range in query string")
            sb2.append(q.charAt(i)); i += 1
            sb.append(sb2); done = true
          }
          else if (ch == ':' && field.isEmpty && sb.nonEmpty) {
            field = Some(sb.toString); sb.clear(); i += 1
          }
          else if (ch.isWhitespace || ch == '(' || ch == ')') done = true
          else { sb.append(ch); i += 1 }
        }
        val w = sb.toString
        (field, w) match {
          case (None, "AND") | (None, "and") => out += AND
          case (None, "OR") | (None, "or")   => out += OR
          case (None, "NOT") | (None, "not") => out += NOT
          case _ => out += Clause(field, w)
        }
      }
    }
    out.toList
  }

  // ---- parser (precedence: OR < AND < NOT; adjacency = AND) ----------

  private sealed trait Ast
  private final case class Or(l: Ast, r: Ast) extends Ast
  private final case class An(l: Ast, r: Ast) extends Ast
  private final case class No(x: Ast) extends Ast
  private final case class Leaf(field: Option[String], body: String) extends Ast

  private final class P(var toks: List[Tok]) {
    def peek: Option[Tok] = toks.headOption
    def eat(): Tok = { val h = toks.head; toks = toks.tail; h }
    def orExpr(): Ast = {
      var l = andExpr()
      while (peek.contains(OR)) { eat(); l = Or(l, andExpr()) }
      l
    }
    def andExpr(): Ast = {
      var l = notExpr()
      var more = true
      while (more) peek match {
        case Some(AND) => eat(); l = An(l, notExpr())
        case Some(LP) | Some(NOT) | Some(_: Clause) => l = An(l, notExpr()) // adjacency
        case _ => more = false
      }
      l
    }
    def notExpr(): Ast = peek match {
      case Some(NOT) => eat(); No(notExpr())
      case _         => primary()
    }
    def primary(): Ast = eat() match {
      case LP =>
        val e = orExpr()
        require(peek.contains(RP), "missing ')' in query string"); eat(); e
      case Clause(f, b) => Leaf(f, b)
      case t => throw new IllegalArgumentException(s"unexpected token $t in query string")
    }
  }

  // ---- compile to Column ---------------------------------------------

  private def typedLit(dt: DataType, raw: String): Column = dt match {
    case _: NumericType => lit(raw.toDouble).cast(dt)
    case _              => lit(raw)
  }

  private def clause(schema: StructType, defaultFields: Seq[String],
                     runtime: Map[String, (DataType, Column)],
                     synonyms: Map[String, Seq[String]],
                     field: Option[String], body: String): Column = field match {
    case None =>
      // bare term: substring search over the default (text) fields —
      // with query-time synonym expansion (the synonym_graph filter):
      // the term ORs over its synonym row, so "join" finds "merge"
      // docs too. Expansion happens at COMPILE time on the driver; the
      // emitted predicate is an ordinary OR of contains tests.
      val term = body.stripPrefix("\"").stripSuffix("\"")
      require(defaultFields.nonEmpty,
        s"bare term '$term' but no default fields configured")
      val variants = synonyms.getOrElse(term, Seq(term))
      (for (f <- defaultFields; v <- variants)
        yield col(f).contains(v)).reduce(_ || _)
    case Some(f) =>
      // runtime fields (OpenSearch runtime mappings): a query-time
      // derived column with a declared type, resolved BEFORE the
      // stored schema — same shadowing rule as runtime mappings. The
      // derived expression inlines into the predicate, so it codegens
      // and pushes exactly like any hand-written expression filter.
      require(runtime.contains(f) || schema.fieldNames.contains(f),
        s"unknown field '$f' in query string")
      val (dt, c) = runtime.getOrElse(f, (schema(f).dataType, col(f)))
      if (body.startsWith("[") || body.startsWith("{")) {
        val inclLo = body.startsWith("[")
        val inclHi = body.endsWith("]")
        val inner = body.substring(1, body.length - 1).trim
        val parts = inner.split("(?i)\\s+TO\\s+")
        require(parts.length == 2, s"range '$body' must be '<lo> TO <hi>'")
        val (lo, hi) = (parts(0).trim, parts(1).trim)
        val loC = if (lo == "*") lit(true)
          else if (inclLo) c >= typedLit(dt, lo) else c > typedLit(dt, lo)
        val hiC = if (hi == "*") lit(true)
          else if (inclHi) c <= typedLit(dt, hi) else c < typedLit(dt, hi)
        loC && hiC
      }
      else if (body.startsWith(">=")) c >= typedLit(dt, body.drop(2))
      else if (body.startsWith("<=")) c <= typedLit(dt, body.drop(2))
      else if (body.startsWith(">")) c > typedLit(dt, body.drop(1))
      else if (body.startsWith("<")) c < typedLit(dt, body.drop(1))
      else if (body.startsWith("\"")) c === lit(body.stripPrefix("\"").stripSuffix("\""))
      else if (body.contains('*') || body.contains('?')) c.like(QueryDsl.toLike(body))
      else {
        // plain term clause: synonym rows expand here too (ranges and
        // wildcards don't analyze, matching the synonym filter's scope)
        val variants = synonyms.getOrElse(body, Seq(body))
        variants.map(v => c === typedLit(dt, v)).reduce(_ || _)
      }
  }

  private def toColumn(schema: StructType, defaults: Seq[String],
                       runtime: Map[String, (DataType, Column)],
                       synonyms: Map[String, Seq[String]], ast: Ast): Column =
    ast match {
      case Or(l, r) => toColumn(schema, defaults, runtime, synonyms, l) || toColumn(schema, defaults, runtime, synonyms, r)
      case An(l, r) => toColumn(schema, defaults, runtime, synonyms, l) && toColumn(schema, defaults, runtime, synonyms, r)
      case No(x)    => !toColumn(schema, defaults, runtime, synonyms, x)
      case Leaf(f, b) => clause(schema, defaults, runtime, synonyms, f, b)
    }

  /** C56d — `simple_query_string` (the forgiving end-user grammar that
    * never throws: `+must -mustnot "a phrase" optional` — Lucene's
    * simple syntax with default_operator=OR). Semantics compiled here:
    * every `+` clause must match, no `-` clause may match, and if any
    * un-prefixed (should) clauses exist at least one must match —
    * exactly the BooleanQuery Lucene builds for it. Clauses are
    * substring tests over the default fields (the analyzed-text
    * behavior); a quoted clause carries its spaces. Parse once on the
    * driver; the emitted predicate is ordinary pushable/codegen'd
    * Column logic like C56's.
    */
  def compileSimple(df: DataFrame, query: String,
                    defaultFields: Seq[String]): Column = {
    require(defaultFields.nonEmpty, "simple_query_string needs default fields")
    // lex: quoted runs keep spaces; +/- prefixes survive outside quotes
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val sb = new StringBuilder
    var inQ = false
    (query + " ").foreach { ch =>
      if (ch == '"') { inQ = !inQ; sb.append(ch) }
      else if (ch.isWhitespace && !inQ) {
        if (sb.nonEmpty) { out += sb.toString; sb.clear() }
      } else sb.append(ch)
    }
    require(!inQ, s"unterminated quote in simple query: $query")
    def termOf(w: String): String = {
      val body = w.stripPrefix("+").stripPrefix("-")
      body.stripPrefix("\"").stripSuffix("\"")
    }
    def test(t: String): Column =
      defaultFields.map(f => col(f).contains(t)).reduce(_ || _)
    val (musts, rest) = out.toList.partition(_.startsWith("+"))
    val (nots, shoulds) = rest.partition(_.startsWith("-"))
    val clauses =
      musts.map(w => test(termOf(w))) ++
        nots.map(w => !test(termOf(w))) ++
        (if (shoulds.nonEmpty) Seq(shoulds.map(w => test(termOf(w))).reduce(_ || _)) else Nil)
    require(clauses.nonEmpty, s"empty simple query: $query")
    clauses.reduce(_ && _)
  }

  /** Compile a query string into a predicate over `df`'s schema.
    * `runtimeFields` are OpenSearch runtime mappings: name → (declared
    * type, derived expression), usable in any clause position.
    * `synonyms` is a query-time synonym graph (C56c): term → its
    * synonym row; a matching plain term clause expands to the OR of
    * the row at compile time, so the emitted plan is the same pushed/
    * codegen'd predicate a hand-written OR would get.
    */
  def compile(df: DataFrame, query: String,
              defaultFields: Seq[String] = Nil,
              runtimeFields: Map[String, (DataType, Column)] = Map.empty,
              synonyms: Map[String, Seq[String]] = Map.empty): Column = {
    val toks = lex(query)
    require(toks.nonEmpty, "empty query string")
    val p = new P(toks)
    val ast = p.orExpr()
    require(p.toks.isEmpty, s"trailing tokens ${p.toks} in query string")
    toColumn(df.schema, defaultFields, runtimeFields, synonyms, ast)
  }
}

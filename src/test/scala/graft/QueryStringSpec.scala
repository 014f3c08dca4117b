package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.QueryString

class QueryStringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "purchase", 150.0, "big sale"),
    (2L, "view", 50.0, "50%_off banner"),
    (3L, "error", 250.0, "path: /checkout failed"),
    (4L, "purchase", 250.0, "axb"),
    (5L, "pending", 300.0, "ab")
  ).toDF("id", "etype", "value", "note")

  private def ids(q: String, defaults: Seq[String] = Nil): Set[Long] =
    df.filter(QueryString.compile(df, q, defaults)).select("id").as[Long].collect().toSet

  test("simple_query_string: must/must_not/should semantics and quoted phrases (C56d)") {
    def sids(q: String): Set[Long] =
      df.filter(QueryString.compileSimple(df, q, Seq("note"))).select("id").as[Long].collect().toSet
    // shoulds alone: at least one must match
    assert(sids("banner sale") == Set(1L, 2L))
    // a must narrows; at least one should still required when present
    assert(sids("+a banner ab") == Set(2L, 5L))
    // must_not excludes from the should-satisfied set
    assert(sids("+a -banner ab") == Set(5L))
    assert(sids("+sale -big").isEmpty)
    // quoted phrase carries its space
    assert(sids("\"big sale\"") == Set(1L))
    assert(intercept[IllegalArgumentException] {
      QueryString.compileSimple(df, "\"unterminated", Seq("note"))
    }.getMessage.contains("unterminated"))
  }

  test("term, numeric and wildcard clauses") {
    assert(ids("etype:purchase") == Set(1L, 4L))
    assert(ids("value:250") == Set(3L, 4L))
    assert(ids("etype:p*") == Set(1L, 4L, 5L))
    assert(ids("note:a?b") == Set(4L)) // ? is exactly one char: not 'ab'
  }

  test("LIKE metacharacters in the data never act as wildcards") {
    assert(ids("note:5*") == Set(2L))       // matches the literal %_ text
    assert(ids("note:50\\%*") == Set())     // backslash is literal in a term
  }

  test("wildcard backslash-escapes: \\* and \\? are literals, \\\\ a literal backslash") {
    val esc = Seq((10L, "a*b"), (11L, "axxb"), (12L, "a?b"), (13L, "a\\b"), (14L, "ab"))
      .toDF("id", "note")
    def eids(q: String): Set[Long] =
      esc.filter(QueryString.compile(esc, q, Nil)).select("id").as[Long].collect().toSet
    // escaped * = literal asterisk, not any-run: 11 and 13 must NOT match
    assert(eids("note:a\\*b") == Set(10L))
    assert(eids("note:*\\**") == Set(10L))
    // escaped ? = literal question mark, not one char
    assert(eids("note:a\\?b") == Set(12L))
    // \\ = literal backslash; the unescaped * still wildcards after it
    assert(eids("note:a\\\\*") == Set(13L))
  }

  test("quoted values carry spaces and colons, compared exactly") {
    assert(ids("note:\"path: /checkout failed\"") == Set(3L))
    assert(ids("note:\"big\"") == Set()) // exact, not substring
  }

  test("ranges: inclusive, exclusive, mixed, open-ended, star endpoint") {
    assert(ids("value:[150 TO 250]") == Set(1L, 3L, 4L))
    assert(ids("value:{150 TO 250]") == Set(3L, 4L))
    assert(ids("value:[150 TO 250}") == Set(1L))
    assert(ids("value:[250 TO *]") == Set(3L, 4L, 5L))
    assert(ids("value:>=250") == Set(3L, 4L, 5L))
    assert(ids("value:<150") == Set(2L))
  }

  test("boolean precedence: OR < AND < NOT; adjacency means AND; parens override") {
    // a OR b AND c == a OR (b AND c)
    assert(ids("etype:view OR etype:purchase AND value:250") == Set(2L, 4L))
    assert(ids("(etype:view OR etype:purchase) AND value:250") == Set(4L))
    // NOT binds tightest: (!a) OR b
    assert(ids("NOT etype:purchase OR value:250") == Set(2L, 3L, 4L, 5L))
    // adjacency = AND (the DQL default)
    assert(ids("etype:purchase value:>200") == Set(4L))
    assert(ids("etype:purchase && value:>200") == Set(4L))
    assert(ids("etype:view || etype:error") == Set(2L, 3L))
    assert(ids("!etype:purchase value:>200") == Set(3L, 5L))
  }

  test("bare terms search the default fields by substring") {
    assert(ids("checkout", defaults = Seq("note")) == Set(3L))
    assert(ids("banner sale", defaults = Seq("note")) == Set()) // AND across terms
    assert(ids("banner OR sale", defaults = Seq("note")) == Set(1L, 2L))
    val e = intercept[IllegalArgumentException] { ids("checkout") }
    assert(e.getMessage.contains("default fields"))
  }

  test("errors are driver-time and specific: unknown field, unbalanced syntax") {
    assert(intercept[IllegalArgumentException] { ids("nope:1") }
      .getMessage.contains("unknown field"))
    assert(intercept[IllegalArgumentException] { ids("(etype:view") }
      .getMessage.contains("missing ')'"))
    assert(intercept[IllegalArgumentException] { ids("value:[1 TO") }
      .getMessage.contains("unterminated range"))
  }

  test("search template: params render, rendered DQL compiles, unbound param is a driver-time error") {
    import graft.operators.Extras
    assert(Extras.renderTemplate("etype:{{t}} AND value:[{{lo}} TO *]",
      Map("t" -> "purchase", "lo" -> "100")) == "etype:purchase AND value:[100 TO *]")
    // rendered template behaves exactly like the hand-written query
    assert(ids(Extras.renderTemplate("etype:{{t}}", Map("t" -> "purchase"))) ==
      ids("etype:purchase"))
    val e = intercept[IllegalArgumentException] {
      Extras.renderTemplate("etype:{{missing}}", Map("t" -> "purchase"))
    }
    assert(e.getMessage.contains("missing"))
  }

  test("runtime fields: derived columns filter like stored ones, shadow the schema, unknown still errors") {
    import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
    val rt: Map[String, (DataType, org.apache.spark.sql.Column)] = Map(
      "half" -> ((IntegerType, (col("value") / 100).cast("int"))),
      // shadows the stored `etype` column with its uppercase image
      "etype" -> ((StringType, upper(col("etype")))))
    def idsRt(q: String): Set[Long] =
      df.filter(QueryString.compile(df, q, runtimeFields = rt))
        .select("id").as[Long].collect().toSet
    assert(idsRt("half:2") == Set(3L, 4L))                 // 250/100 = 2
    assert(idsRt("half:[1 TO 2]") == Set(1L, 3L, 4L))      // ranges work on runtime fields
    assert(idsRt("etype:PURCHASE") == Set(1L, 4L))         // runtime shadows stored
    assert(idsRt("etype:purchase") == Set.empty)           // the shadow is total
    val e = intercept[IllegalArgumentException] {
      QueryString.compile(df, "nope:1", runtimeFields = rt)
    }
    assert(e.getMessage.contains("nope"))
  }

  test("compiled predicate reaches the parquet scan as pushed filters") {
    // range-only compile keeps PushedFilters short of its toString
    // truncation so the assert can see the bounds verbatim
    val ev = graft.sources.Tables.events(spark, TestSpark.sf)
    val plan = ev.filter(QueryString.compile(ev, "value:[100 TO 300}"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(value,100.0)") &&
      plan.contains("LessThan(value,300.0)"),
      s"value range not pushed in:\n$plan")
    // the full demo query pushes too (list is truncated in toString —
    // check the stable prefix)
    val full = graft.operators.Extras.queryStringSearch(spark, TestSpark.sf)
      .queryExecution.executedPlan.toString
    assert(full.contains("PushedFilters: [IsNotNull(value)") &&
      full.contains("Or(StringStartsWith(event_type,p)"),
      s"demo query not pushed in:\n$full")
  }
}

package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one `Matcher.find()` of `pattern` against
  * a string, returning every capture group at once (SURVEY §2 B1).
  *
  * The parse batteries read many groups of one grammar per line, and a
  * `regexp_extract` per field plus an `rlike` for validity would match
  * the line once each. Here the line is matched once and the result is
  * a struct `matched: boolean, g1 … gn: string`:
  *  - `matched` is `rlike`'s answer (`find()`, not `matches()`);
  *  - group i is `regexp_extract(line, pattern, i)`'s answer: the
  *    capture, or `""` when the line does not match or the group did not
  *    take part;
  *  - a NULL line gives a NULL struct, so every field and `matched` are
  *    NULL, as `regexp_extract` and `rlike` give.
  *
  * Several accessors of one line build the same expression, so a
  * projection shares one match through subexpression elimination. Every
  * group is copied out of the match, so a select that reads one group
  * of a many-group grammar pays for the others. The
  * `Pattern` is compiled once per task into mutable state, as Spark's
  * `RegExpExtract` does.
  */
case class RegexGroups(child: Expression, pattern: String) extends UnaryExpression {

  @transient private lazy val compiled: Pattern = Pattern.compile(pattern)

  /** Capture groups in `pattern`; compiling it here also rejects a bad
    * pattern when the plan is analysed.
    */
  @transient lazy val groupCount: Int = compiled.matcher("").groupCount()

  override def dataType: DataType = StructType(
    StructField("matched", BooleanType, nullable = false) +:
      (1 to groupCount).map(i => StructField(s"g$i", StringType, nullable = false)))

  override def prettyName: String = "regex_groups"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"regex_groups expects a string argument, got ${other.catalogString}")
  }

  override def nullSafeEval(line: Any): Any = {
    val m = compiled.matcher(line.toString)
    val found = m.find()
    val values = new Array[Any](groupCount + 1)
    values(0) = found
    var i = 1
    while (i <= groupCount) {
      val g = if (found) m.group(i) else null
      values(i) = if (g == null) UTF8String.EMPTY_UTF8 else UTF8String.fromString(g)
      i += 1
    }
    new GenericInternalRow(values)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val regex = ctx.addReferenceObj("regex", pattern)
    val compiledTerm = ctx.addMutableState(classOf[Pattern].getName, "pattern",
      v => s"$v = java.util.regex.Pattern.compile($regex);")
    val row = classOf[GenericInternalRow].getName
    val m = ctx.freshName("matcher")
    val found = ctx.freshName("found")
    val values = ctx.freshName("values")
    val i = ctx.freshName("i")
    val g = ctx.freshName("group")
    nullSafeCodeGen(ctx, ev, line => {
      s"""
         |java.util.regex.Matcher $m = $compiledTerm.matcher($line.toString());
         |boolean $found = $m.find();
         |Object[] $values = new Object[${groupCount + 1}];
         |$values[0] = Boolean.valueOf($found);
         |for (int $i = 1; $i <= $groupCount; $i++) {
         |  String $g = $found ? $m.group($i) : null;
         |  $values[$i] = $g == null ? UTF8String.EMPTY_UTF8 : UTF8String.fromString($g);
         |}
         |${ev.value} = new $row($values);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RegexGroups {
  def apply(line: Column, pattern: String): Column =
    GraftColumnBridge.toColumn(RegexGroups(GraftColumnBridge.toExpression(line), pattern))

  /** Whether the line matched (`rlike`). */
  def matched(groups: Column): Column = groups.getField("matched")

  /** Capture group `i` (1-based), `""` when absent (`regexp_extract`). */
  def group(groups: Column, i: Int): Column = groups.getField(s"g$i")
}

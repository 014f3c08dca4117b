package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two float vectors
  * (SURVEY §2 F1).
  *
  * This is the hot-path primitive for embedding near-dup (E5) and ANN
  * (E6/E7): at 100 TB the pairwise kernel runs billions of times, so it
  * must stay inside whole-stage codegen — `doGenCode` emits a tight
  * primitive loop over the two ArrayData buffers with no boxing, no
  * Scala closure dispatch, and no UDF serialization. A Scala UDF doing
  * the same math breaks the codegen span and pays per-row encoder costs.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      // promote BEFORE multiplying: float*float rounds in float precision
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, nx = 0.0, ny = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xi = (double) $a.getFloat(i);
         |  double yi = (double) $b.getFloat(i);
         |  dot += xi * yi; nx += xi * xi; ny += yi * yi;
         |}
         |${ev.value} = (nx == 0.0 || ny == 0.0) ? 0.0 : dot / java.lang.Math.sqrt(nx * ny);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-level API; SQL reaches the same expression as `cosine_sim`
    * through GraftExtensions.
    */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(CosineSim(GraftColumnBridge.toExpression(a),
      GraftColumnBridge.toExpression(b)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<double>` columns
  * in one tight loop.
  *
  * Replaces the `aggregate(zip_with(a, b, _*_), 0.0, _+_)` formulation in
  * the similarity hot paths: higher-order functions evaluate their lambda
  * per element through interpreted `NamedLambdaVariable`s and allocate an
  * intermediate array for `zip_with`, which is the per-pair inner loop of
  * every KNN/near-dup join here (the reference's CUDA fork solves the same
  * problem by fusing the arithmetic into the map kernel,
  * `cuda/MarsInc.cu` map phase). Fold semantics match exactly: same
  * left-to-right add order (bitwise-identical sums, so the DuckDB
  * `list_sum` oracles are unaffected), null when either array is null,
  * when lengths differ, or when any element is null — the same results the
  * HOF form produced via null propagation through `+`.
  *
  * Accepts `array<double>` OR `array<float>` on either side independently
  * (floats are widened per element, bitwise-equal to casting the array
  * first) — so callers pass raw embedding columns and skip the
  * `transform(v, _.cast("double"))` wrapper, which is a CodegenFallback
  * higher-order function that would both exclude the stage from
  * whole-stage codegen and materialize a second array per row.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  // vec_dot is SQL-registered (GraftExtensions), so misuse must fail at
  // analysis time: without this, array<int> input would read garbage
  // through getDouble/getFloat over mis-typed ArrayData.
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloatSide(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val leftFloat = isFloatSide(left)
  @transient private lazy val rightFloat = isFloatSide(right)

  override def eval(input: InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    val anyNull = ctx.freshName("anyNull")
    val code =
      code"""
         |${leftGen.code}
         |${rightGen.code}
         |boolean ${ev.isNull} = true;
         |double ${ev.value} = 0.0;
         |if (!${leftGen.isNull} && !${rightGen.isNull}) {
         |  int $n = ${leftGen.value}.numElements();
         |  if ($n == ${rightGen.value}.numElements()) {
         |    double $s = 0.0;
         |    boolean $anyNull = false;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (${leftGen.value}.isNullAt($i) || ${rightGen.value}.isNullAt($i)) {
         |        $anyNull = true;
         |        break;
         |      }
         |      $s += ${if (leftFloat) s"(double) ${leftGen.value}.getFloat($i)"
             else s"${leftGen.value}.getDouble($i)"}
         |        * ${if (rightFloat) s"(double) ${rightGen.value}.getFloat($i)"
             else s"${rightGen.value}.getDouble($i)"};
         |    }
         |    if (!$anyNull) {
         |      ${ev.isNull} = false;
         |      ${ev.value} = $s;
         |    }
         |  }
         |}
       """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** The expression's fold over two equal-length arrays already widened
    * to doubles: Σ a(i)·b(i), added left to right from 0.0 — for
    * kernels that score outside an expression. */
  def fold(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Column-level entry point over two `array<double>` columns. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.toColumn(
      DotProduct(ColumnBridge.toExpression(a), ColumnBridge.toExpression(b)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: the exact shingle Jaccard of two shingle
  * sets given as `array<string>` sorted ascending in byte order, each
  * shingle once (`sort_array(shingle_array(...))`) — null when the sets
  * share no shingle. The column form of [[ShingleJaccard.jaccard]], the
  * one verify arithmetic of every candidate→verify near-dup path. */
case class ShingleJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "shingle_jaccard"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val j = ShingleJaccard.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (j.isNaN) null else j
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = "graft.functions.ShingleJaccard$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = $helper.jaccard($a, $b);
         |${ev.isNull} = Double.isNaN(${ev.value});""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleJaccard =
    copy(left = newLeft, right = newRight)
}

object ShingleJaccard {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Column-level entry point over two sorted shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    ColumnBridge.toColumn(
      ShingleJaccard(ColumnBridge.toExpression(a), ColumnBridge.toExpression(b)))

  /** |A∩B| = c by one merge of the two sorted sets, na = |A|, nb = |B|,
    * then round(c / (na + nb − c), 4) HALF_UP — Spark's `round` of the
    * count ratio, term for term. NaN when c = 0: such a pair shares no
    * shingle and is no candidate pair of the verify stage. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val (na, nb) = (a.numElements(), b.numElements())
    var (i, j, c) = (0, 0, 0)
    while (i < na && j < nb) {
      val o = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (o <= 0) i += 1
      if (o >= 0) j += 1
      if (o == 0) c += 1
    }
    if (c == 0) Double.NaN
    else java.math.BigDecimal.valueOf(c.toDouble / (na + nb - c))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

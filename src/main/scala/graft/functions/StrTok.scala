package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `strtok` tokens of a string in one byte
  * scan — the maximal runs of bytes that are not 0x20, 0x09, 0x0A, 0x0B,
  * 0x0C or 0x0D (`oink/map_read_words.cpp`). On valid UTF-8 this is
  * exactly `filter(split(t, "\\s+"), length > 0)`: Java's `\s` matches
  * only those six characters, and their bytes never occur inside a
  * multi-byte sequence, so U+00A0 and other non-ASCII spaces stay inside
  * tokens. Invalid UTF-8 bytes are kept as they are (the split path
  * decodes them to U+FFFD first). Null in, null out.
  *
  * Replaces the regex `split` + `filter` pair: the Java regex runs over
  * a decoded UTF-16 copy of every row, and `filter` is a higher-order
  * function that drops the projection out of whole-stage codegen. Every
  * token is an owned copy, never a view into the input row's buffer:
  * consumers that buffer rows (aggregation, sort) would otherwise read a
  * reused scan buffer. */
case class StrTok(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "strtok"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    StrTok.tokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.StrTok$$.MODULE$$.tokens($c);")

  override protected def withNewChildInternal(newChild: Expression): StrTok =
    copy(child = newChild)
}

object StrTok {

  @inline private def isSpace(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0d)

  /** The tokens of `s`, in order: one pass counts them, a second copies
    * each into its own `UTF8String`. */
  def tokens(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var count = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val sp = isSpace(Platform.getByte(base, off + i))
      if (!sp && !inTok) count += 1
      inTok = !sp
      i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (k < count) {
      while (isSpace(Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && !isSpace(Platform.getByte(base, off + i))) i += 1
      val bytes = new Array[Byte](i - start)
      Platform.copyMemory(base, off + start, bytes, Platform.BYTE_ARRAY_OFFSET,
        bytes.length)
      out(k) = UTF8String.fromBytes(bytes)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point. */
  def strtok(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.toColumn(StrTok(ColumnBridge.toExpression(s)))
  }
}

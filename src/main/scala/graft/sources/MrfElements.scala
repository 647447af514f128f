package graft.sources

import org.apache.spark.sql.{Column, GraftInternal}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A payer-mrf `json_payload` string as its JSON element texts: chunk
  * text `[e1,e2,…]` gives one string per element, cut by
  * [[JsonSplitter.splitTopLevelElements]] inside the brackets; any other
  * text (a `perElement` element, a header object) is one element as it
  * is, without a scan. Null gives null. The elements are zero-copy
  * slices of the payload's bytes, byte-equal to the ones the scan's
  * `perElement` and `payloadAsArray` shapes emit for the same chunk.
  */
case class MrfElements(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"mrf_elements requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "mrf_elements"

  override protected def nullSafeEval(input: Any): Any =
    MrfElements.elements(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.sources.MrfElements.elements($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MrfElements {

  def apply(payload: Column): Column =
    GraftInternal.column(MrfElements(GraftInternal.expr(payload)))

  /** Static entry point shared by interpreted eval and generated code. */
  def elements(s: UTF8String): ArrayData = {
    val n = s.numBytes
    if (n == 0 || s.getByte(0) != '['.toByte) new GenericArrayData(Array[Any](s))
    else {
      // slice the payload's own byte array when it has one (on-heap
      // rows); an off-heap string is copied once
      val (bytes, off) = s.getBaseObject match {
        case b: Array[Byte] => (b, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt)
        case _ => (s.getBytes, 0)
      }
      val end = if (s.getByte(n - 1) == ']'.toByte) off + n - 1 else off + n
      new GenericArrayData(slices(bytes, off + 1, end))
    }
  }

  /** The top-level elements of `bytes[from, until)` (a chunk's element
    * run, no enclosing brackets) as zero-copy strings.
    */
  def slices(bytes: Array[Byte], from: Int, until: Int): Array[Any] =
    JsonSplitter.splitTopLevelElements(bytes, from, until).iterator
      .map { case (s, e) => UTF8String.fromBytes(bytes, s, e - s): Any }.toArray
}

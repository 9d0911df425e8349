package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp query parameter (`micros` since the epoch) whose
  * generated code does not depend on its value.
  *
  * A timestamp `Literal` is folded into the generated Java source as
  * `<micros>L`, and Spark's codegen cache keys on that source text: two
  * probes that differ only in their time bounds compile two classes.
  * This leaf hands its value to the generated code through
  * `ctx.addReferenceObj` — the way Spark already passes string literals
  * — so every value shares one compiled class. It is not foldable, so
  * it is never turned back into a literal; the price is that a
  * comparison against it is not pushed to the file source.
  */
case class TimestampParam(micros: Long) extends LeafExpression {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(micros), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }

  override def toString: String = s"param($micros)"
}

object TimestampParam {

  /** The whole second `epochSecond` as a timestamp parameter. */
  def ofSecond(epochSecond: Long): TimestampParam =
    TimestampParam(Math.multiplyExact(epochSecond, 1000000L))

  /** [[ofSecond]] as a Column. */
  def seconds(epochSecond: Long): Column = Shim.column(ofSecond(epochSecond))
}

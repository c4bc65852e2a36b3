package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A micro-batch id as a bigint column. Unlike a literal, whose generated
  * code inlines the value (`write(3, 4L)`), the generated code reads the
  * value from the plan's references array, so the stage that stamps batch
  * k compiles to the same source as the stage that stamped batch k - 1 and
  * reuses its generated class. Not foldable: constant folding would turn
  * it back into a literal. */
case class BatchId(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "batch_id"
  override def toString: String = s"batch_id($value)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bid", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

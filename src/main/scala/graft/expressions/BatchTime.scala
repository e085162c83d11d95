package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A run's frozen `$$BATCH_TIME` (UTC micros) as a BOUND value: the
  * generated code reads it from the codegen references array instead of
  * inlining it as a long literal, so the source of every class that uses it
  * is identical from one run to the next and Spark's codegen cache (keyed on
  * the source) hits across scheduled runs, each with its own batch time.
  *
  * Deterministic (the value is fixed per plan) but NOT foldable: a foldable
  * expression would be turned back into a `Literal` by `ConstantFolding` /
  * `FoldablePropagation`, and the literal into per-run source.
  */
case class BatchTime(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_batch_time"

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchTime", java.lang.Long.valueOf(micros), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

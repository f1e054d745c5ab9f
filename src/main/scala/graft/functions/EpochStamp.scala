package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** The write epoch every stored row is stamped with: a non-null bigint
  * constant per write, like `lit(epoch)`, but NOT foldable and not inlined
  * into generated code. A literal puts its value into the generated source,
  * so each write epoch would compile its own classes (Spark caches
  * generated code by source text); here the value rides in the generated
  * class's references array, so every write of one stored shape reuses
  * the same compiled projection. Not a UDF: a UDF boxes every row and
  * makes the projection non-deterministic. The stored column is unchanged
  * in type, nullability and values, so parquet statistics are too.
  */
case class EpochStamp(epoch: Long) extends LeafExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_epoch"

  override def eval(input: InternalRow): Any = epoch

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("epoch", java.lang.Long.valueOf(epoch), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

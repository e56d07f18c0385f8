package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Leading 60 bits of the md5 of a string's UTF-8 bytes, as a native
  * Catalyst expression: [[Md5Bits.top60]] of [[Md5Bits.md5]], which is
  * bit-identical by construction to the SQL chain
  * `conv(substring(md5(s), 1, 15), 16, 10)` cast to long (pinned in
  * `Md5BitsSpec`, and through `shardIndexCol` in `ShardedLogSpec`), without
  * rendering the digest as hex and parsing it back. The sharded log's key
  * placement uses it on the writer's hot path.
  */
case class Md5Top60(child: Expression) extends UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(s: Any): Any =
    Md5Bits.top60(Md5Bits.md5(s.asInstanceOf[UTF8String].getBytes))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.Md5Bits.top60(graft.functions.Md5Bits.md5($s.getBytes()))")

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object Md5Top60 {
  /** Registers `md5_top60` on the session's function registry
    * (idempotent).
    */
  def register(spark: SparkSession): Unit =
    FunctionRegistration.tempFunctionOnce(spark,
      "md5_top60", exprs => Md5Top60(exprs(0)))
}

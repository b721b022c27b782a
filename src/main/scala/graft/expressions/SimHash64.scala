package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit SimHash of a text column — for each
  * bit, tokens vote +1/−1 by the bit of their xxhash64 (seed 42, the
  * built-in's seed); the bit is set when the vote is positive. An empty
  * token set sets no bit.
  *
  * Bit-identical to the composed-HOF formulation in `Dedup.simhash64`
  * (64 interpreted `aggregate` passes per row — higher-order functions are
  * CodegenFallback), but one tokenize→hash→vote loop per row that stays
  * inside whole-stage codegen. Tokens are [[ShingleHashing]]'s: exactly
  * `Text.tokens`.
  */
case class SimHash64Expr(child: Expression) extends StringKernelExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  protected def kernelCall(c: String): String = s"graft.expressions.ShingleHashing.simhash($c)"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashing.simhash(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.StringType

/** The shell of graft's one-string-in expressions: a string child, null in
  * → null out, and generated code that is one static call,
  * `kernelCall(childValue)`, so the surrounding projection stays in
  * whole-stage codegen. */
trait StringKernelExpression extends UnaryExpression {
  protected def kernelCall(c: String): String

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, kernelCall)
}

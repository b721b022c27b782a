package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct word-`n`-gram shingle hash pairs of
  * a text column — `array<struct<a: long, b: long>>` where
  * `a = xxhash64(shingle)` and `b = xxhash64(1L, shingle)` (bit-identical
  * to the built-in `xxhash64` foldings, seed 42).
  *
  * Why an expression instead of `transform`/`aggregate` compositions:
  * Spark's higher-order array functions are CodegenFallback — every element
  * pays interpreted-closure dispatch and boxing, and column references
  * inside their lambdas re-evaluate per element. The whole tokenize →
  * shingle → hash → dedup pipeline is [[ShingleHashing]]'s one loop.
  *
  * Semantics parity: tokens are `split("\\s+")` with empties dropped
  * (exactly `Text.tokens`), shingles join `n` consecutive tokens with a
  * single space (exactly `Text.shingles`), and deduplication keeps the
  * first occurrence (exactly `array_distinct` on the shingle strings,
  * modulo xxhash64 collisions).
  */
case class ShinglePairHashes(child: Expression, n: Int)
    extends StringKernelExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "shingle_pair_hashes"
  protected def kernelCall(c: String): String = s"graft.expressions.ShingleHashing.pairHashes($c, $n)"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashing.pairHashes(input.asInstanceOf[UTF8String], n)

  override protected def withNewChildInternal(newChild: Expression): ShinglePairHashes =
    copy(child = newChild)
}

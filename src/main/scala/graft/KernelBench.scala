package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{MinHashSignature, ShinglePairHashes, ShingleSketch, SimHash64Expr}

/** Throughput of the text kernels with no Spark scheduling in the loop:
  * each expression is evaluated row by row on one thread over generated
  * documents, and a kernel's number is the fastest of `reps` passes, in
  * rows/s. Prints one JSON object per kernel.
  *
  * {{{
  * tools/run-main.sh graft.KernelBench [docs=6000] [reps=15] [seed=3]
  * }}}
  *
  * Documents are 60–120 words drawn Zipf(1.0) from a 20 000-word
  * vocabulary, the shape of the `text_dedup` benchmark corpus. The kernels
  * are the ones the near-dup operators run with their defaults (3-word
  * shingles, 64 permutations): `MinHashSignature`, `ShinglePairHashes`,
  * `ShingleSketch` (the fused signature + shingle-hash pass of the hash
  * checkpoint) and `SimHash64Expr`. */
object KernelBench {

  def corpus(docs: Int, seed: Long): Array[UTF8String] = {
    val rnd = new scala.util.Random(seed)
    val vocab = 20000
    val cdf = (1 to vocab).scanLeft(0.0)(_ + 1.0 / _).tail.toArray
    val total = cdf.last
    def word(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * total)
      if (i >= 0) i else -i - 1
    }
    Array.fill(docs) {
      UTF8String.fromString(Seq.fill(60 + rnd.nextInt(61))(s"w${word()}").mkString(" "))
    }
  }

  /** Fastest of `reps` passes of `e` over `rows`, in seconds, after
    * warm-up passes for the JIT. */
  def minPass(e: Expression, rows: Array[InternalRow], reps: Int): Double = {
    var sink = 0
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < rows.length) { if (e.eval(rows(i)) != null) sink += 1; i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    (0 until 3).foreach(_ => pass())
    val best = (0 until reps).map(_ => pass()).min
    require(sink > 0)
    best
  }

  def main(args: Array[String]): Unit = {
    val docs = args.headOption.fold(6000)(_.toInt)
    val reps = args.lift(1).fold(15)(_.toInt)
    val seed = args.lift(2).fold(3L)(_.toLong)
    val rows = corpus(docs, seed).map(t => InternalRow(t))
    val text = BoundReference(0, StringType, nullable = true)
    for ((name, e) <- Seq[(String, Expression)](
        "MinHashSignature" -> MinHashSignature(text, 3, 64),
        "ShinglePairHashes" -> ShinglePairHashes(text, 3),
        "ShingleSketch" -> ShingleSketch(text, 3, 64),
        "SimHash64Expr" -> SimHash64Expr(text))) {
      val s = minPass(e, rows, reps)
      println(f"""{"kernel": "$name", "rows": $docs, "reps": $reps, "min_s": $s%.6f, "rows_per_s": ${docs / s}%.0f}""")
    }
  }
}

package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Signature and shingle hashes of a document from ONE pass of the kernel:
  * `struct<sig: array<long>, sh: array<long>>`, where `sig` is exactly
  * [[MinHashSignature]] and `sh` exactly the `a` field of
  * [[ShinglePairHashes]]. The near-dup operators hash the corpus through
  * this, so no document is tokenized twice. `numHashes = 0` leaves `sig`
  * empty, for callers that need only the shingle hashes. */
case class ShingleSketch(child: Expression, n: Int, numHashes: Int) extends StringKernelExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(numHashes >= 0, s"numHashes must be >= 0, got $numHashes")

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false)))
  override def prettyName: String = "shingle_sketch"
  protected def kernelCall(c: String): String =
    s"graft.expressions.ShingleHashing.sketch($c, $n, $numHashes)"

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashing.sketch(input.asInstanceOf[UTF8String], n, numHashes)

  override protected def withNewChildInternal(newChild: Expression): ShingleSketch =
    copy(child = newChild)
}

/** The one tokenize → shingle → hash loop (and the tokenizer of
  * [[SimHash64Expr]]). Tokens are the maximal runs of
  * bytes outside Java's `\s` class (space, `\t`, `\n`, `\u000B`, `\f`,
  * `\r`): exactly `split("\\s+")` with empties dropped, because no byte of
  * a multi-byte UTF-8 sequence is ASCII. A shingle is `n` consecutive tokens
  * joined by one space, assembled in a reused byte buffer; its hash `a` is
  * `xxhash64(shingle)` (seed 42). Shingles dedup on `a` in a primitive
  * open-addressing set, first occurrence kept. For each new `a` the
  * input-dependent half of `XXH64.hashLong(a, p)` is computed once and the
  * `numHashes` permutation seeds `p` finish it — bit-identical to the
  * per-call `hashLong`.
  *
  * Invalid UTF-8 is first decoded as `UTF8String.toString` decodes it
  * (each bad sequence becomes U+FFFD) and re-encoded, so every value equals
  * the string path's. Scratch buffers are per thread; every result is a
  * fresh array. */
object ShingleHashing {

  private val Seed = 42L
  /** `xxhash64(lit(1), s)` folds the IntegerType literal first. */
  private val SeedB = XXH64.hashInt(1, Seed)
  private val P1 = -7046029288634856825L
  private val P2 = -4417276706812531889L
  private val P3 = 1609587929392839161L
  private val P4 = -8796714831421723037L
  private val P5 = 2870177450012600261L

  private final class Scratch {
    var buf = new Array[Byte](256)
    var starts = new Array[Int](64)
    var ends = new Array[Int](64)
    var sh = new Array[Long](64)
    var shB = new Array[Long](64)
    var count = 0
    var mins = new Array[Long](64)
    var table = new Array[Long](128)
    var stamps = new Array[Int](128)
    var gen = 0
  }
  private val scratch = ThreadLocal.withInitial[Scratch](() => new Scratch)

  private def isSpace(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  /** `text`, re-encoded through `toString` when it is not valid UTF-8. */
  private def valid(text: UTF8String): UTF8String =
    if (text.isValid) text else UTF8String.fromString(text.toString)

  /** Token `t` of `text` is bytes `starts(t) until ends(t)`; returns the
    * token count. */
  private def tokenize(s: Scratch, text: UTF8String): Int = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val len = text.numBytes
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isSpace(Platform.getByte(base, off + i))) i += 1
      if (i < len) {
        if (nTok == s.starts.length) {
          s.starts = java.util.Arrays.copyOf(s.starts, nTok * 2)
          s.ends = java.util.Arrays.copyOf(s.ends, nTok * 2)
        }
        s.starts(nTok) = i
        while (i < len && !isSpace(Platform.getByte(base, off + i))) i += 1
        s.ends(nTok) = i
        nTok += 1
      }
    }
    nTok
  }

  /** Runs the loop over `text0`: leaves the distinct shingle hashes in
    * `sh(0 until count)` (their `b` hashes in `shB` when `pairs`), and the
    * minimum of permutation `p` in `mins(p)` (Long.MaxValue when the text
    * has fewer than `n` tokens). */
  private def run(text0: UTF8String, n: Int, numHashes: Int, pairs: Boolean): Scratch = {
    val s = scratch.get()
    val text = valid(text0)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nTok = tokenize(s, text)
    val nShingles = math.max(0, nTok - n + 1)
    if (s.sh.length < nShingles) {
      s.sh = new Array[Long](nShingles)
      s.shB = new Array[Long](nShingles)
    }
    if (s.mins.length < numHashes) s.mins = new Array[Long](numHashes)
    java.util.Arrays.fill(s.mins, 0, numHashes, Long.MaxValue)
    var cap = s.table.length
    if (cap < 2 * nShingles) {
      while (cap < 2 * nShingles) cap *= 2
      s.table = new Array[Long](cap)
      s.stamps = new Array[Int](cap)
      s.gen = 0
    }
    if (s.gen == Int.MaxValue) { java.util.Arrays.fill(s.stamps, 0); s.gen = 0 }
    s.gen += 1
    val gen = s.gen
    val mask = cap - 1
    val mins = s.mins
    s.count = 0
    var i = 0
    while (i < nShingles) {
      // assemble tokens i .. i+n-1, one space apart, into the buffer
      val need = s.ends(i + n - 1) - s.starts(i)
      if (s.buf.length < need) s.buf = new Array[Byte](math.max(need, s.buf.length * 2))
      val buf = s.buf
      var w = 0
      var k = 0
      while (k < n) {
        if (k > 0) { buf(w) = 32; w += 1 }
        val tl = s.ends(i + k) - s.starts(i + k)
        Platform.copyMemory(base, off + s.starts(i + k), buf, Platform.BYTE_ARRAY_OFFSET + w, tl)
        w += tl
        k += 1
      }
      val a = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, w, Seed)
      var slot = (a ^ (a >>> 32)).toInt & mask
      while (s.stamps(slot) == gen && s.table(slot) != a) slot = (slot + 1) & mask
      if (s.stamps(slot) != gen) {
        s.stamps(slot) = gen
        s.table(slot) = a
        s.sh(s.count) = a
        if (pairs) s.shB(s.count) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, w, SeedB)
        s.count += 1
        // XXH64.hashLong(a, p), with the part that depends only on `a` hoisted
        val ka = java.lang.Long.rotateLeft(a * P2, 31) * P1
        var p = 0
        while (p < numHashes) {
          var h = (p + P5 + 8L) ^ ka
          h = java.lang.Long.rotateLeft(h, 27) * P1 + P4
          h ^= h >>> 33
          h *= P2
          h ^= h >>> 29
          h *= P3
          h ^= h >>> 32
          if (h < mins(p)) mins(p) = h
          p += 1
        }
      }
      i += 1
    }
    s
  }

  private def longs(a: Array[Long], length: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(a, Platform.LONG_ARRAY_OFFSET, length, 8)

  /** [[MinHashSignature]]'s value. */
  def signature(text: UTF8String, n: Int, numHashes: Int): ArrayData =
    longs(run(text, n, numHashes, pairs = false).mins, numHashes)

  /** [[ShingleSketch]]'s value. */
  def sketch(text: UTF8String, n: Int, numHashes: Int): InternalRow = {
    val s = run(text, n, numHashes, pairs = false)
    new GenericInternalRow(Array[Any](longs(s.mins, numHashes), longs(s.sh, s.count)))
  }

  /** [[ShinglePairHashes]]'s value. */
  def pairHashes(text: UTF8String, n: Int): ArrayData = {
    val s = run(text, n, 0, pairs = true)
    new GenericArrayData(Array.tabulate[Any](s.count)(j => InternalRow(s.sh(j), s.shB(j))))
  }

  /** [[SimHash64Expr]]'s value: for each bit, every token votes +1/−1 by
    * that bit of its xxhash64; the bit is set when the vote is positive. */
  def simhash(text0: UTF8String): Long = {
    val s = scratch.get()
    val text = valid(text0)
    val nTok = tokenize(s, text)
    val votes = new Array[Int](64)
    var t = 0
    while (t < nTok) {
      val h = XXH64.hashUnsafeBytes(text.getBaseObject, text.getBaseOffset + s.starts(t),
        s.ends(t) - s.starts(t), Seed)
      var bit = 0
      while (bit < 64) {
        votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      t += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= 1L << bit
      bit += 1
    }
    out
  }
}

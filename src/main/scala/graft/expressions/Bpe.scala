package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: byte-level BPE ENCODE — apply a learned
  * merges table (GPT-2 style: Sennrich BPE over bytes, Radford et al.
  * 2019) so token counts are EXACT, not whitespace approximations.
  * Chunking, sequence packing, and Gopher-style length bounds all key
  * on tokens-per-document; a whitespace count drifts 1.2-1.5× from the
  * real tokenizer on prose and far more on code, so budgets sized with
  * it systematically over/under-fill.
  *
  * The classic three stages, one pass per row:
  *  1. PRE-TOKENIZE with the published GPT-2 pattern (contractions,
  *     ` ?letters`, ` ?digits`, ` ?punct`, whitespace runs) — merges
  *     never cross pre-token boundaries;
  *  2. map each pre-token's UTF-8 BYTES through the byte→unicode
  *     bijection (the bytes_to_unicode construction: printable latin
  *     ranges map to themselves, the rest shift to 256+k), so every
  *     byte is a printable symbol and the merges table is plain text;
  *  3. greedily MERGE the lowest-RANK adjacent symbol pair, all its
  *     non-overlapping occurrences left-to-right, until no adjacent
  *     pair is in the table — the training-time merge order replayed.
  *
  * The table rides the codegen reference array ([[BpeTable]], the
  * [[NearestCentroid.Model]] pattern): shipped once per task in the
  * plan binary, ranks pre-hashed per executor, NOT re-serialized per
  * row. Output is the token array (mapped-alphabet strings — vocab
  * keys); `size(...)` of it is the exact token count. Unknown bytes
  * cannot exist (the bijection is total), so encode never throws. */
case class BpeEncode(child: Expression, table: BpeTable)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.catalogString}")

  override def nullable: Boolean = child.nullable

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else table.encode(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTable", table, classOf[BpeTable].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encode($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Native Catalyst expression: GPT-2 PRE-TOKENIZATION + byte→unicode
  * mapping only (no merges) — the corpus-scale half of BPE TRAINING.
  * Training needs the pre-token frequency dictionary, not the raw
  * corpus: this explodes per row into mapped pre-token strings whose
  * groupBy/count is the one distributed pass, after which merge
  * learning runs over the vocabulary-bounded dict
  * ([[graft.functions.Text.bpeTrain]]). Output strings are in the
  * SAME mapped alphabet [[BpeEncode]] consumes, so a learned table
  * feeds the encoder verbatim. */
case class BpePretokenize(child: Expression) extends StringKernelExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "bpe_pretokenize"

  override def nullable: Boolean = child.nullable

  override protected def nullSafeEval(input: Any): Any =
    BpeTable.pretokenize(input.asInstanceOf[UTF8String])

  protected def kernelCall(c: String): String = s"graft.expressions.BpeTable.pretokenize($c)"

  override protected def withNewChildInternal(newChild: Expression): BpePretokenize =
    copy(child = newChild)
}

object BpeTable {

  /** Mapped pre-tokens of one row — the static entry the codegen'd
    * [[BpePretokenize]] calls. */
  def pretokenize(input: UTF8String): GenericArrayData = {
    val s = input.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val m = SharedPretoken.matcher(s)
    while (m.find()) {
      val bytes = s.substring(m.start(), m.end())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) { sb.append(ByteChar(bytes(i) & 0xFF)); i += 1 }
      out += UTF8String.fromString(sb.toString)
    }
    new GenericArrayData(out.toArray)
  }

  private[expressions] lazy val SharedPretoken: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(PretokenPattern,
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)

  /** bytes_to_unicode: bytes in the printable latin ranges (33-126,
    * 161-172, 174-255) are their own symbol; the other 68 bytes map to
    * 256+k in ascending byte order (so 0x20 space → U+0120 'Ġ', 0x0A
    * newline → U+010A). A bijection: merges tables stay printable text
    * and every byte sequence round-trips. */
  private[expressions] val ByteChar: Array[Char] = {
    val arr = new Array[Char](256)
    var shifted = 0
    var b = 0
    while (b < 256) {
      val direct = (b >= 33 && b <= 126) || (b >= 161 && b <= 172) ||
        (b >= 174 && b <= 255)
      if (direct) arr(b) = b.toChar
      else { arr(b) = (256 + shifted).toChar; shifted += 1 }
      b += 1
    }
    arr
  }

  /** The published GPT-2 pre-tokenization pattern: contraction
    * suffixes, space-prefixed letter/digit/punct runs, whitespace
    * (kept off a following non-space so the space prefixes the next
    * token). */
  private[expressions] val PretokenPattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+" +
      "|\\s+(?!\\S)|\\s+"
}

/** The merges table, plan-shipped once and pre-hashed per executor:
  * rank = position in the learned merge list (lower merges first). */
final class BpeTable(val merges: Seq[(String, String)]) extends Serializable {
  require(merges.map(m => (m._1, m._2)).distinct.length == merges.length,
    "duplicate pair in the BPE merges table")

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case ((a, b), r) =>
      m.put(a + "\u0000" + b, Integer.valueOf(r))
    }
    m
  }

  // UNICODE_CHARACTER_CLASS (via SharedPretoken): the reference
  // pattern is a Python-regex (Unicode) pattern — Java's default
  // ASCII \s would class U+00A0/U+2009/U+3000 as "punctuation",
  // grouping across what the real tokenizer treats as whitespace and
  // breaking exact-count parity
  @transient private lazy val pretoken: java.util.regex.Pattern =
    BpeTable.SharedPretoken

  def encode(input: UTF8String): GenericArrayData = {
    val s = input.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    val m = pretoken.matcher(s)
    while (m.find()) {
      val bytes = s.substring(m.start(), m.end())
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      // initial symbols: one mapped char per byte
      var syms = new Array[String](bytes.length)
      var i = 0
      while (i < bytes.length) {
        syms(i) = String.valueOf(BpeTable.ByteChar(bytes(i) & 0xFF))
        i += 1
      }
      // greedy lowest-rank merge to fixpoint
      var done = syms.length < 2
      while (!done) {
        var best = Int.MaxValue
        var k = 0
        while (k < syms.length - 1) {
          val r = ranks.get(syms(k) + "\u0000" + syms(k + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
          k += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          // merge all non-overlapping occurrences, left to right
          val merged = new scala.collection.mutable.ArrayBuffer[String](syms.length)
          var j = 0
          while (j < syms.length) {
            if (j < syms.length - 1 && {
                val r = ranks.get(syms(j) + "\u0000" + syms(j + 1))
                r != null && r.intValue() == best
              }) {
              merged += syms(j) + syms(j + 1)
              j += 2
            } else { merged += syms(j); j += 1 }
          }
          syms = merged.toArray
          done = syms.length < 2
        }
      }
      var t = 0
      while (t < syms.length) { out += UTF8String.fromString(syms(t)); t += 1 }
    }
    new GenericArrayData(out.toArray)
  }
}

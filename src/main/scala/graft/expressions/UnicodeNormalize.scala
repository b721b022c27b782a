package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode normalization (UAX #15) — the
  * step dedup pipelines run BEFORE hashing, because "café" spelled
  * composed (U+00E9) and decomposed (e + U+0301) are different bytes,
  * different xxhash64 values, different MinHash shingles, and
  * different exact-dup groups while being the SAME text to every
  * reader. `form` is "NFC" (canonical composition — the dedup-key
  * default) or "NFKC" (adds compatibility folding: ligatures, width
  * variants, superscripts — the aggressive-matching variant).
  *
  * ASCII fast path returns the input object untouched (ASCII is
  * normalized under every form); otherwise the JDK's Normalizer (its
  * own UAX #15 implementation — the q196 oracle cross-checks it
  * against DuckDB's independent one). Codegen'd via the static
  * [[UnicodeNormalize.compute]]. */
case class UnicodeNormalize(child: Expression, form: String) extends StringKernelExpression {

  require(form == "NFC" || form == "NFKC",
    s"normalization form '$form' — NFC or NFKC")

  override def dataType: DataType = StringType

  override def prettyName: String = "unicode_normalize"

  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormalize.compute(input.asInstanceOf[UTF8String], form)

  protected def kernelCall(c: String): String = s"""graft.expressions.UnicodeNormalize.compute($c, "$form")"""

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

object UnicodeNormalize {

  def compute(input: UTF8String, form: String): UTF8String = {
    // ASCII fast path: one byte per char means no combining sequences,
    // no compatibility characters — normalized under every form
    if (input.numBytes() == input.numChars()) return input
    val s = input.toString
    val f =
      if (form == "NFC") java.text.Normalizer.Form.NFC
      else java.text.Normalizer.Form.NFKC
    if (java.text.Normalizer.isNormalized(s, f)) input
    else UTF8String.fromString(java.text.Normalizer.normalize(s, f))
  }
}

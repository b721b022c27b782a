package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: decode HTML character references in ONE
  * left-to-right scan — NUMERIC (`&#NNNN;` decimal, `&#xHH;` hex) and
  * the NAMED entities crawl HTML actually carries: the XML core five
  * plus `&nbsp;` and the ~30 ubiquitous typographic/symbol references
  * (`&rsquo; &mdash; &hellip; &ldquo; &rdquo; &copy; &deg; …` — each a
  * textbook single-codepoint value). Both kinds are everywhere in
  * crawl HTML, and a pipeline that passes them through as literal text
  * corrupts token counts, dedup shingles, and the curated corpus
  * itself. The long HTML5 tail (accented letters, math alphabets)
  * stays literal — dirty-input semantics, not an error.
  *
  * A regex chain can find references but `regexp_replace` cannot
  * COMPUTE a numeric replacement (chr of a captured number) — and,
  * worse, SEQUENTIAL replacement passes double-decode whichever
  * spelling runs second (`&amp;#65;` under numeric-after-amp;
  * `&#38;amp;` under amp-after-numeric). A single scan that consumes
  * each source reference exactly once and never re-reads its own
  * output is immune in BOTH directions: `&amp;#65;` → `&#65;` and
  * `&#38;amp;` → `&amp;`, each decoded exactly one level, matching
  * browser semantics. That makes this genuine native-expression
  * territory: one pass per row, inside whole-stage codegen via the
  * static [[HtmlNumericEntityDecode.compute]].
  *
  * Out-of-range (> U+10FFFF), surrogate-range, and malformed references
  * (no digits, no terminating `;` within bounds, unknown names) stay
  * literal — crawl bytes are dirty by definition and decode must never
  * throw. Supplementary-plane references emit surrogate pairs
  * (`Character.toChars`). */
case class HtmlNumericEntityDecode(child: Expression) extends StringKernelExpression {

  override def dataType: DataType = StringType

  override def prettyName: String = "html_numeric_entity_decode"

  override protected def nullSafeEval(input: Any): Any =
    HtmlNumericEntityDecode.compute(input.asInstanceOf[UTF8String])

  protected def kernelCall(c: String): String = s"graft.expressions.HtmlNumericEntityDecode.compute($c)"

  override protected def withNewChildInternal(newChild: Expression): HtmlNumericEntityDecode =
    copy(child = newChild)
}

object HtmlNumericEntityDecode {

  /** Longest reference accepted: `&#` + 7 digits + `;` (10FFFF is 7
    * decimal digits: 1114111). Longer runs are left literal. */
  private val MaxDigits = 7

  /** The XML core five, `&nbsp;`, and the ~30 ubiquitous named
    * references (HTML5 named-character-reference table, single-
    * codepoint entries only). Probe order is irrelevant: a match
    * requires the EXACT name followed by ';', so prefixes can't
    * shadow (`&times;` vs a hypothetical `&time;` never both match).
    * Linear probe over ~40 entries, first-char-gated below, stays
    * branch-predictable. */
  private val Named: Array[(String, Char)] = Array(
    "amp" -> '&', "lt" -> '<', "gt" -> '>', "quot" -> '"',
    "apos" -> '\'', "nbsp" -> ' ',
    // quotes / dashes / ellipsis (the smart-typography set)
    "rsquo" -> '’', "lsquo" -> '‘', "sbquo" -> '‚',
    "rdquo" -> '”', "ldquo" -> '“', "bdquo" -> '„',
    "mdash" -> '—', "ndash" -> '–', "hellip" -> '…',
    "prime" -> '′', "Prime" -> '″',
    // legal / commercial marks
    "copy" -> '©', "reg" -> '®', "trade" -> '™',
    // currency
    "euro" -> '€', "pound" -> '£', "yen" -> '¥',
    "cent" -> '¢',
    // symbols and punctuation
    "deg" -> '°', "middot" -> '·', "bull" -> '•',
    "laquo" -> '«', "raquo" -> '»', "sect" -> '§',
    "para" -> '¶', "dagger" -> '†', "Dagger" -> '‡',
    "shy" -> '­',
    // arithmetic / fractions / superscripts
    "times" -> '×', "divide" -> '÷', "plusmn" -> '±',
    "frac12" -> '½', "frac14" -> '¼', "frac34" -> '¾',
    "sup2" -> '²', "sup3" -> '³')

  def compute(input: UTF8String): UTF8String = {
    val s = input.toString
    // fast path: no '&' → no work, return the input object untouched
    if (s.indexOf('&') < 0) return input
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&' && i + 2 < n && s.charAt(i + 1) == '#') {
        var j = i + 2
        val hex = j < n && (s.charAt(j) == 'x' || s.charAt(j) == 'X')
        if (hex) j += 1
        val digStart = j
        var cp = 0L
        var ok = true
        while (j < n && ok && s.charAt(j) != ';' && j - digStart <= MaxDigits) {
          val d = s.charAt(j)
          val v =
            if (d >= '0' && d <= '9') d - '0'
            else if (hex && d >= 'a' && d <= 'f') d - 'a' + 10
            else if (hex && d >= 'A' && d <= 'F') d - 'A' + 10
            else -1
          if (v < 0) ok = false
          else { cp = cp * (if (hex) 16 else 10) + v; j += 1 }
        }
        ok = ok && j < n && s.charAt(j) == ';' && j > digStart &&
          cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF)
        if (ok) {
          sb.append(Character.toChars(cp.toInt))
          i = j + 1
        } else { sb.append(c); i += 1 }
      } else if (c == '&') {
        // named entity: &name; — consumed exactly once, unknown names
        // stay literal
        var hit = -1
        var k = 0
        val c1 = if (i + 1 < n) s.charAt(i + 1) else '\u0000'
        while (hit < 0 && k < Named.length) {
          val name = Named(k)._1
          if (c1 == name.charAt(0)) {
            val end = i + 1 + name.length
            if (end < n && s.charAt(end) == ';' &&
                s.regionMatches(i + 1, name, 0, name.length)) hit = k
          }
          k += 1
        }
        if (hit >= 0) {
          sb.append(Named(hit)._2)
          i = i + 2 + Named(hit)._1.length
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }
}

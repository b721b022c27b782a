package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: rule-based SENTENCE segmentation — the
  * unit every chunking/packing stage wants to cut on (token-budget
  * chunks that split mid-sentence measurably hurt downstream training;
  * the standard practice is sentence-aligned chunk boundaries).
  *
  * Deterministic rules, so an oracle restates expected output
  * closed-form (the spaCy/NLTK statistical splitters trade
  * replayability for recall — wrong trade for an oracle-gated
  * engine):
  *
  *  - a BOUNDARY is a run of `.` `!` `?` (plus any closing quotes or
  *    brackets `" ' ” ’ ) ]`), followed by whitespace, followed by an
  *    upper-case letter, digit, or opening quote/bracket;
  *  - GUARDS suppress the boundary after common abbreviations
  *    (mr mrs ms dr prof sr jr st vs etc e.g i.e u.s a.m p.m fig no
  *    inc ltd co al — lowercase compare of the token preceding the
  *    period, internal dots kept so `e.g.` matches) and after a
  *    SINGLE upper-case initial (`A. Smith`);
  *  - a blank line (two newlines with only spaces between) is always
  *    a boundary — paragraphs never merge;
  *  - sentences TRIM; empties drop; text with no boundary is one
  *    sentence.
  *
  * Per-row single pass, whole-stage codegen via the static
  * [[SentenceSplit.compute]]. */
case class SentenceSplit(child: Expression) extends StringKernelExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "sentence_split"

  override protected def nullSafeEval(input: Any): Any =
    SentenceSplit.compute(input.asInstanceOf[UTF8String])

  protected def kernelCall(c: String): String = s"graft.expressions.SentenceSplit.compute($c)"

  override protected def withNewChildInternal(newChild: Expression): SentenceSplit =
    copy(child = newChild)
}

object SentenceSplit {

  private val Abbrev: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc",
      "e.g", "i.e", "eg", "ie", "u.s", "u.k", "a.m", "p.m", "fig", "no",
      "inc", "ltd", "co", "al", "approx", "dept", "est", "min", "max",
      "vol", "sec", "ca", "cf").foreach(s.add)
    s
  }

  private def isCloser(c: Char): Boolean =
    c == '"' || c == '\'' || c == '”' || c == '’' ||
      c == ')' || c == ']'

  private def isOpener(c: Char): Boolean =
    c == '"' || c == '\'' || c == '“' || c == '‘' ||
      c == '(' || c == '['

  def compute(input: UTF8String): GenericArrayData = {
    val s = input.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    def push(from: Int, to: Int): Unit = {
      var a = from; var b = to
      while (a < b && s.charAt(a) <= ' ') a += 1
      while (b > a && s.charAt(b - 1) <= ' ') b -= 1
      if (b > a) out += UTF8String.fromString(s.substring(a, b))
    }
    var start = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        // consume the terminator run + closing quotes/brackets
        var j = i
        while (j < n && (s.charAt(j) == '.' || s.charAt(j) == '!' ||
          s.charAt(j) == '?')) j += 1
        val termEnd = j
        while (j < n && isCloser(s.charAt(j))) j += 1
        val afterClosers = j
        // whitespace, then a sentence-opening character?
        var k = afterClosers
        while (k < n && (s.charAt(k) == ' ' || s.charAt(k) == '\t' ||
          s.charAt(k) == '\r' || s.charAt(k) == '\n')) k += 1
        val opensNext = k < n && {
          val d = s.charAt(k)
          Character.isUpperCase(d) || Character.isDigit(d) || isOpener(d)
        }
        var boundary = k > afterClosers && opensNext
        // guards apply only to '.' terminators (never '!'/'?')
        if (boundary && s.charAt(termEnd - 1) == '.' && termEnd - i == 1) {
          // token before the period: letters/dots back to whitespace
          var t = i - 1
          while (t >= 0 && (Character.isLetter(s.charAt(t)) ||
            s.charAt(t) == '.')) t -= 1
          val tok = s.substring(t + 1, i).toLowerCase
          if (Abbrev.contains(tok)) boundary = false
          else if (tok.length == 1 && Character.isUpperCase(s.charAt(i - 1)))
            boundary = false // single initial: 'A. Smith'
        }
        if (boundary) {
          push(start, afterClosers)
          start = k
          i = k
        } else i = termEnd
      } else if (c == '\n') {
        // blank line = paragraph boundary regardless of punctuation
        var j = i + 1
        while (j < n && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        if (j < n && s.charAt(j) == '\n') {
          push(start, i)
          while (j < n && (s.charAt(j) == '\n' || s.charAt(j) == ' ' ||
            s.charAt(j) == '\t')) j += 1
          start = j
          i = j
        } else i += 1
      } else i += 1
    }
    push(start, n)
    new GenericArrayData(out.toArray)
  }
}

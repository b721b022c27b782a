package graft.expressions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: HTML → MARKDOWN conversion — the
  * structure-preserving sibling of [[graft.functions.Text.htmlToText]]
  * for markdown-corpus pipelines (LLM training sets increasingly keep
  * document structure: headings, lists, links, emphasis, code).
  *
  * One left-to-right scan, the [[HtmlMainContent]] tag walk (quoted
  * attribute values may hide '>', comments/doctype skip, script/style
  * drop wholesale), mapping the crawl-dominant structural subset:
  *
  *  - `h1`–`h6` → `#`…`######` + space, heading text on its own
  *    paragraph;
  *  - `p div section article blockquote table tr ul ol body head
  *    title header footer main aside figure` boundaries → paragraph
  *    breaks (blank line); `br hr` → a hard line break;
  *  - `li` → `- ` items on their own lines (nesting flattens — the
  *    crawl-scale 99% case; depth tracking buys little against dirty
  *    markup);
  *  - `b strong` → `**`, `i em` → `*` (toggled on open AND close, so
  *    unclosed emphasis degrades to a literal marker, never an
  *    exception);
  *  - `a href` → `[text](href)` (first href attribute; nested anchors
  *    flatten); `img` → `![alt](src)`;
  *  - `code` → backticks; `pre` → fenced ``` blocks with the raw
  *    (entity-raw, whitespace-preserved) content;
  *  - other inline tags are word boundaries; text whitespace collapses
  *    to single spaces outside `pre`; 3+ newlines squeeze to one blank
  *    line; character references stay RAW (compose
  *    [[HtmlNumericEntityDecode]] downstream, exactly like htmlToText)
  *    and markdown metacharacters in text are NOT escaped (documented
  *    out of scope — corpora consume markdown loosely).
  *
  * Dirty input degrades to text, never throws. Per-row single pass,
  * whole-stage codegen via the static [[HtmlToMarkdown.compute]]. */
case class HtmlToMarkdown(child: Expression) extends StringKernelExpression {

  override def dataType: DataType = StringType

  override def prettyName: String = "html_to_markdown"

  override protected def nullSafeEval(input: Any): Any =
    HtmlToMarkdown.compute(input.asInstanceOf[UTF8String])

  protected def kernelCall(c: String): String = s"graft.expressions.HtmlToMarkdown.compute($c)"

  override protected def withNewChildInternal(newChild: Expression): HtmlToMarkdown =
    copy(child = newChild)
}

object HtmlToMarkdown {

  private val ParaTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("p", "div", "section", "article", "blockquote", "table", "tr",
      "ul", "ol", "dl", "body", "head", "title", "header", "footer",
      "main", "aside", "figure", "figcaption", "form", "td", "th",
      "thead", "tbody", "dt", "dd").foreach(s.add)
    s
  }

  def compute(input: UTF8String): UTF8String = {
    val s = input.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var currentHref: String = ""

    // trailing-whitespace-aware writers ------------------------------
    def trimTrailingSpaces(): Unit = {
      var k = out.length
      while (k > 0 && (out.charAt(k - 1) == ' ' || out.charAt(k - 1) == '\t'))
        k -= 1
      out.setLength(k)
    }
    def newlinesAtEnd(): Int = {
      var k = out.length
      var c = 0
      while (k > 0 && c < 2) {
        val ch = out.charAt(k - 1)
        if (ch == '\n') { c += 1; k -= 1 }
        else if (ch == ' ' || ch == '\t') k -= 1
        else return c
      }
      c
    }
    def paraBreak(): Unit = {
      pendingSpace = false
      if (out.length == 0) return
      trimTrailingSpaces()
      val have = newlinesAtEnd()
      var add = 2 - have
      while (add > 0) { out.append('\n'); add -= 1 }
    }
    def lineBreak(): Unit = {
      pendingSpace = false
      if (out.length == 0) return
      trimTrailingSpaces()
      if (newlinesAtEnd() == 0) out.append('\n')
    }
    def flushSpace(): Unit = {
      if (pendingSpace && out.length > 0) {
        val last = out.charAt(out.length - 1)
        if (last != '\n' && last != ' ') out.append(' ')
      }
      pendingSpace = false
    }
    def emit(text: String): Unit = {
      if (text.isEmpty) return
      flushSpace()
      out.append(text)
    }

    // tag helpers -----------------------------------------------------
    def tagEnd(lt: Int): Int = {
      var j = lt + 1
      while (j < n && s.charAt(j) != '>') {
        val c = s.charAt(j)
        if (c == '"' || c == '\'') {
          j += 1
          while (j < n && s.charAt(j) != c) j += 1
        }
        j += 1
      }
      math.min(n, j + 1)
    }
    /** First value of attribute `name` inside tag text [from, to):
      * quoted or unquoted, "" when absent. */
    def attrValue(from: Int, to: Int, name: String): String = {
      var i = from
      val m = name.length
      while (i + m < to) {
        if (s.regionMatches(true, i, name, 0, m) &&
            (i == from || !Character.isLetterOrDigit(s.charAt(i - 1)))) {
          var j = i + m
          while (j < to && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
          if (j < to && s.charAt(j) == '=') {
            j += 1
            while (j < to && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
            if (j < to && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
              val q = s.charAt(j); j += 1
              val st = j
              while (j < to && s.charAt(j) != q) j += 1
              return s.substring(st, j)
            } else {
              val st = j
              while (j < to && s.charAt(j) != ' ' && s.charAt(j) != '\t' &&
                s.charAt(j) != '>') j += 1
              return s.substring(st, j)
            }
          }
        }
        i += 1
      }
      ""
    }
    def indexOfIgnoreCase(needle: String, from: Int): Int = {
      val m = needle.length
      var i = math.max(0, from)
      while (i + m <= n) {
        if (s.regionMatches(true, i, needle, 0, m)) return i
        i += 1
      }
      -1
    }

    // main scan -------------------------------------------------------
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 1 < n &&
          (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
        if (s.regionMatches(i + 1, "!--", 0, 3)) {
          val close = s.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else i = tagEnd(i)
      } else if (c == '<' && i + 1 < n &&
          (Character.isLetter(s.charAt(i + 1)) || s.charAt(i + 1) == '/')) {
        val closing = s.charAt(i + 1) == '/'
        var j = i + (if (closing) 2 else 1)
        val nameStart = j
        while (j < n && Character.isLetterOrDigit(s.charAt(j))) j += 1
        val name = s.substring(nameStart, j).toLowerCase
        val tagStart = j
        i = tagEnd(i)
        val tagInnerEnd = i - 1
        if (!closing && (name == "script" || name == "style")) {
          val k = indexOfIgnoreCase(s"</$name", i)
          i = if (k < 0) n else tagEnd(k)
        } else if (!closing && name == "pre") {
          // fenced block with RAW content up to the matching close
          val k = indexOfIgnoreCase("</pre", i)
          val end = if (k < 0) n else k
          paraBreak()
          out.append("```\n")
          var raw = s.substring(i, end)
          // inner <code> wrappers are fencing noise, not content
          raw = raw.replaceAll("(?i)</?code[^>]*>", "")
          out.append(raw.replace("\r\n", "\n").stripPrefix("\n").reverse
            .dropWhile(ch => ch == ' ' || ch == '\t' || ch == '\n').reverse)
          out.append("\n```")
          paraBreak()
          i = if (k < 0) n else tagEnd(k)
        } else if (name.length == 2 && name.charAt(0) == 'h' &&
            name.charAt(1) >= '1' && name.charAt(1) <= '6') {
          if (closing) paraBreak()
          else {
            paraBreak()
            val level = name.charAt(1) - '0'
            var k = 0
            while (k < level) { out.append('#'); k += 1 }
            out.append(' ')
          }
        } else if (name == "li") {
          if (!closing) { lineBreak(); out.append("- ") } else lineBreak()
        } else if (name == "br" || name == "hr") {
          lineBreak()
          if (name == "hr") { out.append("---"); lineBreak() }
        } else if (name == "b" || name == "strong") {
          // a marker is inline content: it must not glue to the
          // previous word on open, and closes flush against the text
          if (!closing) { flushSpace(); out.append("**") }
          else trimTrailingInline(out).append("**")
        } else if (name == "i" || name == "em") {
          if (!closing) { flushSpace(); out.append("*") }
          else trimTrailingInline(out).append("*")
        } else if (name == "code") {
          if (!closing) { flushSpace(); out.append("`") }
          else trimTrailingInline(out).append("`")
        } else if (name == "a") {
          if (!closing) {
            currentHref = attrValue(tagStart, tagInnerEnd, "href")
            flushSpace()
            out.append('[')
          } else {
            trimTrailingInline(out)
            out.append("](").append(currentHref).append(')')
            currentHref = ""
          }
        } else if (name == "img") {
          val alt = attrValue(tagStart, tagInnerEnd, "alt")
          val src = attrValue(tagStart, tagInnerEnd, "src")
          if (src.nonEmpty) {
            flushSpace()
            out.append("![").append(alt).append("](").append(src).append(')')
          }
        } else if (ParaTags.contains(name)) {
          paraBreak()
        } else {
          // unknown/inline tag: a word boundary
          pendingSpace = true
        }
      } else if (c == '<') {
        emit("<")
        i += 1
      } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n' ||
          c == '' || c == '\f') {
        pendingSpace = true
        i += 1
      } else {
        // one text run up to the next whitespace or '<'
        var j = i
        while (j < n && { val ch = s.charAt(j)
          ch != '<' && ch != ' ' && ch != '\t' && ch != '\r' &&
            ch != '\n' && ch != '' && ch != '\f' }) j += 1
        emit(s.substring(i, j))
        i = j
      }
    }
    // final tidy: strip edges
    var a = 0; var b = out.length
    while (a < b && out.charAt(a) <= ' ') a += 1
    while (b > a && out.charAt(b - 1) <= ' ') b -= 1
    UTF8String.fromString(out.substring(a, b))
  }

  /** Inline close markers bind to the preceding word: drop the gap
    * between text and `**`/`*`/`` ` ``/`](`. */
  private def trimTrailingInline(
      out: java.lang.StringBuilder): java.lang.StringBuilder = {
    var k = out.length
    while (k > 0 && (out.charAt(k - 1) == ' ' || out.charAt(k - 1) == '\t'))
      k -= 1
    out.setLength(k)
    out
  }
}

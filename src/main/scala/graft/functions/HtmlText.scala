package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Markup-to-text extraction as a native codegen expression — the FIRST
  * stage of any web-corpus pipeline (raw crawl HTML → line-structured
  * text that the quality/dedup/tokenize stages consume). One linear
  * scan per document, no regex engine, no allocation beyond the output
  * builder:
  *
  *  - `<script>`/`<style>` elements are dropped WITH their content
  *    (code/CSS must never leak into training text);
  *  - `<!-- comments -->` are dropped;
  *  - block-level tags (p, div, h1–h6, li, br, tr, td, ul, ol, table,
  *    section, article, header, footer, blockquote, pre) become line
  *    breaks — the line structure downstream boilerplate filtering
  *    needs; inline tags vanish;
  *  - anchor CONTENT is preserved but delimited by the sentinels
  *    U+0011/U+0012 so a later (built-in, codegen'd) stage can compute
  *    per-line LINK DENSITY — the classic nav/footer boilerplate signal
  *    — and then strip the sentinels;
  *  - the core entities (&amp; &lt; &gt; &quot; &apos; &#39; &nbsp;)
  *    decode inline; unknown entities pass through literally;
  *  - whitespace normalizes in the same pass: runs of spaces/tabs/CR
  *    collapse to one space, spaces around line breaks drop, runs of
  *    line breaks collapse, no leading/trailing separators.
  *
  * Unterminated constructs degrade deterministically, never throw: an
  * unclosed tag or comment drops the rest of the input (it is all
  * inside the tag); an unclosed script/style likewise; a bare `&` with
  * no entity match is literal text.
  *
  * The q135 oracle replays this scan as a regexp_replace chain over the
  * same constructed corpus (whose alphabet is controlled, so the chain
  * and the parser provably agree); the general-case behaviors above are
  * pinned by HtmlTextSpec fixtures instead. */
case class HtmlText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "html_text"

  override protected def nullSafeEval(input: Any): Any =
    HtmlText.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlText.extract($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlText =
    copy(child = newChild)
}

object HtmlText {

  /** Anchor-content sentinels for the link-density stage. */
  val LinkOpen: Char = '\u0011'
  val LinkClose: Char = '\u0012'

  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "br", "tr",
    "td", "ul", "ol", "table", "section", "article", "header", "footer",
    "blockquote", "pre")

  def extract(s: UTF8String): UTF8String =
    UTF8String.fromString(extract(s.toString))

  /** The scan. Kept private-free for direct spec access. */
  def extract(html: String): String = {
    val n = html.length
    val out = new java.lang.StringBuilder(n / 2)
    var pendingSpace = false
    var pendingBreak = false
    var i = 0

    def emit(c: Char): Unit = {
      if (out.length() > 0) {
        if (pendingBreak) out.append('\n')
        else if (pendingSpace) out.append(' ')
      }
      pendingSpace = false; pendingBreak = false
      out.append(c)
    }

    /** Index just past the next "</name ...>" close tag, or n. */
    def skipToClose(from: Int, name: String): Int = {
      var j = from
      val pat = "</" + name
      while (j < n) {
        if (html.charAt(j) == '<' && j + pat.length <= n &&
            html.regionMatches(true, j, pat, 0, pat.length)) {
          var k = j + pat.length
          while (k < n && html.charAt(k) != '>') k += 1
          return if (k < n) k + 1 else n
        }
        j += 1
      }
      n
    }

    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.regionMatches(false, i, "<!--", 0, 4)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else {
          // tag name: optional '/', then letters/digits
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && (html.charAt(j).isLetter || html.charAt(j).isDigit))
            j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // past the tag's '>' (quote-aware: '>' inside a quoted
          // attribute value does not terminate the tag)
          var quote: Char = 0
          var k = j
          var end = -1
          while (end < 0 && k < n) {
            val ck = html.charAt(k)
            if (quote != 0) { if (ck == quote) quote = 0 }
            else if (ck == '"' || ck == '\'') quote = ck
            else if (ck == '>') end = k
            k += 1
          }
          val tagEnd = if (end < 0) n else end + 1
          val selfClosed = end > i && html.charAt(end - 1) == '/'
          if (!closing && !selfClosed && (name == "script" || name == "style"))
            i = skipToClose(tagEnd, name)
          else {
            if (BlockTags.contains(name)) pendingBreak = true
            // a self-closed anchor (<a/>) is an EMPTY link: emitting a
            // LinkOpen sentinel with no matching close would leave it
            // unpaired downstream (and diverge from the oracle's regex
            // chain, which strips the tag without a sentinel) — skip it
            else if (name == "a" && !selfClosed)
              emit(if (closing) LinkClose else LinkOpen)
            i = tagEnd
          }
        }
      } else if (c == '&') {
        // bounded lookahead: the longest accepted entity name is 4 chars
        // (+';'), so scan at most 8 — an unbounded indexOf would make
        // '&'-dense text with no later ';' quadratic (review finding)
        var semi = -1
        var k = i + 1
        val kMax = math.min(n - 1, i + 8)
        while (semi < 0 && k <= kMax) {
          if (html.charAt(k) == ';') semi = k
          k += 1
        }
        val ent = if (semi > i) html.substring(i + 1, semi) else null
        val dec = ent match {
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" | "#39" => "'"
          case "nbsp" => " "
          case _ => null
        }
        if (dec == null) { emit('&'); i += 1 }
        else {
          if (dec == " ") pendingSpace = true else emit(dec.charAt(0))
          i = semi + 1
        }
      } else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') {
        pendingSpace = true
        i += 1
      } else {
        emit(c)
        i += 1
      }
    }
    out.toString
  }

  def apply(c: Column): Column =
    org.apache.spark.sql.functions.call_function("html_text", c)
}

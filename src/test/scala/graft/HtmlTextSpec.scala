package graft

import graft.functions.HtmlText

/** General-case behavior of the html_text scan — the cases the q135
  * oracle's controlled corpus cannot exercise. */
class HtmlTextSpec extends SparkSuite {
  import spark.implicits._

  private def x(s: String): String = HtmlText.extract(s)
  private val LO = HtmlText.LinkOpen
  private val LC = HtmlText.LinkClose

  test("script and style drop WITH content, including '<' inside code") {
    assert(x("a<script>if(x<2){y=3;}</script>b") == "ab")
    assert(x("a<style>p>span{margin:0}</style>b") == "ab")
  }

  test("close-tag match is case-insensitive and attribute-tolerant") {
    assert(x("<script>zz</SCRIPT>y") == "y")
    assert(x("<script>zz</script  >y") == "y")
    assert(x("<P>a</P>b") == "a\nb")
  }

  test("block tags break lines; inline tags vanish; text joins") {
    assert(x("x<p>para</p>y<b>bold</b>z") == "x\npara\nyboldz")
    assert(x("a<br>b<br/>c") == "a\nb\nc")
  }

  test("anchors keep content between the link sentinels") {
    assert(x("""<a href="/x">Home</a>""") == s"${LO}Home$LC")
    // '<article>' must NOT be treated as an anchor (prefix trap)
    assert(x("<article>w</article>") == "w")
  }

  test("entities decode; unknown entities stay literal; &amp; never double-decodes") {
    assert(x("a &amp; b &lt;c&gt; &unknown; d") == "a & b <c> &unknown; d")
    assert(x("&quot;q&quot; &#39;s&apos;") == "\"q\" 's'")
    assert(x("&amp;lt;") == "&lt;") // decoded once, not twice
    assert(x("x&nbsp;y") == "x y")
  }

  test("whitespace collapses; separators never lead, trail, or stack") {
    assert(x("  a\t\tb  <p>  c  ") == "a b\nc")
    assert(x("<p></p><p></p>a") == "a")
    assert(x("a<p><div><p>b") == "a\nb")
  }

  test("quote-aware attributes: '>' inside a quoted value is not a tag end") {
    assert(x("""<img alt="x > y">w""") == "w")
    assert(x("<img alt='a > b'>v") == "v")
  }

  test("unterminated constructs drop the tail deterministically, never throw") {
    assert(x("a<p") == "a")
    assert(x("a<!-- never closed") == "a")
    assert(x("a<script>runaway code") == "a")
    assert(x("a&amp") == "a&amp") // no ';' within reach: literal
  }

  test("comments drop, including any tags inside them") {
    assert(x("a<!-- <p>hidden</p> -->b") == "ab")
  }

  test("self-closed script has no content to skip") {
    assert(x("<script/>x") == "x")
  }

  test("self-closed anchor emits NO unmatched link sentinel") {
    // <a/> is an empty link: a lone LinkOpen would never pair with a
    // close (and the q135 oracle's regex chain strips the tag with no
    // sentinel — a latent divergence on general input, review finding)
    assert(x("x<a/>y") == "xy")
    assert(x("""x<a href="/h"/>y""") == "xy")
    // a real anchor right after a self-closed one still pairs correctly
    assert(x("""<a/>pre <a href="/x">Home</a>""") == s"pre ${LO}Home$LC")
  }

  test("html_text is available on the SQL surface") {
    val r = spark.sql("SELECT html_text('<p>hello there</p>') AS t")
      .collect()(0).getString(0)
    assert(r == "hello there")
  }

  test("codegen and interpreted paths agree") {
    val df = Seq("a<p>b</p>c &amp; d", "<script>x</script>ok").toDF("h")
    val viaExpr = df.select(HtmlText($"h").as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(viaExpr == Seq("a\nb\nc & d", "ok"))
  }
}

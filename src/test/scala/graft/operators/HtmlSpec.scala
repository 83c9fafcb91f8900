package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** HTML extraction: planted boilerplate (nav/script/style/footer) never
  * reaches the output, entities decode with browser semantics, the
  * text-density heuristic drops link farms and keeps article text, and
  * the stage is a no-op on already-clean text.
  */
class HtmlSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def df(htmls: String*) = {
    import spark.implicits._
    htmls.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("id", "html")
  }

  private val article =
    "the quick brown fox jumps over the lazy dog again and again"

  test("planted nav/script/style/footer boilerplate never appears") {
    val html =
      "<html><head><style>p{color:red}</style>" +
        "<script>var SECRET_JS = 1;</script></head><body>" +
        "<nav><a href='/'>NAVLINK</a></nav>" +
        "<header>SITEHEADER</header>" +
        s"<p>$article</p>" +
        "<footer>COPYRIGHT-FOOTER</footer></body></html>"
    val out = Html.extract(df(html), "html").collect()(0)
    val text = out.getAs[String]("html_text")
    text shouldBe article
    Seq("SECRET_JS", "NAVLINK", "SITEHEADER", "COPYRIGHT-FOOTER",
      "color:red").foreach(b => text should not include b)
    out.getAs[Long]("n_kept") shouldBe 1L
  }

  test("entities decode with &amp; last (browser semantics)") {
    val html = s"<p>$article</p>" +
      "<p>fish &amp; chips cost &lt;5&gt; &quot;euros&quot; " +
      "&#39;today&#39;&nbsp;here and the literal is &amp;lt; ok then</p>"
    val text = Html.extract(df(html), "html")
      .collect()(0).getAs[String]("html_text")
    text should include("fish & chips cost <5> \"euros\" 'today' here")
    // &amp;lt; is the TEXT "&lt;", never double-decoded to "<"
    text should include("the literal is &lt; ok")
  }

  test("link-dense blocks drop even when long; text blocks survive") {
    val farm = "<div>" + (1 to 8).map(i =>
      s"<a href='/$i'>related article number $i</a>").mkString(" ") + "</div>"
    val html = s"<p>$article</p>$farm<p>$article end</p>"
    val out = Html.extract(df(html), "html").collect()(0)
    out.getAs[String]("html_text") shouldBe s"$article\n$article end"
    out.getAs[Long]("n_kept") shouldBe 2L
    out.getAs[Long]("n_blocks") shouldBe 3L
  }

  test("short fragments (head junk, stray labels) drop; empty page keeps " +
      "the row with empty text") {
    val out = Html.extract(
      df("<html><head><title>t</title></head><body><p>hi</p></body></html>",
        ""), "html").orderBy(col("id")).collect()
    out(0).getAs[String]("html_text") shouldBe ""
    out(0).getAs[Long]("n_kept") shouldBe 0L
    out(1).getAs[String]("html_text") shouldBe ""
    out.length shouldBe 2
  }

  test("removeNonContent then stripTags flattens a whole page in one " +
      "shot; plain text is identity") {
    def strip(html: String) =
      df(html).select(Html.stripTags(Html.removeNonContent(col("html"))))
        .collect()(0).getString(0)
    strip("<body><nav>chrome</nav><p>alpha</p><p>beta</p></body>") shouldBe
      "alpha beta"
    strip(article) shouldBe article
  }

  test("inline tags stay in their block; attributes with > inside quotes " +
      "are a documented regex limit") {
    val html = s"<p>keep <b>bold</b> and <a href='/x'>linked</a> $article</p>"
    val out = Html.extract(df(html), "html").collect()(0)
    out.getAs[String]("html_text") shouldBe s"keep bold and linked $article"
  }

  test("container removal is case-insensitive and spans newlines") {
    val html = s"<NAV>\nBIGNAV\n</NAV><p>$article</p>" +
      "<SCRIPT>\nvar x;\n</SCRIPT>"
    val text = Html.extract(df(html), "html")
      .collect()(0).getAs[String]("html_text")
    text shouldBe article
  }
}

package graft

import graft.queries.MultimodalQueries

/** The HTML extraction chain ([[MultimodalQueries.htmlExtractText]]) over
  * hand-written pages — NOT the registered entry's derived markup — so
  * the operator's behavior is pinned independently of the fixture seam:
  * head/nav/footer blocks vanish wholesale (scripts included), remaining
  * tags strip to spaces, `&amp;` decodes, whitespace collapses, and
  * attribute-laden or self-closing tags don't confuse the stripper.
  */
class HtmlExtractSpec extends SparkSuite {

  private def extract(html: String): String = {
    import spark.implicits._
    MultimodalQueries.htmlExtractText(Seq((1L, html)).toDF("doc_id", "html"))
      .select("extracted").head().getString(0)
  }

  test("a full page reduces to its article text") {
    val html = "<html><head><title>T</title><script>var x = '<'+1;</script></head>" +
      "<body><nav><a href=\"/\">home</a></nav>" +
      "<article><p>hello <b>bold</b> world</p></article>" +
      "<footer>&copy; footer junk</footer></body></html>"
    assert(extract(html) == "hello bold world")
  }

  test("script content inside head never leaks into the text") {
    assert(!extract("<head><script>SECRET();</script></head><p>ok</p>").contains("SECRET"))
  }

  test("entities decode and whitespace collapses") {
    assert(extract("<p>salt   &amp;   pepper</p>") == "salt & pepper")
  }

  test("attribute-laden and self-closing tags strip cleanly") {
    val html = "<div class=\"a b\" data-x=\"1\">left<br/>right</div><img src=\"i.png\"/>"
    assert(extract(html) == "left right")
  }

  test("plain text without markup passes through trimmed") {
    assert(extract("  just words  ") == "just words")
  }
}

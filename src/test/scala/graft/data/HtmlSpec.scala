package graft.data

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * HTML extraction ([[Html]]): text extraction on hand-built tag soup,
 * entity decoding order, script/style/comment islands, link density,
 * and the jusText-style content gate — plus the malformed-input
 * graceful-degradation contract.
 */
class HtmlSpec extends SparkSpec {
  import spark.implicits._

  private def text(html: String): String =
    Seq(html).toDF("h").select(Html.htmlToText(col("h"))).as[String].head()

  test("htmlToText: blocks to newlines, inline tags dropped, entities decoded") {
    val html = "<html><head><title>Site</title></head><body>" +
      "<h1>The &quot;Main&quot; Title</h1>" +
      "<p>First <b>bold</b> paragraph with a <a href=\"/x\">link</a>.</p>" +
      "<p>5 &lt; 7 &amp;&amp; 9 &gt; 2</p>" +
      "</body></html>"
    assert(text(html) ===
      "Site\nThe \"Main\" Title\nFirst bold paragraph with a link.\n5 < 7 && 9 > 2")
  }

  test("script/style/comment islands never leak into text") {
    val html = "<p>before</p><script type=\"text/javascript\">var x = \"<p>fake</p>\";" +
      "</script><style>.a { color: red; }</style><!-- hidden <p>note</p> --><p>after</p>"
    assert(text(html) === "before\nafter")
  }

  test("&amp; decodes LAST: &amp;lt; stays literal '&lt;'") {
    assert(text("<p>&amp;lt;</p>") === "&lt;")
    assert(text("<p>&#39;quoted&#39; &nbsp; ok</p>") === "'quoted' ok")
  }

  test("whitespace normalization: runs collapse, lines trim, blanks drop") {
    val html = "<p>  spaced \t out  </p>\n\n<div>   </div><p>next</p>"
    assert(text(html) === "spaced out\nnext")
  }

  test("malformed input degrades, never errors") {
    // unclosed tags, bare <, stray entities, empty string
    assert(text("<p>unclosed <b>bold") === "unclosed bold")
    assert(text("plain text, no markup") === "plain text, no markup")
    assert(text("") === "")
    assert(text("<p>a < b</p>").nonEmpty) // bare '<' swallows to next '>'
  }

  test("anchorChars counts only anchor text, tags and entities handled") {
    val df = Seq("<p>intro <a href='/'>Home&nbsp;page</a> outro " +
      "<a id=2><b>two</b></a></p>").toDF("h")
    val got = df.select(Html.anchorChars(col("h"))).as[Long].head()
    assert(got === ("Home page".length + "two".length).toLong)
  }

  test("blocksWithDensity + extractContent drop link-dense chrome") {
    val page =
      "<nav><a href='/'>Home</a> <a href='/about'>About</a> <a href='/contact'>Contact</a></nav>" +
        "<h1>Understanding distributed joins</h1>" +
        "<p>A genuinely long paragraph about the mechanics of distributed " +
        "equi joins, shuffles, and the planning choices behind them, with " +
        "one inline <a href='/ref'>reference</a> among many words.</p>" +
        "<p>short</p>" +
        "<footer><a href='/tos'>Terms</a> <a href='/priv'>Privacy</a></footer>"
    val docs = Seq((1L, page)).toDF("doc_id", "html")
    val blocks = Html.blocksWithDensity(docs, "doc_id", "html")
      .select(col("block_text"), col("n_chars"), col("link_ppm"))
      .as[(String, Long, Long)].collect()
    // nav block: all text inside anchors -> ppm well above the gate
    val nav = blocks.find(_._1.startsWith("Home")).get
    assert(nav._3 > 800000L, nav.toString)
    val para = blocks.find(_._1.startsWith("A genuinely")).get
    assert(para._3 < 300000L, para.toString)
    val got = Html.extractContent(docs, "doc_id", "html")
      .select(col("text"), col("n_blocks_kept"), col("n_blocks_dropped"))
      .as[(String, Long, Long)].head()
    assert(got._1.startsWith("Understanding distributed joins\nA genuinely"))
    assert(!got._1.contains("Home") && !got._1.contains("Terms") &&
      !got._1.contains("short"))
    // five non-empty blocks: nav, h1, long para, "short", footer —
    // kept: h1 + para; dropped: nav (link-dense), "short" (length),
    // footer (link-dense)
    assert(got._2 === 2L && got._3 === 3L, got.toString)
  }

  test("extractContent keeps block order through the reassembly") {
    val page = (1 to 8).map(i =>
      s"<p>block number $i with enough characters to pass the gate</p>")
      .mkString
    val got = Html.extractContent(Seq((1L, page)).toDF("doc_id", "html"),
        "doc_id", "html")
      .select(col("text")).as[String].head()
    assert(got.split("\n").toSeq ===
      (1 to 8).map(i => s"block number $i with enough characters to pass the gate"))
  }

  test("extractLinks: both quote styles, order kept, anchors normalized") {
    val page = "<p>pre <a href='/a'>First  link</a> mid " +
      "<a href=\"https://EX.org/p\">Ref &lt;b&gt; <b>bold</b></a> " +
      "<script><a href='/ghost'>never</a></script>" +
      "<a href='mailto:x@y.z'>Mail &amp; more</a></p>"
    val got = Html.extractLinks(Seq((7L, page)).toDF("doc_id", "html"),
        "doc_id", "html")
      .orderBy(col("link_idx"))
      .select(col("link_idx"), col("href"), col("anchor"))
      .as[(Long, String, String)].collect().toSeq
    // the script-island link never appears; inner tags stripped,
    // entities decoded, whitespace collapsed
    assert(got === Seq(
      (0L, "/a", "First link"),
      (1L, "https://EX.org/p", "Ref <b> bold"),
      (2L, "mailto:x@y.z", "Mail & more")))
  }

  test("linkHost: absolute, protocol-relative, relative, non-crawl schemes") {
    val cases = Seq(
      ("https://A.Example.org/p?q=1", "base.org", "a.example.org"),
      ("http://user:pw@h.net/x", "base.org", "h.net"),
      ("//cdn.ex.net/lib.js", "base.org", "cdn.ex.net"),
      ("/local/path", "Base.ORG", "base.org"),
      ("page.html", "base.org", "base.org"),
      ("", "base.org", "base.org"),
      ("mailto:a@b.c", "base.org", null),
      ("javascript:void(0)", "base.org", null),
      ("ftp://files.ex.org/f", "base.org", null))
    val got = cases.toDF("href", "base", "want")
      .select(Html.linkHost(col("href"), col("base")), col("want"))
      .as[(Option[String], Option[String])].collect()
    got.foreach { case (h, w) => assert(h === w, s"got $h want $w") }
  }

  test("linkGraph: weighted host edges, self-loops kept, no doc join") {
    val docs = Seq(
      (1L, "a.org", "<p><a href='https://b.org/x'>B</a> " +
        "<a href='https://b.org/y'>B2</a> <a href='/self'>me</a></p>"),
      (2L, "A.ORG", "<p><a href='//b.org/z'>B3</a> " +
        "<a href='mailto:x@y'>drop</a></p>"),
      (3L, "b.org", "<p><a href='https://a.org/'>A</a></p>"))
      .toDF("doc_id", "host", "html")
    val got = Html.linkGraph(docs, "doc_id", "html", "host")
      .orderBy(col("src_host"), col("dst_host"))
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(
      ("a.org", "a.org", 1L),    // relative self-loop kept
      ("a.org", "b.org", 3L),    // 2 absolute + 1 protocol-relative
      ("b.org", "a.org", 1L)))
    // plan shape: extraction is map-only — exactly one exchange (the
    // edge aggregation), and no join anywhere
    val plan = Html.linkGraph(docs, "doc_id", "html", "host")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("extractContent keeps zero-block docs as (id, '', 0, 0) — inline parity") {
    // empty page, all-chrome page (script only), and a normal page: the
    // grouped spelling must emit a row for ALL of them, exactly like the
    // inline twin — a silently vanished doc breaks batch/stream parity
    val docs = Seq(
      (1L, ""),
      (2L, "<script>var x = 1;</script>"),
      (3L, "<p>a long enough paragraph of perfectly ordinary words to keep</p>")
    ).toDF("doc_id", "html")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"text", $"n_blocks_kept", $"n_blocks_dropped")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val grouped = canon(Html.extractContent(docs, "doc_id", "html"))
    val inline = canon(Html.extractContentInline(docs, "doc_id", "html"))
    assert(grouped.map(_._1) == Seq(1L, 2L, 3L), "no doc vanishes")
    assert(grouped == inline)
    assert(grouped(0) == ((1L, "", 0L, 0L)))
    assert(grouped(1) == ((2L, "", 0L, 0L)))
  }

  test("streaming HTML extraction: the inline extractor is batch-equal on a stream") {
    implicit val sqlCtx = spark.sqlContext
    val pages = Seq(
      (1L, "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>" +
        "<p>a long enough paragraph about streaming extraction with " +
        "plenty of words</p><footer><a href='/t'>Terms</a></footer>"),
      (2L, "<h1>short</h1><p>another sufficiently long block of ordinary " +
        "prose for the gate</p>"))
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = Html.extractContentInline(
        input.toDF().toDF("doc_id", "html"), "doc_id", "html")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        results ++= b.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
        ()
      }.start()
    input.addData(pages: _*)
    q.processAllAvailable()
    q.stop()
    val batch = Html.extractContentInline(pages.toDF("doc_id", "html"),
        "doc_id", "html")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(results.sortBy(_._1).toSeq === batch.sortBy(_._1))
    // and the inline spelling equals the exploded+grouped batch one
    val grouped = Html.extractContent(pages.toDF("doc_id", "html"),
        "doc_id", "html")
      .select(col("doc_id"), col("text"), col("n_blocks_kept"),
        col("n_blocks_dropped"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(batch.sortBy(_._1) === grouped.sortBy(_._1))
  }
}

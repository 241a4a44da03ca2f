package graft

import graft.operators.{BulkIngest, WebCorpus}
import graft.sources.html.HtmlParser
import graft.sources.warc.WarcReader
import org.apache.spark.sql.functions._

/** Laws for the web-ingestion surface added in round 12: the lenient HTML
  * reader (tokenizer quirks, block segmentation, the jusText-lite gate,
  * table extraction), the ISO 28500 WARC record reader, the `.html`/
  * `.htm` AnyFile routes, and BulkIngest parity for both formats. */
class HtmlWarcSpec extends SparkSpec {

  test("tokenizer: entities, comments, raw-text script/style, quoted '>', stray '<'") {
    // entities decode; comments vanish; script/style bodies (with tags
    // inside!) vanish; a '>' inside a quoted attribute does not close the
    // tag; a stray '<' is literal text
    val html =
      """<html><head><title>skip me</title>
        |<script>if (a < b) { x = "<p>fake</p>"; }</script>
        |<style>p > a { color: red }</style></head><body>
        |<!-- <p>commented out</p> -->
        |<p data-x="a > b">one &amp; two &lt;three&gt; &#65;&#x42; 4 < 5</p>
        |</body></html>""".stripMargin
    val bs = HtmlParser.blocks(html)
    assert(bs.length == 1, s"blocks: $bs")
    assert(bs.head.text == "one & two <three> AB 4 < 5", bs.head.text)
    assert(bs.head.words == 8 && bs.head.linkWords == 0)
  }

  test("block segmentation + gate: planted boilerplate classifies exactly") {
    val toks = (1 to 47).map(i => s"w$i")
    val html = WebCorpus.page(7L, toks)
    val bs = HtmlParser.blocks(html)
    // nav + p(20) + side + p(20) + p(7) + footer
    assert(bs.length == 6, bs.map(b => (b.words, b.linkWords)))
    val (boiler, main) = bs.partition(HtmlParser.isBoiler(_))
    assert(boiler.map(b => (b.words, b.linkWords)).toSet ==
      Set((4, 4), (5, 3), (4, 3)), boiler)
    assert(main.map(_.words) == Vector(20, 20, 7))
    assert(HtmlParser.mainText(html) == toks.mkString(" "))
    // a 3-token tail paragraph fails the min-words gate
    val short = WebCorpus.page(8L, (1 to 23).map(i => s"v$i"))
    assert(HtmlParser.mainText(short) == (1 to 20).map(i => s"v$i").mkString(" "))
  }

  test("textarea is form input, not content: body dropped even when it holds markup") {
    val html = "<p>real words here live on</p>" +
      "<textarea><p>typed draft</p> not content</textarea><p>more real words follow here</p>"
    val bs = HtmlParser.blocks(html)
    assert(bs.map(_.text) == Vector("real words here live on", "more real words follow here"), bs)
  }

  test("meta-charset prescan: declared cp1251 body decodes, attribute spellings covered") {
    val dir = tmpDir("charset")
    // Cyrillic "да" in windows-1251 is 0xE4 0xE0 — invalid as UTF-8
    val body = ("<html><head><meta charset=\"windows-1251\"></head><body>" +
      "<p>answer was XX plus five more words</p></body></html>")
      .getBytes("US-ASCII")
    val i = new String(body, "US-ASCII").indexOf("XX")
    body(i) = 0xE4.toByte; body(i + 1) = 0xE0.toByte
    val p = dir.resolve("cyr.html")
    java.nio.file.Files.write(p, body)
    val ans = AnyFile.parse(spark, p.toString)
    assert(ans.head.encoding == "windows-1251")
    val text = ans.head.data.collect().map(_.getString(0)).mkString(" ")
    assert(text.contains("да"), text) // да decoded correctly
    // legacy http-equiv spelling reaches the same prescan
    assert(graft.sources.html.HtmlParser.metaCharset(
      ("<meta http-equiv=\"Content-Type\" " +
        "content=\"text/html; charset=koi8-r\">").getBytes("US-ASCII"))
      .contains("koi8-r"))
    assert(graft.sources.html.HtmlParser.metaCharset(
      "<html><body>no declaration</body></html>".getBytes("US-ASCII")).isEmpty)
  }

  test("tables: ragged rows, th cells, implicit closes, unclosed at EOF") {
    val html =
      """<table><tr><th>h1</th><th>h2</th><th>h3</th>
        |<tr><td>a<td>b &amp; c
        |<tr><td>only</table>
        |<p>between</p>
        |<table><tr><td>open""".stripMargin
    val ts = HtmlParser.tables(html)
    assert(ts.length == 2, ts)
    assert(ts(0) == Vector(
      Vector("h1", "h2", "h3"), Vector("a", "b & c"), Vector("only")))
    assert(ts(1) == Vector(Vector("open")))
  }

  test("AnyFile: .html tables road, .htm main-content road, empty → Failed") {
    val dir = tmpDir("html")
    val tablePath = writeFile(dir, "t.html",
      "<html><body><table><tr><td>x</td><td>y</td></tr>" +
        "<tr><td>z</td></tr></table></body></html>")
    val tAns = AnyFile.parse(spark, tablePath)
    assert(tAns.length == 1 && tAns.head.sheetName == "table0")
    assert(tAns.head.engine == "ImportHTML" && !tAns.head.isFailed)
    val cells = tAns.head.data.collect().map(_.toSeq)
    assert(cells.toSeq == Seq(Seq("x", "y"), Seq("z", null))) // ragged pad
    assert(tAns.head.data.columns.toSeq == Seq("0", "1")) // positional cols

    val mainPath = writeFile(dir, "m.htm", WebCorpus.page(3L, (1 to 25).map(i => s"m$i")))
    val mAns = AnyFile.parse(spark, mainPath)
    assert(mAns.length == 1 && mAns.head.sheetName == "HTML main content")
    val lines = mAns.head.data.collect().map(_.getString(0)).toSeq
    assert(lines == Seq((1 to 20).map(i => s"m$i").mkString(" "),
      (21 to 25).map(i => s"m$i").mkString(" ")))

    val emptyPath = writeFile(dir, "e.html",
      "<html><body><nav><a href='/'>x</a></nav></body></html>")
    assert(AnyFile.parse(spark, emptyPath).head.isFailed)
    assert(AnyFile.parse(spark, dir.resolve("missing.html").toString)
      .head.isFailed)
  }

  test("WarcReader: framing, case-insensitive headers, binary payload, truncation") {
    val r1 = WebCorpus.warcRecord(5L, "<p>hello page</p>")
    // a record with a BINARY payload (every byte value) between two text ones
    val bin = Array.tabulate[Byte](256)(_.toByte)
    val hdr = ("WARC/1.0\r\nWarc-Type: resource\r\n" +
      "CONTENT-LENGTH: 256\r\nWARC-Target-URI: http://x/bin\r\n\r\n")
      .getBytes("US-ASCII")
    val r2 = hdr ++ bin ++ "\r\n\r\n".getBytes("US-ASCII")
    val r3 = WebCorpus.warcRecord(6L, "<p>bye</p>")
    val recs = WarcReader.records(r1 ++ r2 ++ r3)
    assert(recs.length == 3)
    assert(recs(0).header("WARC-Target-URI").contains("http://corpus.local/doc/5"))
    assert(new String(recs(0).payload, "UTF-8") == "<p>hello page</p>")
    assert(recs(1).header("warc-type").contains("resource")) // mixed-case headers
    assert(java.util.Arrays.equals(recs(1).payload, bin))
    assert(new String(recs(2).payload, "UTF-8") == "<p>bye</p>")
    // truncated final record: already-framed records survive, no throw
    val cut = (r1 ++ r3).dropRight(12)
    val lenient = WarcReader.records(cut)
    assert(lenient.length == 1 &&
      new String(lenient.head.payload, "UTF-8") == "<p>hello page</p>")
    assert(WarcReader.records("not a warc".getBytes("UTF-8")).isEmpty)
  }

  test("BulkIngest: .html parity with AnyFile; .warc record accounting") {
    val dir = tmpDir("bulkweb")
    writeFile(dir, "t.html",
      "<table><tr><td>p</td><td>q</td></tr></table>")
    writeFile(dir, "m.htm", WebCorpus.page(9L, (1 to 30).map(i => s"b$i")))
    val warcBytes = WebCorpus.warcRecord(1L, "<p>one fine page here</p>") ++
      WebCorpus.warcRecord(2L, "<p>two</p>")
    java.nio.file.Files.write(dir.resolve("crawl.warc"), warcBytes)

    val rows = BulkIngest.parseTree(spark, dir.toString).collect()
      .map(r => (java.nio.file.Paths.get(r.getString(0)).getFileName.toString,
        r.getString(1), r.getString(2), r.getString(4), r.getLong(5),
        r.getSeq[String](6)))

    val t = rows.filter(_._1 == "t.html")
    assert(t.length == 1 && t.head._2 == "ImportHTML" &&
      t.head._3 == "table0" && t.head._6 == Seq("p", "q"))
    val m = rows.filter(_._1 == "m.htm").sortBy(_._5)
    assert(m.length == 2 && m.forall(_._3 == "HTML main content"))
    assert(m.map(_._6.head).toSeq == Seq(
      (1 to 20).map(i => s"b$i").mkString(" "),
      (21 to 30).map(i => s"b$i").mkString(" ")))
    // bulk cells ≡ driver-side AnyFile cells for both html roads
    for (f <- Seq("t.html", "m.htm")) {
      val bulk = rows.filter(_._1 == f).sortBy(_._5).map(_._6.toSeq).toSeq
      val drv = AnyFile.parse(spark, dir.resolve(f).toString)
        .flatMap(_.data.collect().toSeq)
        .map(_.toSeq.map(v => if (v == null) null else v.toString))
      assert(bulk == drv, f)
    }
    val w = rows.filter(_._1 == "crawl.warc").sortBy(_._5)
    assert(w.length == 2 && w.forall(r => r._2 == "ImportWARC" && r._4 == "OK"))
    assert(w(0)._6 == Seq("http://corpus.local/doc/1", "response", "25"))
    assert(w(1)._6 == Seq("http://corpus.local/doc/2", "response", "10"))
  }

  test(".warc.gz: per-record gzip members (the CommonCrawl layout) inflate to the same records") {
    def member(bytes: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(bytes); gz.close()
      bo.toByteArray
    }
    val plain = WebCorpus.warcRecord(1L, "<p>one fine page here</p>") ++
      WebCorpus.warcRecord(2L, "<p>two</p>")
    // one member per record, concatenated — ISO 28500 annex layout
    val gzBytes = member(WebCorpus.warcRecord(1L, "<p>one fine page here</p>")) ++
      member(WebCorpus.warcRecord(2L, "<p>two</p>"))
    assert(java.util.Arrays.equals(WarcReader.gunzipIfNeeded(gzBytes), plain))
    assert(WarcReader.gunzipIfNeeded(plain) eq plain) // non-gzip passes through

    val dir = tmpDir("warcgz")
    java.nio.file.Files.write(dir.resolve("crawl.warc.gz"), gzBytes)
    val rows = BulkIngest.parseTree(spark, dir.toString).collect()
      .map(r => (r.getString(1), r.getString(4), r.getLong(5), r.getSeq[String](6)))
      .sortBy(_._3)
    assert(rows.length == 2 && rows.forall(r => r._1 == "ImportWARC" && r._2 == "OK"))
    assert(rows(0)._4 == Seq("http://corpus.local/doc/1", "response", "25"))
    assert(rows(1)._4 == Seq("http://corpus.local/doc/2", "response", "10"))
  }
}

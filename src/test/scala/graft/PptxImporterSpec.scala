package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.Row

/** Hand-built minimal PresentationML containers (ECMA-376), the
  * DocxImporterSpec discipline. */
class PptxImporterSpec extends SparkSpec {

  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"

  private def writePptx(path: String, slides: (String, String)*): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    slides.foreach { case (name, xml) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(xml.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
  }

  private def sp(text: String): String =
    s"""<p:sp><p:txBody><a:p><a:r><a:t>$text</a:t></a:r></a:p></p:txBody></p:sp>"""

  private def slide(body: String): String =
    s"""<p:sld xmlns:a="$A" xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">
       |<p:cSld><p:spTree>$body</p:spTree></p:cSld></p:sld>""".stripMargin

  test("text slides: one answer per slide, numeric part order, one row per paragraph") {
    val dir = tmpDir("pptx")
    val path = dir.resolve("deck.pptx").toString
    writePptx(path,
      // out-of-order entry names: slide10 written before slide2 — the
      // reader must sort numerically (slide2 < slide10)
      "ppt/slides/slide10.xml" -> slide(sp("ten")),
      "ppt/slides/slide1.xml" -> slide(sp("Title line") + sp("Body line")),
      "ppt/slides/slide2.xml" -> slide(sp("two")))
    val answers = AnyFile.parse(spark, path)
    assert(answers.map(_.sheetName) == Seq("slide1", "slide2", "slide10"))
    assert(answers.forall(_.engine == "ImportPptx"))
    assert(answers.head.data.collect().map(_.getString(0)).toSeq ==
      Seq("Title line", "Body line"))
    assert(answers(2).data.collect().map(_.getString(0)).toSeq == Seq("ten"))
  }

  test("DrawingML table becomes a frame; mixed deck keeps per-slide answers") {
    val dir = tmpDir("pptx")
    val path = dir.resolve("table.pptx").toString
    val tbl =
      """<p:graphicFrame><a:graphic><a:graphicData><a:tbl>
        |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>h1</a:t></a:r></a:p></a:txBody></a:tc>
        |<a:tc><a:txBody><a:p><a:r><a:t>h2</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        |<a:tr><a:tc><a:txBody><a:p><a:r><a:t>x</a:t></a:r></a:p></a:txBody></a:tc></a:tr>
        |</a:tbl></a:graphicData></a:graphic></p:graphicFrame>""".stripMargin
    writePptx(path,
      "ppt/slides/slide1.xml" -> slide(tbl),
      "ppt/slides/slide2.xml" -> slide(sp("just text")))
    val answers = AnyFile.parse(spark, path)
    assert(answers.map(_.sheetName) == Seq("slide1_table0", "slide2"))
    assert(answers.head.data.collect().toSeq ==
      Seq(Row("h1", "h2"), Row("x", null)))
    assert(answers(1).data.collect().map(_.getString(0)).toSeq ==
      Seq("just text"))
  }

  test("error answers: no slide parts, not a zip; empty slides skipped") {
    val dir = tmpDir("pptx")
    val noSlides = dir.resolve("empty.pptx").toString
    writePptx(noSlides, "ppt/presentation.xml" -> "<p/>")
    assert(AnyFile.parse(spark, noSlides).head.isFailed)

    val notZip = dir.resolve("bad.pptx").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(notZip),
      "nope".getBytes)
    assert(AnyFile.parse(spark, notZip).head.isFailed)

    val blank = dir.resolve("blank.pptx").toString
    writePptx(blank, "ppt/slides/slide1.xml" -> slide(""))
    assert(AnyFile.parse(spark, blank).head.isFailed)
  }

  test("p:sldIdLst → rels order wins over numeric part names") {
    val dir = tmpDir("pptxorder")
    val path = dir.resolve("reordered.pptx").toString
    val presNs = "http://schemas.openxmlformats.org/presentationml/2006/main"
    val relNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    // presentation order: slide3, slide1, slide2 — disagreeing with the
    // numeric part names; the authoritative list must win
    val pres =
      s"""<p:presentation xmlns:p="$presNs" xmlns:r="$relNs">
         |<p:sldIdLst>
         |<p:sldId id="256" r:id="rId3"/>
         |<p:sldId id="257" r:id="rId1"/>
         |<p:sldId id="258" r:id="rId2"/>
         |</p:sldIdLst></p:presentation>""".stripMargin
    val rels =
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="slides/slide1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="slides/slide2.xml"/>
        |<Relationship Id="rId3" Type="t" Target="slides/slide3.xml"/>
        |</Relationships>""".stripMargin
    writePptx(path,
      "ppt/presentation.xml" -> pres,
      "ppt/_rels/presentation.xml.rels" -> rels,
      "ppt/slides/slide1.xml" -> slide(sp("one")),
      "ppt/slides/slide2.xml" -> slide(sp("two")),
      "ppt/slides/slide3.xml" -> slide(sp("three")))
    val answers = AnyFile.parse(spark, path)
    assert(answers.map(_.sheetName) == Seq("slide3", "slide1", "slide2"))
    assert(answers.map(_.data.collect().head.getString(0)) ==
      Seq("three", "one", "two"))

    // a part the list doesn't reference appends in numeric order
    val extra = dir.resolve("extra.pptx").toString
    writePptx(extra,
      "ppt/presentation.xml" ->
        s"""<p:presentation xmlns:p="$presNs" xmlns:r="$relNs">
           |<p:sldIdLst><p:sldId id="256" r:id="rId2"/></p:sldIdLst>
           |</p:presentation>""".stripMargin,
      "ppt/_rels/presentation.xml.rels" -> rels,
      "ppt/slides/slide1.xml" -> slide(sp("one")),
      "ppt/slides/slide2.xml" -> slide(sp("two")))
    assert(AnyFile.parse(spark, extra).map(_.sheetName) ==
      Seq("slide2", "slide1"))

    // dot-segment targets (OPC §9.3) resolve like plain relative ones
    val dotted = dir.resolve("dotted.pptx").toString
    writePptx(dotted,
      "ppt/presentation.xml" ->
        s"""<p:presentation xmlns:p="$presNs" xmlns:r="$relNs">
           |<p:sldIdLst><p:sldId id="256" r:id="rId2"/>
           |<p:sldId id="257" r:id="rId1"/></p:sldIdLst>
           |</p:presentation>""".stripMargin,
      "ppt/_rels/presentation.xml.rels" ->
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |<Relationship Id="rId1" Type="t" Target="../ppt/slides/slide1.xml"/>
          |<Relationship Id="rId2" Type="t" Target="./slides/slide2.xml"/>
          |</Relationships>""".stripMargin,
      "ppt/slides/slide1.xml" -> slide(sp("one")),
      "ppt/slides/slide2.xml" -> slide(sp("two")))
    assert(AnyFile.parse(spark, dotted).map(_.sheetName) ==
      Seq("slide2", "slide1"))

    // damaged rels → numeric fallback, never a throw
    val broken = dir.resolve("broken.pptx").toString
    writePptx(broken,
      "ppt/presentation.xml" -> pres,
      "ppt/_rels/presentation.xml.rels" -> "<not-xml",
      "ppt/slides/slide2.xml" -> slide(sp("two")),
      "ppt/slides/slide1.xml" -> slide(sp("one")))
    assert(AnyFile.parse(spark, broken).map(_.sheetName) ==
      Seq("slide1", "slide2"))
  }

  test("BulkIngest catalogs .pptx with AnyFile-parity cells") {
    val dir = tmpDir("bulkpptx")
    val path = dir.resolve("deck.pptx").toString
    writePptx(path,
      "ppt/slides/slide1.xml" -> slide(sp("alpha") + sp("beta")))
    val rows = graft.operators.BulkIngest.parseTree(spark, dir.toString)
      .collect().sortBy(_.getLong(5))
    assert(rows.length == 2)
    assert(rows.forall(r => r.getString(1) == "ImportPptx" &&
      r.getString(2) == "slide1" && r.getString(4) == "OK"))
    assert(rows.map(_.getSeq[String](6).head).toSeq == Seq("alpha", "beta"))
    val drv = AnyFile.parse(spark, path).head.data.collect()
      .map(_.getString(0)).toSeq
    assert(rows.map(_.getSeq[String](6).head).toSeq == drv)
  }
}

package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.Row

/** Hand-built minimal WordprocessingML containers (ECMA-376), the
  * ExcelImporterSpec discipline: the fixture encodes the format
  * independently of the reader. */
class DocxImporterSpec extends SparkSpec {

  private val W =
    "http://schemas.openxmlformats.org/wordprocessingml/2006/main"

  private def writeDocx(path: String, documentXml: String): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    out.putNextEntry(new ZipEntry("[Content_Types].xml"))
    out.write("<Types/>".getBytes("UTF-8"))
    out.closeEntry()
    out.putNextEntry(new ZipEntry("word/document.xml"))
    out.write(documentXml.getBytes("UTF-8"))
    out.closeEntry()
    out.close()
  }

  private def p(text: String): String =
    s"""<w:p><w:r><w:t>$text</w:t></w:r></w:p>"""

  test("docx with tables: one answer per table, ragged rows null-padded") {
    val dir = tmpDir("docx")
    val path = dir.resolve("two_tables.docx").toString
    val doc =
      s"""<?xml version="1.0"?>
         |<w:document xmlns:w="$W"><w:body>
         |${p("Intro paragraph, not part of any table")}
         |<w:tbl>
         |  <w:tr><w:tc>${p("h1")}</w:tc><w:tc>${p("h2")}</w:tc><w:tc>${p("h3")}</w:tc></w:tr>
         |  <w:tr><w:tc>${p("a")}</w:tc><w:tc>${p("b")}</w:tc></w:tr>
         |</w:tbl>
         |${p("between tables")}
         |<w:tbl>
         |  <w:tr><w:tc>${p("only")}</w:tc></w:tr>
         |</w:tbl>
         |</w:body></w:document>""".stripMargin
    writeDocx(path, doc)
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 2)
    assert(answers.map(_.sheetName) == Seq("table0", "table1"))
    assert(answers.forall(_.engine == "ImportDocx"))
    val t0 = answers.head.data.collect().toSeq
    assert(t0 == Seq(Row("h1", "h2", "h3"), Row("a", "b", null)))
    assert(answers(1).data.collect().toSeq == Seq(Row("only")))
  }

  test("cell text: paragraphs newline-join; tab/br render; nested table folds in") {
    val dir = tmpDir("docx")
    val path = dir.resolve("rich_cells.docx").toString
    val doc =
      s"""<w:document xmlns:w="$W"><w:body><w:tbl>
         |<w:tr><w:tc>${p("line1")}${p("line2")}</w:tc>
         |<w:tc><w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/><w:t>c</w:t></w:r></w:p></w:tc>
         |<w:tc><w:tbl><w:tr><w:tc>${p("inner")}</w:tc></w:tr></w:tbl>${p("outer")}</w:tc>
         |</w:tr></w:tbl></w:body></w:document>""".stripMargin
    writeDocx(path, doc)
    val rows = AnyFile.parse(spark, path).head.data.collect().toSeq
    assert(rows == Seq(Row("line1\nline2", "a\tb\nc", "inner\nouter")))
  }

  test("no tables: one row per non-empty paragraph; delText/instrText skipped") {
    val dir = tmpDir("docx")
    val path = dir.resolve("paras.docx").toString
    // pretty-printed (whitespace between elements must NOT leak into text)
    val doc =
      s"""<w:document xmlns:w="$W">
         |  <w:body>
         |    <w:p>
         |      <w:r><w:t>First paragraph.</w:t></w:r>
         |      <w:r><w:delText>deleted words</w:delText></w:r>
         |      <w:r><w:instrText>PAGE \\* MERGEFORMAT</w:instrText></w:r>
         |    </w:p>
         |    <w:p><w:pPr/></w:p>
         |    <w:p><w:r><w:t xml:space="preserve">Second </w:t></w:r><w:r><w:t>paragraph.</w:t></w:r></w:p>
         |  </w:body>
         |</w:document>""".stripMargin
    writeDocx(path, doc)
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1)
    assert(answers.head.sheetName == "document text")
    val rows = answers.head.data.collect().map(_.getString(0)).toSeq
    assert(rows == Seq("First paragraph.", "Second paragraph."))
  }

  test("error answers: not a zip, zip without document part, empty document") {
    val dir = tmpDir("docx")
    val notZip = dir.resolve("bad.docx").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(notZip),
      "this is not a zip container".getBytes)
    val a1 = AnyFile.parse(spark, notZip)
    assert(a1.length == 1 && a1.head.isFailed)

    val noPart = dir.resolve("nopart.docx").toString
    val out = new ZipOutputStream(new FileOutputStream(noPart))
    out.putNextEntry(new ZipEntry("other.xml")); out.write("<x/>".getBytes)
    out.closeEntry(); out.close()
    val a2 = AnyFile.parse(spark, noPart)
    assert(a2.length == 1 && a2.head.isFailed)

    val empty = dir.resolve("empty.docx").toString
    writeDocx(empty, s"""<w:document xmlns:w="$W"><w:body/></w:document>""")
    val a3 = AnyFile.parse(spark, empty)
    assert(a3.length == 1 && a3.head.isFailed)
  }

  test("BulkIngest catalogs .docx with AnyFile-parity cells") {
    val dir = tmpDir("bulkdocx")
    val path = dir.resolve("doc.docx").toString
    writeDocx(path,
      s"""<w:document xmlns:w="$W"><w:body><w:tbl>
         |<w:tr><w:tc>${p("k")}</w:tc><w:tc>${p("v")}</w:tc></w:tr>
         |<w:tr><w:tc>${p("a")}</w:tc></w:tr>
         |</w:tbl></w:body></w:document>""".stripMargin)
    val rows = graft.operators.BulkIngest.parseTree(spark, dir.toString)
      .collect().sortBy(_.getLong(5))
    assert(rows.length == 2)
    assert(rows.forall(r => r.getString(1) == "ImportDocx" &&
      r.getString(2) == "table0" && r.getString(4) == "OK"))
    assert(rows(0).getSeq[String](6) == Seq("k", "v"))
    assert(rows(1).getSeq[String](6) == Seq("a", null))
    // ≡ the driver-side AnyFile frame
    val drv = AnyFile.parse(spark, path).head.data.collect()
      .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    assert(rows.map(_.getSeq[String](6).toSeq).toSeq == drv)
  }
}

package graft

import java.io.{ByteArrayOutputStream, FileOutputStream, OutputStream}
import java.nio.file.{Files, Path}
import java.util.zip.{GZIPOutputStream, ZipEntry, ZipOutputStream}

import graft.operators.WebCorpus
import graft.sources.sqlite.SqliteParser.{IntCell, TextCell}
import graft.sources.sqlite.SqliteWriter
import graft.sources.tar.TarBuild

/** Small writers for every format the ingestion registry routes, plus the
  * codecs it accepts — enough to build one tree that drives `AnyFile.parse`
  * and `BulkIngest.parseOne` through every extension × codec pair. */
object IngestFixtures {

  type Grid = Seq[Seq[String]]

  private val Main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Rels = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
  private val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val SsNs = "urn:schemas-microsoft-com:office:spreadsheet"
  private val W = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
  private val A = "http://schemas.openxmlformats.org/drawingml/2006/main"
  private val P = "http://schemas.openxmlformats.org/presentationml/2006/main"

  def zip(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
    bos.toByteArray
  }

  private def through(bytes: Array[Byte])(wrap: OutputStream => OutputStream): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = wrap(bos)
    out.write(bytes)
    out.close()
    bos.toByteArray
  }
  def gz(b: Array[Byte]): Array[Byte] = through(b)(new GZIPOutputStream(_))
  def bz2(b: Array[Byte]): Array[Byte] = through(b)(
    new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(_))
  def zst(b: Array[Byte]): Array[Byte] = through(b)(
    new com.github.luben.zstd.ZstdOutputStream(_))

  /** `.xlsx` with inline-string cells, one part per sheet. */
  def xlsx(sheets: Seq[(String, Grid)]): Array[Byte] = {
    val list = sheets.indices.map(i =>
      s"""<sheet name="${sheets(i)._1}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
    val rels = sheets.indices.map(i =>
      s"""<Relationship Id="rId${i + 1}" Type="t" Target="worksheets/sheet${i + 1}.xml"/>""")
    val parts = sheets.zipWithIndex.map { case ((_, grid), i) =>
      val rows = grid.zipWithIndex.map { case (row, r) =>
        val cells = row.zipWithIndex.map { case (v, c) =>
          s"""<c r="${('A' + c).toChar}${r + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
        }
        s"""<row r="${r + 1}">${cells.mkString}</row>"""
      }
      s"xl/worksheets/sheet${i + 1}.xml" ->
        s"""<worksheet xmlns="$Main"><sheetData>${rows.mkString}</sheetData></worksheet>"""
    }
    zip(Seq(
      "xl/workbook.xml" ->
        s"""<workbook xmlns="$Main" xmlns:r="$Rels"><sheets>${list.mkString}</sheets></workbook>""",
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">${rels.mkString}</Relationships>"""
    ) ++ parts: _*)
  }

  /** OpenDocument spreadsheet (`content.xml` only). */
  def ods(sheets: Seq[(String, Grid)]): Array[Byte] = {
    val tables = sheets.map { case (name, grid) =>
      val rows = grid.map(row => "<table:table-row>" + row.map(v =>
        s"""<table:table-cell office:value-type="string"><text:p xmlns:text="x">$v</text:p></table:table-cell>"""
      ).mkString + "</table:table-row>")
      s"""<table:table table:name="$name">${rows.mkString}</table:table>"""
    }
    zip("content.xml" ->
      s"""<office:document-content xmlns:office="$OfficeNs" xmlns:table="$TableNs">
         |<office:body><office:spreadsheet>${tables.mkString}</office:spreadsheet></office:body>
         |</office:document-content>""".stripMargin)
  }

  /** MS SpreadsheetML: one `Worksheet` per sheet. */
  def xmlss(sheets: Seq[(String, Grid)]): String = {
    val ws = sheets.map { case (name, grid) =>
      val rows = grid.map(row => "<ss:Row>" +
        row.map(v => s"<ss:Cell><ss:Data>$v</ss:Data></ss:Cell>").mkString + "</ss:Row>")
      s"""<ss:Worksheet ss:Name="$name"><ss:Table>${rows.mkString}</ss:Table></ss:Worksheet>"""
    }
    s"""<?xml version="1.0"?><Workbook xmlns:ss="$SsNs">${ws.mkString}</Workbook>"""
  }

  private def wp(text: String) = s"<w:p><w:r><w:t>$text</w:t></w:r></w:p>"
  private def ap(text: String) = s"<a:p><a:r><a:t>$text</a:t></a:r></a:p>"

  /** `.docx` with the given tables, or the paragraphs when there are none. */
  def docx(tables: Seq[Grid], paragraphs: Seq[String]): Array[Byte] = {
    val tbls = tables.map(t => "<w:tbl>" + t.map(row => "<w:tr>" +
      row.map(v => s"<w:tc>${wp(v)}</w:tc>").mkString + "</w:tr>").mkString + "</w:tbl>")
    zip("[Content_Types].xml" -> "<Types/>",
      "word/document.xml" ->
        s"""<?xml version="1.0"?><w:document xmlns:w="$W"><w:body>${
          paragraphs.map(wp).mkString}${tbls.mkString}</w:body></w:document>""")
  }

  /** `.pptx`: each slide is either a table or a list of text lines. */
  def pptx(slides: Seq[Either[Grid, Seq[String]]]): Array[Byte] = {
    val parts = slides.zipWithIndex.map { case (s, i) =>
      val body = s match {
        case Left(grid) =>
          "<p:graphicFrame><a:graphic><a:graphicData><a:tbl>" + grid.map(row =>
            "<a:tr>" + row.map(v => s"<a:tc><a:txBody>${ap(v)}</a:txBody></a:tc>").mkString +
              "</a:tr>").mkString + "</a:tbl></a:graphicData></a:graphic></p:graphicFrame>"
        case Right(lines) =>
          lines.map(l => s"<p:sp><p:txBody>${ap(l)}</p:txBody></p:sp>").mkString
      }
      s"ppt/slides/slide${i + 1}.xml" ->
        s"""<p:sld xmlns:a="$A" xmlns:p="$P"><p:cSld><p:spTree>$body</p:spTree></p:cSld></p:sld>"""
    }
    zip(parts: _*)
  }

  /** Uncompressed PDF, one page per grid, one absolute `Tm`/`Tj` per cell. */
  def pdf(pages: Seq[Grid]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count ${pages.length} >> endobj\n")
    pages.zipWithIndex.foreach { case (grid, i) =>
      val content = "BT /F1 12 Tf\n" + grid.zipWithIndex.flatMap { case (row, r) =>
        row.zipWithIndex.map { case (v, c) =>
          s"1 0 0 1 ${72 + c * 120} ${700 - r * 20} Tm ($v) Tj\n"
        }
      }.mkString + "ET\n"
      w(s"${3 + 2 * i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${4 + 2 * i} 0 R /Resources << /Font << /F1 100 0 R >> >> >> endobj\n")
      w(s"${4 + 2 * i} 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    }
    w("100 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  /** HTML page of `<table>`s, with a declared charset. */
  def htmlTables(tables: Seq[Grid], charset: String): Array[Byte] =
    (s"""<html><head><meta charset="$charset"><title>t</title></head><body>""" +
      tables.map(t => "<table>" + t.map(row => "<tr>" +
        row.map(v => s"<td>$v</td>").mkString + "</tr>").mkString + "</table>").mkString +
      "</body></html>").getBytes(charset)

  def sqlite(rows: Int): Array[Byte] =
    SqliteWriter.build("items", Seq("id", "name", "qty"), 0,
      (1 to rows).map(i => (i.toLong, Seq(IntCell(0L), TextCell(s"n$i"), IntCell(i * 7L)))))

  def tar(members: Int): Array[Byte] =
    TarBuild.archive((0 until members).map(i => (s"s$i.txt", s"payload $i".getBytes("UTF-8"))))

  def warc(records: Int): Array[Byte] =
    (0 until records).map(i => WebCorpus.warcRecord(i.toLong, s"<p>page $i</p>")).reduce(_ ++ _)

  private val grid2: Grid = Seq(Seq("a", "b", "c"), Seq("d", "e"), Seq("f"))
  private val grid3: Grid = Seq(Seq("x", "y"), Seq("z", "w"))

  /** A Spark-written single-file parquet of `df`: the bytes of its one
    * part file. */
  def parquet(df: org.apache.spark.sql.DataFrame): Array[Byte] = {
    val out = Files.createTempDirectory("pq").resolve("t")
    df.coalesce(1).write.parquet(out.toString)
    val parts = Files.list(out)
    try Files.readAllBytes(parts.filter(_.toString.endsWith(".parquet")).findFirst().get)
    finally parts.close()
  }

  /** The parity tree: every extension the registry routes, every codec
    * each one accepts, one malformed file per container format, an
    * unknown extension, and the pickle gap. Returns the directory. */
  def parityTree(dir: Path): Path = {
    def put(name: String, bytes: Array[Byte]): Unit = Files.write(dir.resolve(name), bytes)
    def text(name: String, s: String): Unit = put(name, s.getBytes("UTF-8"))

    val csv = "h1,h2,h3\n1,2,3\n4,5\n".getBytes("UTF-8")
    val tsv = "a\tb\n\"c\"\td\te\n".getBytes("UTF-8")
    val ant = "k~~@~~v\n1~~@~~2~~@~~3\n".getBytes("UTF-8")
    val txt = "p|q|r\ns|t|u\n".getBytes("UTF-8")
    val jsonl = "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n".getBytes("UTF-8")
    val json = "[{\"a\": 1}, {\"a\": 2}, {\"a\": 3}]".getBytes("UTF-8")
    val tarBytes = tar(3)
    val warcBytes = warc(3)
    val dbBytes = sqlite(4)

    put("plain.csv", csv); put("plain.txt", txt); put("plain.ini", txt)
    put("plain.tsv", tsv); put("plain.ant", ant)
    put("book.xlsx", xlsx(Seq("First" -> grid2, "Second" -> grid3)))
    put("legacy.xls", XlsFixture.workbook(Seq("L1" -> grid2, "L2" -> grid3)))
    XlsbFixture.makeXlsb(dir.resolve("modern.xlsb").toString)
    val odsBytes = ods(Seq("O1" -> grid2, "O2" -> grid3))
    put("calc.ods", odsBytes); put("calc.odf", odsBytes); put("calc.odt", odsBytes)
    text("sheet.xml", xmlss(Seq("X1" -> grid2, "X2" -> grid3)))
    put("report.pdf", pdf(Seq(grid3, Seq(Seq("m", "n"), Seq("o", "p")))))
    put("tables.html", htmlTables(Seq(grid2, grid3), "utf-8"))
    text("main.htm", WebCorpus.page(3L, (1 to 25).map(i => s"w$i")))
    put("doc.docx", docx(Seq(grid2), Nil))
    put("para.docx", docx(Nil, Seq("first paragraph", "second paragraph")))
    put("deck.pptx", pptx(Seq(Right(Seq("title", "body")), Left(grid3), Right(Nil))))
    put("db.sqlite", dbBytes); put("db.sqlite3", dbBytes); put("db.db", dbBytes)
    put("arch.warc", warcBytes)
    put("shard.tar", tarBytes)
    put("doc.json", json); put("lines.jsonl", jsonl); put("lines.ndjson", jsonl)
    text("obj.pk1", "not a pickle"); text("obj.pickle", "not a pickle either")
    text("mystery.xyz", "???")

    // every codec each stream-decodable format accepts
    put("gz.csv.gz", gz(csv)); put("bz.txt.bz2", bz2(txt)); put("bz.tsv.bz2", bz2(tsv))
    put("gz.ant.gz", gz(ant)); put("gz.ini.gz", gz(txt))
    put("zst.csv.zst", zst(csv)); put("zst.tsv.zstd", zst(tsv))
    put("gz.jsonl.gz", gz(jsonl)); put("bz.ndjson.bz2", bz2(jsonl)); put("gz.json.gz", gz(json))
    put("zst.jsonl.zst", zst(jsonl)); put("zst.ndjson.zstd", zst(jsonl)); put("zst.json.zst", zst(json))
    put("gz.warc.gz", gz(warcBytes)); put("bz.warc.bz2", bz2(warcBytes)); put("zst.warc.zst", zst(warcBytes))
    put("gz.tar.gz", gz(tarBytes)); put("gz.tgz", gz(tarBytes)); put("bz.tar.bz2", bz2(tarBytes))
    put("zst.tar.zst", zst(tarBytes)); put("zst.tar.zstd", zst(tarBytes))
    put("zst.sqlite.zst", zst(dbBytes)); put("zst.db.zstd", zst(dbBytes))
    // codecs a container format does not accept stay unknown
    put("gz.xlsx.gz", gz(xlsx(Seq("First" -> grid2))))
    put("gz.sqlite.gz", gz(dbBytes))
    put("zst.pdf.zst", zst(pdf(Seq(grid3))))

    // one malformed file per container format
    text("broken.xlsx", "this is not a zip")
    text("broken.xls", "not really excel")
    text("broken.xlsb", "PK not a zip")
    text("broken.ods", "no content here")
    text("broken.xml", "<Workbook><unclosed")
    text("broken.docx", "not a docx")
    text("broken.pptx", "not a pptx")
    text("broken.pdf", "%PDF-1.4 garbage without objects")
    text("broken.sqlite", "SQLite format 3\u0000 truncated")
    put("broken.tar", java.util.Arrays.copyOf(tarBytes, 700))
    text("broken.warc", "not a warc record")
    text("empty.html", "<html><body><nav><a href='/'>x</a></nav></body></html>")
    dir
  }
}

package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater, GZIPOutputStream, ZipEntry, ZipOutputStream}

import graft.sources.sqlite.{SqliteParser, SqliteWriter}
import graft.sources.tar.TarBuild

/** Seeded corpus generator for the `parse_files` workload. Every file is assembled from plain bytes or the in-repo
  * writers (`TarBuild`, `SqliteWriter`); nothing is downloaded. Next to
  * the files it writes `manifest.tsv`: per file, the answers
  * `AnyFile.parse` must return (sheet name, shape, parse_info, cell hash)
  * and the per-path aggregate `BulkIngest.parseTreeAuto` must return
  * (rows, parse_info, cell hash). The expectations come from what the
  * generator wrote, never from a parse.
  *
  * Usage: `perfbench.Corpus <seed> <outDir>`.
  */
object Corpus {

  /** Expected answer of one sheet: its name and its cell grid. */
  final case class Sheet(name: String, rows: Seq[Seq[String]]) {
    def cols: Int = if (rows.isEmpty) 0 else rows.map(_.length).max
  }

  /** One generated file. `any` is empty when the correct answer is the
    * single `Failed` answer. `alt` is the same file decoded with its
    * declared legacy charset (text only). `bulk` is the per-path
    * aggregate (rows, parse_info, sheets) for BulkIngest. */
  final case class Spec(
      rel: String,
      format: String,
      any: Seq[Sheet],
      alt: Seq[Sheet],
      bulkInfo: String,
      bulk: Seq[Sheet],
      bytes: Array[Byte])

  // ------------------------------------------------------------ cell text

  private val Syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "ze", "po", "da", "fe", "gu", "hi", "jo", "be")

  /** Two streams: `shape` (a fixed seed per corpus: file order, sheet,
    * row and column counts, sizes) and `r` (the run's seed: every cell,
    * name and payload byte). A seed changes what the files say, never how
    * much work they are. */
  final class Gen(seed: Long, shapeSeed: Long) {
    val r = new SplittableRandom(seed)
    private val shape = new SplittableRandom(shapeSeed)
    def int(lo: Int, hi: Int): Int = lo + shape.nextInt(hi - lo + 1)
    def pick(n: Int): Int = shape.nextInt(n)
    def num(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def word(): String = {
      val n = num(1, 4)
      val w = (0 until n).map(_ => Syl(r.nextInt(Syl.length))).mkString
      if (r.nextInt(4) == 0) w.capitalize else w
    }
    /** A cell: a word, or an integer rendered as its digits. */
    def cell(): String =
      if (r.nextInt(3) == 0) num(0, 99999).toString else word()
    def table(rows: Int, cols: Int): Seq[Seq[String]] =
      Seq.fill(rows)(Seq.fill(cols)(cell()))
    def bytes(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); r.nextBytes(b); b
    }
  }

  // ------------------------------------------------------------ byte utils

  private def u16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def u32(v: Int): Array[Byte] = u16(v & 0xffff) ++ u16(v >>> 16)

  private def zip(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bo)
    entries.foreach { case (name, data) =>
      if (name == "mimetype") {
        // OpenDocument: the first entry is stored, not deflated
        val e = new ZipEntry(name)
        val crc = new CRC32(); crc.update(data)
        e.setMethod(ZipEntry.STORED); e.setSize(data.length.toLong)
        e.setCrc(crc.getValue)
        z.putNextEntry(e)
      } else z.putNextEntry(new ZipEntry(name))
      z.write(data)
      z.closeEntry()
    }
    z.close()
    bo.toByteArray
  }

  private def gzip(data: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bo)
    g.write(data); g.close()
    bo.toByteArray
  }

  private def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def zstd(data: Array[Byte]): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bo)
    z.write(data); z.close()
    bo.toByteArray
  }

  private def colName(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) { sb.insert(0, ('A' + (n - 1) % 26).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def isInt(s: String): Boolean = s.nonEmpty && s.forall(_.isDigit)

  // -------------------------------------------------------------- formats

  private def sheets(g: Gen, n: Int, rows: (Int, Int), cols: (Int, Int),
      prefix: String): Seq[Sheet] =
    (1 to n).map(i => Sheet(s"$prefix${i}_${g.word()}",
      g.table(g.int(rows._1, rows._2), g.int(cols._1, cols._2))))

  def xlsx(ss: Seq[Sheet]): Array[Byte] = {
    val strings = ss.flatMap(_.rows.flatten).filterNot(isInt).distinct
    val sst = strings.zipWithIndex.toMap
    val wb = ss.zipWithIndex.map { case (s, i) =>
      s"""<sheet name="${s.name}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString(
      """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""",
      "", "</sheets></workbook>")
    val rels = ss.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString(
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""",
      "", "</Relationships>")
    val sheetXml = ss.map { s =>
      val sb = new StringBuilder(
        """<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      s.rows.zipWithIndex.foreach { case (row, ri) =>
        sb.append(s"""<row r="${ri + 1}">""")
        row.zipWithIndex.foreach { case (v, ci) =>
          val ref = s"${colName(ci)}${ri + 1}"
          if (isInt(v)) sb.append(s"""<c r="$ref"><v>$v</v></c>""")
          else sb.append(s"""<c r="$ref" t="s"><v>${sst(v)}</v></c>""")
        }
        sb.append("</row>")
      }
      sb.append("</sheetData></worksheet>").toString
    }
    val sstXml = strings.map(s => s"<si><t>$s</t></si>").mkString(
      s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""",
      "", "</sst>")
    val types =
      """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/></Types>"""
    zip(Seq("[Content_Types].xml" -> types.getBytes(UTF_8),
      "xl/workbook.xml" -> wb.getBytes(UTF_8),
      "xl/_rels/workbook.xml.rels" -> rels.getBytes(UTF_8),
      "xl/sharedStrings.xml" -> sstXml.getBytes(UTF_8)) ++
      sheetXml.zipWithIndex.map { case (x, i) =>
        s"xl/worksheets/sheet${i + 1}.xml" -> x.getBytes(UTF_8)
      })
  }

  def ods(ss: Seq[Sheet]): Array[Byte] = {
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8"?><office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.2"><office:body><office:spreadsheet>""")
    ss.foreach { s =>
      sb.append(s"""<table:table table:name="${s.name}">""")
      s.rows.foreach { row =>
        sb.append("<table:table-row>")
        row.foreach(v => sb.append(
          s"""<table:table-cell office:value-type="string"><text:p>$v</text:p></table:table-cell>"""))
        sb.append("</table:table-row>")
      }
      sb.append("</table:table>")
    }
    sb.append("</office:spreadsheet></office:body></office:document-content>")
    zip(Seq(
      "mimetype" -> "application/vnd.oasis.opendocument.spreadsheet".getBytes(UTF_8),
      "content.xml" -> sb.toString.getBytes(UTF_8)))
  }

  def xmlss(ss: Seq[Sheet]): Array[Byte] = {
    val sb = new StringBuilder(
      """<?xml version="1.0"?><ss:Workbook xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">""")
    ss.foreach { s =>
      sb.append(s"""<ss:Worksheet ss:Name="${s.name}"><ss:Table>""")
      s.rows.foreach { row =>
        sb.append("<ss:Row>")
        row.foreach { v =>
          val t = if (isInt(v)) "Number" else "String"
          sb.append(s"""<ss:Cell><ss:Data ss:Type="$t">$v</ss:Data></ss:Cell>""")
        }
        sb.append("</ss:Row>")
      }
      sb.append("</ss:Table></ss:Worksheet>")
    }
    sb.append("</ss:Workbook>")
    sb.toString.getBytes(UTF_8)
  }

  /** BIFF8 records: integers as RK, text as LABEL (compressed latin-1 or
    * UTF-16 when a cell needs it). */
  def xls(ss: Seq[Sheet]): Array[Byte] = {
    def rec(id: Int, body: Array[Byte]): Array[Byte] =
      u16(id) ++ u16(body.length) ++ body
    def bof(kind: Int) = rec(0x0809, u16(0x0600) ++ u16(kind) ++ u16(0x0DBB) ++
      u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val eof = rec(0x000A, Array.emptyByteArray)
    def xstr(s: String): Array[Byte] =
      if (s.forall(_ < 0x100)) u16(s.length) ++ Array(0.toByte) ++ s.getBytes(ISO_8859_1)
      else u16(s.length) ++ Array(1.toByte) ++ s.getBytes("UTF-16LE")
    val sheetStreams = ss.map { s =>
      val body = s.rows.zipWithIndex.flatMap { case (row, ri) =>
        row.zipWithIndex.map { case (v, ci) =>
          val cell = u16(ri) ++ u16(ci) ++ u16(0)
          if (isInt(v)) rec(0x027E, cell ++ u32((v.toInt << 2) | 2))
          else rec(0x0204, cell ++ xstr(v))
        }
      }.flatten.toArray
      bof(0x0010) ++ body ++ eof
    }
    def globals(offsets: Seq[Int]): Array[Byte] =
      bof(0x0005) ++ ss.zip(offsets).flatMap { case (s, off) =>
        rec(0x0085, u32(off) ++ u16(0) ++ Array(s.name.length.toByte, 0.toByte) ++
          s.name.getBytes(ISO_8859_1))
      }.toArray ++ eof
    val gLen = globals(ss.map(_ => 0)).length
    val offsets = sheetStreams.scanLeft(gLen)(_ + _.length).init
    val stream = globals(offsets) ++ sheetStreams.flatten
    cfb(stream)
  }

  /** Minimal MS-CFB v3 container holding one "Workbook" stream in regular
    * 512-byte sectors (the stream is padded past the 4096-byte mini-stream
    * cutoff). Layout: FAT sectors, one directory sector, stream sectors. */
  private def cfb(stream0: Array[Byte]): Array[Byte] = {
    val stream = if (stream0.length >= 4096) stream0
      else java.util.Arrays.copyOf(stream0, 4096)
    val nStream = (stream.length + 511) / 512
    var nFat = 1
    while (nFat * 128 < nFat + 1 + nStream) nFat += 1
    require(nFat <= 109, "workbook too large for the header DIFAT")
    val dirSect = nFat
    val firstStream = nFat + 1
    val free = 0xFFFFFFFF; val end = 0xFFFFFFFE; val fatSect = 0xFFFFFFFD
    val out = new ByteArrayOutputStream()
    out.write(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte))
    out.write(new Array[Byte](16))
    out.write(u16(0x003E)); out.write(u16(0x0003)); out.write(u16(0xFFFE))
    out.write(u16(9)); out.write(u16(6)); out.write(new Array[Byte](6))
    out.write(u32(0)); out.write(u32(nFat)); out.write(u32(dirSect))
    out.write(u32(0)); out.write(u32(4096))
    out.write(u32(end)); out.write(u32(0)) // no miniFAT
    out.write(u32(end)); out.write(u32(0)) // no DIFAT sectors
    (0 until 109).foreach(i => out.write(u32(if (i < nFat) i else free)))
    val fat = Array.fill(nFat * 128)(free)
    (0 until nFat).foreach(i => fat(i) = fatSect)
    fat(dirSect) = end
    (0 until nStream).foreach { i =>
      fat(firstStream + i) = if (i == nStream - 1) end else firstStream + i + 1
    }
    fat.foreach(v => out.write(u32(v)))
    def dirEntry(name: String, typ: Int, child: Int, start: Int, size: Int): Array[Byte] = {
      val e = new Array[Byte](128)
      val nb = (name + "\u0000").getBytes("UTF-16LE")
      System.arraycopy(nb, 0, e, 0, nb.length)
      System.arraycopy(u16(if (name.isEmpty) 0 else nb.length), 0, e, 64, 2)
      e(66) = typ.toByte; e(67) = 1
      System.arraycopy(u32(free), 0, e, 68, 4)
      System.arraycopy(u32(free), 0, e, 72, 4)
      System.arraycopy(u32(child), 0, e, 76, 4)
      System.arraycopy(u32(start), 0, e, 116, 4)
      System.arraycopy(u32(size), 0, e, 120, 4)
      e
    }
    out.write(dirEntry("Root Entry", 5, 1, end, 0))
    out.write(dirEntry("Workbook", 2, free, firstStream, stream.length))
    out.write(dirEntry("", 0, free, 0, 0))
    out.write(dirEntry("", 0, free, 0, 0))
    out.write(java.util.Arrays.copyOf(stream, nStream * 512))
    out.toByteArray
  }

  def xlsb(ss: Seq[Sheet]): Array[Byte] = {
    def varint(n: Int): Array[Byte] = {
      var v = n
      val o = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while (v >= 0x80) { o += ((v & 0x7f) | 0x80).toByte; v >>= 7 }
      o += v.toByte
      o.toArray
    }
    def rec(id: Int, body: Array[Byte]): Array[Byte] = {
      val idb = if (id < 0x80) Array(id.toByte)
        else Array(((id & 0x7f) | 0x80).toByte, ((id >> 7) & 0x7f).toByte)
      idb ++ varint(body.length) ++ body
    }
    def ws(s: String): Array[Byte] = u32(s.length) ++ s.getBytes("UTF-16LE")
    val wb = ss.zipWithIndex.flatMap { case (s, i) =>
      rec(156, u32(0) ++ u32(i + 1) ++ ws(s"rId${i + 1}") ++ ws(s.name))
    }.toArray
    val rels = ss.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="t" Target="worksheets/sheet${i + 1}.bin"/>"""
    }.mkString("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""",
      "", "</Relationships>")
    val sheetBins = ss.map { s =>
      s.rows.zipWithIndex.flatMap { case (row, ri) =>
        rec(0, u32(ri) ++ new Array[Byte](21)) +: row.zipWithIndex.map { case (v, ci) =>
          val hdr = u32(ci) ++ u32(0)
          if (isInt(v)) rec(2, hdr ++ u32((v.toInt << 2) | 2))
          else rec(6, hdr ++ ws(v))
        }
      }.flatten.toArray
    }
    zip(Seq("xl/workbook.bin" -> wb,
      "xl/_rels/workbook.bin.rels" -> rels.getBytes(UTF_8),
      "xl/sharedStrings.bin" -> rec(159, u32(0) ++ u32(0))) ++
      sheetBins.zipWithIndex.map { case (b, i) => s"xl/worksheets/sheet${i + 1}.bin" -> b })
  }

  def html(tables: Seq[Seq[Seq[String]]], g: Gen): Array[Byte] = {
    val sb = new StringBuilder(
      s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>${g.word()}</title></head><body>""")
    tables.foreach { t =>
      sb.append(s"<p>${g.word()} ${g.word()}</p><table>")
      t.foreach(row => sb.append(row.map(v => s"<td>$v</td>").mkString("<tr>", "", "</tr>")))
      sb.append("</table>")
    }
    sb.append("</body></html>")
    sb.toString.getBytes(UTF_8)
  }

  def docx(tables: Seq[Seq[Seq[String]]]): Array[Byte] = {
    val sb = new StringBuilder(
      """<?xml version="1.0" encoding="UTF-8"?><w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>""")
    tables.foreach { t =>
      sb.append("<w:tbl>")
      t.foreach(row => sb.append(row.map(v =>
        s"<w:tc><w:p><w:r><w:t>$v</w:t></w:r></w:p></w:tc>").mkString("<w:tr>", "", "</w:tr>")))
      sb.append("</w:tbl>")
    }
    sb.append("</w:body></w:document>")
    val types =
      """<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="xml" ContentType="application/xml"/></Types>"""
    zip(Seq("[Content_Types].xml" -> types.getBytes(UTF_8),
      "word/document.xml" -> sb.toString.getBytes(UTF_8)))
  }

  def pptx(slides: Seq[Seq[Seq[String]]]): Array[Byte] = {
    val pres = slides.indices.map(i => s"""<p:sldId id="${256 + i}" r:id="rId${i + 1}"/>""")
      .mkString("""<?xml version="1.0" encoding="UTF-8"?><p:presentation xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><p:sldIdLst>""",
        "", "</p:sldIdLst></p:presentation>")
    val rels = slides.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide${i + 1}.xml"/>"""
    }.mkString("""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""",
      "", "</Relationships>")
    val slideXml = slides.map { t =>
      val rows = t.map(row => row.map(v =>
        s"<a:tc><a:txBody><a:p><a:r><a:t>$v</a:t></a:r></a:p></a:txBody></a:tc>")
        .mkString("<a:tr>", "", "</a:tr>")).mkString
      s"""<?xml version="1.0" encoding="UTF-8"?><p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main" xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"><p:cSld><p:spTree><p:graphicFrame><a:graphic><a:graphicData><a:tbl>$rows</a:tbl></a:graphicData></a:graphic></p:graphicFrame></p:spTree></p:cSld></p:sld>"""
    }
    zip(Seq("ppt/presentation.xml" -> pres.getBytes(UTF_8),
      "ppt/_rels/presentation.xml.rels" -> rels.getBytes(UTF_8)) ++
      slideXml.zipWithIndex.map { case (x, i) => s"ppt/slides/slide${i + 1}.xml" -> x.getBytes(UTF_8) })
  }

  /** Multi-page PDF, one absolute `Tm`+`Tj` per cell (the machine-written
    * grid shape), Flate-compressed content streams. */
  def pdf(pages: Seq[Seq[Seq[String]]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count ${pages.length} >> endobj\n")
    pages.zipWithIndex.foreach { case (grid, i) =>
      val sb = new StringBuilder("BT /F1 10 Tf\n")
      grid.zipWithIndex.foreach { case (row, r) =>
        row.zipWithIndex.foreach { case (v, c) =>
          sb.append(s"1 0 0 1 ${60 + c * 110} ${740 - r * 16} Tm ($v) Tj\n")
        }
      }
      sb.append("ET\n")
      val data = deflate(sb.toString.getBytes(ISO_8859_1))
      val pageNum = 3 + 2 * i
      w(s"$pageNum 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${pageNum + 1} 0 R /Resources << /Font << /F1 1000 0 R >> >> >> endobj\n")
      w(s"${pageNum + 1} 0 obj << /Length ${data.length} /Filter /FlateDecode >> stream\n")
      out.write(data)
      w("\nendstream endobj\n")
    }
    w("1000 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  def warc(records: Seq[(String, Array[Byte])]): Array[Byte] =
    records.map { case (uri, payload) =>
      val head = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Type: application/octet-stream\r\nContent-Length: ${payload.length}\r\n\r\n"
      gzip(head.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8))
    }.reduce(_ ++ _)

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Parquet through parquet-hadoop's example writer (no Spark session):
    * columns a (int64), b (utf8), c (double). */
  def parquet(rows: Seq[(Long, String, Double)], path: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 a; required binary b (UTF8); required double c; }")
    val conf = new org.apache.hadoop.conf.Configuration()
    val hp = new org.apache.hadoop.fs.Path(path.toUri)
    val w = ExampleParquetWriter.builder(hp).withConf(conf).withType(schema).build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { case (a, b, c) =>
      w.write(f.newGroup().append("a", a).append("b", b).append("c", c))
    } finally w.close()
    Files.deleteIfExists(path.resolveSibling("." + path.getFileName + ".crc"))
  }

  // ------------------------------------------------------------- the specs

  private def single(name: String, rows: Seq[Seq[String]]) = Seq(Sheet(name, rows))

  private def typedRows(g: Gen, n: Int): Seq[(Long, String, Double)] =
    Seq.fill(n)((g.num(0, 1000000).toLong, g.word(), g.num(0, 99999) / 4.0))
  private def typedCells(rows: Seq[(Long, String, Double)]): Seq[Seq[String]] =
    rows.map { case (a, b, c) => Seq(a.toString, b, c.toString) }

  /** Text in a given charset: tab/comma/semicolon/pipe separated, with
    * a few cells carrying letters outside ASCII. */
  private def textSpec(g: Gen, rel: String, fmt: String, sep: String,
      charset: String, accents: String): Spec = {
    val rows = g.table(g.int(8, 60), g.int(2, 6)).map(_.map { v =>
      if (!isInt(v) && g.r.nextInt(5) == 0) v + accents(g.r.nextInt(accents.length)) else v
    })
    val text = rows.map(_.mkString(sep)).mkString("", "\n", "\n")
    val bytes = text.getBytes(charset)
    val asUtf8 = new String(bytes, UTF_8).split("\n", -1).toSeq.init.map(_.split(java.util.regex.Pattern.quote(sep), -1).toSeq)
    val sheet = Seq(Sheet("Text file content", asUtf8))
    val declared = Seq(Sheet("Text file content", rows))
    Spec(rel, fmt, sheet, declared, "OK", sheet, bytes)
  }

  /** One valid file of `format`, named `base` + extension. */
  def make(format: String, base: String, g: Gen, big: Boolean = false): Spec = {
    // "big" files cross the bulk planner's bigBytes threshold
    val rows = if (big) (900, 1100) else (6, 40)
    format match {
      case "xlsx" =>
        val ss = sheets(g, g.int(1, 3), rows, (2, 6), "S")
        Spec(base + ".xlsx", format, ss, Nil, "OK", ss, xlsx(ss))
      case "xls" =>
        val ss = sheets(g, g.int(1, 3), rows, (2, 6), "L")
        Spec(base + ".xls", format, ss, Nil, "OK", ss, xls(ss))
      case "xlsb" =>
        val ss = sheets(g, g.int(1, 3), rows, (2, 6), "B")
        Spec(base + ".xlsb", format, ss, Nil, "OK", ss, xlsb(ss))
      case "ods" =>
        val ss = sheets(g, g.int(1, 3), rows, (2, 6), "O")
        Spec(base + ".ods", format, ss, Nil, "OK", ss, ods(ss))
      case "xmlss" =>
        val ss = sheets(g, g.int(1, 3), rows, (2, 6), "X")
        Spec(base + ".xml", format, ss, Nil, "OK", ss, xmlss(ss))
      case "txt_utf8" => textSpec(g, base + ".txt", format, "\t", "UTF-8", "éßøñ")
      case "csv_ascii" => textSpec(g, base + ".csv", format, ":", "US-ASCII", "x")
      case "csv_latin1" => textSpec(g, base + ".csv", format, ";", "ISO-8859-1", "éàüç")
      case "csv_cp1251" => textSpec(g, base + ".csv", format, "|", "windows-1251", "жщыю")
      case "ant" => textSpec(g, base + ".ant", format, "~~@~~", "UTF-8", "x")
      case "csv_zst" =>
        val s = textSpec(g, base + ".csv.zst", format, ";", "UTF-8", "x")
        s.copy(bytes = zstd(s.bytes))
      case "json_records" =>
        val rs = typedRows(g, g.int(5, 40))
        val json = rs.map { case (a, b, c) => s"""{"a":$a,"b":"$b","c":$c}""" }
          .mkString("[", ",\n", "]")
        Spec(base + ".json", format, single("JSON file content", typedCells(rs)),
          Nil, "Native", single("JSON file content", Seq(Nil)), json.getBytes(UTF_8))
      case "json_columns" =>
        val rs = typedRows(g, g.int(5, 40))
        def col(f: ((Long, String, Double)) => String) =
          rs.zipWithIndex.map { case (t, i) => s""""$i":${f(t)}""" }.mkString("{", ",", "}")
        val json = s"""{"a":${col(_._1.toString)},"b":${col(t => "\"" + t._2 + "\"")},"c":${col(_._3.toString)}}"""
        Spec(base + ".json", format, single("JSON file content", typedCells(rs)),
          Nil, "Native", single("JSON file content", Seq(Nil)), json.getBytes(UTF_8))
      case "jsonl_gz" =>
        val rs = typedRows(g, g.int(10, 60))
        val text = rs.map { case (a, b, c) => s"""{"a":$a,"b":"$b","c":$c}""" }.mkString("", "\n", "\n")
        Spec(base + ".jsonl.gz", format, single("JSON lines content", typedCells(rs)),
          Nil, "Native", single("JSON lines content", Seq(Nil)), gzip(text.getBytes(UTF_8)))
      case "parquet" =>
        val rs = typedRows(g, g.int(10, 80))
        Spec(base + ".parquet", format, single("Parquet file content", typedCells(rs)),
          Nil, "Native", single("Parquet file content", Seq(Nil)), Array.emptyByteArray)
      case "pdf" =>
        val width = g.int(2, 5)
        val pages = Seq.fill(g.int(2, 5))(g.table(g.int(8, 40), width))
        val all = pages.flatten
        val any = single("PDF file content (concated)",
          all.zipWithIndex.map { case (r, i) => i.toString +: r })
        val bulk = pages.zipWithIndex.map { case (p, i) => Sheet(s"PDF table $i", p) }
        Spec(base + ".pdf", format, any, Nil, "OK", bulk, pdf(pages))
      case "html" =>
        val ts = Seq.fill(g.int(1, 2))(g.table(g.int(3, 30), g.int(2, 5)))
        val ss = ts.zipWithIndex.map { case (t, i) => Sheet(s"table$i", t) }
        Spec(base + ".html", format, ss, Nil, "OK", ss, html(ts, g))
      case "docx" =>
        val ts = Seq.fill(g.int(1, 2))(g.table(g.int(3, 30), g.int(2, 5)))
        val ss = ts.zipWithIndex.map { case (t, i) => Sheet(s"table$i", t) }
        Spec(base + ".docx", format, ss, Nil, "OK", ss, docx(ts))
      case "pptx" =>
        val ts = Seq.fill(g.int(1, 3))(g.table(g.int(2, 12), g.int(2, 4)))
        val ss = ts.zipWithIndex.map { case (t, i) => Sheet(s"slide${i + 1}_table0", t) }
        Spec(base + ".pptx", format, ss, Nil, "OK", ss, pptx(ts))
      case "sqlite" =>
        val name = "t_" + g.word().toLowerCase
        val cols = Seq("id", "name", "qty")
        val n = if (big) 3000 else g.int(10, 200)
        val data = (1 to n).map(i => Seq(g.word(), g.num(0, 99999).toString))
        val rowsW = data.zipWithIndex.map { case (d, i) =>
          ((i + 1).toLong, Seq[SqliteParser.Cell](SqliteParser.IntCell(i + 1L),
            SqliteParser.TextCell(d(0)), SqliteParser.IntCell(d(1).toLong)))
        }
        val ss = single(name, data.zipWithIndex.map { case (d, i) => (i + 1).toString +: d })
        Spec(base + ".sqlite", format, ss, Nil, "OK", ss, SqliteWriter.build(name, cols, -1, rowsW))
      case "tar" =>
        val n = if (big) 400 else g.int(4, 30)
        val members = (0 until n).map { i =>
          f"sample_$i%04d.${if (i % 2 == 0) "txt" else "bin"}" -> g.bytes(g.int(10, 600))
        }
        val ss = single("TAR members", members.map { case (name, b) =>
          Seq(name, "0", b.length.toString, md5Hex(b)) })
        Spec(base + ".tar", format, ss, Nil, "OK", ss, TarBuild.archive(members))
      case "warc_gz" =>
        val n = if (big) 600 else g.int(4, 30)
        val recs = (0 until n).map(i => s"http://example.org/${g.word()}/$i" -> g.bytes(g.int(20, 400)))
        val ss = single("WARC records", recs.map { case (u, b) => Seq(u, "response", b.length.toString) })
        Spec(base + ".warc.gz", format, ss, Nil, "OK", ss, warc(recs))
    }
  }

  /** The reference's formats plus the ones beyond it. */
  val Formats: Seq[String] = Seq("xlsx", "xls", "xlsb", "ods", "xmlss", "txt_utf8",
    "csv_ascii", "csv_latin1", "csv_cp1251", "ant", "json_records",
    "json_columns", "parquet", "pdf", "html", "docx", "pptx", "sqlite", "tar",
    "warc_gz", "jsonl_gz", "csv_zst")

  /** Formats with a big-file split road in `BulkIngest.parseTreeAuto`. */
  val BigFormats: Seq[String] = Seq("xlsx", "xlsb", "ods", "xmlss", "tar", "warc_gz")

  /** Malformed copies whose only correct answer is `Failed`: zip
    * containers cut before their central directory, CFB and SQLite
    * headers with a flipped magic bit. */
  val MalformedFrom: Seq[String] = Seq("xlsx", "xlsb", "ods", "docx", "pptx", "xls", "sqlite")

  def malformed(from: String, base: String, g: Gen): Spec = {
    val ok = make(from, base, g)
    val broken = from match {
      case "xls" | "sqlite" =>
        val b = ok.bytes.clone(); b(1) = (b(1) ^ 0x20).toByte; b
      case _ => ok.bytes.take(ok.bytes.length / 2)
    }
    val rel = ok.rel.replace(base, base + "_bad")
    Spec(rel, from + "_bad", Nil, Nil, "Failed", single("None", Seq(Nil)), broken)
  }

  // ------------------------------------------------------------- writing

  private def write(dir: Path, s: Spec): Unit = {
    val p = dir.resolve(s.rel)
    Files.createDirectories(p.getParent)
    if (s.format == "parquet") {
      val g = s.any.head.rows.map(r => (r(0).toLong, r(1), r(2).toDouble))
      parquet(g, p)
    } else Files.write(p, s.bytes)
  }

  /** Manifest line (tab-separated): path, format, the `any` sheets as
    * name/rows/cols/hash (U+001F between fields, U+001E between sheets,
    * accepted hashes joined by `,`), bulk parse_info, rows and hash, and
    * the file's size in bytes. */
  private def manifestLine(s: Spec, size: Long): String = {
    val anyAlt = if (s.alt.isEmpty) s.any.map(_ => None) else s.alt.map(Some(_))
    val sheets = s.any.zip(anyAlt).map { case (sh, alt) =>
      val hs = (Seq(Canon.sheetHash(sh.name, sh.rows)) ++ alt.map(a => Canon.sheetHash(a.name, a.rows))).distinct
      Seq(sh.name, sh.rows.size, sh.cols, hs.mkString(",")).mkString("\u001f")
    }.mkString("\u001e")
    val bulkRows = s.bulk.map(_.rows.size).sum
    val bulkHash = s.bulk.map(sh => Canon.sheetHash(sh.name, sh.rows)).sum
    val bulkAlt = if (s.alt.isEmpty) bulkHash
      else s.alt.map(sh => Canon.sheetHash(sh.name, sh.rows)).sum
    Seq(s.rel, s.format, sheets, s.bulkInfo, bulkRows.toString,
      Seq(bulkHash, bulkAlt).distinct.mkString(","), size.toString).mkString("\t")
  }

  /** The mixed corpus for `parse_files`: every format `copies` times, a
    * fixed share of malformed files, and one file above the bulk planner's
    * `bigBytes` of every big-road format, spread over four directories in
    * a fixed order. */
  def parseCorpus(seed: Long, copies: Int): Seq[Spec] = {
    val g = new Gen(seed, 0x5AFEL)
    val valid = for (c <- 0 until copies; f <- Formats) yield make(f, f"f${c}_$f", g)
    val bad = for (c <- 0 until copies; f <- MalformedFrom) yield malformed(f, f"m${c}_$f", g)
    val big = BigFormats.map(f => make(f, s"big_$f", g, big = true))
    shuffle(valid ++ bad ++ big, g).zipWithIndex.map { case (sp, i) =>
      sp.copy(rel = s"part_${i % 4}/${sp.rel}")
    }
  }

  private def shuffle[T: scala.reflect.ClassTag](xs: Seq[T], g: Gen): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = g.pick(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** The manifest sits next to the corpus directory, not inside it. */
  def manifestPath(dir: Path): Path = Paths.get(dir.toString + ".manifest.tsv")

  def writeAll(dir: Path, specs: Seq[Spec]): Unit = {
    Files.createDirectories(dir)
    specs.foreach(write(dir, _))
    val lines = specs.map(s => manifestLine(s, Files.size(dir.resolve(s.rel))))
    Files.write(manifestPath(dir), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val Array(seed, out) = args
    writeAll(Paths.get(out), parseCorpus(seed.toLong, Main.ParseCopies))
  }
}

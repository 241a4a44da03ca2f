package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.Deflater

import graft.sources.{Formats, PdfImporter, Route}
import org.apache.spark.sql.Row

/** Hand-assembled PDF fixtures (ISO 32000 syntax): catalog → page tree →
  * Flate/plain content streams showing a text grid with Tm/Td/TJ — the
  * machine-written table shape tabula's stream mode targets.
  */
class PdfImporterSpec extends SparkSpec {

  // ------------------------------------------------------------ builders

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(bytes); d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Grid → content stream: one absolute Tm + Tj per cell. */
  private def gridContent(grid: Seq[Seq[String]]): String = {
    val sb = new StringBuilder("BT /F1 12 Tf\n")
    grid.zipWithIndex.foreach { case (row, r) =>
      row.zipWithIndex.foreach { case (cell, c) =>
        if (cell != null)
          sb.append(f"1 0 0 1 ${72 + c * 120} ${700 - r * 20} Tm ($cell) Tj\n")
      }
    }
    sb.append("ET\n").toString()
  }

  /** Assemble a multi-page PDF; each page is (encodedData, filterClause)
    * where filterClause is the literal `/Filter …` text (empty = none). */
  private def pdfBytesF(pages: Seq[(Array[Byte], String)]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    val kids = pages.indices.map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w(s"2 0 obj << /Type /Pages /Kids [$kids] /Count ${pages.length} >> endobj\n")
    pages.zipWithIndex.foreach { case ((data, filter), i) =>
      val pageNum = 3 + 2 * i
      val contNum = pageNum + 1
      w(s"$pageNum 0 obj << /Type /Page /Parent 2 0 R " +
        s"/MediaBox [0 0 612 792] /Contents $contNum 0 R " +
        s"/Resources << /Font << /F1 100 0 R >> >> >> endobj\n")
      w(s"$contNum 0 obj << /Length ${data.length}$filter >> stream\n")
      out.write(data)
      w("\nendstream endobj\n")
    }
    w("100 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    out.toByteArray
  }

  private def pdfBytes(pages: Seq[(Array[Byte], Boolean)]): Array[Byte] =
    pdfBytesF(pages.map { case (content, compress) =>
      if (compress) (deflate(content), " /Filter /FlateDecode")
      else (content, "")
    })

  private def writePdf(name: String, pages: Seq[(Array[Byte], Boolean)]): String = {
    val p = tmpDir("pdf").resolve(name)
    Files.write(p, pdfBytes(pages))
    p.toString
  }

  private def grid(g: Seq[Seq[String]], compress: Boolean): (Array[Byte], Boolean) =
    (gridContent(g).getBytes("ISO-8859-1"), compress)

  // --------------------------------------------------------------- tests

  test("single page, uncompressed: grid comes back row-major all-string") {
    val path = writePdf("plain.pdf", Seq(grid(Seq(
      Seq("name", "qty", "price"),
      Seq("apple", "3", "1.50"),
      Seq("pear", "7", "0.25")), compress = false)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1)
    val a = answers.head
    assert(a.sheetName == "PDF file content (concated)")
    assert(a.engine == "ImportPDF")
    assert(a.parseInfo == "OK")
    // reset_index quirk: surplus "index" column first
    assert(a.data.columns.toSeq == Seq("index", "0", "1", "2"))
    val rows = a.data.orderBy("index").collect().map(_.toSeq)
    assert(rows(0) == Seq(0, "name", "qty", "price"))
    assert(rows(1) == Seq(1, "apple", "3", "1.50"))
    assert(rows(2) == Seq(2, "pear", "7", "0.25"))
  }

  test("FlateDecode content stream decodes identically") {
    val g = Seq(Seq("a", "b"), Seq("c", "d"))
    val plain = writePdf("p.pdf", Seq(grid(g, compress = false)))
    val flate = writePdf("f.pdf", Seq(grid(g, compress = true)))
    val rp = AnyFile.parse(spark, plain).head.data
      .orderBy("index").collect().toSeq
    val rf = AnyFile.parse(spark, flate).head.data
      .orderBy("index").collect().toSeq
    assert(rp == rf && rp.nonEmpty)
  }

  test("multi-page same arity concatenates; running index spans pages") {
    val path = writePdf("two.pdf", Seq(
      grid(Seq(Seq("a", "b"), Seq("c", "d")), compress = true),
      grid(Seq(Seq("e", "f"), Seq("g", "h")), compress = true)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1)
    val rows = answers.head.data.orderBy("index").collect().map(_.toSeq)
    assert(rows.map(_.head).toSeq == Seq(0, 1, 2, 3))
    assert(rows(3) == Seq(3, "g", "h"))
  }

  test("mismatched arity page lands in the unsized answer") {
    val path = writePdf("mixed.pdf", Seq(
      grid(Seq(Seq("a", "b", "c")), compress = false),
      grid(Seq(Seq("x", "y")), compress = false)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.map(_.sheetName) == Seq(
      "PDF file content (concated)", "PDF file content (unsized)"))
    assert(answers(0).data.columns.length == 4) // index + 3
    assert(answers(1).data.columns.length == 3) // index + 2
    assert(answers(1).data.collect().map(_.toSeq).toSeq == Seq(Seq(0, "x", "y")))
  }

  test("concat=false yields one answer per page") {
    val path = writePdf("pages.pdf", Seq(
      grid(Seq(Seq("a", "b")), compress = false),
      grid(Seq(Seq("x", "y", "z")), compress = false)))
    val answers = PdfImporter.answers(spark, Route(path, Formats.Pdf, ""), concat = false)
    assert(answers.length == 2)
    assert(answers.forall(_.sheetName == "PDF file content (by page)"))
    assert(answers(0).data.columns.toSeq == Seq("0", "1")) // no index col
    assert(answers(1).data.collect().head.toSeq == Seq("x", "y", "z"))
  }

  test("Td/TD/T* relative positioning and TJ arrays build the same grid") {
    // line-oriented ops instead of absolute Tm: 2 rows × 2 cols
    val content =
      """BT /F1 10 Tf
        |72 700 Td (r1c1) Tj
        |120 0 Td [(r1) -200 (c2)] TJ
        |-120 -20 Td (r2c1) Tj
        |120 0 Td <72326333> Tj
        |ET
        |""".stripMargin.getBytes("ISO-8859-1")
    val path = writePdf("rel.pdf", Seq((content, false)))
    val a = AnyFile.parse(spark, path).head
    val rows = a.data.orderBy("index").collect().map(_.toSeq)
    // small TJ kerning stays within MergeTolerance → glued into one cell
    assert(rows(0) == Seq(0, "r1c1", "r1c2"))
    assert(rows(1)(1) == "r2c1")
    assert(rows(1)(2) == "r2c3") // hex string <72326333> = "r2c3"
  }

  test("escapes, parens, octal in literal strings") {
    val content =
      """BT /F1 10 Tf
        |72 700 Td (a\(b\)c) Tj
        |200 0 Td (x\134y) Tj
        |ET
        |""".stripMargin.getBytes("ISO-8859-1")
    val path = writePdf("esc.pdf", Seq((content, false)))
    val row = AnyFile.parse(spark, path).head
      .data.collect().head.toSeq
    assert(row(1) == "a(b)c")
    assert(row(2) == "x\\y") // octal 134 = backslash
  }

  test("garbage and truncated files give the Failed answer, never throw") {
    val dir = tmpDir("pdfbad")
    val garbage = dir.resolve("g.pdf")
    Files.write(garbage, Array.fill[Byte](256)(0x55))
    val g = AnyFile.parse(spark, garbage.toString)
    assert(g.length == 1 && g.head.parseInfo == "Failed")

    val real = pdfBytes(Seq(grid(Seq(Seq("a", "b")), compress = true)))
    val trunc = dir.resolve("t.pdf")
    Files.write(trunc, real.take(real.length / 3))
    val t = AnyFile.parse(spark, trunc.toString)
    assert(t.nonEmpty) // whatever survives parses or fails — no throw
  }

  test("two tables on one page split at the vertical gap") {
    // table 1: rows at y=700, 680 (pitch 20); gap of 200; table 2 at
    // y=480, 460 with a DIFFERENT arity → must become the unsized answer
    val content =
      ("BT /F1 12 Tf\n" +
        "1 0 0 1 72 700 Tm (a1) Tj\n1 0 0 1 192 700 Tm (b1) Tj\n" +
        "1 0 0 1 72 680 Tm (a2) Tj\n1 0 0 1 192 680 Tm (b2) Tj\n" +
        "1 0 0 1 72 480 Tm (x1) Tj\n1 0 0 1 192 480 Tm (y1) Tj\n" +
        "1 0 0 1 312 480 Tm (z1) Tj\n" +
        "1 0 0 1 72 460 Tm (x2) Tj\n1 0 0 1 192 460 Tm (y2) Tj\n" +
        "1 0 0 1 312 460 Tm (z2) Tj\nET\n").getBytes("ISO-8859-1")
    val path = writePdf("twotables.pdf", Seq((content, false)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.map(_.sheetName) == Seq(
      "PDF file content (concated)", "PDF file content (unsized)"))
    val valid = answers(0).data.orderBy("index").collect().map(_.toSeq)
    assert(valid.toSeq == Seq(
      Seq(0, "a1", "b1"), Seq(1, "a2", "b2")))
    val unsized = answers(1).data.orderBy("index").collect().map(_.toSeq)
    assert(unsized.toSeq == Seq(
      Seq(0, "x1", "y1", "z1"), Seq(1, "x2", "y2", "z2")))
  }

  test("PDF 1.5 object streams: page tree inside a compressed /ObjStm") {
    // catalog + pages + page dicts live INSIDE a Flate'd object stream;
    // only the content stream and the ObjStm container are direct objects.
    // No `trailer` keyword — /Root sits on an /XRef stream dict.
    val content = gridContent(Seq(Seq("m1", "m2"), Seq("m3", "m4")))
      .getBytes("ISO-8859-1")
    val inner =
      "<< /Type /Catalog /Pages 2 0 R >>\n" +
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>\n" +
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>"
    val offs = {
      val parts = inner.split("\n")
      val o1 = 0
      val o2 = parts(0).length + 1
      val o3 = o2 + parts(1).length + 1
      Seq(1 -> o1, 2 -> o2, 3 -> o3)
    }
    val header = offs.map { case (n, o) => s"$n $o" }.mkString(" ")
    val payload = (header + "\n" + inner).getBytes("ISO-8859-1")
    val first = header.length + 1
    val packed = deflate(payload)

    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    w(s"5 0 obj << /Type /ObjStm /N 3 /First $first /Length ${packed.length} " +
      "/Filter /FlateDecode >> stream\n")
    out.write(packed)
    w("\nendstream endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    // xref stream dict carries /Root (stream payload irrelevant to our scan)
    w("6 0 obj << /Type /XRef /Root 1 0 R /Size 7 /W [1 2 1] /Length 0 >> stream\nendstream endobj\n")
    w("%%EOF\n")
    val p = tmpDir("pdfobjstm").resolve("objstm.pdf")
    Files.write(p, out.toByteArray)

    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.head.parseInfo == "OK")
    val rows = answers.head.data.orderBy("index").collect().map(_.toSeq)
    assert(rows(0) == Seq(0, "m1", "m2"))
    assert(rows(1) == Seq(1, "m3", "m4"))
  }

  test("ASCII85- and LZW-encoded content streams decode to the same grid") {
    val g = Seq(Seq("name", "qty"), Seq("plum", "9"))
    val content = gridContent(g).getBytes("ISO-8859-1")

    def a85(data: Array[Byte]): Array[Byte] = {
      val sb = new StringBuilder
      data.grouped(4).foreach { grp =>
        var t = 0L
        grp.foreach(b => t = (t << 8) | (b & 0xffL))
        val pad = 4 - grp.length
        t = t << (8 * pad)
        if (t == 0 && grp.length == 4) sb.append('z')
        else {
          val cs = new Array[Char](5)
          var v = t
          (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85).toInt).toChar; v /= 85 }
          sb.appendAll(cs, 0, 5 - pad)
        }
      }
      sb.append("~>").toString().getBytes("ISO-8859-1")
    }
    def lzw(data: Array[Byte]): Array[Byte] = {
      val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
      (0 until 256).foreach(b => dict(Seq(b.toByte)) = b)
      var nextCode = 258
      var width = 9
      var bits = 0L
      var n = 0
      val out = new ByteArrayOutputStream()
      def emit(c: Int): Unit = {
        bits = (bits << width) | c; n += width
        while (n >= 8) { out.write(((bits >> (n - 8)) & 0xff).toInt); n -= 8 }
      }
      emit(256)
      var w = Seq(data(0))
      data.drop(1).foreach { b =>
        if (dict.contains(w :+ b)) w = w :+ b
        else {
          emit(dict(w)); dict(w :+ b) = nextCode; nextCode += 1
          if (nextCode >= (1 << width) && width < 12) width += 1
          w = Seq(b)
        }
      }
      emit(dict(w)); emit(257)
      if (n > 0) out.write(((bits << (8 - n)) & 0xff).toInt)
      out.toByteArray
    }

    val plain = writePdf("fp.pdf", Seq(grid(g, compress = false)))
    val p85 = tmpDir("pdf").resolve("a85.pdf")
    Files.write(p85, pdfBytesF(Seq((a85(content), " /Filter /ASCII85Decode"))))
    val plzw = tmpDir("pdf").resolve("lzw.pdf")
    Files.write(plzw, pdfBytesF(Seq((lzw(content), " /Filter /LZWDecode"))))
    // and a chain: ASCII85 around Flate
    val pchain = tmpDir("pdf").resolve("chain.pdf")
    Files.write(pchain, pdfBytesF(Seq((a85(deflate(content)),
      " /Filter [/ASCII85Decode /FlateDecode]"))))

    val want = AnyFile.parse(spark, plain).head.data
      .orderBy("index").collect().toSeq
    Seq(p85, plzw, pchain).foreach { p =>
      val got = AnyFile.parse(spark, p.toString).head.data
        .orderBy("index").collect().toSeq
      assert(got == want && got.nonEmpty, p.toString)
    }
  }

  test("ruled table extracts lattice-style: cells bounded by rules, outside text ignored") {
    // grid: 3 rows × 2 cols bounded by h-rules at y=710/690/670/650 and
    // v-rules at x=72/192/312; a title ABOVE the grid must be excluded
    // (stream mode would have made it a row), and the near-x pair below
    // proves cells come from the rules, not whitespace clustering
    val content =
      ("BT /F1 10 Tf\n" +
        "1 0 0 1 72 750 Tm (Quarterly Report Title) Tj\n" +
        "1 0 0 1 80 695 Tm (hdr1) Tj\n1 0 0 1 200 695 Tm (hdr2) Tj\n" +
        "1 0 0 1 80 675 Tm (a) Tj\n1 0 0 1 200 675 Tm (b) Tj\n" +
        "1 0 0 1 80 655 Tm (c) Tj\n1 0 0 1 200 655 Tm (d) Tj\n" +
        "ET\n" +
        // horizontal rules (one drawn as a thin filled rect)
        "72 710 m 312 710 l S\n" +
        "72 690 m 312 690 l S\n" +
        "72 670 m 312 670 l S\n" +
        "72 649.6 240 0.8 re f\n" +
        // vertical rules
        "72 650 m 72 710 l S\n" +
        "192 650 m 192 710 l S\n" +
        "312 650 m 312 710 l S\n").getBytes("ISO-8859-1")
    val path = writePdf("lattice.pdf", Seq((content, false)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1)
    val rows = answers.head.data.orderBy("index").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq(0, "hdr1", "hdr2"),
      Seq(1, "a", "b"),
      Seq(2, "c", "d")))
  }

  test("clip-only paths (W n) do not fake a lattice grid") {
    // same text grid as the plain test, but wrapped in a clipping
    // rectangle path that is NOT painted — must stay stream-mode
    val content =
      ("0 0 612 792 re W n\n" +
        gridContent(Seq(Seq("k1", "k2"), Seq("v1", "v2")))).getBytes("ISO-8859-1")
    val path = writePdf("clip.pdf", Seq((content, false)))
    val rows = AnyFile.parse(spark, path).head.data
      .orderBy("index").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(Seq(0, "k1", "k2"), Seq(1, "v1", "v2")))
  }

  test("Type0 font with /ToUnicode CMap: 2-byte codes map to Unicode text") {
    // F1 is a composite (Identity-H) font: codes are 2-byte; the CMap
    // maps 0x0041→"a", 0x0042→"bc" (multi-unit bfchar) and the bfrange
    // 0x0100..0x0102 → "A".."C"; unmapped 0x0058 falls back to the code
    // point itself ('X').
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |1 begincodespacerange <0000> <FFFF> endcodespacerange
        |2 beginbfchar
        |<0041> <0061>
        |<0042> <00620063>
        |endbfchar
        |1 beginbfrange
        |<0100> <0102> <0041>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end end
        |""".stripMargin.getBytes("ISO-8859-1")
    val content =
      ("BT /F1 12 Tf\n" +
        "1 0 0 1 72 700 Tm <00410042> Tj\n" +
        "1 0 0 1 192 700 Tm <010001010102> Tj\n" +
        "1 0 0 1 72 680 Tm <0058> Tj\n" +
        "1 0 0 1 192 680 Tm (done) Tj\n" + // (…) strings decode the same way
        "ET\n").getBytes("ISO-8859-1")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /TestCID " +
      "/Encoding /Identity-H /ToUnicode 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${cmap.length} >> stream\n")
    out.write(cmap)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val p = tmpDir("pdffont").resolve("type0.pdf")
    Files.write(p, out.toByteArray)

    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.head.parseInfo == "OK")
    val rows = answers.head.data.orderBy("index").collect().map(_.toSeq)
    // "(done)" in a Type0 font also decodes as 2-byte codes — 'do' =
    // 0x646f, 'ne' = 0x6e65 → fallback code points (CJK glyphs); the
    // observable contract here is the HEX cells, so assert those
    assert(rows(0)(1) == "abc")
    assert(rows(0)(2) == "ABC")
    assert(rows(1)(1) == "X")
  }

  /** Minimal TrueType font program: sfnt directory with a single 'cmap'
    * table, format-4 (platform 3, encoding 1) mapping each given char to
    * its glyph id — enough for the Identity-H recovery path, which reads
    * only 'cmap'. */
  private def ttfWithCmap4(pairs: Seq[(Char, Int)]): Array[Byte] = {
    import java.io.DataOutputStream
    val segs = pairs.map { case (ch, gid) => (ch.toInt, gid) }.sortBy(_._1)
    val segCount = segs.length + 1 // + the required 0xFFFF terminator
    val sub = new ByteArrayOutputStream()
    val sw = new DataOutputStream(sub)
    sw.writeShort(4) // format
    sw.writeShort(16 + 8 * segCount) // length
    sw.writeShort(0) // language
    sw.writeShort(2 * segCount)
    sw.writeShort(0); sw.writeShort(0); sw.writeShort(0) // search hints
    segs.foreach { case (c, _) => sw.writeShort(c) } // endCodes
    sw.writeShort(0xffff)
    sw.writeShort(0) // reservedPad
    segs.foreach { case (c, _) => sw.writeShort(c) } // startCodes
    sw.writeShort(0xffff)
    segs.foreach { case (c, g) => sw.writeShort((g - c) & 0xffff) } // idDelta
    sw.writeShort(1)
    (0 until segCount).foreach(_ => sw.writeShort(0)) // idRangeOffset
    val subBytes = sub.toByteArray

    val out = new ByteArrayOutputStream()
    val w = new DataOutputStream(out)
    w.writeInt(0x00010000) // sfnt version
    w.writeShort(1) // numTables: cmap only
    w.writeShort(0); w.writeShort(0); w.writeShort(0)
    w.writeBytes("cmap"); w.writeInt(0) // tag, checksum
    w.writeInt(28); w.writeInt(12 + subBytes.length) // offset, length
    // cmap header at 28: version, one encoding record (3,1) at offset 12
    w.writeShort(0); w.writeShort(1)
    w.writeShort(3); w.writeShort(1); w.writeInt(12)
    w.write(subBytes)
    out.toByteArray
  }

  test("Identity-H WITHOUT /ToUnicode recovers text via the embedded font's cmap") {
    // the common real-world CID font: /Encoding /Identity-H, no /ToUnicode
    // — codes are GIDs (CIDToGIDMap defaults to /Identity), and the only
    // route back to text is inverting the TrueType 'cmap' (§9.6.6.4)
    val font = ttfWithCmap4(Seq('H' -> 1, 'i' -> 2, '!' -> 3))
    val content =
      ("BT /F1 12 Tf\n" +
        "1 0 0 1 72 700 Tm <000100020003> Tj\n" + // GIDs 1,2,3 → "Hi!"
        "ET\n").getBytes("ISO-8859-1")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /TestCID " +
      "/Encoding /Identity-H /DescendantFonts [6 0 R] >> endobj\n")
    w("6 0 obj << /Type /Font /Subtype /CIDFontType2 /BaseFont /TestCID " +
      "/CIDToGIDMap /Identity /FontDescriptor 7 0 R >> endobj\n")
    w("7 0 obj << /Type /FontDescriptor /FontName /TestCID " +
      "/FontFile2 8 0 R >> endobj\n")
    w(s"8 0 obj << /Length ${font.length} >> stream\n")
    out.write(font)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val p = tmpDir("pdfidh").resolve("identity_h.pdf")
    Files.write(p, out.toByteArray)

    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.head.parseInfo == "OK")
    val rows = answers.head.data.collect().map(_.toSeq)
    assert(rows.exists(_.contains("Hi!")),
      s"Identity-H text not recovered: ${rows.toSeq}")
  }

  test("named Unicode CMap (/UniGB-UCS2-H): codes decode as UCS-2, cmap NOT inverted") {
    // a CJK CID font using a predefined Unicode CMap: the 2-byte codes
    // ARE Unicode values. The embedded font program deliberately carries
    // a POISONED cmap (chars mapped to glyph ids equal to our codes) —
    // if the Identity-H recovery path ran here, inversion would decode
    // the codes as Q/R/S; the /Encoding guard must keep the raw UCS-2
    // reading instead.
    val font = ttfWithCmap4(Seq('Q' -> 0x4ECA, 'R' -> 0x5929, 'S' -> 0x597D))
    val content =
      ("BT /F1 12 Tf\n" +
        "1 0 0 1 72 700 Tm <4ECA5929597D> Tj\n" + // U+4ECA U+5929 U+597D
        "ET\n").getBytes("ISO-8859-1")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /TestGB " +
      "/Encoding /UniGB-UCS2-H /DescendantFonts [6 0 R] >> endobj\n")
    w("6 0 obj << /Type /Font /Subtype /CIDFontType0 /BaseFont /TestGB " +
      "/FontDescriptor 7 0 R >> endobj\n")
    w("7 0 obj << /Type /FontDescriptor /FontName /TestGB " +
      "/FontFile2 8 0 R >> endobj\n")
    w(s"8 0 obj << /Length ${font.length} >> stream\n")
    out.write(font)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val p = tmpDir("pdfgb").resolve("unigb.pdf")
    Files.write(p, out.toByteArray)

    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.head.parseInfo == "OK")
    val rows = answers.head.data.collect().map(_.toSeq)
    assert(rows.exists(_.contains("今天好")),
      s"UCS-2 coded text not extracted: ${rows.toSeq}")
    assert(!rows.exists(_.exists(v => v != null && v.toString.contains("QRS"))),
      "poisoned cmap inversion leaked into a Unicode-CMap font")
  }

  test("TrueTypeCmap: format-4 segments invert to GID → Unicode") {
    val font = ttfWithCmap4(Seq('A' -> 7, 'B' -> 9, 'z' -> 11))
    val m = graft.sources.pdf.TrueTypeCmap.gidToUnicode(font)
    assert(m == Map(7 -> "A", 9 -> "B", 11 -> "z"))
    // garbage in → empty map, never a throw
    assert(graft.sources.pdf.TrueTypeCmap.gidToUnicode(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("simple font /ToUnicode remaps bytes; /Resources inherits from /Pages") {
    // the page has NO /Resources — it inherits the /Pages node's (§7.7.3.4);
    // F2's CMap maps 'q'(0x71) → 'z' for single-byte codes
    val cmap =
      """begincmap
        |1 begincodespacerange <00> <FF> endcodespacerange
        |1 beginbfchar
        |<71> <007A>
        |endbfchar
        |endcmap
        |""".stripMargin.getBytes("ISO-8859-1")
    val content =
      ("BT /F2 12 Tf\n" +
        "1 0 0 1 72 700 Tm (quick) Tj\n" +
        "1 0 0 1 192 700 Tm (aqua) Tj\n" +
        "ET\n").getBytes("ISO-8859-1")
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 " +
      "/Resources << /Font << /F2 5 0 R >> >> >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    out.write(content)
    w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /TrueType /BaseFont /TestSimple " +
      "/ToUnicode 6 0 R >> endobj\n")
    w(s"6 0 obj << /Length ${cmap.length} >> stream\n")
    out.write(cmap)
    w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val p = tmpDir("pdffont").resolve("simple.pdf")
    Files.write(p, out.toByteArray)

    val rows = AnyFile.parse(spark, p.toString).head
      .data.orderBy("index").collect().map(_.toSeq)
    assert(rows(0)(1) == "zuick")
    assert(rows(0)(2) == "azua")
  }

  test("bfrange with an explicit destination array parses") {
    val cmap =
      """begincmap
        |1 beginbfrange
        |<0010> <0012> [<0058> <0059> <005A>]
        |endbfrange
        |endcmap
        |""".stripMargin.getBytes("ISO-8859-1")
    val m = graft.sources.pdf.PdfParser.parseToUnicodeCMap(cmap)
    assert(m == Map(0x10 -> "X", 0x11 -> "Y", 0x12 -> "Z"))
  }

  test("AnyFile dispatches .pdf to the real reader") {
    val path = writePdf("route.pdf", Seq(grid(Seq(Seq("k", "v")), compress = true)))
    val answers = AnyFile.parse(spark, path)
    assert(answers.head.engine == "ImportPDF")
    assert(answers.head.parseInfo == "OK")
    assert(answers.head.data.collect().head.toSeq == Seq(0, "k", "v"))
  }
}

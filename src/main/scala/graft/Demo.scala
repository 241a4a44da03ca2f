package graft

import java.nio.file.{Files, Paths}

/** Runnable smoke demo of the ingestion surface — the Spark twin of the
  * reference's `__main__` transcript (reference `main.py:454-466`): parse a
  * tab-separated text file and a two-sheet workbook, print the answers.
  * Also exercises the error paths (missing file, unknown extension).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()

    val dir = Files.createTempDirectory("graft_demo")

    // example.txt parity fixture: 4×4 tab-separated (reference example.txt)
    val txt = dir.resolve("example.txt")
    Files.writeString(txt,
      "Vals1\tVals1\tVals1\tVals1\nVals2\tVals2\tVals2\tVals2\n" +
      "Vals3\tVals3\tVals3\tVals3\nVals4\tVals4\tVals4\tVals4\n")

    // ragged pipe csv with quotes
    val csv = dir.resolve("ragged.csv")
    Files.writeString(csv, "a|b|c\n\"d\"|'e'\nf|g|h|i\n")

    // .ant multi-char delimiter
    val ant = dir.resolve("fixed.ant")
    Files.writeString(ant, "x~~@~~y~~@~~z\n1~~@~~2~~@~~3\n")

    // SpreadsheetML XML, one worksheet
    val xml = dir.resolve("book.xml")
    Files.writeString(xml,
      """<?xml version="1.0"?>
        |<Workbook xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">
        | <ss:Worksheet ss:Name="Sheet_A"><ss:Table>
        |  <ss:Row><ss:Cell><ss:Data>r0c0</ss:Data></ss:Cell><ss:Cell><ss:Data>r0c1</ss:Data></ss:Cell></ss:Row>
        |  <ss:Row/>
        |  <ss:Row><ss:Cell><ss:Data>r2c0</ss:Data></ss:Cell></ss:Row>
        | </ss:Table></ss:Worksheet>
        |</Workbook>""".stripMargin)

    // WordprocessingML document, one table
    val docx = dir.resolve("memo.docx")
    locally {
      val out = new java.util.zip.ZipOutputStream(
        Files.newOutputStream(docx))
      out.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      out.write(
        ("""<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">""" +
          "<w:body><w:tbl>" +
          "<w:tr><w:tc><w:p><w:r><w:t>name</w:t></w:r></w:p></w:tc>" +
          "<w:tc><w:p><w:r><w:t>qty</w:t></w:r></w:p></w:tc></w:tr>" +
          "<w:tr><w:tc><w:p><w:r><w:t>bolt</w:t></w:r></w:p></w:tc>" +
          "<w:tc><w:p><w:r><w:t>42</w:t></w:r></w:p></w:tc></w:tr>" +
          "</w:tbl></w:body></w:document>").getBytes("UTF-8"))
      out.closeEntry(); out.close()
    }

    // SQLite database, one table — written by the engine's own sink
    val db = dir.resolve("mini.sqlite")
    locally {
      import graft.sources.sqlite.SqliteParser.{IntCell, NullCell, TextCell}
      val bytes = graft.sources.sqlite.SqliteWriter.build(
        "parts", Seq("id", "name", "qty"), ipk = 0,
        Seq(1L -> Seq(NullCell, TextCell("bolt"), IntCell(42L)),
          2L -> Seq(NullCell, TextCell("nut"), IntCell(7L))))
      Files.write(db, bytes)
    }

    // JSON-lines corpus file
    val jsonl = dir.resolve("corpus.jsonl")
    Files.writeString(jsonl,
      "{\"doc_id\":1,\"text\":\"hello\"}\n{\"doc_id\":2,\"text\":\"world\"}\n")

    val cases = Seq(
      txt.toString, csv.toString, ant.toString, xml.toString, docx.toString,
      db.toString, jsonl.toString,
      "/root/testdata/sf0.001/lineitem.parquet",
      dir.resolve("missing.txt").toString, // not found → Failed
      txt.toString + ".xyz"                // unknown ext → Failed
    )
    cases.foreach { path =>
      println(s"\n=== AnyFile.parse($path)")
      AnyFile.parse(spark, path).foreach { ans =>
        println(ans)
        if (!ans.isFailed && ans.data.columns.length <= 12) ans.data.show(5, false)
      }
    }
    spark.stop()
  }
}

package graft

/** `.jsonl`/`.ndjson` (native line-delimited scan) and `.tsv` (declared
  * tab delimiter) routes. */
class JsonLinesImporterSpec extends SparkSpec {

  test(".jsonl: one object per line through the native splittable scan") {
    val dir = tmpDir("jsonl")
    val path = writeFile(dir, "docs.jsonl",
      """{"doc_id":1,"text":"hello world"}
        |{"doc_id":2,"text":"second line"}
        |{"doc_id":3,"text":"third"}
        |""".stripMargin)
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1)
    val a = answers.head
    assert(a.engine == "ImportJSONL")
    assert(a.sheetName == "JSON lines content")
    assert(a.data.columns.toSeq == Seq("doc_id", "text")) // inferred, sorted
    val rows = a.data.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    assert(rows == Seq((1L, "hello world"), (2L, "second line"),
      (3L, "third")))
  }

  test(".ndjson routes the same; empty file answers Failed") {
    val dir = tmpDir("ndjson")
    val path = writeFile(dir, "one.ndjson", """{"k":"v"}""" + "\n")
    val a = AnyFile.parse(spark, path).head
    assert(a.engine == "ImportJSONL" && !a.isFailed)
    assert(a.data.collect().map(_.getString(0)).toSeq == Seq("v"))

    val empty = writeFile(dir, "empty.jsonl", "")
    assert(AnyFile.parse(spark, empty).head.isFailed)
  }

  test(".tsv: declared tab delimiter skips the sniff vote") {
    val dir = tmpDir("tsv")
    // a comma inside a field must NOT split (a sniffer could vote comma)
    val path = writeFile(dir, "t.tsv", "a,x\tb\nc\td,y\n")
    val a = AnyFile.parse(spark, path).head
    assert(a.engine == "ImportText")
    assert(a.separator == "\t")
    val rows = a.data.collect().map(_.toSeq).toSeq
    assert(rows == Seq(Seq("a,x", "b"), Seq("c", "d,y")))
  }

  test("BulkIngest: .jsonl catalogs as Native; .tsv cells match AnyFile") {
    val dir = tmpDir("bulkjsonl")
    writeFile(dir, "d.jsonl", """{"a":1}""" + "\n")
    writeFile(dir, "t.tsv", "p\tq\n")
    val rows = graft.operators.BulkIngest.parseTree(spark, dir.toString)
      .collect()
      .map(r => (java.nio.file.Paths.get(r.getString(0)).getFileName.toString,
        r.getString(1), r.getString(2), r.getString(4), r.getSeq[String](6)))
    val j = rows.filter(_._1 == "d.jsonl")
    assert(j.length == 1 &&
      j.head._2 == "ImportJSONL" && j.head._4 == "Native")
    val t = rows.filter(_._1 == "t.tsv")
    assert(t.length == 1 && t.head._2 == "ImportText" &&
      t.head._5 == Seq("p", "q"))
  }
}

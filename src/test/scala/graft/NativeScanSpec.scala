package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.sources.{Formats, FsIO, JsonImporter}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The native formats (JSON, JSON lines, parquet) under the one size
  * rule: a small file answers in process the frame `spark.read` gives —
  * schema (names, types, nullability, order), rows, sheet, engine,
  * parseInfo and row count — and a big file or a parquet directory takes
  * `spark.read` itself. */
class NativeScanSpec extends SparkSpec {

  /** What both roads must agree on. The Spark road leaves its row count
    * to a job, so the count compared is the known one, else a counted
    * one. */
  private def shape(as: Seq[ParserAnswer]) = as.map { a =>
    (a.sheetName, a.engine, a.encoding, a.separator, a.parseInfo,
      a.knownRowCount.getOrElse(a.data.count()),
      a.data.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq,
      a.data.collect().map(_.toSeq).toSeq)
  }

  /** The file's in-process answers, after asserting they equal its Spark
    * road's (`Formats.road`: the `spark.read` scan). */
  private def assertParity(path: String): Seq[ParserAnswer] = {
    val r = Formats.route(path).get
    val local = AnyFile.parse(spark, path)
    assert(local.forall(a => isLocal(a) && a.knownRowCount.isDefined), path)
    val big0 = try Formats.road(r).get(spark, r) catch { case _: Exception => Nil }
    val big = if (big0.isEmpty) Seq(ParserAnswer.failed(spark, path, r.format.engine)) else big0
    assert(big.forall(a => a.isFailed || !isLocal(a)), path)
    assert(shape(local) == shape(big), path)
    local
  }

  private def put(dir: Path, name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    Files.write(p, bytes)
    p.toString
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def floatsAndDoubles =
    spark.createDataFrame(
      Seq(Row(1L, 1.5, Seq(0.25f, 0.5f)), Row(2L, -2.0, null), Row(3L, null, Seq.empty[Float])).asJava,
      StructType(Seq(StructField("l", LongType, nullable = false),
        StructField("d", DoubleType), StructField("arr", ArrayType(FloatType)))))

  test("every native file of the parity tree answers in process what spark.read answers") {
    val tree = IngestFixtures.parityTree(tmpDir("native_parity"))
    put(tree, "t.parquet", IngestFixtures.parquet(floatsAndDoubles))
    val native = Files.list(tree).iterator().asScala.map(_.toString).toSeq.sorted
      .flatMap(Formats.route).filter(_.format.native.isDefined)
    assert(native.map(r => FsIO.fileName(r.path)) == Seq("bz.ndjson.bz2", "doc.json", "gz.json.gz",
      "gz.jsonl.gz", "lines.jsonl", "lines.ndjson", "t.parquet", "zst.json.zst",
      "zst.jsonl.zst", "zst.ndjson.zstd"))
    native.foreach { r =>
      val answers = assertParity(r.path)
      assert(answers.map(_.parseInfo) == Seq(ParserAnswer.Ok), r.path)
    }
  }

  test("JSON edge cases answer in process what spark.read answers") {
    import IngestFixtures.{gz, zst}
    val dir = tmpDir("json_edges")
    val crlf = utf8("{\"a\": 1}\r\n{bad\r\n\r\n  \n{\"a\": \"x\"}\r\n")
    val files = Seq(
      put(dir, "one_bad.jsonl", utf8("{\"a\": 1}\n{bad\n{\"a\": 2}\n")),
      put(dir, "all_bad.jsonl", utf8("{bad\nnope\n")),
      put(dir, "mixed.jsonl", utf8("{\"n\": 1, \"m\": 1}\n{\"n\": 2.5, \"m\": \"x\"}\n")),
      put(dir, "mixed.json", utf8("[{\"n\": 1, \"m\": 1}, {\"n\": 2.5, \"m\": \"x\"}]")),
      put(dir, "nested.json", utf8(
        "[{\"s\": {\"t\": [1, 2], \"u\": \"v\"}}, {\"s\": {\"t\": []}}, {\"s\": null}]")),
      put(dir, "nulls.jsonl", utf8("{\"a\": null, \"b\": 1}\n{\"a\": null, \"b\": 2}\n")),
      put(dir, "empty.json", utf8("[]")),
      put(dir, "invalid.json", utf8("{invalid")),
      put(dir, "invalid_doc.json", utf8("[invalid")),
      put(dir, "scalar_element.json", utf8("[{\"a\": 1}, 5, {\"a\": 2}]")),
      put(dir, "roots.jsonl", utf8("5\n{\"a\": 1}\n[1, 2]\n[{\"a\": 3}]\n")),
      put(dir, "columns.json", utf8("{\"a\": {\"0\": 1, \"1\": 2.5}, \"b\": {\"0\": \"x\"}}")),
      put(dir, "bom.jsonl", Array(0xef, 0xbb, 0xbf).map(_.toByte) ++ utf8("{\"a\": 1}\n{\"a\": 2}\n")),
      put(dir, "empty.jsonl", Array.emptyByteArray),
      put(dir, "crlf.jsonl", crlf),
      put(dir, "crlf.jsonl.gz", gz(crlf)),
      put(dir, "crlf.jsonl.zst", zst(crlf)),
      put(dir, "columns.json.zst", zst(utf8("{\"a\": {\"0\": 1}, \"b\": {\"1\": true}}"))))
    val answers = files.map(f => FsIO.fileName(f) -> assertParity(f)).toMap
    def one(name: String): ParserAnswer = answers(name).head
    def types(name: String) = one(name).data.schema.fields.map(f => f.name -> f.dataType).toSeq

    // a corrupt line keeps its text in the corrupt-record column
    assert(types("one_bad.jsonl") == Seq("_corrupt_record" -> StringType, "a" -> LongType))
    assert(one("one_bad.jsonl").data.collect().toSeq ==
      Seq(Row(null, 1L), Row("{bad", null), Row(null, 2L)))
    // int/double widens to double, int/string to string
    assert(types("mixed.jsonl") == Seq("m" -> StringType, "n" -> DoubleType))
    assert(types("mixed.json") == types("mixed.jsonl"))
    assert(types("nested.json") == Seq("s" -> StructType(Seq(
      StructField("t", ArrayType(LongType)), StructField("u", StringType)))))
    // an all-null field is a string column
    assert(types("nulls.jsonl") == Seq("a" -> StringType, "b" -> LongType))
    // blank lines yield no row; line ends never reach a cell
    assert(one("crlf.jsonl").data.collect().toSeq == Seq(Row(null, "1"), Row("{bad", null), Row(null, "x")))
    assert(one("bom.jsonl").knownRowCount == Some(2L))
    for (f <- Seq("all_bad.jsonl", "empty.json", "invalid.json", "invalid_doc.json",
        "scalar_element.json", "empty.jsonl"))
      assert(answers(f).map(_.parseInfo) == Seq(ParserAnswer.Failed), f)
  }

  test("parquet: a single file answers in process, a directory takes spark.read") {
    val dir = tmpDir("pq_roads")
    val file = put(dir, "one.parquet", IngestFixtures.parquet(floatsAndDoubles))
    val a = assertParity(file).head
    assert(a.data.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq == Seq(
      ("l", LongType, true), ("d", DoubleType, true), ("arr", ArrayType(FloatType), true)))
    assert(a.knownRowCount == Some(3L))
    assert(a.data.collect().toSeq ==
      Seq(Row(1L, 1.5, Seq(0.25f, 0.5f)), Row(2L, -2.0, null), Row(3L, null, Seq.empty)))

    // required columns of a parquet-hadoop writer turn nullable, as in spark.read
    val required = dir.resolve("required.parquet")
    locally {
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 a; required binary b (UTF8); optional double c; }")
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(required.toUri))
        .withConf(new org.apache.hadoop.conf.Configuration()).withType(schema).build()
      val g = new SimpleGroupFactory(schema)
      try (1 to 5).foreach(i => w.write(g.newGroup().append("a", i.toLong).append("b", s"r$i")))
      finally w.close()
    }
    assert(assertParity(required.toString).head.data.schema.forall(_.nullable))

    // Spark's own output directory keeps the spark.read road
    val table = dir.resolve("table.parquet").toString
    floatsAndDoubles.write.parquet(table)
    var answers = Seq.empty[ParserAnswer]
    assert(jobsDuring { answers = AnyFile.parse(spark, table); answers.foreach(_.parseInfo) } > 0)
    assert(answers.length == 1 && !isLocal(answers.head))
    assert(answers.head.data.collect().toSet == spark.read.parquet(table).collect().toSet)
  }

  test("a parquet file whose row groups inflate past the cap takes the Spark road") {
    import spark.implicits._
    val dir = tmpDir("pq_inflate")
    val rows = 60000
    val out = dir.resolve("w").toString
    // plain-encoded repeated text: tiny gzipped, past 4 MiB uncompressed
    spark.range(rows).map(i => s"${i % 7}" + "x" * 96).toDF("s").coalesce(1).write
      .option("parquet.enable.dictionary", "false").option("compression", "gzip").parquet(out)
    val part = Files.list(Path.of(out)).iterator().asScala.find(_.toString.endsWith(".parquet")).get
    val p = Files.copy(part, dir.resolve("inflates.parquet")).toString
    assert(Files.size(Path.of(p)) <= Formats.DriverDecodeBytes)
    var answers = Seq.empty[ParserAnswer]
    assert(jobsDuring { answers = AnyFile.parse(spark, p); answers.foreach(_.parseInfo) } > 0)
    assert(answers.length == 1 && !isLocal(answers.head))
    assert(answers.head.parseInfo == ParserAnswer.Ok && answers.head.data.count() == rows)
  }

  test("hostile JSON nesting answers Failed in process, and the JVM runs on") {
    val dir = tmpDir("json_deep")
    val depth = 100000
    val deepObject = "{\"a\": " * depth + "1" + "}" * depth
    val files = Seq(
      put(dir, "deep.json", utf8("[" * depth + "]" * depth)),
      put(dir, "deep.jsonl", utf8(deepObject + "\n")),
      put(dir, "deep_columns.json.gz", IngestFixtures.gz(utf8("{\"c\": " + deepObject + "}"))))
    files.foreach { f =>
      var answers = Seq.empty[ParserAnswer]
      assert(jobsDuring { answers = AnyFile.parse(spark, f) } == 0, f)
      assert(answers.map(_.parseInfo) == Seq(ParserAnswer.Failed), f)
    }
    // the session still answers
    assert(AnyFile.parse(spark, put(dir, "fine.jsonl", utf8("{\"a\": 1}\n"))).head.parseInfo ==
      ParserAnswer.Ok)
  }

  test("JSON nested past MaxDepth, under Jackson's cap, answers Failed on both roads") {
    val dir = tmpDir("json_nested")
    def nested(depth: Int) = utf8("{\"a\": " * depth + "1" + "}" * depth + "\n")
    for (depth <- Seq(150, 300)) {
      val f = put(dir, s"d$depth.jsonl", nested(depth))
      var answers = Seq.empty[ParserAnswer]
      assert(jobsDuring { answers = AnyFile.parse(spark, f) } == 0, f)
      assert(answers.map(_.parseInfo) == Seq(ParserAnswer.Failed), f)
    }
    // the spark.read road; only at 150, since a 300-deep schema can hang
    // the scan's own inference job
    val r = Formats.route(dir.resolve("d150.jsonl").toString).get
    assert(Formats.road(r).get(spark, r).isEmpty)
    // a record at the bound answers and collects
    val at = AnyFile.parse(spark, put(dir, "at.jsonl", nested(JsonImporter.MaxDepth)))
    assert(at.map(_.parseInfo) == Seq(ParserAnswer.Ok) && at.head.data.collect().length == 1)
  }
}

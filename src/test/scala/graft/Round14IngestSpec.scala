package graft

import java.nio.charset.StandardCharsets

import com.github.luben.zstd.ZstdOutputStream
import graft.operators.{BulkIngest, WebCorpus}

/** Round-14 ingestion laws: the `.zst` byte-road peel. zstd-jni (on the
  * Spark classpath for parquet codecs) backs `FsIO.openDecoded`, so the
  * per-file BYTE roads — text/csv/tsv, the jsonl line road, the WARC
  * record catalog, the sqlite decoded image — handle the `.jsonl.zst`
  * shape The Pile and most modern corpora ship. Hadoop's ZStandardCodec
  * needs a native lib this container lacks, so the Spark-scan roads
  * (AnyFile's text/json importers) stay gz/bz2-only, documented. */
class Round14IngestSpec extends SparkSpec {

  private def zst(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new ZstdOutputStream(bos)
    z.write(bytes); z.close()
    bos.toByteArray
  }

  private def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (graft.sources.FsIO.fileName(r.getString(0)), r.getString(1),
      r.getString(4), r.getLong(5), r.getSeq[String](6).toList))

  test(".csv.zst / .tsv.zst parse like their plain twins (delimiter vote on decoded bytes)") {
    val dir = tmpDir("zstcsv")
    val csv = (1 to 9).map(i => s"r$i;v$i;w$i").mkString("\n") + "\n"
    java.nio.file.Files.write(dir.resolve("d.csv.zst"),
      zst(csv.getBytes(StandardCharsets.UTF_8)))
    java.nio.file.Files.write(dir.resolve("plain.csv"),
      csv.getBytes(StandardCharsets.UTF_8))
    val tsv = "p\tq\n1\t2\n"
    java.nio.file.Files.write(dir.resolve("d.tsv.zst"),
      zst(tsv.getBytes(StandardCharsets.UTF_8)))
    val all = cells(BulkIngest.parseTree(spark, dir.toString))
    val zc = all.filter(_._1 == "d.csv.zst").sortBy(_._4)
    val pl = all.filter(_._1 == "plain.csv").sortBy(_._4)
    assert(zc.nonEmpty && zc.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      pl.map(t => (t._2, t._3, t._4, t._5)).toSeq)
    val zt = all.filter(_._1 == "d.tsv.zst").sortBy(_._4)
    assert(zt.map(_._5).toSeq == Seq(List("p", "q"), List("1", "2")))
  }

  test(".jsonl.zst: one OK row per line, the raw JSON text as the cell") {
    val dir = tmpDir("zstjsonl")
    val lines = Seq("{\"a\":1,\"b\":\"x\"}", "{\"a\":2,\"b\":\"y\"}", "{\"a\":3}")
    java.nio.file.Files.write(dir.resolve("corpus.jsonl.zst"),
      zst((lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)))
    val rows = cells(BulkIngest.parseTree(spark, dir.toString)).sortBy(_._4)
    assert(rows.length == 3)
    assert(rows.forall(r => r._2 == "ImportJSONL" && r._3 == "OK"))
    assert(rows.map(_._4).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_._5.head).toSeq == lines)
  }

  test(".warc.zst: record catalog ≡ plain .warc, in BulkIngest and AnyFile") {
    val dir = tmpDir("zstwarc")
    val bytes = WebCorpus.warcRecord(1L, "<p>alpha</p>") ++
      WebCorpus.warcRecord(2L, "<p>beta</p>")
    java.nio.file.Files.write(dir.resolve("c.warc"), bytes)
    java.nio.file.Files.write(dir.resolve("c.warc.zst"), zst(bytes))
    val all = cells(BulkIngest.parseTree(spark, dir.toString))
    val plain = all.filter(_._1 == "c.warc").sortBy(_._4)
    val z = all.filter(_._1 == "c.warc.zst").sortBy(_._4)
    assert(plain.length == 2 &&
      z.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
        plain.map(t => (t._2, t._3, t._4, t._5)).toSeq)
    // AnyFile's one-file twin takes the same byte road
    val a = AnyFile.parse(spark, dir.resolve("c.warc.zst").toString).head
    assert(!a.isFailed && a.engine == "ImportWARC" &&
      a.sheetName == "WARC records" && a.data.count() == 2L)
  }

  test(".sqlite.zst decodes the byte image and reads tables") {
    import SqliteFixture._
    val dir = tmpDir("zstsqlite")
    val b = new Builder()
    b.allocPage()
    val root = b.allocPage()
    b.writeMaster(Seq(("table", "t", root.toLong, "CREATE TABLE t(n INT)")))
    b.writeTableLeaf(root, (1 to 5).map(i =>
      b.leafCell(i.toLong, record(Seq(VInt(i.toLong * 10)), b.cs))))
    val plain = dir.resolve("d.sqlite").toString
    b.finish(plain)
    java.nio.file.Files.write(dir.resolve("d.sqlite.zst"),
      zst(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(plain))))
    val rows = cells(BulkIngest.parseTree(spark, dir.toString))
      .filter(_._1 == "d.sqlite.zst").sortBy(_._4)
    assert(rows.length == 5 && rows.forall(r =>
      r._2 == "ImportSqlite" && r._3 == "OK"))
    assert(rows.map(_._5.head.toLong).toSeq == Seq(10L, 20L, 30L, 40L, 50L))
    // AnyFile parity: the one-file road answers the same table
    val a = AnyFile.parse(spark, dir.resolve("d.sqlite.zst").toString)
    assert(a.length == 1 && !a.head.isFailed &&
      a.head.engine == "ImportSqlite" && a.head.sheetName == "t")
    assert(a.head.data.collect().map(_.getString(0).toLong).sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L, 50L))
  }

  test("truncated .zst answers one Failed row, never throws") {
    val dir = tmpDir("zsttrunc")
    val body = ("{\"a\":1}\n" * 400).getBytes(StandardCharsets.UTF_8)
    val full = zst(body)
    java.nio.file.Files.write(dir.resolve("t.jsonl.zst"),
      java.util.Arrays.copyOf(full, full.length - 5))
    val warc = zst(WebCorpus.warcRecord(1L, "<p>x</p>"))
    java.nio.file.Files.write(dir.resolve("t.warc.zst"),
      java.util.Arrays.copyOf(warc, warc.length - 5))
    val rows = cells(BulkIngest.parseTree(spark, dir.toString))
    val j = rows.filter(_._1 == "t.jsonl.zst")
    val w = rows.filter(_._1 == "t.warc.zst")
    assert(j.length == 1 && j.head._2 == "ImportJSONL" && j.head._3 == "Failed")
    assert(w.length == 1 && w.head._2 == "ImportWARC" && w.head._3 == "Failed")
  }

  test("zstd forms with no byte road stay Failed/unknown, never mis-parse") {
    val dir = tmpDir("zstbad")
    java.nio.file.Files.write(dir.resolve("w.xlsx.zst"),
      zst(Array[Byte](1, 2, 3, 4)))
    val rows = cells(BulkIngest.parseTree(spark, dir.toString))
    assert(rows.length == 1 && rows.head._3 == "Failed")
    // (`.json.zst` gained a capped decoded-image road in round 15 —
    // Round15IngestSpec owns its laws now)
  }

  test("AnyFile one-file road: .csv.zst / .tsv.zst parse like their plain twins") {
    val dir = tmpDir("zstanyfile")
    val csv = (1 to 9).map(i => s"r$i;v$i;w$i").mkString("\n") + "\n"
    java.nio.file.Files.write(dir.resolve("d.csv.zst"),
      zst(csv.getBytes(StandardCharsets.UTF_8)))
    java.nio.file.Files.write(dir.resolve("plain.csv"),
      csv.getBytes(StandardCharsets.UTF_8))
    val az = AnyFile.parse(spark, dir.resolve("d.csv.zst").toString).head
    val ap = AnyFile.parse(spark, dir.resolve("plain.csv").toString).head
    // the delimiter sniff votes on DECODED bytes; cells match the plain twin
    assert(!az.isFailed && az.engine == "ImportText" && az.separator == ";")
    assert(az.data.columns.toSeq == ap.data.columns.toSeq)
    assert(az.data.collect().toSeq == ap.data.collect().toSeq)

    val tsv = "p\tq\n1\t2\n"
    java.nio.file.Files.write(dir.resolve("d.tsv.zst"),
      zst(tsv.getBytes(StandardCharsets.UTF_8)))
    val at = AnyFile.parse(spark, dir.resolve("d.tsv.zst").toString).head
    assert(!at.isFailed && at.separator == "\t" && at.data.count() == 2L)
  }

  test("AnyFile one-file road: .jsonl.zst parses distributed json over the DSv2 lines") {
    val dir = tmpDir("zstjsonlany")
    val jsonl = "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":\"y\"}\n"
    java.nio.file.Files.write(dir.resolve("corpus.jsonl.zst"),
      zst(jsonl.getBytes(StandardCharsets.UTF_8)))
    val a = AnyFile.parse(spark, dir.resolve("corpus.jsonl.zst").toString).head
    assert(!a.isFailed && a.engine == "ImportJSONL")
    assert(a.data.columns.toSeq == Seq("a", "b") && a.data.count() == 2L)
    // all-corrupt lines under zstd answer Failed, like the plain road
    java.nio.file.Files.write(dir.resolve("bad.jsonl.zst"),
      zst("not json\nat all\n".getBytes(StandardCharsets.UTF_8)))
    val bad = AnyFile.parse(spark, dir.resolve("bad.jsonl.zst").toString)
    assert(bad.length == 1 && bad.head.isFailed)
  }

  // ---- big multi-frame .jsonl.zst split road (the Pile / pzstd shape)

  /** pzstd-like container: each chunk an independent zstd frame. */
  private def frameFile(chunks: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    chunks.foreach(c => bos.write(zst(c)))
    bos.toByteArray
  }

  private def corpusBody(trailingNl: Boolean): Array[Byte] = {
    // empty lines included; line lengths vary so frame cuts land mid-line
    val lines = (0 until 57).map {
      case i if i % 19 == 7 => ""
      case i => s"""{"id":$i,"v":"${"x" * (i % 23)}"}"""
    }
    (lines.mkString("\n") + (if (trailingNl) "\n" else ""))
      .getBytes(StandardCharsets.UTF_8)
  }

  /** Cut `bytes` into frames at mid-line positions; one frame sits wholly
    * inside a single long line; a skippable frame rides in the middle. */
  private def cutIntoFrames(bytes: Array[Byte]): Array[Byte] = {
    val cuts = (Seq(0, 13, 14, 150, 152, 153, 400, 680, bytes.length)
      .filter(_ <= bytes.length) :+ bytes.length).distinct.sorted
    val frames = cuts.sliding(2).collect { case Seq(a, b) if b > a =>
      java.util.Arrays.copyOfRange(bytes, a, b)
    }.toSeq
    val bos = new java.io.ByteArrayOutputStream()
    frames.zipWithIndex.foreach { case (f, i) =>
      if (i == 2) bos.write(IngestFixtures.skippable(11))
      bos.write(zst(f))
    }
    bos.toByteArray
  }

  test("ZstdFrames: frame ranges tile the file exactly; skippables flagged") {
    val dir = tmpDir("zstframes")
    val container = cutIntoFrames(corpusBody(trailingNl = true))
    val p = dir.resolve("c.jsonl.zst")
    java.nio.file.Files.write(p, container)
    val ranges = graft.sources.zstd.ZstdFrames.frameRanges(p.toString)
    assert(ranges.head._1 == 0L)
    ranges.sliding(2).foreach { case Seq(a, b) =>
      assert(a._1 + a._2 == b._1)
    }
    assert(ranges.last._1 + ranges.last._2 == container.length)
    assert(ranges.count(!_._3) == 1) // the one skippable frame
    // per-frame batches tile too
    val bs = graft.sources.zstd.ZstdFrames.frameBatches(p.toString, 1L)
    assert(bs.head.offset == 0L && bs.map(_.length).sum == container.length)
  }

  test("big .jsonl.zst split road ≡ file-grain road, row_idx and cells alike") {
    for (trailingNl <- Seq(true, false)) {
      val dir = tmpDir(s"zstsplit$trailingNl")
      val body = corpusBody(trailingNl)
      java.nio.file.Files.write(dir.resolve("big.jsonl.zst"), cutIntoFrames(body))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(1), r.getString(2), r.getString(4),
          r.getLong(5), r.getSeq[String](6).toList)).sortBy(_._4).toSeq
      // bigBytes=1 + splitBatchBytes=1 force per-frame ranged batches
      val split = rows(BulkIngest.parseTreeAuto(spark, dir.toString,
        bigBytes = 1L, splitBatchBytes = 1L))
      val whole = rows(BulkIngest.parseTree(spark, dir.toString))
      assert(split == whole, s"trailingNl=$trailingNl")
      assert(split.forall(r => r._1 == "ImportJSONL" && r._3 == "OK"))
      assert(split.map(_._4) == (0L until split.length.toLong))
      // and the cells are the exact line texts, empties included
      val expect = new String(body, StandardCharsets.UTF_8)
        .split("\n", -1).toSeq match {
        case init :+ "" if trailingNl => init
        case ls => ls
      }
      assert(split.map(_._5.head) == expect)
    }
  }

  test("single-frame big .jsonl.zst still parses (one honest batch)") {
    val dir = tmpDir("zstsingle")
    val body = corpusBody(trailingNl = true)
    java.nio.file.Files.write(dir.resolve("one.jsonl.zst"), zst(body))
    val rows = cells(BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 1L)).sortBy(_._4)
    assert(rows.length == 57 && rows.forall(_._3 == "OK"))
  }

  test("degenerate big .jsonl.zst shapes keep split ≡ file-grain (Failed, not vanished)") {
    // empty decoded content and a lone "\n" both answer the file-grain
    // road's one Failed row — the split road must not let the file
    // silently vanish or emit a phantom OK row
    for ((name, body) <- Seq(("empty", ""), ("lonenl", "\n"))) {
      val dir = tmpDir(s"zstdegen$name")
      // several frames so the split road engages past the 1-batch bypass
      val b = body.getBytes(StandardCharsets.UTF_8)
      val frames = frameFile(Seq(b, Array.emptyByteArray, Array.emptyByteArray))
      java.nio.file.Files.write(dir.resolve("d.jsonl.zst"), frames)
      val split = cells(BulkIngest.parseTreeAuto(spark, dir.toString,
        bigBytes = 1L, splitBatchBytes = 1L))
      val whole = cells(BulkIngest.parseTree(spark, dir.toString))
      assert(split.toSeq == whole.toSeq, name)
      assert(split.length == 1 && split.head._3 == "Failed", name)
    }
  }

  test("truncated big .jsonl.zst answers one Failed row, never throws") {
    val dir = tmpDir("zstsplittrunc")
    val container = cutIntoFrames(corpusBody(trailingNl = true))
    java.nio.file.Files.write(dir.resolve("t.jsonl.zst"),
      java.util.Arrays.copyOf(container, container.length - 7))
    val rows = cells(BulkIngest.parseTreeAuto(spark, dir.toString,
      bigBytes = 1L, splitBatchBytes = 1L))
    assert(rows.length == 1)
    assert(rows.head._2 == "ImportJSONL" && rows.head._3 == "Failed")
  }

  test("ZstdFrames.lines parity with spark.read.text") {
    val dir = tmpDir("zstlines")
    val body = "a;1\r\nb;2\n\nlast"  // CRLF line, empty line, no trailing \n
    java.nio.file.Files.write(dir.resolve("x.csv.zst"),
      zst(body.getBytes(StandardCharsets.UTF_8)))
    java.nio.file.Files.write(dir.resolve("x.csv"),
      body.getBytes(StandardCharsets.UTF_8))
    // \n-only split, CR kept, no phantom row
    val viaZst = graft.sources.zstd.ZstdFrames.lines(spark, dir.resolve("x.csv.zst").toString)
      .collect().toSeq
    val viaText = spark.read.option("lineSep", "\n")
      .text(dir.resolve("x.csv").toString).collect().map(_.getString(0)).toSeq
    assert(viaZst == viaText)
    assert(viaZst == Seq("a;1\r", "b;2", "", "last"))
  }
}

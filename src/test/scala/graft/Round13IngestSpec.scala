package graft

import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import graft.operators.{BulkIngest, WebCorpus}
import graft.sources.warc.WarcReader

/** Round-13 ingestion laws: the `.warc.gz` per-member split road (gzip
  * has no random access, so the index pass walks RFC 1952 member frames
  * once and the parse fans out over whole-member batches) and the
  * compression-suffix peel (`.jsonl.gz` / `.csv.gz` / `.tsv.gz` route on
  * their inner extension through the Hadoop codec layer). */
class Round13IngestSpec extends SparkSpec {

  private def gzMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** CommonCrawl shape: one gzip member per WARC record, concatenated. */
  private def memberArchive(n: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    (1 to n).foreach { i =>
      bos.write(gzMember(WebCorpus.warcRecord(i.toLong,
        s"<p>page $i body ${"x" * (i * 7 % 50)}</p>")))
    }
    bos.toByteArray
  }

  test("gzMemberBatches frames every member; each batch inflates standalone") {
    val dir = tmpDir("warcsplit")
    val archive = memberArchive(9)
    val p = dir.resolve("c.warc.gz")
    java.nio.file.Files.write(p, archive)
    // target 1 byte → one batch per member
    val perMember = WarcReader.gzMemberBatches(p.toString, targetBatchBytes = 1L)
    assert(perMember.length == 9)
    assert(perMember.head.offset == 0L)
    assert(perMember.map(_.firstMember) == (0L until 9L))
    // contiguous, covering the whole archive
    perMember.sliding(2).foreach { case Seq(a, b) =>
      assert(a.offset + a.length == b.offset)
    }
    assert(perMember.last.offset + perMember.last.length == archive.length)
    // each batch is a self-contained WARC run of exactly one record
    perMember.zipWithIndex.foreach { case (b, i) =>
      val slice = java.util.Arrays.copyOfRange(
        archive, b.offset.toInt, (b.offset + b.length).toInt)
      val recs = WarcReader.records(WarcReader.gunzipIfNeeded(slice))
      assert(recs.length == 1)
      assert(recs.head.header("warc-target-uri")
        .contains(s"http://corpus.local/doc/${i + 1}"))
    }
    // larger target groups whole members, still covering
    val grouped = WarcReader.gzMemberBatches(p.toString,
      targetBatchBytes = archive.length / 3L)
    assert(grouped.length >= 2 && grouped.length < 9)
    assert(grouped.head.offset == 0L)
    assert(grouped.map(b => b.length).sum == archive.length)
  }

  test("big .warc.gz split road ≡ file-grain road, row_idx and cells alike") {
    val dir = tmpDir("warcauto")
    java.nio.file.Files.write(dir.resolve("big.warc.gz"), memberArchive(12))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(1), r.getString(2), r.getString(4),
        r.getLong(5), r.getSeq[String](6).toList)).sortBy(_._4).toSeq
    // bigBytes=1 forces the split road; default goes file-grain
    val split = rows(BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L))
    val whole = rows(BulkIngest.parseTree(spark, dir.toString))
    assert(split == whole)
    assert(split.length == 12 && split.forall(_._1 == "ImportWARC"))
    assert(split.map(_._4) == (0L until 12L))
  }

  test("truncated big .warc.gz answers one Failed row, never throws") {
    val dir = tmpDir("warctrunc")
    val archive = memberArchive(6)
    java.nio.file.Files.write(dir.resolve("t.warc.gz"),
      java.util.Arrays.copyOf(archive, archive.length - 7))
    val rows = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L)
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "ImportWARC" &&
      rows.head.getString(4) == "Failed")
  }

  test("a member truncated inside its FNAME field throws, answering Failed") {
    val dir = tmpDir("warcfname")
    // gzip header with FNAME flag set, cut inside the name
    val cut = Array[Byte](0x1f, 0x8b.toByte, 8, 8, 0, 0, 0, 0, 0, 0,
      'c', 'r', 'a', 'w')
    val p = dir.resolve("f.warc.gz")
    java.nio.file.Files.write(p, memberArchive(2) ++ cut)
    intercept[java.io.IOException] {
      WarcReader.gzMemberBatches(p.toString, targetBatchBytes = 1L)
    }
    val rows = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L)
      .collect()
    assert(rows.length == 1 && rows.head.getString(4) == "Failed")
  }

  test("trailing non-gzip garbage ends the member walk leniently") {
    val dir = tmpDir("warctail")
    val archive = memberArchive(4) ++ "not gzip at all".getBytes(StandardCharsets.US_ASCII)
    val p = dir.resolve("g.warc.gz")
    java.nio.file.Files.write(p, archive)
    val batches = WarcReader.gzMemberBatches(p.toString, targetBatchBytes = 1L)
    assert(batches.length == 4) // the garbage tail is not a member
  }

  test("compression-suffix peel: .jsonl.gz, .csv.gz, .tsv.gz parse like their plain twins") {
    val dir = tmpDir("codecpeel")
    val jsonl = "{\"a\":1,\"b\":\"x\"}\n{\"a\":2,\"b\":\"y\"}\n"
    java.nio.file.Files.write(dir.resolve("d.jsonl.gz"),
      gzMember(jsonl.getBytes(StandardCharsets.UTF_8)))
    val aj = AnyFile.parse(spark, dir.resolve("d.jsonl.gz").toString).head
    assert(!aj.isFailed && aj.engine == "ImportJSONL")
    assert(aj.data.columns.toSeq == Seq("a", "b") && aj.data.count() == 2L)

    // csv.gz: the delimiter sniff must vote on DECODED bytes
    val csv = (1 to 9).map(i => s"r$i;v$i;w$i").mkString("\n") + "\n"
    java.nio.file.Files.write(dir.resolve("d.csv.gz"),
      gzMember(csv.getBytes(StandardCharsets.UTF_8)))
    val ac = AnyFile.parse(spark, dir.resolve("d.csv.gz").toString).head
    assert(!ac.isFailed && ac.separator == ";")
    assert(ac.data.columns.length == 3 && ac.data.count() == 9L)

    val tsv = "p\tq\n1\t2\n"
    java.nio.file.Files.write(dir.resolve("d.tsv.gz"),
      gzMember(tsv.getBytes(StandardCharsets.UTF_8)))
    val at = AnyFile.parse(spark, dir.resolve("d.tsv.gz").toString).head
    assert(!at.isFailed && at.separator == "\t" && at.data.count() == 2L)

    // BulkIngest: same peel — csv.gz cells equal the plain-csv twin's
    java.nio.file.Files.write(dir.resolve("plain.csv"),
      csv.getBytes(StandardCharsets.UTF_8))
    val bulk = BulkIngest.parseTree(spark, dir.toString).collect()
      .map(r => (graft.sources.FsIO.fileName(r.getString(0)), r.getString(1),
        r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
    val gz = bulk.filter(_._1 == "d.csv.gz").sortBy(_._4)
    val pl = bulk.filter(_._1 == "plain.csv").sortBy(_._4)
    assert(gz.nonEmpty && gz.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      pl.map(t => (t._2, t._3, t._4, t._5)).toSeq)
    val jz = bulk.filter(_._1 == "d.jsonl.gz")
    assert(jz.length == 1 && jz.head._2 == "ImportJSONL" && jz.head._3 == "Native")
  }

  test("a compressed container format stays unknown → Failed (no streaming road)") {
    val dir = tmpDir("codecbad")
    java.nio.file.Files.write(dir.resolve("w.xlsx.gz"),
      gzMember(Array[Byte](1, 2, 3, 4)))
    val a = AnyFile.parse(spark, dir.resolve("w.xlsx.gz").toString)
    assert(a.length == 1 && a.head.isFailed)
  }

  test("AnyFile .warc answers the record catalog, parity with BulkIngest cells") {
    val dir = tmpDir("warcany")
    val bytes = WebCorpus.warcRecord(1L, "<p>alpha</p>") ++
      WebCorpus.warcRecord(2L, "<p>beta</p>")
    java.nio.file.Files.write(dir.resolve("c.warc"), bytes)
    // and a gzipped twin through the suffix peel
    java.nio.file.Files.write(dir.resolve("c.warc.gz"), gzMember(bytes))
    for (f <- Seq("c.warc", "c.warc.gz")) {
      val a = AnyFile.parse(spark, dir.resolve(f).toString).head
      assert(!a.isFailed && a.engine == "ImportWARC" &&
        a.sheetName == "WARC records")
      val drv = a.data.collect().map(_.toSeq.map(String.valueOf)).toSeq
      assert(drv.length == 2)
      assert(drv.head(0) == "http://corpus.local/doc/1" &&
        drv.head(1) == "response")
      val bulk = BulkIngest.parseOne(dir.resolve(f).toString)
        .sortBy(_.row_idx).map(_.cells.toSeq)
      assert(bulk == drv)
    }
  }
}

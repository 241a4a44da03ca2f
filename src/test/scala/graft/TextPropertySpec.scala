package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

/** FIXTURES.md §A9: property-based text-pipeline invariants (plain
  * scalacheck runner — the scalatest bridge artifact isn't in the offline
  * dependency set). */
class TextPropertySpec extends SparkSpec {

  // cells over a safe alphabet (no delimiter chars), possibly quote-wrapped
  private val cellGen: Gen[String] = for {
    core <- Gen.stringOfN(3, Gen.alphaNumChar)
    wrap <- Gen.oneOf("", "\"", "'")
  } yield wrap + core + wrap

  private val matrixGen: Gen[(List[List[String]], String)] = for {
    delim <- Gen.oneOf("\t", ";", "|", ":")
    nRows <- Gen.choose(1, 30)
    rows <- Gen.listOfN(nRows, Gen.choose(1, 8).flatMap(Gen.listOfN(_, cellGen)))
  } yield (rows, delim)

  test("∀ ragged matrix: width = max arity, cells quote-free, rows preserved") {
    val prop = Prop.forAll(matrixGen) { case (rows, delim) =>
      val dir = tmpDir("prop")
      val content = rows.map(_.mkString(delim)).mkString("\n") + "\n"
      val p = writeFile(dir, "m.csv", content)
      // delimiter passed explicitly: sniffing is voting-based and single-
      // column rows legitimately default to tab — not under test here
      val a = graft.sources.TextImporter.answers(
        spark, graft.sources.Route(p, graft.sources.Formats.PlainText, ""), Some(delim)).head
      val expectWidth = rows.map(_.length).max
      val got = a.data.collect()

      val widthOk = a.data.columns.length == expectWidth
      val rowsOk = got.length == rows.length
      val cellsOk = got.forall { r =>
        (0 until expectWidth).forall { i =>
          val v = r.getString(i)
          v != null && !v.startsWith("\"") && !v.endsWith("\"") &&
            !v.startsWith("'") && !v.endsWith("'")
        }
      }
      val padOk = rows.zip(got).forall { case (src, out) =>
        (src.length until expectWidth).forall(i => out.getString(i) == "")
      }
      widthOk && rowsOk && cellsOk && padOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("∀ ragged matrix: executor-side BulkIngest cells ≡ driver-side TextImporter") {
    // the distributed ingest path re-implements the reference's text
    // semantics inside a task; this property pins the two code paths to
    // each other on arbitrary ragged quote-wrapped input
    val prop = Prop.forAll(matrixGen) { case (rows, _) =>
      val dir = tmpDir("bulkprop")
      // .ant lets both paths take a FIXED delimiter (sniffing is voting
      // -based and not under test); rewrite the content to the ant form
      val antContent = rows.map(_.mkString(
        graft.sources.TextImporter.AntDelimiter)).mkString("\n") + "\n"
      val p = writeFile(dir, "m.ant", antContent)
      val driver = graft.sources.TextImporter.answers(spark,
        graft.sources.Route(p, graft.sources.Formats.Ant, ""),
        Some(graft.sources.TextImporter.AntDelimiter))
        .head.data.collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString))
      val bulk = graft.operators.BulkIngest.parseOne(p)
        .sortBy(_.row_idx).map(_.cells.toSeq)
      driver.toSeq == bulk.toSeq
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

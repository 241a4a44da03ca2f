package graft.sources

import graft.model.ParserAnswer
import org.apache.spark.sql.SparkSession

/** The `.xlsx` driver road of the reference's `ImportExcel`
  * (reference `main.py:239-265`): every sheet with `header=None,
  * index_col=None, dtype=str`, one answer per sheet in workbook order.
  * The other Excel-family formats (`.xls`, `.xlsb`, `.ods`/`.odf`/`.odt`)
  * are bounded and decode on the driver through their shared
  * [[Formats]] decode.
  *
  * `.xlsx` is fully off-driver: sheet listing reads only zip
  * central-directory metadata (`workbook.xml` + rels, a few hundred bytes
  * — [[graft.sources.xlsx.XlsxParser.openSheetList]]); the per-sheet shape
  * probe (streaming width/count fold, no rows retained) runs as ONE SPARK
  * JOB with a task per sheet, so the driver never decodes sheet XML at
  * `parse()` time — for a multi-GB workbook the CPU burn lands on
  * executors, where the DSv2 row decode already runs. LargeSheetSpec pins
  * this: every sheet open during parse() is on an executor task thread.
  * The per-sheet DataFrames are served by the DSv2 source
  * ([[graft.sources.xlsx.ExcelDataSource]], format `graft-excel`) with an
  * explicit schema from the probe, which also supplies `knownRowCount`,
  * keeping `parseInfo` action-free. Shared strings are NOT loaded on the
  * driver at all (cell widths don't depend on string values). Numeric
  * cells keep the RAW stored string (`dtype=str` parity, SURVEY.md §7).
  */
object ExcelImporter {

  def xlsx(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    import graft.sources.xlsx.XlsxParser
    val path = r.path
    val sheets = XlsxParser.openSheetList(path).getOrElse(return Nil)
    if (sheets.isEmpty) return Nil
    val fsProps = FsIO.captureProps(spark)
    val shapes: Map[String, (Int, Long)] = spark.sparkContext
      .parallelize(sheets.map(_.target), sheets.length)
      .map { t =>
        FsIO.install(fsProps) // executor-side hdfs:/s3a: access
        t -> XlsxParser.sheetShape(path, t, IndexedSeq.empty)
      }
      .collect().toMap
    sheets.map { sheet =>
      val (width, rowCount) = shapes(sheet.target)
      if (width == 0) Formats.answer(spark, path, r.format.engine, Sheet(sheet.name, Nil))
      else {
        val df = spark.read
          .format("graft-excel")
          .schema(TextImporter.positionalSchema(width))
          .option("sheet", sheet.name)
          .load(path)
        ParserAnswer(df, path, sheetName = sheet.name,
          engine = r.format.engine, knownRowCount = Some(rowCount))
      }
    }
  }
}

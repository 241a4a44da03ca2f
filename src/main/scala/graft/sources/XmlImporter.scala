package graft.sources

import graft.model.ParserAnswer
import graft.sources.xmlss.XmlSpreadsheetParser
import org.apache.spark.sql.SparkSession

/** MS SpreadsheetML XML importer — the reference's `ImportXML`
  * (reference `main.py:268-324`).
  *
  * Semantics reproduced:
  *  - namespace `urn:schemas-microsoft-com:office:spreadsheet`; `Worksheet`
  *    nodes anywhere in the tree (`.//` search, `main.py:280`), each
  *    worksheet's `Table` descendants one frame each (`main.py:284-291`).
  *  - fallback when no `Worksheet` exists: `Table` nodes under the root,
  *    sheet name `"Not defined"` (`main.py:293-304`).
  *  - neither → single Failed answer (`main.py:305-307`).
  *  - a `Row` contributes a frame row only if it has ≥1 `Data` descendant —
  *    zero-`Data` rows are SKIPPED, not emitted empty (`main.py:316-323`).
  *  - ragged rows null-padded to the widest row (pandas
  *    `from_dict(orient='index', dtype=str)` NaN-padding, `main.py:324`);
  *    columns positional `0..n-1`, all strings; empty `Data` elements
  *    (`point.text is None`) become null.
  *  - lenient parsing (`recover=True` parity, `main.py:276`): strict parse
  *    first, then a recovery pass (escape bare `&`, drop control chars)
  *    before giving up.
  *
  * Two roads, chosen by size ([[Formats.answers]]): a file of at most
  * [[Formats.DriverDecodeBytes]] answers the shared [[Formats]] decode in
  * process; [[answers]] is the road past that size.
  *
  * Big-file architecture: the driver runs ONE streaming shape pass (table
  * enumeration + per-table width/count, no row materialization —
  * [[graft.sources.xmlss.XmlSpreadsheetParser.tableShapes]]); the returned
  * DataFrames are served by the DSv2 source
  * ([[graft.sources.xmlss.XmlSpreadsheetDataSource]], format `graft-xmlss`)
  * so the actual row decode happens on executors at action time, tables in
  * parallel, also streamed row-by-row.
  */
object XmlImporter {

  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val (mode, tables) = XmlSpreadsheetParser.tableShapes(r.path)
    tables.map { t =>
      if (t.width == 0) Formats.answer(spark, r.path, r.format.engine, Sheet(t.sheetName, Nil))
      else {
        val df = spark.read
          .format("graft-xmlss")
          .schema(TextImporter.positionalSchema(t.width))
          .option("table", t.index)
          .option("mode", mode)
          .load(r.path)
        ParserAnswer(df, r.path, sheetName = t.sheetName,
          engine = r.format.engine, knownRowCount = Some(t.rows))
      }
    }
  }
}

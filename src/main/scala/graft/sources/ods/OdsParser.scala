package graft.sources.ods

/** OpenDocument spreadsheet decode (`.ods`/`.odf`/`.odt` — the formats the
  * reference reads through pandas' odf engine, `main.py:245`): zip →
  * `content.xml` → `table:table` elements, with the ODS repeat-filler
  * discipline (empty-cell/row repeats capped, trailing filler trimmed —
  * real repeated data expands fully). Pure path→cells function, usable on
  * the driver (`AnyFile`) or inside executor tasks (BulkIngest).
  *
  * Since round 7 the decode is STREAMED ([[OdsStream]]/[[OdsRowIterator]]
  * — StAX over a ranged-zip entry stream, one row in memory at a time),
  * shared by this materialized whole-file API, the file-grain BulkIngest
  * road, and the split scan's per-table units, so all roads decode
  * byte-identically. */
object OdsParser {

  val TableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  val OfficeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

  /** All sheets as (name, ragged rows); None when the file has no content
    * document or no tables (→ Failed answer upstream). */
  def sheets(path: String): Option[Seq[(String, Seq[IndexedSeq[String]])]] =
    try {
      val shapes = OdsStream.tableShapes(path)
      if (shapes.isEmpty) None
      else Some(shapes.map { sh =>
        val it = new OdsRowIterator(path, sh.index)
        val rows =
          try it.toIndexedSeq
          finally it.close()
        (sh.name, rows)
      })
    } catch { case _: Exception => None }
}

package graft.sources

import graft.sources.sqlite.SqliteParser
import graft.sources.sqlite.SqliteParser.{Cell, Header, NullCell, TableMeta}

/** SQLite database importer — `.sqlite`/`.sqlite3`/`.db` (beyond the
  * reference's extension table, like `.html`/`.docx`: single-file
  * databases are a common exchange format and the file layout is a public
  * spec). One `ParserAnswer` per user table (the multi-sheet Excel
  * shape), sheetName = table name, REAL column names from the schema,
  * every value rendered to its text form ([[SqliteParser.render]]) so the
  * frame discipline stays all-string like the other importers. A column
  * declared `INTEGER PRIMARY KEY` is the rowid alias: its stored NULL is
  * replaced by the cell's rowid, as SQLite itself answers.
  *
  * Unreadable tables (WITHOUT ROWID, virtual, corrupt trees) yield a
  * per-table Failed answer rather than wrong data; a file that is not a
  * SQLite database at all yields the single Failed answer
  * (`main.py:140-144` contract).
  *
  * Scale road: a database past [[Formats.DriverDecodeBytes]] (and a big
  * file of the bulk road) splits through [[splitter]] into the one split
  * scan (`graft.operators.SplitScan`). A one-task index reads the header,
  * the schema and each table's b-tree pages, and lists each table's leaf
  * pages in batches; a probe per batch sums its pages' cell counts; the
  * scan decodes each batch in a task of its own, each page fetched with
  * its own ranged read, so the database file is never copied, localized,
  * or held whole in any heap. Smaller files answer their decode in
  * process (the registry's one size rule). A `.sqlite.zst` has no random
  * access, so no splitter: it decodes its capped image in process at any
  * size.
  */
object SqliteImporter {

  /** One sheet per user table, column names from the schema. Small files
    * (the common catalog case) decode from ONE whole read — per-page FS
    * opens on a tiny file cost more than the decode. `.sqlite.zst`: the
    * page tree needs random access a zstd stream can't give, so the
    * decoded image materializes through the shared cap reader (a
    * compressed db hiding a larger image refuses). Anything else reads its
    * pages ranged, one page in the heap at a time. */
  def sheets(r: Route): Seq[Sheet] = {
    val src: SqliteParser.Source =
      if (r.zstd)
        SqliteParser.BytesSource(r.bytesCapped.getOrElse(return Nil))
      else {
        val len = try FsIO.len(r.path) catch { case _: Exception => -1L }
        if (len >= 512 && len <= Formats.DriverDecodeBytes)
          SqliteParser.BytesSource(FsIO.readAllBytes(r.path))
        else SqliteParser.PathSource(r.path)
      }
    val h = SqliteParser.header(src).getOrElse(return Nil)
    SqliteParser.tables(src, h).map(t =>
      try sheet(src, h, t, leaves(src, h, t))
      catch { case _: Exception => Sheet(t.name, Nil) })
  }

  /** A batch of one table's leaf pages. A table's first batch starts at
    * row 0 and each later one where the batch before it ends, so the
    * probe fills in every batch's row count. No pages = an unreadable
    * table: width 0, Failed under its name. */
  final case class PageUnit(t: TableMeta, h: Header, pages: Seq[Long],
      override val first: Option[Long], count: Long = -1L) extends SplitUnit {
    def sheet: String = t.name
    def width: Int = if (pages.isEmpty) 0 else t.cols.length
    override def rows: Option[Long] = if (count < 0) None else Some(count)
    override def columns: Option[IndexedSeq[String]] =
      if (pages.isEmpty) None else Some(dedupNames(t.cols))
  }

  /** The big-database road: each table's leaf pages in batches of
    * `batchBytes / pageSize` pages, at least one, and a width-0 unit per
    * unreadable table; a file with no header lists none, so its
    * whole-file decode answers Failed. The probe sums the cell counts in
    * its pages' headers, decoding no record and following no overflow
    * chain; the rows are [[sheets]]' rows. */
  val splitter: Splitter[PageUnit] = Splitter[PageUnit](
    (p, batchBytes) => {
      val src = SqliteParser.PathSource(p)
      SqliteParser.header(src).toSeq.flatMap { h =>
        val per = math.max(1L, math.min(batchBytes / h.pageSize, Int.MaxValue)).toInt
        SqliteParser.tables(src, h).flatMap { t =>
          val pages = try leaves(src, h, t).getOrElse(Nil) catch { case _: Exception => Nil }
          if (pages.isEmpty) Seq(PageUnit(t, h, Nil, Some(0L)))
          else pages.grouped(per).zipWithIndex
            .map { case (ps, i) => PageUnit(t, h, ps, if (i == 0) Some(0L) else None) }
        }
      }
    },
    (p, u) => u.pages.iterator.flatMap(pg =>
      SqliteParser.leafRows(p, u.h, pg).map { case (rid, cs) => cells(u.t, rid, cs) }),
    probe = Some((p, u) => u.copy(count = u.pages.map(SqliteParser.leafCells(p, u.h, _).toLong).sum)))

  /** The table's leaf pages; None = unreadable (WITHOUT ROWID, virtual,
    * corrupt tree). */
  private def leaves(src: SqliteParser.Source, h: Header, t: TableMeta): Option[Seq[Long]] =
    if (t.virtual || t.withoutRowid || t.rootPage < 1 || t.cols.isEmpty) None
    else SqliteParser.leafPages(src, h, t.rootPage)

  /** An unreadable table is an empty sheet: Failed under its name. */
  private def sheet(
      src: SqliteParser.Source, h: Header, t: TableMeta, pages: Option[Seq[Long]]): Sheet =
    pages.fold(Sheet(t.name, Nil)) { ps =>
      Sheet(t.name,
        ps.flatMap(pg => SqliteParser.leafRows(src, h, pg).map { case (rid, cs) => cells(t, rid, cs) }),
        columns = Some(dedupNames(t.cols)))
    }

  /** One row's rendered values; the INTEGER PRIMARY KEY alias answers the
    * rowid where its stored cell is NULL, as SQLite itself does. */
  private def cells(t: TableMeta, rowid: Long, cs: IndexedSeq[Cell]): IndexedSeq[String] =
    IndexedSeq.tabulate(t.cols.length) { i =>
      val c = if (i < cs.length) cs(i) else NullCell
      if (i == t.ipk && c == NullCell) rowid.toString else SqliteParser.render(c)
    }

  /** Schema column names, made non-empty and unique (Spark frames reject
    * duplicate names): empty → positional, later duplicates suffixed. */
  private def dedupNames(cols: IndexedSeq[String]): IndexedSeq[String] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    cols.zipWithIndex.map { case (c0, i) =>
      val c = if (c0.isEmpty) s"c$i" else c0
      if (seen.add(c.toLowerCase)) c
      else {
        var k = s"${c}_$i"
        while (!seen.add(k.toLowerCase)) k = k + "_"
        k
      }
    }
  }
}

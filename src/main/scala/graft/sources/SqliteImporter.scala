package graft.sources

import graft.model.ParserAnswer
import graft.sources.sqlite.SqliteParser
import graft.sources.sqlite.SqliteParser.{Cell, Header, NullCell, TableMeta}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** SQLite database importer — `.sqlite`/`.sqlite3`/`.db` (beyond the
  * reference's extension table, like `.html`/`.docx`: single-file
  * databases are a common exchange format and the file layout is a public
  * spec). One [[ParserAnswer]] per user table (the multi-sheet Excel
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
  * Scale road, xlsx-style: the driver reads ONLY the header and the
  * schema/interior pages (a few ranged reads) to enumerate each table's
  * leaf pages; for databases past a small threshold the leaf decode runs
  * as a Spark job, a task per leaf-page batch, each page fetched with its
  * own ranged read — the database file is never copied, localized, or
  * held whole in any heap. Small files decode on the driver to skip the
  * job overhead.
  */
object SqliteImporter {

  /** Databases at most this big decode from one byte image. */
  private val DriverDecodeBytes = 4L << 20

  /** One sheet per user table, column names from the schema. Small files
    * (the common catalog case) decode from ONE whole read — per-page FS
    * opens on a tiny file cost more than the decode. `.sqlite.zst`: the
    * page tree needs random access a zstd stream can't give, so the
    * decoded image materializes through the shared cap reader (a
    * compressed db hiding a larger image refuses). Anything else reads its
    * pages ranged, one page in the heap at a time. */
  def sheets(r: Route): Seq[Sheet] = {
    val len = plainLen(r)
    val src: SqliteParser.Source =
      if (r.zstd)
        SqliteParser.BytesSource(FsIO.readAllBytesDecodedCapped(r.path).getOrElse(return Nil))
      else if (len >= 512 && len <= DriverDecodeBytes)
        SqliteParser.BytesSource(FsIO.readAllBytes(r.path))
      else SqliteParser.PathSource(r.path)
    val h = SqliteParser.header(src).getOrElse(return Nil)
    SqliteParser.tables(src, h).map(t =>
      try sheet(src, h, t, leaves(src, h, t))
      catch { case _: Exception => Sheet(t.name, Nil) })
  }

  /** The driver road: the decode, except for plain databases past
    * [[DriverDecodeBytes]], whose leaf decode runs as a Spark job — a task
    * per leaf-page batch, each page fetched with its own ranged read; the
    * driver reads only the header and the schema/interior pages, and the
    * database file is never copied, localized, or held whole in any heap. */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val engine = r.format.engine
    if (plainLen(r) <= DriverDecodeBytes)
      return sheets(r).map(Formats.answer(spark, r.path, engine, _))
    val src = SqliteParser.PathSource(r.path)
    val h = SqliteParser.header(src).getOrElse(return Nil)
    SqliteParser.tables(src, h).map { t =>
      try leaves(src, h, t) match {
        case Some(pages) if pages.nonEmpty && h.nPages * h.pageSize.toLong > DriverDecodeBytes =>
          val schema = StructType(dedupNames(t.cols).map(StructField(_, StringType, nullable = true)))
          val path = r.path
          val fsProps = FsIO.captureProps(spark)
          val rdd = spark.sparkContext
            .parallelize(pages, math.min(pages.length, 64))
            .mapPartitions { it =>
              FsIO.install(fsProps) // executor-side hdfs:/s3a: access
              it.flatMap(pg => SqliteParser.leafRows(path, h, pg)
                .map { case (rid, cs) => Row.fromSeq(cells(t, rid, cs)) })
            }
          ParserAnswer(spark.createDataFrame(rdd, schema), r.path,
            sheetName = t.name, engine = engine, knownRowCount = None)
        case pages => Formats.answer(spark, r.path, engine, sheet(src, h, t, pages))
      } catch {
        case _: Exception => Formats.answer(spark, r.path, engine, Sheet(t.name, Nil))
      }
    }
  }

  private def plainLen(r: Route): Long =
    if (r.zstd) -1L else try FsIO.len(r.path) catch { case _: Exception => -1L }

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

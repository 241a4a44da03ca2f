package graft.sources

/** One unit of a big file's split: the rows one task of the split scan
  * decodes (`graft.operators.SplitScan`). */
trait SplitUnit extends Serializable {
  /** The sheet its rows answer under. */
  def sheet: String
  /** Cells per row; rows are null-padded to it. 0 = an empty sheet, which
    * answers one Failed row under its name. */
  def width: Int
  /** The unit's row count, where the index knows it. */
  def rows: Option[Long] = None
  /** Row number of its first row within the sheet; None = where the
    * sheet's previous unit ends, which the split road counts. A unit that
    * starts at row 0 starts a sheet of its own. */
  def first: Option[Long] = Some(0L)
}

/** A sheet of a workbook: `part` locates it in the container (an entry
  * name or a table ordinal); width and row count come from the streaming
  * shape probe. */
final case class SheetUnit(sheet: String, part: String, width: Int = 0, count: Long = 0L)
    extends SplitUnit {
  override def rows: Option[Long] = Some(count)
}

/** A byte range of whole members or frames: `[offset, offset+length)` on
  * disk. A codec form that decodes the range drops `skip` decoded bytes
  * and walks the next `span`. */
final case class RangeUnit(
    sheet: String,
    width: Int,
    offset: Long,
    length: Long,
    override val first: Option[Long],
    skip: Long = 0L,
    span: Long = -1L) extends SplitUnit

/** How a big file of one format and codec splits. `index` lists the
  * file's units, given a target of compressed bytes per ranged unit; it
  * runs inside an executor task. An index that throws answers one Failed
  * row; one that lists no units sends the whole file to the file-grain
  * decode. `probe`, where given, completes one listed unit's shape (a
  * workbook sheet's width and row count) in a task of its own, so the
  * sheets of one workbook probe in parallel; one that throws fails the
  * file like its index. `rows` streams one unit's rows. `zip`: the file
  * is a zip container, so `AnyFile`'s size rule also sums its entries'
  * inflated sizes. */
final case class Splitter[U <: SplitUnit](
    index: (String, Long) => Seq[U],
    rows: (String, U) => Iterator[Seq[String]],
    probe: Option[(String, U) => U] = None,
    zip: Boolean = false) {
  def read(path: String, u: SplitUnit): Iterator[Seq[String]] =
    rows(path, u.asInstanceOf[U])
  def shape(path: String, u: SplitUnit): SplitUnit =
    probe.fold(u)(_(path, u.asInstanceOf[U]))
}

package graft.operators

import java.util

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.operators.BulkIngest.CellRow
import graft.sources.{Formats, FsIO, Route, Sheet, SplitUnit}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one split protocol for big files (`graft.sources.Splitter`, a
  * field of the format registry): one batched executor job indexes every
  * big file of every format into units, a second probes the units of the
  * forms that probe, then one DSv2 scan whose input partitions are those
  * units decodes them on executors, streaming, as [[CellRow]]s. The
  * plan's size does not grow with the number of big files or formats.
  *
  *  - An index that throws answers one Failed row for its file; one that
  *    lists no units, or a form with no splitter, sends the whole file to
  *    the file-grain decode ([[BulkIngest.parseOne]]) inside the scan.
  *  - The probe job runs one task per unit of a form with a `probe` (a
  *    workbook sheet's shape, a text range's widest row and row count, a
  *    page batch's or a frame batch's row count). An open unit starts
  *    where its sheet's previous unit ends; a probe that throws, or a
  *    start that no row count tells, fails the file into one Failed row.
  *  - A sheet is as wide as its widest unit, and its short rows pad with
  *    their unit's `pad` (null; `''` for text). A sheet of width 0 or of
  *    no rows is an empty sheet: one Failed row under its name.
  *
  * Corruption that first shows mid-scan, past the index, fails the query,
  * as a Spark read of a corrupt file does; the index bounds that window
  * to decode-level breakage. */
object SplitScan {

  /** Target compressed bytes per ranged unit for `AnyFile`'s split road. */
  final val BatchBytes: Long = 8L << 20

  /** One input partition of the split scan. */
  sealed trait Work extends InputPartition { def path: String }
  /** A unit, the row number of its first row and its sheet's ordinal in
    * the file; `width` is its sheet's: the widest of the sheet's units,
    * 0 for an empty sheet. */
  final case class Piece(path: String, unit: SplitUnit, first: Long, sheetIdx: Int)(val width: Int)
      extends Work
  /** The whole file, decoded file-grain. */
  final case class Whole(path: String) extends Work
  /** A file whose index or a probe threw, or with a unit whose start no
    * row count tells: one Failed row. */
  final case class Broken(path: String) extends Work

  private val Schema: StructType = Encoders.product[CellRow].schema

  private def splitterOf(path: String) = Formats.route(path).flatMap(_.splitter)

  /** One file's units; None = its index threw. */
  private def index(p: String, batchBytes: Long): Option[Seq[SplitUnit]] =
    try Some(splitterOf(p).fold(Seq.empty[SplitUnit])(_.index(p, batchBytes).toVector))
    catch { case _: Exception => None }

  /** The units the probe job runs, by ordinal: every unit of a form that
    * probes. */
  private def pending(p: String, us: Seq[SplitUnit]): Seq[(Int, SplitUnit)] =
    if (splitterOf(p).exists(_.probe.isDefined)) us.indices.zip(us) else Nil

  /** One unit probed; None = its probe threw. */
  private def probe(p: String, u: SplitUnit): Option[SplitUnit] =
    try Some(splitterOf(p).get.shape(p, u)) catch { case _: Exception => None }

  /** One file's work from its index and its probed units. A unit that
    * starts at row 0 starts the file's next sheet; an open one starts
    * where its sheet's previous unit ends. A sheet is as wide as its
    * widest unit; one whose units count no rows is empty, and answers
    * from its first unit alone. */
  private def work(
      p: String,
      indexed: Option[Seq[SplitUnit]],
      probed: Int => Option[Option[SplitUnit]]): Seq[Work] =
    indexed match {
      case None => Seq(Broken(p))
      case Some(Seq()) => Seq(Whole(p))
      case Some(us) =>
        val done = us.indices.map(i => probed(i).getOrElse(Some(us(i))))
        var sheetIdx = -1
        var end: Option[Long] = Some(0L)
        val placed = done.flatten.zipWithIndex.map { case (u, i) =>
          if (i == 0 || u.first.contains(0L)) { sheetIdx += 1; end = Some(0L) }
          val first = u.first.orElse(end)
          end = for (f <- first; n <- u.rows) yield f + n
          (u, first, sheetIdx)
        }
        if (done.exists(_.isEmpty) || placed.exists(_._2.isEmpty)) Seq(Broken(p))
        else {
          val widths = placed.groupBy(_._3).map { case (s, units) =>
            val rows = units.map(_._1.rows)
            s -> (if (rows.forall(_.contains(0L))) 0 else units.map(_._1.width).max)
          }
          val pieces = placed.map { case (u, first, s) => Piece(p, u, first.get, s)(widths(s)) }
          pieces.zipWithIndex.collect {
            case (w, i) if w.width > 0 || i == 0 || pieces(i - 1).sheetIdx != w.sheetIdx => w
          }
        }
    }

  /** Index every path in one batched executor job, probe the units of the
    * forms that probe in a second, one task per unit, and answer the
    * scan's work, path by path. */
  def plan(spark: SparkSession, paths: Seq[String], batchBytes: Long, parts: Int): Seq[Work] = {
    if (paths.isEmpty) return Nil
    val sc = spark.sparkContext
    val props = FsIO.captureProps(spark)
    val indexed: Map[String, Option[Seq[SplitUnit]]] =
      sc.parallelize(paths, math.max(1, math.min(paths.length, parts))).map { p =>
        FsIO.install(props)
        p -> index(p, batchBytes)
      }.collect().toMap
    val todo = for {
      p <- paths
      us <- indexed(p).toSeq
      (i, u) <- pending(p, us)
    } yield (p, i, u)
    val probed: Map[(String, Int), Option[SplitUnit]] =
      if (todo.isEmpty) Map.empty
      else sc.parallelize(todo, todo.length).map { case (p, i, u) =>
        FsIO.install(props)
        (p, i) -> probe(p, u)
      }.collect().toMap
    paths.flatMap(p => work(p, indexed(p), i => probed.get((p, i))))
  }

  /** One file's split road in process, with no Spark job: the rows the
    * split scan answers for it, unit after unit. */
  private[graft] def local(path: String, batchBytes: Long): Iterator[CellRow] = {
    val us = index(path, batchBytes)
    val probed = us.toSeq.flatMap(pending(path, _)).map { case (i, u) => i -> probe(path, u) }.toMap
    work(path, us, probed.get).iterator.flatMap(w => cells(w)._1)
  }

  /** The work as one DSv2 scan of [[CellRow]]s. */
  def frame(spark: SparkSession, work: Seq[Work]): DataFrame =
    SqlShims.ofRows(spark, DataSourceV2Relation.create(
      new SplitTable(work, FsIO.captureProps(spark)), None, None))

  /** `AnyFile`'s road for a big file whose form splits: one answer per
    * sheet, in index order (same-named tables stay apart), each a scan of
    * that sheet's units with all-string columns (named by its units'
    * `columns`, positional otherwise), the row count where its units know
    * it, and its units' encoding and separator. An empty sheet answers
    * its named columns and no rows, Failed, as in process. A whole-file
    * index answers the in-process decode. */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val engine = r.format.engine
    plan(spark, Seq(r.path), BatchBytes, spark.sparkContext.defaultParallelism) match {
      case Seq(Broken(_)) => Nil
      case Seq(Whole(_)) => Formats.decoded(spark, r)
      case work =>
        val sheets = work.collect { case p: Piece => p }.groupBy(_.sheetIdx).toSeq.sortBy(_._1)
        sheets.map { case (_, sheet) =>
          val u = sheet.head.unit
          val width = sheet.head.width
          if (width == 0) Formats.answer(spark, r.path, engine, Sheet(u.sheet, Nil, columns = u.columns))
          else {
            val counts = sheet.map(_.unit.rows)
            val names = u.columns.getOrElse((0 until width).map(_.toString))
            ParserAnswer(
              frame(spark, sheet).select((0 until width).map(i => col("cells")(i).as(names(i))): _*),
              r.path, sheetName = u.sheet,
              encoding = u.encoding.getOrElse(ParserAnswer.EncodingDefault),
              separator = u.separator.getOrElse(ParserAnswer.SeparatorDefault),
              engine = engine,
              knownRowCount = if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None)
          }
        }
    }
  }

  /** One unit's rows, and the source to close when a reader stops early. */
  private def cells(w: Work): (Iterator[CellRow], Option[Iterator[_]]) = {
    val engine = Formats.route(w.path).fold("")(_.format.engine)
    w match {
      case Whole(path) => (BulkIngest.parseOne(path).iterator, None)
      case Broken(path) => (Iterator(BulkIngest.failedRow(path, engine)), None)
      case p @ Piece(path, u, _, sheetIdx) if p.width == 0 =>
        (Iterator(BulkIngest.failedRow(path, engine, u.sheet, sheetIdx)), None)
      case p @ Piece(path, u, first, sheetIdx) =>
        val src = splitterOf(path).get.read(path, u)
        var idx = first - 1
        (src.map { r =>
          idx += 1
          CellRow(path, engine, u.sheet, sheetIdx, "OK", idx, r.padTo(p.width, u.pad))
        }, Some(src))
    }
  }

  private final class SplitTable(work: Seq[Work], props: Map[String, String])
      extends Table with SupportsRead {
    override def name(): String = s"split(${work.map(_.path).distinct.length} files)"
    override def schema(): StructType = Schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () =>
      new Scan with Batch {
        override def readSchema(): StructType = Schema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = work.toArray
        override def createReaderFactory(): PartitionReaderFactory = new WorkReaderFactory(props)
      }
  }

  private final class WorkReaderFactory(props: Map[String, String])
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      FsIO.install(props)
      val (rows, src) = cells(p.asInstanceOf[Work])
      new CellReader(rows, src)
    }
  }

  private final class CellReader(rows: Iterator[CellRow], src: Option[Iterator[_]])
      extends PartitionReader[InternalRow] {
    private var current: InternalRow = _
    private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)

    override def next(): Boolean = rows.hasNext && {
      val r = rows.next()
      current = InternalRow(utf8(r.path), utf8(r.engine), utf8(r.sheet), r.sheet_idx,
        utf8(r.parse_info), r.row_idx, new GenericArrayData(r.cells.map(utf8).toArray[Any]))
      true
    }
    override def get(): InternalRow = current
    override def close(): Unit = src.foreach {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }
}

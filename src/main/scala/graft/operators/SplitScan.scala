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
  * big file of every format into units, a second resolves the units
  * that need it, then one DSv2 scan whose input partitions are those
  * units decodes them on executors, streaming, as [[CellRow]]s. The
  * plan's size does not grow with the number of big files or formats.
  *
  *  - An index that throws answers one Failed row for its file; one that
  *    lists no units, or a form with no splitter, sends the whole file to
  *    the file-grain decode ([[BulkIngest.parseOne]]) inside the scan.
  *  - The resolve job runs one task per unit that needs one: the form's
  *    `probe` (a workbook sheet's shape), and the row count of a unit
  *    whose sheet has a unit with an open first row, which then starts
  *    where its sheet's previous unit ends. A probe or count that throws
  *    fails the file into one Failed row.
  *  - A unit of width 0 is an empty sheet: one Failed row under its name.
  *
  * Corruption that first shows mid-scan, past the index, fails the query,
  * as a Spark read of a corrupt file does; the index bounds that window
  * to decode-level breakage. */
object SplitScan {

  /** Target compressed bytes per ranged unit for `AnyFile`'s split road. */
  final val BatchBytes: Long = 8L << 20

  /** One input partition of the split scan. */
  sealed trait Work extends InputPartition { def path: String }
  /** A unit and the row number of its first row. */
  final case class Piece(path: String, unit: SplitUnit, first: Long) extends Work
  /** The whole file, decoded file-grain. */
  final case class Whole(path: String) extends Work
  /** A file whose index, probe or count threw: one Failed row. */
  final case class Broken(path: String) extends Work

  private val Schema: StructType = Encoders.product[CellRow].schema

  private def splitterOf(path: String) = Formats.route(path).flatMap(_.splitter)

  private def batched[T: scala.reflect.ClassTag](spark: SparkSession, xs: Seq[T], parts: Int) =
    spark.sparkContext.parallelize(xs, math.max(1, math.min(xs.length, parts)))

  /** One file's units; None = its index threw. */
  private def index(p: String, batchBytes: Long): Option[Seq[SplitUnit]] =
    try Some(splitterOf(p).fold(Seq.empty[SplitUnit])(_.index(p, batchBytes).toVector))
    catch { case _: Exception => None }

  /** The units the resolve job runs, by ordinal, each with whether its
    * row count is needed: in a sheet with an open first row, every unit
    * but the last, after which nothing starts. */
  private def pending(p: String, us: Seq[SplitUnit]): Seq[(Int, SplitUnit, Boolean)] = {
    val probes = splitterOf(p).exists(_.probe.isDefined)
    val open = us.filter(_.first.isEmpty).map(_.sheet).toSet
    val last = us.zipWithIndex.map { case (u, i) => u.sheet -> i }.toMap
    us.zipWithIndex.map { case (u, i) => (i, u, open(u.sheet) && i != last(u.sheet)) }
      .filter { case (_, u, count) => probes || (count && u.rows.isEmpty) }
  }

  /** One unit resolved: its shape probed and, where needed and unknown,
    * its rows counted; None = either threw. */
  private def resolve(p: String, u: SplitUnit, count: Boolean): Option[(SplitUnit, Option[Long])] =
    try {
      val s = splitterOf(p).get
      val v = s.shape(p, u)
      Some(v -> (if (count && v.rows.isEmpty) Some(drain(s.read(p, v))) else None))
    } catch { case _: Exception => None }

  private def drain(it: Iterator[_]): Long =
    try { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n }
    finally it match { case c: java.io.Closeable => c.close(); case _ => }

  /** One file's work from its index and its resolved units. */
  private def work(
      p: String,
      indexed: Option[Seq[SplitUnit]],
      resolved: Int => Option[Option[(SplitUnit, Option[Long])]]): Seq[Work] =
    indexed match {
      case None => Seq(Broken(p))
      case Some(Seq()) => Seq(Whole(p))
      case Some(us) =>
        val done = us.indices.map(i => resolved(i).getOrElse(Some(us(i) -> None)))
        if (done.exists(_.isEmpty)) Seq(Broken(p))
        else {
          var end = Map.empty[String, Long]
          done.flatten.map { case (u, counted) =>
            val first = u.first.getOrElse(end.getOrElse(u.sheet, 0L))
            u.rows.orElse(counted).foreach(n => end += u.sheet -> (first + n))
            Piece(p, u, first)
          }
        }
    }

  /** Index every path in one batched executor job, resolve the units
    * that need it in a second, and answer the scan's work, path by path. */
  def plan(spark: SparkSession, paths: Seq[String], batchBytes: Long, parts: Int): Seq[Work] = {
    if (paths.isEmpty) return Nil
    val props = FsIO.captureProps(spark)
    val indexed: Map[String, Option[Seq[SplitUnit]]] = batched(spark, paths, parts).map { p =>
      FsIO.install(props)
      p -> index(p, batchBytes)
    }.collect().toMap
    val todo = for {
      p <- paths
      us <- indexed(p).toSeq
      (i, u, count) <- pending(p, us)
    } yield (p, i, u, count)
    val resolved: Map[(String, Int), Option[(SplitUnit, Option[Long])]] =
      if (todo.isEmpty) Map.empty
      else batched(spark, todo, parts).map { case (p, i, u, count) =>
        FsIO.install(props)
        (p, i) -> resolve(p, u, count)
      }.collect().toMap
    paths.flatMap(p => work(p, indexed(p), i => resolved.get((p, i))))
  }

  /** One file's split road in process, with no Spark job: the rows the
    * split scan answers for it, unit after unit. */
  private[graft] def local(path: String, batchBytes: Long): Iterator[CellRow] = {
    val us = index(path, batchBytes)
    val resolved = us.toSeq.flatMap(pending(path, _))
      .map { case (i, u, count) => i -> resolve(path, u, count) }.toMap
    work(path, us, resolved.get).iterator.flatMap(w => cells(w)._1)
  }

  /** The work as one DSv2 scan of [[CellRow]]s. */
  def frame(spark: SparkSession, work: Seq[Work]): DataFrame =
    SqlShims.ofRows(spark, DataSourceV2Relation.create(
      new SplitTable(work, FsIO.captureProps(spark)), None, None))

  /** `AnyFile`'s road for a big file whose form splits: one answer per
    * sheet, in index order (a sheet starts at every unit whose first row
    * is 0, so same-named tables stay apart), each a scan of that sheet's
    * units with positional all-string columns and the row count where
    * the index knows it. A whole-file index answers the in-process
    * decode. */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val engine = r.format.engine
    plan(spark, Seq(r.path), BatchBytes, spark.sparkContext.defaultParallelism) match {
      case Seq(Broken(_)) => Nil
      case Seq(Whole(_)) => Formats.decoded(spark, r)
      case work =>
        val pieces = work.collect { case p: Piece => p }
        val sheets = pieces.foldLeft(Vector.empty[Vector[Piece]]) { (acc, p) =>
          if (acc.isEmpty || p.unit.first.contains(0L)) acc :+ Vector(p)
          else acc.init :+ (acc.last :+ p)
        }
        sheets.map { sheet =>
          val name = sheet.head.unit.sheet
          val width = sheet.head.unit.width
          if (width == 0) Formats.answer(spark, r.path, engine, Sheet(name, Nil))
          else {
            val counts = sheet.map(_.unit.rows)
            ParserAnswer(
              frame(spark, sheet).select((0 until width).map(i => col("cells")(i).as(i.toString)): _*),
              r.path, sheetName = name, engine = engine,
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
      case Piece(path, u, _) if u.width == 0 =>
        (Iterator(BulkIngest.failedRow(path, engine, u.sheet)), None)
      case Piece(path, u, first) =>
        val src = splitterOf(path).get.read(path, u)
        var idx = first - 1
        (src.map { r =>
          idx += 1
          CellRow(path, engine, u.sheet, "OK", idx, r.padTo(u.width, null))
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
      current = InternalRow(utf8(r.path), utf8(r.engine), utf8(r.sheet), utf8(r.parse_info),
        r.row_idx, new GenericArrayData(r.cells.map(utf8).toArray[Any]))
      true
    }
    override def get(): InternalRow = current
    override def close(): Unit = src.foreach {
      case c: java.io.Closeable => c.close()
      case _ =>
    }
  }
}

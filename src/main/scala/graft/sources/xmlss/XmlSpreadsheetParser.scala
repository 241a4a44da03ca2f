package graft.sources.xmlss

import java.io.StringReader
import javax.xml.stream.XMLStreamConstants._
import javax.xml.stream.XMLStreamReader

import graft.sources.StaxUtil

import scala.collection.mutable.ArrayBuffer

/** Pure MS SpreadsheetML parser — the reference's `ImportXML` — with no
  * Spark dependencies, so it runs in process and inside executor tasks
  * (the split scan's table index and per-table units).
  *
  * Semantics per reference `main.py:268-324`:
  *  - namespace `urn:schemas-microsoft-com:office:spreadsheet`; `Worksheet`
  *    nodes anywhere in the tree (`.//` search, `main.py:280`), each
  *    worksheet's `Table` descendants one frame each (`main.py:284-291`).
  *  - fallback when no `Worksheet` exists: `Table` nodes under the root,
  *    sheet name `"Not defined"` (`main.py:293-304`); neither → a single
  *    Failed answer (`main.py:305-307`).
  *  - a `Row` contributes a frame row only if it has ≥1 `Data` descendant
  *    (`main.py:316-323`); ragged rows null-pad to the widest row, columns
  *    positional and all-string; empty `Data` elements become null.
  *  - lenient parsing (`recover=True` parity, `main.py:276`): strict parse
  *    first, then a recovery pass (escape bare `&`, drop control chars).
  *
  * Streaming design: both the shape probe ([[tableShapes]] — one pass over
  * the whole document, O(1) row memory) and the row decode
  * ([[XmlssRowIterator]] — one row at a time) run on a StAX cursor; the
  * previous whole-document DOM was the ingestion layer's memory limiter.
  * Lenient recovery (`recover=True` parity): a strict streaming parse is
  * attempted first; on a well-formedness error the whole file is read,
  * cleaned (bare `&` escaped, control chars dropped) and re-streamed from
  * memory — recovery therefore materializes the broken file once, while
  * the well-formed fast path never does.
  *
  * Simplification vs the old DOM walk: pathological nestings (Table inside
  * Table, Data inside Data) are counted once, not once per ancestor level;
  * no real SpreadsheetML writer emits those.
  */
object XmlSpreadsheetParser {

  val Ns = "urn:schemas-microsoft-com:office:spreadsheet"

  /** One logical table: position within the chosen mode, sheet name, and
    * its streamed shape. */
  final case class TableShape(
      index: Int, sheetName: String, width: Int, rows: Long)

  /** Tables in document order with shapes, plus the mode that selected
    * them: `worksheet` (≥1 Worksheet exists → only tables under worksheets
    * count, `main.py:280-291`) or `standalone` (no Worksheet anywhere →
    * bare tables, sheet `"Not defined"`, `main.py:293-304`). Throws on
    * unrecoverably malformed input. */
  def tableShapes(path: String): (String, Seq[TableShape]) = {
    val raw = withRecovery(path)(collectShapes)
    val wsTables = raw.filter(!_._1)
    val chosen = if (wsTables.nonEmpty) wsTables else raw
    val mode = if (wsTables.nonEmpty) "worksheet" else "standalone"
    (mode, chosen.zipWithIndex.map { case ((_, name, w, n), i) =>
      TableShape(i, name, w, n)
    })
  }

  /** Run `body` on a strict stream of the file; on a stream error retry
    * once on the cleaned content (lxml `recover=True` parity). */
  private def withRecovery[A](path: String)(body: XMLStreamReader => A): A = {
    val strict =
      try {
        val in = graft.sources.FsIO.open(path)
        try Right(body(StaxUtil.reader(in)))
        finally in.close()
      } catch { case e: Exception => Left(e) }
    strict match {
      case Right(a) => a
      case Left(_)  => body(StaxUtil.reader(new StringReader(cleanedContent(path))))
    }
  }

  private[xmlss] def cleanedContent(path: String): String = {
    val raw = new String(graft.sources.FsIO.readAllBytes(path), "UTF-8")
    raw
      .replaceAll("&(?!(?:amp|lt|gt|quot|apos|#\\d+|#x[0-9a-fA-F]+);)", "&amp;")
      .replaceAll("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]", "")
  }

  /** One streaming pass: (standalone?, sheetName, width, rows) per table in
    * document order. */
  private def collectShapes(
      r: XMLStreamReader): Seq[(Boolean, String, Int, Long)] = {
    val out = ArrayBuffer.empty[(Boolean, String, Int, Long)]
    var wsNames = List.empty[String]
    var tableDepth = 0
    var rowDepth = 0
    var inData = false
    // current table accumulators
    var standalone = false
    var name = ""
    var width = 0
    var rows = 0L
    var rowCells = 0
    try {
      while (r.hasNext) {
        r.next() match {
          case START_ELEMENT if r.getNamespaceURI == Ns =>
            r.getLocalName match {
              case "Worksheet" =>
                wsNames = Option(r.getAttributeValue(Ns, "Name"))
                  .getOrElse("None") :: wsNames
              case "Table" =>
                tableDepth += 1
                if (tableDepth == 1) {
                  standalone = wsNames.isEmpty
                  name = wsNames.headOption.getOrElse("Not defined")
                  width = 0; rows = 0L
                }
              case "Row" if tableDepth >= 1 =>
                rowDepth += 1
                if (rowDepth == 1) rowCells = 0
              case "Data" if rowDepth >= 1 && !inData =>
                inData = true
                rowCells += 1
              case _ =>
            }
          case END_ELEMENT if r.getNamespaceURI == Ns =>
            r.getLocalName match {
              case "Worksheet" =>
                if (wsNames.nonEmpty) wsNames = wsNames.tail
              case "Table" =>
                tableDepth -= 1
                if (tableDepth == 0) out += ((standalone, name, width, rows))
              case "Row" if rowDepth >= 1 =>
                rowDepth -= 1
                if (rowDepth == 0 && rowCells > 0) {
                  rows += 1
                  if (rowCells > width) width = rowCells
                }
              case "Data" => inData = false
              case _ =>
            }
          case _ =>
        }
      }
      out.toSeq
    } finally r.close()
  }
}

/** Streaming rows of ONE table, selected by (mode, ordinal within mode).
  * Strict StAX first; if the stream breaks mid-way the iterator restarts on
  * the cleaned in-memory content and skips the rows it already emitted (the
  * prefix before the break parses identically — the cleanup only repairs
  * the constructs the strict parser chokes on).
  */
final class XmlssRowIterator(path: String, worksheetMode: Boolean, targetIdx: Int)
    extends Iterator[Seq[String]] with java.io.Closeable {

  private var in: java.io.Closeable = _
  private var reader: XMLStreamReader = openStrict()
  private var recovered = false
  private var emitted = 0L
  private var queued: Seq[String] = _
  private var done = false

  // walk state (reset on recovery restart)
  private var wsDepth = 0
  private var tableDepth = 0
  private var seenInMode = -1
  private var inTarget = false
  private var rowDepth = 0
  private var cells: ArrayBuffer[String] = _
  private var dataDepth = 0
  private var sawDataChild = false
  private val text = new StringBuilder
  private var toSkip = 0L

  private def openStrict(): XMLStreamReader = {
    val s = graft.sources.FsIO.open(path)
    in = s
    StaxUtil.reader(s)
  }

  private def resetWalkState(): Unit = {
    wsDepth = 0; tableDepth = 0; seenInMode = -1; inTarget = false
    rowDepth = 0; cells = null; dataDepth = 0; sawDataChild = false
    text.clear()
  }

  override def hasNext: Boolean = queued != null || (!done && fetch())

  override def next(): Seq[String] = {
    if (!hasNext) throw new NoSuchElementException("table exhausted")
    val q = queued; queued = null
    emitted += 1
    q
  }

  private def fetch(): Boolean = {
    try fetchFrom()
    catch {
      case e: Exception if !recovered =>
        // recovery path: restart on cleaned content, skip emitted rows
        recovered = true
        close(closeOnly = true)
        done = false
        reader = StaxUtil.reader(
          new StringReader(XmlSpreadsheetParser.cleanedContent(path)))
        in = null
        resetWalkState()
        toSkip = emitted
        try fetchFrom()
        catch { case _: Exception => close(); throw e }
    }
  }

  private def fetchFrom(): Boolean = {
    val r = reader
    val Ns = XmlSpreadsheetParser.Ns
    while (r.hasNext) {
      r.next() match {
        case START_ELEMENT if r.getNamespaceURI == Ns =>
          r.getLocalName match {
            case "Worksheet" => wsDepth += 1
            case "Table" =>
              tableDepth += 1
              if (tableDepth == 1) {
                val standalone = wsDepth == 0
                if (standalone != worksheetMode) {
                  seenInMode += 1
                  inTarget = seenInMode == targetIdx
                }
              }
            case "Row" if inTarget =>
              rowDepth += 1
              if (rowDepth == 1) cells = ArrayBuffer.empty
            case "Data" if rowDepth >= 1 && dataDepth == 0 =>
              dataDepth = 1
              sawDataChild = false
              text.clear()
            case _ if dataDepth >= 1 =>
              dataDepth += 1
              sawDataChild = true
            case _ =>
          }
        case START_ELEMENT if dataDepth >= 1 =>
          dataDepth += 1
          sawDataChild = true
        case CHARACTERS | CDATA if dataDepth >= 1 =>
          sawDataChild = true
          text.append(r.getText)
        case END_ELEMENT if r.getNamespaceURI == Ns =>
          r.getLocalName match {
            case "Worksheet" => if (wsDepth > 0) wsDepth -= 1
            case "Table" =>
              tableDepth -= 1
              if (tableDepth == 0 && inTarget) {
                // target fully read — drain nothing further
                inTarget = false
                close()
                return false
              }
            case "Row" if inTarget && rowDepth >= 1 =>
              rowDepth -= 1
              if (rowDepth == 0) {
                if (cells.nonEmpty) { // zero-Data rows skipped (main.py:320)
                  if (toSkip > 0) toSkip -= 1
                  else { queued = cells.toSeq; cells = null; return true }
                }
                cells = null
              }
            case "Data" if dataDepth >= 1 =>
              dataDepth -= 1
              if (dataDepth == 0 && rowDepth >= 1 && cells != null)
                cells += (if (sawDataChild) text.toString else null)
            case _ if dataDepth >= 1 => dataDepth -= 1 // nested elem in Data
            case _ =>
          }
        case END_ELEMENT if dataDepth >= 1 =>
          dataDepth -= 1
        case _ =>
      }
    }
    close()
    false
  }

  private def close(closeOnly: Boolean): Unit = {
    try if (reader != null) reader.close() catch { case _: Exception => () }
    try if (in != null) in.close() catch { case _: Exception => () }
    if (!closeOnly) done = true
  }

  override def close(): Unit = close(closeOnly = false)
}

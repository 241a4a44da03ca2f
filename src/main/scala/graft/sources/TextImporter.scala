package graft.sources

import java.util.regex.Pattern

import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Plain-text / CSV importer — the reference's `ImportText`
  * (reference `main.py:327-368`). One law ([[law]]) over two roads,
  * chosen by size ([[Formats.answers]]): a file of at most
  * [[Formats.DriverDecodeBytes]] (decoded, for a codec form) answers
  * [[sheets]] in process; a bigger one, and a big file of the bulk road,
  * splits through the format's [[splitters]] into the one split scan
  * (`graft.operators.SplitScan`).
  *
  * Reference pipeline (3 full passes over the file, all in driver memory):
  *   1. whole-file read for encoding detection (`main.py:334`)
  *   2. whole-file read × 15 for delimiter voting (`main.py:336`)
  *   3. pass for max split arity (`main.py:337` → `360-368`)
  *   4. pass building the frame: per line `strip('\n').strip('\t')` →
  *      `split(delimiter)` → per-cell `strip('"').strip("'")` → right-pad
  *      with `''` to max arity (`main.py:339-351`)
  *
  * Split shape (past 4 MiB): one index task sniffs both from one bounded
  * prefix ([[Sniffers]]) and lists the units; one probe job counts each
  * unit's rows and finds its widest, so the arity and the row count cost
  * one parallel pass; the scan then streams each unit's rows, padded to
  * the widest unit, so no task and no driver holds more than one line of
  * a big file.
  *
  * Observable parity choices:
  *   - lines cut on `\n` only (Python `readlines` splits on `\n` only, so
  *     a `\r` stays in the last cell of CRLF files — reproduced here).
  *   - cells split with trailing empties preserved (Python `str.split`).
  *   - quote stripping removes *runs* of leading/trailing `"` first, then
  *     `'` — literal char stripping, not CSV quote parsing (`main.py:348`).
  *   - all columns `StringType`, named by ordinal position `0..n-1`
  *     (pandas `from_dict(dtype=str)` positional columns, `main.py:351`).
  */
object TextImporter {

  /** Fixed multi-char delimiter for `.ant` files (`main.py:153-154`). */
  val AntDelimiter = "~~@~~"

  // `\z`, not `$`: Java's `$` also matches before a final line
  // terminator, so `"y"\r` would lose its quote where Python keeps it
  private val TabRuns = Pattern.compile("^\t+|\t+\\z")
  private val DoubleQuoteRuns = Pattern.compile("^\"+|\"+\\z")
  private val SingleQuoteRuns = Pattern.compile("^'+|'+\\z")

  /** `s` without the runs `runs` matches; a string without `c` has none. */
  private def strip(s: String, c: Char, runs: Pattern): String =
    if (s.indexOf(c) < 0) s else runs.matcher(s).replaceAll("")

  /** The text law for one line under `delimiter`, both roads' one cell
    * decode: strip the line's leading and trailing tab runs, split on the
    * delimiter keeping trailing empties, then strip each cell's `"` runs,
    * then its `'` runs. Rows are padded by the caller, to the sheet's
    * widest row. */
  def law(delimiter: String): String => IndexedSeq[String] = {
    // one character takes `String.split`'s regex-free path (a matcher per
    // line took 1.7x its time), escaped where it is a metacharacter; a
    // longer delimiter one literal pattern
    val char = if (".$|()[{^?*+\\".contains(delimiter)) "\\" + delimiter else delimiter
    val literal = Pattern.compile(delimiter, Pattern.LITERAL)
    def split(s: String) = if (delimiter.length == 1) s.split(char, -1) else literal.split(s, -1)
    line => split(strip(line, '\t', TabRuns)).toIndexedSeq
      .map(c => strip(strip(c, '"', DoubleQuoteRuns), '\'', SingleQuoteRuns))
  }

  /** The in-process decode, which the bulk road also runs in one task:
    * the delimiter voted from the decoded bytes (unless the format fixes
    * it), each line through [[law]], rows right-padded with `''` to the
    * file's max arity. The sheet carries the encoding and the delimiter
    * sniffed from the bytes read (their head is the prefix the split
    * road's index sniffs), so the file is read once. */
  def sheets(r: Route, delimiter: Option[String]): Seq[Sheet] = {
    // decoded bytes: codec-suffixed files (x.csv.gz) inflate inline
    val bytes = r.bytes
    val delim = delimiter.getOrElse(Sniffers.detectDelimiter(bytes))
    // UTF-8 explicitly, as the split road decodes its lines: the
    // detected encoding is reported, not applied (`main.py:339`)
    val lines = OwnedLines.of(bytes)
    if (lines.isEmpty) return Nil
    val cells = lines.map(law(delim))
    val arity = cells.map(_.length).max
    Seq(Sheet(r.format.sheet, cells.map(_.padTo(arity, "")),
      encoding = Some(Sniffers.detectEncoding(bytes).getOrElse("None")),
      separator = Some(delim)))
  }

  /** A text format's big-file road, one splitter per codec: a plain file
    * splits into byte ranges of the batch size, `.zst`/`.zstd` into frame
    * batches, and `.gz`/`.bz2`, which have no random access, read as one
    * unit. The index, one task, sniffs the delimiter (unless the format
    * fixes it) and the encoding from the decoded head, the prefix the
    * in-process decode sniffs; an empty head lists no units, so the
    * whole-file decode answers Failed. A unit's rows are the lines it owns
    * ([[OwnedLines]]) through [[law]]. */
  def splitters(sheet: String, delimiter: Option[String]): Map[String, Splitter[TextUnit]] = {
    def splitter(ranges: (String, Long) => Seq[(Long, Long)])(
        lines: (String, TextUnit, String => IndexedSeq[String]) => OwnedLines[IndexedSeq[String]]) = {
      def rows(p: String, u: TextUnit) = lines(p, u, law(u.sep))
      Splitter[TextUnit](
        (p, batchBytes) => {
          val head = FsIO.readHeadDecoded(p, Sniffers.SampleBytes)
          if (head.isEmpty) Nil
          else {
            val delim = delimiter.getOrElse(Sniffers.detectDelimiter(head))
            val enc = Sniffers.detectEncoding(head).getOrElse("None")
            ranges(p, batchBytes).map { case (off, len) => TextUnit(sheet, off, len, delim, enc) }
          }
        },
        rows,
        probe = Some { (p, u) =>
          val it = rows(p, u)
          var (width, count) = (0, 0L)
          try it.foreach { r => width = math.max(width, r.length); count += 1 }
          finally it.close()
          u.copy(width = width, count = count)
        })
    }
    def ranged(zstd: Boolean)(p: String, u: TextUnit, row: String => IndexedSeq[String]) =
      OwnedLines.range(p, u.offset, u.length, zstd)(row)
    val plain = splitter { (p, batchBytes) =>
      val len = FsIO.len(p)
      (0L until len by batchBytes).map(o => (o, math.min(batchBytes, len - o)))
    }(ranged(zstd = false))
    val zstd = splitter((p, batchBytes) => graft.sources.zstd.ZstdFrames.frameBatches(p, batchBytes)
      .map(b => (b.offset, b.length)))(ranged(zstd = true))
    val whole = splitter((p, _) => Seq((0L, FsIO.len(p))))((p, _, row) => OwnedLines.whole(p)(row))
    Map("" -> plain, ".gz" -> whole, ".bz2" -> whole, ".zst" -> zstd, ".zstd" -> zstd)
  }

  /** All-string positional schema shared by the text-like regime readers. */
  def positionalSchema(n: Int): StructType =
    StructType((0 until n).map(i => StructField(i.toString, StringType, nullable = true)))
}

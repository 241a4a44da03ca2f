package graft.sources

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import graft.model.ParserAnswer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Plain-text / CSV importer — the reference's `ImportText`
  * (reference `main.py:327-368`). Two roads, chosen by size
  * ([[Formats.answers]]): a file of at most [[Formats.DriverDecodeBytes]]
  * (decoded, for a codec form) answers [[sheets]] in process; a bigger one
  * takes the Spark plan of [[answers]].
  *
  * Reference pipeline (3 full passes over the file, all in driver memory):
  *   1. whole-file read for encoding detection (`main.py:334`)
  *   2. whole-file read × 15 for delimiter voting (`main.py:336`)
  *   3. pass for max split arity (`main.py:337` → `360-368`)
  *   4. pass building the frame: per line `strip('\n').strip('\t')` →
  *      `split(delimiter)` → per-cell `strip('"').strip("'")` → right-pad
  *      with `''` to max arity (`main.py:339-351`)
  *
  * Spark shape (past 4 MiB): the two sniffs read one bounded driver-side
  * prefix ([[Sniffers]]); arity+count is ONE Spark aggregate job over the
  * partitioned file scan; the padded projection is a lazy, codegen-friendly
  * `select` — so a 1 TB text file parses with a single distributed pass plus
  * whatever action the caller runs, instead of four driver-memory passes.
  *
  * Observable parity choices:
  *   - `lineSep` pinned to `\n` (Python `readlines` splits on `\n` only, so
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

  /** The Spark road for files past [[Formats.DriverDecodeBytes]];
    * `delimiter` = None sniffs it. */
  def answers(spark: SparkSession, r: Route, delimiter: Option[String]): Seq[ParserAnswer] = {
    val filePath = r.path
    val delim = delimiter.getOrElse(Sniffers.detectDelimiter(filePath))

    // `.zst`/`.zstd` ride the graft-zstd-lines DSv2 source (zstd-jni;
    // Spark's native text scan needs Hadoop's native zstd library) —
    // same `value` column, same \n-only line law, executor-side decode
    val rawLines =
      if (r.zstd)
        spark.read.format("graft-zstd-lines").load(filePath)
      else spark.read.option("lineSep", "\n").text(filePath)
    val lines = rawLines
      // strip('\n').strip('\t') parity: remove leading/trailing tab runs
      // (the \n is already consumed by the line reader)
      .select(
        regexp_replace(regexp_replace(col("value"), "^\t+", ""), "\t+$", "")
          .as("line")
      )
      .select(split(col("line"), Pattern.quote(delim)).as("cells"))

    // Job 1: max arity + row count in a single aggregate (the reference's
    // dedicated `max_cols_in_rows` pass, main.py:360-368, fused with the
    // row count so ParserAnswer.parseInfo needs no second job).
    val stats = lines.agg(
      max(size(col("cells"))).as("arity"),
      count(lit(1)).as("rows")
    ).head()
    val rowCount = stats.getLong(1)
    if (rowCount == 0L) return Nil
    val arity = stats.getInt(0)

    // Lazy padded projection: ordinal columns, quote-stripped, ''-padded.
    val projected = lines.select(
      (0 until arity).map { i =>
        // try_element_at: out-of-range reads are the NORM for ragged rows
        // (plain element_at throws under Spark 4's default ANSI mode)
        val cell = try_element_at(col("cells"), lit(i + 1))
        val dq = regexp_replace(cell, "^\"+|\"+$", "")
        val sq = regexp_replace(dq, "^'+|'+$", "")
        coalesce(sq, lit("")).as(i.toString)
      }: _*
    )

    Seq(
      ParserAnswer(
        data = projected,
        filePathRaw = filePath,
        sheetName = r.format.sheet,
        encoding = encodingOf(filePath),
        separator = delim,
        engine = r.format.engine,
        knownRowCount = Some(rowCount)
      )
    )
  }

  /** The pure decode the bulk road runs in one task and `AnyFile` runs in
    * process for files of at most [[Formats.DriverDecodeBytes]]: the
    * reference's three-pass text pipeline over the decoded bytes —
    * delimiter vote, line-end `\t` strip, literal-quote strip, right-pad
    * with `''` to the file's max arity (`main.py:327-358` semantics;
    * [[answers]] is the Spark-plan twin for bigger files). The sheet
    * carries the encoding and the delimiter sniffed from the bytes read
    * (their head is the prefix [[answers]] sniffs), so the file is read
    * once. */
  def sheets(r: Route, delimiter: Option[String]): Seq[Sheet] = {
    // decoded bytes: codec-suffixed files (x.csv.gz) inflate inline, the
    // same bytes the Spark text scan sees
    val bytes = r.bytes
    val delim = delimiter.getOrElse(Sniffers.detectDelimiter(bytes))
    // UTF-8 explicitly: the Spark road reads through spark.read.text
    // (always UTF-8); decoding with the executor JVM's default charset
    // would silently diverge on non-UTF-8 locales.
    val raw = new String(bytes, StandardCharsets.UTF_8)
    val lines = raw.split("\n", -1).toSeq match {
      case init :+ "" => init // trailing newline: no phantom last row
      case ls => ls
    }
    if (lines.isEmpty) return Nil
    val splitter = Pattern.compile(Pattern.quote(delim))
    val cells = lines.map { l =>
      val stripped = l.replaceAll("^\t+", "").replaceAll("\t+$", "")
      splitter.split(stripped, -1).toIndexedSeq
        .map(c => c.replaceAll("^\"+|\"+$", "").replaceAll("^'+|'+$", ""))
    }
    val arity = cells.map(_.length).max
    Seq(Sheet(r.format.sheet, cells.map(_.padTo(arity, "")),
      encoding = Some(Sniffers.detectEncoding(bytes).getOrElse("None")),
      separator = Some(delim)))
  }

  /** The sniffed encoding, `"None"` when there is none. */
  private def encodingOf(path: String): String =
    Sniffers.detectEncoding(path).getOrElse("None")

  /** All-string positional schema shared by the text-like regime readers. */
  def positionalSchema(n: Int): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      (0 until n).map(i =>
        org.apache.spark.sql.types
          .StructField(i.toString, org.apache.spark.sql.types.StringType, nullable = true)
      )
    )
}

package graft.model

import org.apache.spark.sql.DataFrame

/** Result of parsing one "sheet" (worksheet / table / page group) of a file.
  *
  * Mirrors the reference's `ParserAnswer` (reference `main.py:78-115`):
  * a frame plus provenance metadata. Field defaults reproduce the reference's
  * observable semantics exactly (`main.py:97-103`):
  *
  *  - `filePath` is always absolutized (`main.py:51-57`).
  *  - `engine` defaults to `"Not used"` (`main.py:99`).
  *  - `encoding` defaults to `"not applied"` (`main.py:100`).
  *  - `separator` defaults to `"format defined"` (`main.py:101`).
  *  - `parseInfo` is *derived*, never caller-supplied: `"Failed"` iff the
  *    frame is empty, else `"OK"` (`main.py:103` recomputes it even though
  *    importers pass `parse_info="OK"`). We compute it lazily so constructing
  *    an answer never triggers a Spark job — the plan stays declarative and
  *    the row-count job only runs if the caller actually asks for status.
  *
  * Which `data` a file gets depends on its size
  * ([[graft.sources.Formats.answers]]). A file of at most
  * [[graft.sources.Formats.DriverDecodeBytes]] (4 MiB) is decoded in
  * process, like the reference's eager pandas frame: `data` is a
  * driver-local frame whose `collect()` runs no Spark job, and
  * `knownRowCount` is set. That holds for the native formats too
  * (parquet, JSON, JSON lines), whose frames carry the typed schema and
  * rows `spark.read` gives. Past that size, and for a parquet directory,
  * `data` is a lazy Spark plan: nothing executes until the caller runs an
  * action, so at cluster scale the scan is partitioned/pushed-down by
  * Catalyst rather than materialized here.
  */
final case class ParserAnswer(
    data: DataFrame,
    filePathRaw: String,
    sheetName: String = "None",
    encoding: String = ParserAnswer.EncodingDefault,
    separator: String = ParserAnswer.SeparatorDefault,
    engine: String = ParserAnswer.EngineDefault,
    /** Known row count, if the importer already counted rows while parsing
      * (driver-side importers do). `None` ⇒ derive from `data` on demand. */
    knownRowCount: Option[Long] = None
) {

  /** Absolute path string — `RulePath` parity (`main.py:51-57`). A path
    * carrying a URI scheme (`hdfs:/…`, `file:/…` — letter-led and
    * colon-slash, so `2021-01-01T12:30:00.csv` stays a relative local
    * file) is already absolute and kept verbatim; only scheme-less local
    * paths get resolved. */
  val filePath: String =
    if (graft.sources.FsIO.hasScheme(filePathRaw)) filePathRaw
    else java.nio.file.Paths.get(filePathRaw).toAbsolutePath.toString

  /** `"Failed"` iff zero rows, else `"OK"` (`main.py:103`). Lazy: only
    * triggers a Spark job when no driver-side count is known. */
  lazy val parseInfo: String = {
    val empty = knownRowCount.map(_ == 0L).getOrElse(data.isEmpty)
    if (empty) ParserAnswer.Failed else ParserAnswer.Ok
  }

  def isFailed: Boolean = parseInfo == ParserAnswer.Failed

  /** Human-readable block matching the reference's `__str__`
    * (`main.py:105-112`). Triggers a count if none is known. */
  override def toString: String = {
    val rows = knownRowCount.getOrElse(data.count())
    s"Parse result for: $filePath (sheet name: $sheetName) " +
      s"\n\tUsed engine:    $engine" +
      s"\n\tEncoding:       $encoding" +
      s"\n\tText separator: $separator" +
      s"\n\tParsed columns: ${data.columns.length}" +
      s"\n\tParsed rows:    $rows" +
      s"\n\tStatus:         $parseInfo"
  }
}

object ParserAnswer {
  val EngineDefault = "Not used"
  val EncodingDefault = "not applied"
  val SeparatorDefault = "format defined"
  val Ok = "OK"
  val Failed = "Failed"

  /** Error/empty answer — every failure path in the reference yields one
    * answer whose frame coerces to empty (`main.py:69-75`, `main.py:140-144`).
    */
  def failed(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      engine: String = EngineDefault
  ): ParserAnswer =
    ParserAnswer(
      data = spark.emptyDataFrame,
      filePathRaw = path,
      engine = engine,
      knownRowCount = Some(0L)
    )
}

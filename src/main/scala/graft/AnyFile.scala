package graft

import java.nio.file.{Files, Paths}

import graft.model.ParserAnswer
import graft.sources.{Formats, FsIO}
import org.apache.spark.sql.SparkSession

/** Public entry point — the reference's `FileToPandasImporter.parse`
  * (reference `main.py:118-168`): validate the path, route by lowercased
  * extension to a per-format parser, return one [[ParserAnswer]] per
  * sheet. No failure escapes as an exception; every error path yields a
  * single Failed answer (`main.py:139-144`, `main.py:163-165`).
  *
  * The extension table, the accepted compression suffixes and each
  * format's decode live once, in [[graft.sources.Formats]];
  * [[graft.operators.BulkIngest]] projects the same table onto cell rows.
  */
object AnyFile {

  def parse(spark: SparkSession, path: String): Seq[ParserAnswer] = {
    // Check file (present, readable) — main.py:136-144. Unlike the
    // reference (whose open('rb') probe would crash on a directory),
    // directories are allowed through: Spark sources read partitioned
    // directory datasets natively (e.g. `x.parquet/` with part files).
    // Readability probe goes through the Hadoop FS layer so hdfs:/s3a:
    // URIs answer exactly like local paths; for scheme-less local paths
    // the extra isReadable check preserves reference parity on
    // permission-denied files.
    if (path.isEmpty) return Seq(ParserAnswer.failed(spark, path))
    val localUnreadable =
      !FsIO.hasScheme(path) && {
        val p = Paths.get(path)
        Files.exists(p) && !Files.isReadable(p)
      }
    if (!FsIO.exists(path) || localUnreadable)
      return Seq(ParserAnswer.failed(spark, path))

    Formats.route(path) match {
      case Some(r) => Formats.answers(spark, r)
      case None => Seq(ParserAnswer.failed(spark, path))
    }
  }
}

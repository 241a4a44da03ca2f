package graft.sources

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.types.StructType

/** A parquet file that answers in process: the schema and rows
  * `spark.read.parquet` gives, read on the driver with no job. The schema
  * comes from the footer as Spark's inference reads it (the Spark schema a
  * writer stored, else the parquet schema converted under the session's
  * confs), the rows through Spark's own parquet reader. A directory, or a
  * file past the size rule, takes `spark.read.parquet` ([[Formats.Parquet]]). */
object ParquetLocal {

  private def footer(path: String): ParquetMetadata = {
    val in = ParquetFileReader.open(HadoopInputFile.fromPath(FsIO.hpath(path), FsIO.conf()))
    try in.getFooter
    finally in.close()
  }

  /** The size rule's parquet half: the row groups' uncompressed sizes sum
    * to at most `cap`. A file whose footer does not read is left to the
    * in-process answer, which answers Failed. */
  def inflatesWithin(path: String, cap: Long): Boolean =
    try footer(path).getBlocks.asScala.map(_.getTotalByteSize).sum <= cap
    catch { case _: Exception => true }

  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val path = FsIO.hpath(r.path)
    val len = FsIO.len(r.path)
    val (schema, rows) = SqlShims.withActive(spark) {
      val schema = SqlShims.relationSchema(spark, ParquetFileFormat.readSchemaFromFooter(
        new Footer(path, footer(r.path)), new ParquetToSparkSchemaConverter(SqlShims.sqlConf(spark))))
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        StructType(Nil), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        SqlShims.hadoopConf(spark))
      // the reader reuses its row (a columnar batch's view, or a
      // projection buffer): copy each one out
      val copy = UnsafeProjection.create(schema)
      val file = PartitionedFile(InternalRow.empty, SparkPath.fromPath(path), 0L, len, fileSize = len)
      (schema, read(file).map(row => copy(row).copy(): InternalRow).toVector)
    }
    Seq(ParserAnswer(SqlShims.localFrame(spark, schema, rows), r.path,
      sheetName = r.format.sheet, engine = r.format.engine, knownRowCount = Some(rows.length.toLong)))
  }
}

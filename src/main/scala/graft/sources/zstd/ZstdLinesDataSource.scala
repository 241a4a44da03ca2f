package graft.sources.zstd

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 LINE reader for codec-suffixed text Spark's native scans
  * cannot decode in this container — `.zst`/`.zstd` (Hadoop's
  * ZStandardCodec needs native libhadoop; zstd-jni is what
  * `FsIO.openDecoded` routes the suffix through): `spark.read
  * .format("graft-zstd-lines").load(path)` → one `value: STRING` row per
  * `\n`-terminated line.
  *
  * This is the missing road that lets the ONE-FILE AnyFile importers
  * (TextImporter / JsonImporter) parse `.csv.zst`/`.jsonl.zst`
  * corpora with the same plan shape their `.gz` twins get from the Hadoop
  * codec layer. Parity with `spark.read.option("lineSep", "\n").text`:
  * lines split on `\n` ONLY (a CR in CRLF files stays in the line — the
  * reference's `readlines` behavior TextImporter reproduces), a trailing
  * newline yields no phantom empty row, UTF-8 decode.
  *
  * Scale shape: one InputPartition per file — a zstd stream has no random
  * access (no splittable frames without a seekable-format index), exactly
  * the one-task shape gzip already forces on the native road. Many-file
  * corpora parallelize file-grain (BulkIngest), and the decode runs
  * EXECUTOR-side: the driver never touches payload bytes. */
class ZstdLinesDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-zstd-lines"
  // the schema is FIXED (value: STRING): refusing external metadata makes
  // Spark itself reject a user-supplied schema instead of this provider
  // silently discarding it
  override def supportsExternalMetadata(): Boolean = false

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZstdLinesDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-zstd-lines requires a path"))
    new ZstdLinesTable(path)
  }
}

object ZstdLinesDataSource {
  val Schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))
}

class ZstdLinesTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft-zstd-lines:$path"
  override def schema(): StructType = ZstdLinesDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = ZstdLinesDataSource.Schema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          Array(ZstdLinesPartition(path))
        override def createReaderFactory(): PartitionReaderFactory = {
          // ship the driver's Hadoop conf so executor-side byte access
          // works on hdfs:/s3a: URIs (factories serialize to executors).
          // Planning can run on a thread with no ACTIVE session (AQE /
          // thread pools) — fall back to the default session; with NO
          // session at all, a remote URI must fail fast HERE with a clear
          // message, not executor-side with an obscure empty-conf FS
          // error (ADVICE r14 #4)
          val sess = org.apache.spark.sql.SparkSession.getActiveSession
            .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          val props = sess.map(graft.sources.FsIO.captureProps).getOrElse {
            val scheme = graft.sources.FsIO.hpath(path).toUri.getScheme
            if (scheme != null && scheme != "file")
              throw new IllegalStateException(
                "graft-zstd-lines: no SparkSession on the planning thread " +
                s"to capture Hadoop conf for remote URI $path")
            Map.empty[String, String]
          }
          new ZstdLinesReaderFactory(props)
        }
      }
    }
}

case class ZstdLinesPartition(path: String) extends InputPartition

class ZstdLinesReaderFactory(fsProps: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    if (fsProps.nonEmpty) graft.sources.FsIO.install(fsProps)
    new ZstdLinesReader(p.asInstanceOf[ZstdLinesPartition].path)
  }
}

class ZstdLinesReader(path: String) extends PartitionReader[InternalRow] {
  // openDecoded routes .zst/.zstd through zstd-jni (and any other codec
  // suffix through the Hadoop layer), so the reader itself is codec-blind.
  // Lines are split on the BYTE '\n' over 64 KiB decoded chunks and
  // emitted as raw UTF-8 (UTF8String.fromBytes — Spark's native string
  // layout), so there is no per-char loop and no decode/re-encode round
  // trip; '\n' is unambiguous in UTF-8 (continuation bytes have the high
  // bit set), and '\r' stays payload, matching spark.read.text with
  // lineSep "\n" exactly.
  private val in = graft.sources.FsIO.openDecoded(path)
  private val chunk = new Array[Byte](64 << 10)
  private var len = 0
  private var pos = 0
  private var eof = false
  // carry-over for lines spanning chunk boundaries
  private val carry = new java.io.ByteArrayOutputStream()
  private var line: UTF8String = _

  private def refill(): Unit = {
    len = in.read(chunk)
    pos = 0
    if (len < 0) { eof = true; len = 0 }
  }

  override def next(): Boolean = {
    if (eof && pos >= len && carry.size() == 0) return false
    while (true) {
      var k = pos
      while (k < len && chunk(k) != '\n') k += 1
      if (k < len) { // newline inside the current chunk
        if (carry.size() == 0) {
          // copy the slice: fromBytes WRAPS the array, and `chunk` is
          // reused on the next refill — a retained row must stay valid
          line = UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(chunk, pos, k))
        } else {
          carry.write(chunk, pos, k - pos)
          line = UTF8String.fromBytes(carry.toByteArray)
          carry.reset()
        }
        pos = k + 1
        return true
      }
      // no newline: stash the tail and refill
      if (pos < len) carry.write(chunk, pos, len - pos)
      if (eof) {
        // final line without a trailing newline; a trailing newline
        // leaves carry empty → no phantom row
        if (carry.size() == 0) return false
        line = UTF8String.fromBytes(carry.toByteArray)
        carry.reset()
        pos = len
        return true
      }
      refill()
    }
    false // unreachable
  }

  override def get(): InternalRow = InternalRow(line)

  override def close(): Unit = in.close()
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.sources.{Formats, FsIO, Sheet}

/** Distributed bulk ingestion — the reference's single-file `parse()`
  * semantics (`/root/reference/main.py:118-168`) scaled to a CORPUS of
  * files: a million small spreadsheets/CSVs/PDFs is a 100 TB ingestion
  * problem where the unit of parallelism is the FILE, not the byte range.
  * `AnyFile.parse` keeps the reference's one-file driver-side contract;
  * this operator distributes that work — each executor task runs the same
  * sheet decodes ([[graft.sources.Formats]], the one registry both entry
  * points project) over its slice of the file list and emits uniform
  * all-string cell rows:
  *
  *   (path, engine, sheet, parse_info, row_idx, cells: array<string>)
  *
  * Failure isolation matches the reference: a corrupt file yields ONE
  * `Failed` catalog row, never a thrown task (`main.py:139-144` — no
  * exception escapes). Parquet/JSON are cataloged as `Native` — Spark
  * reads those formats distributed already, and re-decoding them
  * row-by-row inside a task would be strictly worse than
  * `spark.read.parquet(paths: _*)`.
  *
  * Scale shape: one narrow mapPartitions over a repartitioned path list —
  * no shuffle at all; skew unit is one file, so a single multi-GB file
  * should go through the split protocol ([[SplitScan]]) instead — that
  * boundary is [[parseTreeAuto]]'s file-size split. The per-task memory
  * bound is one file's decoded cells. */
object BulkIngest {

  /** `path` is the FILESYSTEM-QUALIFIED form the Hadoop listing returns
    * (`file:/…`, `hdfs://nn/…`) — the canonical re-openable address, and
    * deliberately so: every CellRow.path can be fed back to [[FsIO]] or
    * `spark.read` as-is. Callers joining against scheme-less catalogs
    * (e.g. `ParserAnswer.filePath`) should compare on
    * `FsIO.hpath(p).toUri.getPath`.
    *
    * `row_idx` contract for the big-`.warc.gz` split road: records number
    * as firstMember + offset-within-batch — identical to the whole-file
    * numbering on CONFORMING archives (one record per gzip member, the
    * ISO 28500 annex layout CommonCrawl ships). A non-conforming archive
    * that packs several records into one member numbers its tail records
    * differently from the file-grain road; (path, sheet, row_idx)
    * uniqueness and record order still hold. */
  final case class CellRow(
      path: String,
      engine: String,
      sheet: String,
      parse_info: String,
      row_idx: Long,
      cells: Seq[String])

  /** Every regular file under `root` (sorted for determinism), parsed
    * executor-side. Listing uses the Hadoop recursive `RemoteIterator`
    * (`FileSystem.listFiles(recursive=true)`) — streamed batch-by-batch
    * from the namenode/object store, so the driver holds only the path
    * strings, never a `Files.walk` snapshot; works on any supported
    * scheme (`file:`, `hdfs:`, `s3a:`). Driver memory is the remaining
    * bound (one String per file): beyond ~10⁷ files use
    * [[parseTreeAuto]], whose subtree listing runs inside executor tasks
    * and never materializes the small files' list on the driver. */
  def parseTree(spark: SparkSession, root: String, partitions: Int = 0): DataFrame = {
    val files = FsIO.listFilesRecursive(root).toArray.sorted.toSeq
    parseFiles(spark, files, partitions)
  }

  /** The ingest PLANNER: the file-size split that [[parseOne]]'s scale
    * story promises, composed with a distributed listing. The driver lists
    * only the root's immediate children; whole subtrees are swept with
    * lengths INSIDE executor tasks, and the only thing ever collected back
    * is the list of BIG splittable files — tiny by definition (each entry
    * stands for ≥ `bigBytes` of data). Small files flow from the
    * executor-side listing straight into the file-grain parse with no
    * driver materialization, so a 10⁸-file corpus gets both the fan-out
    * and the size split.
    *
    * A file at or above `bigBytes` whose form has a splitter in the
    * format registry (`Format.split`) takes the one split protocol,
    * [[SplitScan]]: one batched executor job indexes every big file into
    * units (a sheet, a ranged batch of members or frames), a second probes
    * each workbook sheet's shape in a task of its own, and one DSv2 scan
    * decodes the units as its input partitions, streaming, so a
    * single multi-GB file does not pin one task's memory to the whole
    * file. Both roads emit the same [[CellRow]]s, so downstream consumers
    * cannot tell which planner decision a row took. Big forms with no
    * splitter (a huge `.pdf`, a `.tar.gz`) stay file-grain; the per-task
    * bound there is one file. `splitBatchBytes` is the target compressed
    * size of a ranged unit; tests lower it to force multi-unit splits.
    *
    * The listing sweep runs twice end-to-end: once eagerly (the big-file
    * collect) and once lazily when the returned frame executes (the small
    * road re-lists inside its own stage). Metadata RPCs are orders of
    * magnitude cheaper than the parse work they feed, and persisting a
    * 10⁸-row listing across the planner would trade two cheap sweeps for
    * cluster-wide cache pressure. */
  def parseTreeAuto(
      spark: SparkSession,
      root: String,
      bigBytes: Long = 64L << 20,
      partitions: Int = 0,
      splitBatchBytes: Long = 8L << 20): DataFrame = {
    implicit val enc = Encoders.product[CellRow]
    val parts =
      if (partitions > 0) partitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val props = FsIO.captureProps(spark)

    def isBig(p: String, len: Long): Boolean =
      len >= bigBytes && Formats.route(p).exists(_.splitter.nonEmpty)

    val children = FsIO.listChildrenWithLen(root)
    val seedDirs = children.collect { case (p, true, _) => p }
    val rootFiles = children.collect { case (p, false, len) => (p, len) }
    def listedWithLen: org.apache.spark.sql.Dataset[(String, Long)] = {
      implicit val e2 = Encoders.product[(String, Long)]
      spark.createDataset(seedDirs)(Encoders.STRING)
        .repartition(math.max(1, math.min(math.max(seedDirs.length, 1), parts)))
        .mapPartitions { dirs =>
          FsIO.install(props)
          dirs.flatMap(FsIO.listFilesRecursiveWithLen)
        }
        .union(spark.createDataset(rootFiles))
    }

    // the one driver-side materialization: big splittable files
    val big = listedWithLen
      .filter((e: (String, Long)) => isBig(e._1, e._2))
      .map(_._1)(Encoders.STRING)
      .collect().toSeq.sorted
    val small = listedWithLen
      .filter((e: (String, Long)) => !isBig(e._1, e._2))
      .map(_._1)(Encoders.STRING)
      .repartition(parts)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
    if (big.isEmpty) small
    else small.union(SplitScan.frame(spark, SplitScan.plan(spark, big, splitBatchBytes, parts)))
  }

  def parseFiles(spark: SparkSession, paths: Seq[String], partitions: Int = 0): DataFrame = {
    val parts =
      if (partitions > 0) partitions
      else math.max(1, math.min(paths.length, spark.sparkContext.defaultParallelism))
    // executor tasks have no SparkSession: ship the driver's Hadoop conf
    // (captured as a plain map) so hdfs:/s3a: byte access works in-task
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CellRow]
    spark.createDataset(paths)(Encoders.STRING)
      .repartition(parts)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
  }

  /** CONTINUOUS ingestion: the same per-file parse semantics over files
    * as they ARRIVE under `root` — Structured Streaming's file source
    * discovers new files per microbatch (checkpointed, so each file is
    * parsed exactly once across restarts), and the parse itself is the
    * identical executor-side [[parseOne]] the batch roads use. The
    * `binaryFile` source is used for DISCOVERY only: selecting just
    * `path` prunes the content read (the format supports required-schema
    * pruning), and parseOne streams the bytes itself through the
    * Hadoop-FS layer — keeping one code path for batch and streaming and
    * preserving per-file failure isolation (a corrupt arrival yields one
    * Failed row, never a dead query). */
  def stream(spark: SparkSession, root: String, glob: String = "*",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CellRow]
    import org.apache.spark.sql.types._
    val reader0 = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
    val reader =
      if (maxFilesPerTrigger > 0)
        reader0.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader0
    reader
      // binaryFile's FIXED schema — streaming file sources demand it
      // explicitly; only `path` is ever selected, so content is pruned
      .schema(StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("modificationTime", TimestampType, nullable = false),
        StructField("length", LongType, nullable = false),
        StructField("content", BinaryType, nullable = true))))
      .load(root)
      .select("path")
      .as(Encoders.STRING)
      .mapPartitions { it => FsIO.install(props); it.flatMap(parseOne) }
      .toDF()
  }

  /** One file → cell rows; pure, runs inside executor tasks: the bulk
    * projection of [[graft.sources.Formats]], cell-for-cell the cells of
    * `AnyFile.parse` (BulkIngestSpec pins every extension × codec).
    * Natively scanned formats are one `Native` row. */
  private[graft] def parseOne(path: String): Seq[CellRow] = {
    val route = Formats.route(path)
    val engine = route.fold("")(_.format.engine)
    try {
      if (!FsIO.isFile(path)) return Seq(failedRow(path, ""))
      route match {
        case None => Seq(failedRow(path, engine))
        case Some(r) if r.format.nativeScan && !r.zstd =>
          Seq(CellRow(path, engine, r.format.sheet, "Native", -1L, Seq.empty))
        case Some(r) =>
          val sheets = r.format.decode(r)
          if (sheets.isEmpty) Seq(failedRow(path, engine))
          else sheets.flatMap(cellRows(path, engine, _))
      }
    } catch { case _: Exception => Seq(failedRow(path, engine)) }
  }

  /** Sheet → cell rows: null-padded to the sheet's width, numbered from
    * 0; an empty sheet is one Failed row carrying its name, so every sheet
    * of every file lands in the catalog. */
  private def cellRows(path: String, engine: String, s: Sheet): Seq[CellRow] = {
    val width = s.width
    if (width == 0 || s.rows.isEmpty) Seq(failedRow(path, engine, s.name))
    else s.rows.zipWithIndex.map { case (r, i) =>
      CellRow(path, engine, s.name, "OK", i.toLong, r.padTo(width, null))
    }
  }

  private[graft] def failedRow(path: String, engine: String, sheet: String = "None"): CellRow =
    CellRow(path, engine, sheet, "Failed", -1L, Seq.empty)
}

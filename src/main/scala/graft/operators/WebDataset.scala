package graft.operators

import java.io.InputStream

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.sources.{Formats, FsIO}
import graft.sources.tar.TarWalk

/** WebDataset sample pairing — the consumption side of the tar shard
  * road: multimodal training corpora ship as tar shards whose members
  * pair by basename stem (`000123.jpg` + `000123.txt` + `000123.json`,
  * the img2dataset/WebDataset layout), and the unit a pipeline consumes
  * is the paired SAMPLE, not the member. Reference anchor: the
  * one-answer-per-member-table contract at `/root/reference/main.py:
  * 147-165` — this operator is its grouping extension for the container
  * the reference never handles.
  *
  * Key/extension split follows the WebDataset convention: the extension
  * is everything after the FIRST dot of the basename (so
  * `a/000123.seg.png` keys as `a/000123` with ext `seg.png` — dotted
  * "stream" extensions stay intact), the key is the member path up to it.
  *
  * Grouping is CONTIGUOUS-run, not global: the WebDataset contract is
  * that a sample's members are adjacent in the shard (writers emit them
  * together precisely so readers can stream), so a key reappearing later
  * in the archive starts a NEW sample — faithfully, rather than silently
  * merging what a streaming consumer would see as two.
  *
  * Scale shape: the shard is the unit of parallelism (one task pairs
  * one shard). [[WebDataset.samples]] RETURNS the shard's samples with
  * their payloads — its per-task bound is the decoded shard, the right
  * contract for the in-task consumers that decode members immediately
  * (q188's shape). The sweep that must scale past that bound is
  * [[WebDataset.catalog]]: a single streaming pass per shard whose
  * payloads go straight through the 64 KiB digest — per-task memory is
  * one chunk, and only fixed-width coordinate rows leave the task. */
object WebDataset {

  /** One paired sample: the shared key and the members in archive order
    * as (extension, payload). */
  final case class Sample(key: String, members: Seq[(String, Array[Byte])])

  /** (key, ext): basename-first-dot split, directories kept in the key. */
  def splitKey(name: String): (String, String) = {
    val slash = name.lastIndexOf('/')
    val dot = name.indexOf('.', slash + 1)
    if (dot < 0) (name, "")
    else (name.substring(0, dot), name.substring(dot + 1))
  }

  /** One member's row in the DISTRIBUTED sample catalog: sample
    * coordinates plus the payload reduced to size/md5 — member bytes
    * never leave the consuming task. A shard that fails to walk answers
    * ONE row with `status = "Failed"` and `sample_idx = -1` (the
    * reference's per-file isolation, `main.py:139-144`). */
  final case class CatalogRow(
      shard: String,
      sample_idx: Long,
      key: String,
      ext: String,
      size: Long,
      md5: String,
      status: String)

  /** The distributed sample catalog over a TREE of WebDataset shards —
    * what a training pipeline runs first against a corpus root: every
    * `.tar`/`.tar.gz`/`.tgz`/`.tar.bz2`/`.tar.zst` under `root` (every
    * name [[graft.sources.Formats]] routes to tar) is
    * paired in its consuming executor task (streaming walk, payloads
    * digested in 64 KiB chunks, never materialized) and emits one
    * [[CatalogRow]] per member with contiguous-run `sample_idx`
    * coordinates.
    *
    * Scale shape: the shard is the unit of parallelism — one narrow
    * mapPartitions over the repartitioned shard list, no shuffle at all
    * (BulkIngest.parseFiles' shape); a million-shard corpus fans out
    * file-grain and the catalog rows are fixed-width. Joining the
    * catalog back to decoded payloads (e.g. the q188 image road) stays
    * in the SAME task in a real pipeline — this operator deliberately
    * ships only coordinates and digests. */
  def catalog(spark: SparkSession, root: String, partitions: Int = 0): DataFrame = {
    // distributed listing (BulkIngest.parseTreeAuto's fan-out):
    // the driver lists only the root's immediate children; each subtree
    // is swept INSIDE an executor task, so a million-shard corpus never
    // funnels its metadata walk through the driver
    val children = FsIO.listChildren(root)
    val seedDirs = children.collect { case (p, true) => p }
    val rootFiles = children.collect { case (p, false) => p }
    val parts =
      if (partitions > 0) partitions
      else math.max(1, spark.sparkContext.defaultParallelism)
    val props = FsIO.captureProps(spark)
    implicit val enc = Encoders.product[CatalogRow]
    spark.createDataset(seedDirs)(Encoders.STRING)
      .repartition(math.max(1, math.min(math.max(seedDirs.length, 1), parts)))
      .mapPartitions { dirs =>
        FsIO.install(props)
        dirs.flatMap(FsIO.listFilesRecursive)
      }(Encoders.STRING)
      .union(spark.createDataset(rootFiles)(Encoders.STRING))
      .filter((p: String) => Formats.route(p).exists(_.format eq Formats.Tar))
      .repartition(parts)
      .mapPartitions { it =>
        FsIO.install(props)
        it.flatMap(catalogOne)
      }
      .toDF()
  }

  /** One shard → catalog rows; pure, runs inside executor tasks. */
  private[graft] def catalogOne(path: String): Seq[CatalogRow] = {
    try {
      val in = FsIO.openDecoded(path)
      val rows =
        try {
          var curKey: String = null
          var sampleIdx = -1L
          TarWalk.walk(in) { (e, data) =>
            val (key, ext) = splitKey(e.name)
            if (key != curKey) { sampleIdx += 1; curKey = key }
            CatalogRow(path, sampleIdx, key, ext, e.size,
              TarWalk.streamMd5Hex(data), "OK")
          }
        } finally in.close()
      if (rows.isEmpty) Seq(CatalogRow(path, -1L, "", "", -1L, "", "Failed"))
      else rows
    } catch {
      case _: Exception =>
        Seq(CatalogRow(path, -1L, "", "", -1L, "", "Failed"))
    }
  }

  /** Pair a (decoded) tar stream's regular members into samples. One
    * streaming pass; throws on a malformed archive — the caller's
    * per-file isolation (BulkIngest's Failed row / a query's task guard)
    * is the failure boundary, same as every other byte road. */
  def samples(in: InputStream): Seq[Sample] = {
    val out = Seq.newBuilder[Sample]
    var curKey: String = null
    var cur = Seq.newBuilder[(String, Array[Byte])]
    var curEmpty = true
    TarWalk.walk(in) { (e, data) =>
      val (key, ext) = splitKey(e.name)
      if (key != curKey && !curEmpty) {
        out += Sample(curKey, cur.result())
        cur = Seq.newBuilder[(String, Array[Byte])]
        curEmpty = true
      }
      curKey = key
      cur += ext -> data.readAllBytes()
      curEmpty = false
    }
    if (!curEmpty) out += Sample(curKey, cur.result())
    out.result()
  }
}

package graft.sources

import java.io.{File, FileOutputStream, InputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** All parser byte access goes through this Hadoop `FileSystem` layer, so
  * every ingest path (driver importers, [[graft.operators.BulkIngest]]
  * executor tasks, the split scan partitions) reads `hdfs://` / `s3a://`
  * URIs exactly like local paths. The reference reads whole local files
  * (`/root/reference/main.py:194`) — semantics are unchanged here; only
  * the byte SOURCE generalizes, which is what a 100 TB corpus on real
  * distributed storage requires.
  *
  * Configuration plumbing: executor tasks have no `SparkSession`, so the
  * driver captures its `hadoopConfiguration` as a plain property map
  * ([[captureProps]]) into task closures and each task installs it once
  * per JVM ([[install]]). Driver-side calls fall back to the active
  * session's conf; bare JVMs (unit tests of the pure parsers) get Hadoop
  * defaults, under which `file:` and scheme-less paths behave like
  * `java.nio` — every pre-existing local-path caller is unchanged.
  *
  * Zip containers (`.xlsx`/`.ods`/`.xlsb`) need random access by entry
  * name, which `java.util.zip.ZipFile` only gives over a local file:
  * [[localize]] passes local paths straight through and spills a remote
  * file to a task-local temp file otherwise — bounded by ONE file, the
  * same per-task memory/disk bound BulkIngest already documents. Stream
  * parsers (text, XMLSS StAX, BIFF, PDF) read the `FSDataInputStream`
  * directly with no spill.
  */
object FsIO {

  @volatile private var installedProps: Map[String, String] = null
  @volatile private var cachedConf: Configuration = null

  /** Driver-side: capture the session's Hadoop conf as a serializable
    * property map for shipping inside task closures. */
  def captureProps(spark: org.apache.spark.sql.SparkSession): Map[String, String] = {
    val c = spark.sparkContext.hadoopConfiguration
    val it = c.iterator()
    val b = Map.newBuilder[String, String]
    while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
    b.result()
  }

  /** Executor-side: install captured props once per JVM (idempotent —
    * re-installing an identical map is free). Fully synchronized: two
    * concurrent installs must never interleave the check and the swap. */
  def install(props: Map[String, String]): Unit = synchronized {
    if (installedProps == null || installedProps != props) {
      val c = new Configuration()
      props.foreach { case (k, v) => c.set(k, v) }
      cachedConf = c
      installedProps = props
    }
  }

  /** Installed conf if any, else the live session's Hadoop conf, else
    * fresh defaults. The no-session default is deliberately NOT cached:
    * caching it would pin a bare Configuration forever and blind every
    * later driver-side call to the session's fs.* settings. */
  def conf(): Configuration = {
    val c = cachedConf
    if (c != null) c
    else {
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new Configuration())
    }
  }

  /** Does `path` carry a real URI scheme (`hdfs:/…`, `file:/…`)? Requires
    * letter-led scheme AND a slash right after the colon, so relative
    * filenames with colons in a segment (`2021-01-01T12:30:00.csv`) are
    * never misparsed as schemes. */
  def hasScheme(path: String): Boolean =
    path.matches("^[A-Za-z][A-Za-z0-9+.\\-]*:/.*")

  def hpath(path: String): HPath =
    if (hasScheme(path)) new HPath(path)
    // scheme-less: build via a relative URI so colons inside path
    // segments stay literal instead of being parsed as a scheme
    else new HPath(new java.net.URI(null, null, path, null))

  def fs(path: String): FileSystem = hpath(path).getFileSystem(conf())

  /** Last path segment (what `Path.getFileName` gives for local paths). */
  def fileName(path: String): String =
    try hpath(path).getName
    catch { case _: Exception => "" }

  // Probes map only GENUINE absence (FileNotFound) and malformed paths
  // to false; transient storage errors (s3a throttle, auth expiry — any
  // other IOException) PROPAGATE so a task retries instead of silently
  // cataloging a healthy file as missing/Failed.
  def exists(path: String): Boolean =
    try fs(path).exists(hpath(path))
    catch {
      case _: java.io.FileNotFoundException => false
      case _: IllegalArgumentException => false
      case _: java.net.URISyntaxException => false
    }

  def isFile(path: String): Boolean =
    try fs(path).getFileStatus(hpath(path)).isFile
    catch {
      case _: java.io.FileNotFoundException => false
      case _: IllegalArgumentException => false
      case _: java.net.URISyntaxException => false
    }

  def isDirectory(path: String): Boolean =
    try fs(path).getFileStatus(hpath(path)).isDirectory
    catch {
      case _: java.io.FileNotFoundException => false
      case _: IllegalArgumentException => false
      case _: java.net.URISyntaxException => false
    }

  def len(path: String): Long = fs(path).getFileStatus(hpath(path)).getLen

  def open(path: String): InputStream =
    try fs(path).open(hpath(path))
    catch {
      // Hadoop's LocalFileSystem builds internal sibling paths (.crc)
      // that re-trip the colon-scheme ambiguity for filenames like
      // `12:30:00.csv` even when the top-level Path was built safely —
      // a known Hadoop limitation. For scheme-less local paths, bytes
      // are bytes: fall back to java.nio.
      case _: IllegalArgumentException if !hasScheme(path) =>
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    }

  /** Open positioned at `offset` — ranged reads for the zip-directory
    * road ([[graft.sources.zip.RangedZip]]). Hadoop streams are seekable
    * on every scheme; the colon-filename local fallback seeks through a
    * file channel. */
  def openAt(path: String, offset: Long): InputStream =
    try {
      val in = fs(path).open(hpath(path))
      try { in.seek(offset); in }
      catch { case e: Throwable => in.close(); throw e }
    } catch {
      case _: IllegalArgumentException if !hasScheme(path) =>
        val ch = java.nio.file.Files
          .newByteChannel(java.nio.file.Paths.get(path))
        ch.position(offset)
        java.nio.channels.Channels.newInputStream(ch)
    }

  /** A bounded view of `in`: at most `limit` bytes, then EOF (-1).
    * `remaining` tells a fully read range from an underlying stream that
    * ended early (an index promised `limit` bytes; fewer means the file
    * lied), which is the caller's to check. Closing it closes `in`. */
  final class RangeStream(in: InputStream, limit: Long) extends InputStream {
    private var left = limit
    def remaining: Long = left
    override def read(): Int = {
      if (left <= 0) return -1
      val v = in.read()
      if (v >= 0) left -= 1
      v
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (left <= 0) return -1
      val n = in.read(b, off, math.min(len.toLong, left).toInt)
      if (n > 0) left -= n
      n
    }
    override def close(): Unit = in.close()
  }

  /** `length` bytes at `offset`, buffered, and decoded through zstd-jni
    * when `zstd` (the range then holds whole frames): the ranged units of
    * the split road open their bytes here. Closing it closes every layer,
    * the zstd decoder's native memory included. */
  def openRange(path: String, offset: Long, length: Long, zstd: Boolean): InputStream = {
    val range = new RangeStream(openAt(path, offset), length)
    try new java.io.BufferedInputStream(
      if (zstd) new com.github.luben.zstd.ZstdInputStream(range) else range, 64 << 10)
    catch { case e: Throwable => range.close(); throw e }
  }

  /** Exactly `len` bytes at `offset` (EOF short-reads throw). */
  def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    val in = openAt(path, offset)
    try {
      val buf = in.readNBytes(len)
      if (buf.length != len)
        throw new java.io.EOFException(
          s"short read at $offset (+$len, got ${buf.length}): $path")
      buf
    } finally in.close()
  }

  def readAllBytes(path: String): Array[Byte] = {
    val in = open(path)
    try in.readAllBytes()
    finally in.close()
  }

  /** At most `limit` bytes from the head (delimiter/encoding sniffing). */
  def readHead(path: String, limit: Int): Array[Byte] = {
    val in = open(path)
    try in.readNBytes(limit)
    finally in.close()
  }

  /** Open with inline decompression when the file name carries a codec
    * suffix the Hadoop codec layer knows (`.gz`, `.bz2`, …) — the same
    * layer Spark's json scans decompress through, so a sniff or a
    * byte-level parse over `x.jsonl.gz` sees the same decoded bytes the
    * scan will. Plain [[open]] when no codec claims the suffix. */
  // codec registry walk is conf-derived and stable per installed conf —
  // built once, not per file (a 10^7-file sweep calls openDecoded per file)
  @volatile private var cachedCodecs
      : (Configuration, org.apache.hadoop.io.compress.CompressionCodecFactory) = null
  private def codecFactory()
      : org.apache.hadoop.io.compress.CompressionCodecFactory = {
    val c = conf()
    val cached = cachedCodecs
    if (cached != null && (cached._1 eq c)) cached._2
    else {
      val f = new org.apache.hadoop.io.compress.CompressionCodecFactory(c)
      cachedCodecs = (c, f)
      f
    }
  }

  def openDecoded(path: String): InputStream = {
    // `.zst`/`.zstd` decode through zstd-jni (on the Spark classpath for
    // parquet codecs) rather than Hadoop's ZStandardCodec, which needs a
    // native libhadoop this layer can't assume — the branch must come
    // BEFORE the codec-factory lookup, or the factory claims the suffix
    // and fails at read time. This is the one decoded door: the in-process
    // decodes, the sniffers, and the split road's whole-stream text unit
    // (`.gz`, `.bz2`) read through it. Ranged zstd units decode their
    // frames through [[openRange]]; only the JSON-lines Spark road still
    // needs lines from frame batches (`ZstdFrames.lines`), because
    // Spark's json scan cannot decode zstd either.
    val lower = path.toLowerCase
    if (lower.endsWith(".zst") || lower.endsWith(".zstd"))
      return new java.io.BufferedInputStream(
        new com.github.luben.zstd.ZstdInputStream(open(path)), 64 << 10)
    // the conventional `.tar.gz` contraction: no Hadoop codec claims the
    // `.tgz` suffix, so route it through an explicit gzip stream HERE —
    // every byte road (the tar catalog, the sniffers) then sees decoded
    // bytes from this one door instead of each caller special-casing it
    if (lower.endsWith(".tgz"))
      return new java.io.BufferedInputStream(
        new java.util.zip.GZIPInputStream(open(path)), 64 << 10)
    val codec = codecFactory().getCodec(hpath(path))
    if (codec == null) open(path) else codec.createInputStream(open(path))
  }

  /** Decoded-image cap shared by every byte road that must materialize a
    * whole DECODED stream in one task or on the driver (`.sqlite.zst`
    * page images, `.jsonl.zst` line roads, `.json.zst` documents): zstd
    * ratios run past 100×, so a small compressed file can inflate far
    * beyond a task heap — refuse (None) past 256 MiB rather than drive
    * the allocation. One constant, one reader, so the threshold cannot
    * drift between formats. */
  final val DecodedCapBytes: Int = 256 << 20

  /** The whole decoded stream, or None past `cap` (reads cap+1 so
    * overflow is detected, never truncated into a silently-partial parse).
    * `AnyFile`'s size rule reads codec forms with the smaller
    * [[Formats.DriverDecodeBytes]] cap. */
  def readAllBytesDecodedCapped(path: String, cap: Int = DecodedCapBytes): Option[Array[Byte]] = {
    val in = openDecoded(path)
    val bytes =
      try in.readNBytes(cap + 1)
      finally in.close()
    if (bytes.length > cap) None else Some(bytes)
  }

  /** [[readAllBytes]] through [[openDecoded]]. */
  def readAllBytesDecoded(path: String): Array[Byte] = {
    val in = openDecoded(path)
    try in.readAllBytes()
    finally in.close()
  }

  /** [[readHead]] through [[openDecoded]] — at most `limit` DECODED bytes. */
  def readHeadDecoded(path: String, limit: Int): Array[Byte] = {
    val in = openDecoded(path)
    try in.readNBytes(limit)
    finally in.close()
  }

  /** Every regular file under `root`, via the Hadoop recursive remote
    * iterator — streamed, never materializing the tree server-side the way
    * a `Files.walk` driver array would. Callers needing determinism sort
    * the (path-string) result themselves. */
  def listFilesRecursive(root: String): Iterator[String] = {
    ListingRecorder.record()
    val it = fs(root).listFiles(hpath(root), true)
    new Iterator[String] {
      override def hasNext: Boolean = it.hasNext
      override def next(): String = it.next().getPath.toString
    }
  }

  /** [[listFilesRecursive]] with file sizes — the ingest planner's
    * file-size split needs the length without a second RPC per file. */
  def listFilesRecursiveWithLen(root: String): Iterator[(String, Long)] = {
    ListingRecorder.record()
    val it = fs(root).listFiles(hpath(root), true)
    new Iterator[(String, Long)] {
      override def hasNext: Boolean = it.hasNext
      override def next(): (String, Long) = {
        val st = it.next(); (st.getPath.toString, st.getLen)
      }
    }
  }

  /** Immediate children (for distributed subtree fan-out listing). */
  def listChildren(root: String): Seq[(String, Boolean)] =
    fs(root).listStatus(hpath(root)).toSeq
      .map(st => (st.getPath.toString, st.isDirectory))

  /** Immediate children with file sizes — the ingest planner's fan-out
    * seeds plus the root's own files in one RPC. */
  def listChildrenWithLen(root: String): Seq[(String, Boolean, Long)] =
    fs(root).listStatus(hpath(root)).toSeq
      .map(st => (st.getPath.toString, st.isDirectory, st.getLen))

  /** A local `java.io.File` view of `path`: pass-through for local
    * schemes, bounded spill-to-temp for remote ones. `close()` deletes
    * the temp (never a pass-through original). */
  final class Localized private[FsIO] (val file: File, spilled: Boolean)
      extends AutoCloseable {
    override def close(): Unit = if (spilled) { file.delete(); () }
  }

  /** First configured Spark local dir (`spark.local.dir`, first entry) if
    * a SparkEnv is live and the dir exists; null otherwise, which makes
    * `File.createTempFile` fall back to java.io.tmpdir (bare-JVM tests). */
  private def spillDir(): File =
    try {
      val env = org.apache.spark.SparkEnv.get
      if (env == null) null
      else {
        val d = new File(env.conf
          .get("spark.local.dir", System.getProperty("java.io.tmpdir"))
          .split(",").head.trim)
        if (d.isDirectory) d else null
      }
    } catch { case _: Exception => null }

  /** Remote-spill count — observability for tests pinning the ranged-zip
    * road's no-copy claim (a metadata probe must never tick this). */
  private[graft] val spillCount = new java.util.concurrent.atomic.AtomicLong

  def localize(path: String): Localized = {
    val uri = hpath(path).toUri
    val scheme = uri.getScheme
    if (scheme == null || scheme == "file") {
      val f = if (scheme == null) new File(path) else new File(uri.getPath)
      new Localized(f, spilled = false)
    } else {
      spillCount.incrementAndGet()
      val suffix = {
        val n = fileName(path); val d = n.lastIndexOf('.')
        if (d < 0) ".tmp" else n.substring(d)
      }
      // Spill under Spark's configured scratch disks when a SparkEnv is
      // live (executor or driver JVM), not java.io.tmpdir — spark.local.dir
      // is where operators are allowed to burn disk. No deleteOnExit():
      // close() deletes the file and the failed-copy catch below handles
      // the rest; DeleteOnExitHook entries are never removed, so per-spill
      // registration would leak one path string per remote file for the
      // life of a long-lived executor JVM.
      val tmp = File.createTempFile("graft-spill-", suffix, spillDir())
      try {
        val in = open(path)
        val out = new FileOutputStream(tmp)
        try in.transferTo(out)
        finally { out.close(); in.close() }
      } catch {
        // never leak a partial spill on a failed copy
        case e: Throwable => tmp.delete(); throw e
      }
      new Localized(tmp, spilled = true)
    }
  }

  def withLocal[T](path: String)(f: File => T): T = {
    val l = localize(path)
    try f(l.file)
    finally l.close()
  }
}

/** Where RECURSIVE listings happen: each `listFilesRecursive*` call
  * records the calling thread's name (bounded). Spark-free — the
  * parseTreeAuto spec asserts the planner's full-tree sweep runs only on
  * executor task threads, never the driver (the driver is allowed one
  * `listStatus` of the root's immediate children). */
object ListingRecorder {
  private val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val Cap = 1024
  def record(): Unit = {
    if (names.size < Cap) names.add(Thread.currentThread().getName)
  }
  def drain(): Seq[String] = {
    val out = Vector.newBuilder[String]
    var n = names.poll()
    while (n != null) { out += n; n = names.poll() }
    out.result()
  }
}

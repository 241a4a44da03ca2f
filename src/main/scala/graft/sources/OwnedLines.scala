package graft.sources

import java.io.{Closeable, InputStream}
import java.nio.charset.StandardCharsets

/** The `\n` lines one unit of a decoded text stream owns, each passed
  * through `row`, by the rule of `spark.read.text`'s Hadoop line reader:
  * a unit over decoded bytes [S, E) owns the lines that start in (S, E],
  * and the first unit also owns offset 0. A non-first unit discards up to
  * its first newline (that prefix belongs to the unit before), a unit
  * wholly inside one line owns nothing, and a line still open at E is
  * finished from the continuation, which opens the rest of the stream. At
  * the end of the stream an empty pending start is no row: a CR stays in
  * its line, and a final `\n` adds no empty last line.
  *
  * Lazy: one line is held at a time, and the iterator closes itself at
  * exhaustion. The forms differ only in how the unit and its
  * continuation open ([[OwnedLines.range]], [[OwnedLines.whole]]). */
final class OwnedLines[T] private (
    own: InputStream, first: Boolean, continuation: Option[() => InputStream], row: String => T)
    extends Iterator[T] with Closeable {
  // 64 KiB chunked scan splitting on the '\n' BYTE (unambiguous in
  // UTF-8): a per-byte read() loop costs tens of millions of virtual
  // calls per unit
  private val chunk = new Array[Byte](64 << 10)
  private var n = 0
  private var pos = 0
  private val acc = new java.io.ByteArrayOutputStream()
  private var in = own
  // a line that starts while the unit's own bytes last is the unit's
  private var inOwn = true
  private var started = first
  private var done = false
  private var queued: Option[T] = None

  override def hasNext: Boolean = queued.isDefined || (!done && fetch())

  override def next(): T = {
    if (!hasNext) throw new NoSuchElementException("unit exhausted")
    val q = queued.get
    queued = None
    q
  }

  /** The next owned line, or the end of the unit. A non-first unit first
    * discards through its first newline; one with none owns nothing. */
  private def fetch(): Boolean = {
    if (!started) { started = true; toNewline(keep = false) }
    acc.reset()
    if (inOwn && (toNewline(keep = true) || acc.size() > 0)) {
      queued = Some(row(acc.toString(StandardCharsets.UTF_8)))
      true
    } else { close(); false }
  }

  /** Reads through the next '\n', keeping the bytes before it when
    * `keep`; false at the end of the bytes. A kept line reads on past the
    * unit's own bytes into the continuation. */
  private def toNewline(keep: Boolean): Boolean = {
    while (pos < n || refill(intoContinuation = keep)) {
      var k = pos
      while (k < n && chunk(k) != '\n') k += 1
      if (keep) acc.write(chunk, pos, k - pos)
      pos = math.min(k + 1, n)
      if (k < n) return true
    }
    false
  }

  private def refill(intoContinuation: Boolean): Boolean = {
    n = math.max(in.read(chunk), 0)
    pos = 0
    n > 0 || inOwn && {
      inOwn = false
      in.close()
      in = continuation.filter(_ => intoContinuation).fold(InputStream.nullInputStream())(_())
      refill(intoContinuation = false)
    }
  }

  override def close(): Unit = if (!done) {
    done = true
    in.close()
  }
}

object OwnedLines {

  /** The lines a byte range of `path` owns: `[offset, offset+length)` on
    * disk, decoded through zstd-jni when `zstd` (a range of whole frames,
    * whose decoded bytes the rule then applies to). The continuation is
    * the rest of the file, decoded the same way. */
  def range[T](path: String, offset: Long, length: Long, zstd: Boolean)(row: String => T): OwnedLines[T] = {
    val end = offset + length
    val total = FsIO.len(path)
    new OwnedLines(FsIO.openRange(path, offset, length, zstd), offset == 0L,
      if (end >= total) None else Some(() => FsIO.openRange(path, end, total - end, zstd)), row)
  }

  /** Every line of the decoded file ([[FsIO.openDecoded]]): one unit. */
  def whole[T](path: String)(row: String => T): OwnedLines[T] =
    new OwnedLines(FsIO.openDecoded(path), first = true, None, row)

  /** Every line of decoded bytes in memory: the lines of the in-process
    * decodes. */
  def of(bytes: Array[Byte]): IndexedSeq[String] =
    new OwnedLines(new java.io.ByteArrayInputStream(bytes), first = true, None, identity[String])
      .toIndexedSeq
}

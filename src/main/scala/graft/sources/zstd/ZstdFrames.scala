package graft.sources.zstd

import java.io.{BufferedInputStream, EOFException, InputStream}

import graft.sources.FsIO

/** Zstandard FRAME index without decompression (RFC 8878 §3): walks the
  * container at I/O speed recording each frame's compressed byte range —
  * the split point the big-`.jsonl.zst` road needs. The format makes
  * this possible cheaply: every block carries its compressed size in a
  * 3-byte header, so a frame's length is the sum of its header, block
  * walk and optional checksum — no byte of entropy-coded payload is ever
  * decoded.
  *
  * Multi-frame files are what parallel compressors actually produce
  * (pzstd and the seekable format cut input into independent frames;
  * The Pile ships shards this way); a single-frame file indexes to one
  * range and honestly stays one task. Skippable frames (magic
  * 0x184D2A50-5F) are counted into the covering range — decoders skip
  * them natively — but carry no data.
  *
  * The walk is strict: any malformed header (bad magic, reserved block
  * type, truncation mid-frame) throws, and the caller answers one Failed
  * row — an index that silently mis-frames would corrupt every ranged
  * task downstream. */
object ZstdFrames {

  /** One batch of whole frames: `offset`/`length` in COMPRESSED bytes. */
  final case class Batch(offset: Long, length: Long)

  /** One frame: compressed `offset`/`length`, and `decoded` = the frame's
    * DECODED size when its header declares it (Frame_Content_Size —
    * one-shot compressors and pzstd write it; streaming-mode frames may
    * omit it → -1; skippable frames are 0). A declared decoded size is
    * what makes DECODED-offset ranged access possible (the big-`.tar.zst`
    * road): prefix sums over `decoded` map any decoded offset to the
    * frame that materializes it. */
  final case class Frame(
      offset: Long, length: Long, isData: Boolean, decoded: Long)

  private val DataMagic = 0xfd2fb528L
  private val SkippableBase = 0x184d2a50L

  /** Compressed byte ranges of every frame, in file order; data frames
    * and skippable frames both appear (`isData` distinguishes). */
  def frameRanges(path: String): Seq[(Long, Long, Boolean)] =
    frames(path).map(f => (f.offset, f.length, f.isData))

  /** Every frame with its declared decoded size — same walk, FCS parsed
    * instead of skipped (RFC 8878 §3.1.1.1: 2-byte fields store
    * value − 256). */
  def frames(path: String): Seq[Frame] = {
    val in = new BufferedInputStream(FsIO.open(path), 256 << 10)
    try {
      val out = Seq.newBuilder[Frame]
      var pos = 0L
      var magic0 = readMagic(in)
      while (magic0 >= 0) {
        val magic = magic0 & 0xffffffffL
        val start = pos
        pos += 4
        if ((magic & 0xfffffff0L) == SkippableBase) {
          val sz = readLE(in, 4); pos += 4
          skipFully(in, sz); pos += sz
          out += Frame(start, pos - start, isData = false, decoded = 0L)
        } else if (magic == DataMagic) {
          // frame header: descriptor, window, dictionary id, FCS
          val desc = read1(in); pos += 1
          val fcsFlag = (desc >> 6) & 3
          val singleSegment = (desc & 0x20) != 0
          if ((desc & 0x08) != 0) bad("reserved frame-descriptor bit set")
          val didBytes = (desc & 3) match {
            case 0 => 0; case 1 => 1; case 2 => 2; case _ => 4
          }
          val fcsBytes = fcsFlag match {
            case 0 => if (singleSegment) 1 else 0
            case 1 => 2; case 2 => 4; case _ => 8
          }
          if (!singleSegment) { read1(in); pos += 1 } // window descriptor
          skipFully(in, didBytes); pos += didBytes
          val decoded =
            if (fcsBytes == 0) -1L
            else {
              val raw = readLE(in, fcsBytes); pos += fcsBytes
              if (fcsBytes == 2) raw + 256L else raw
            }
          // block walk: 3-byte LE header = last(1) | type(2) | size(21)
          var last = false
          while (!last) {
            val bh = readLE(in, 3); pos += 3
            last = (bh & 1) != 0
            val btype = ((bh >> 1) & 3).toInt
            val bsize = bh >> 3
            val payload = btype match {
              case 0 => bsize // raw
              case 1 => 1L // RLE: one byte, repeated bsize times
              case 2 => bsize // compressed
              case _ => bad("reserved block type")
            }
            skipFully(in, payload); pos += payload
          }
          if ((desc & 0x04) != 0) { skipFully(in, 4); pos += 4 } // checksum
          out += Frame(start, pos - start, isData = true, decoded)
        } else bad(f"not a zstd frame magic: 0x$magic%08x")
        magic0 = readMagic(in)
      }
      val all = out.result()
      if (!all.exists(_.isData)) bad("no data frames")
      all
    } finally in.close()
  }

  /** Group whole frames into contiguous batches of ≥ `targetBatchBytes`
    * compressed bytes (skippable frames ride whichever batch covers
    * them). Contiguity law: batches tile the file exactly. */
  def frameBatches(
      path: String, targetBatchBytes: Long = 8L << 20): Seq[Batch] = {
    val frames = frameRanges(path)
    val batches = Seq.newBuilder[Batch]
    var start = 0L
    var end = 0L
    frames.foreach { case (off, len, _) =>
      if (off != end) bad("non-contiguous frames") // cannot happen by walk
      end = off + len
      if (end - start >= targetBatchBytes) {
        batches += Batch(start, end - start)
        start = end
      }
    }
    if (end > start) batches += Batch(start, end - start)
    batches.result()
  }

  private def bad(msg: String): Nothing =
    throw new java.io.IOException(s"zstd index: $msg")

  private def read1(in: InputStream): Int = {
    val b = in.read()
    if (b < 0) bad("truncated")
    b
  }

  private def readLE(in: InputStream, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v |= read1(in).toLong << (8 * i); i += 1 }
    v
  }

  /** 4-byte LE magic, or -1 on clean EOF (between frames only). */
  private def readMagic(in: InputStream): Long = {
    val b0 = in.read()
    if (b0 < 0) return -1L
    b0.toLong | read1(in).toLong << 8 | read1(in).toLong << 16 |
      read1(in).toLong << 24
  }

  private def skipFully(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val k = in.skip(left)
      if (k > 0) left -= k
      else if (in.read() >= 0) left -= 1 // skip() can return 0 legally
      else throw new EOFException("zstd index: truncated")
    }
  }
  /** Fewer than two newlines in the whole decoded stream: at most two
    * lines, which one task parses as cheaply as any split (and only the
    * whole-file decode answers the empty and lone-newline shapes). Stops
    * decoding at the second newline. */
  def fewerThanTwoLines(path: String): Boolean = {
    val in = new com.github.luben.zstd.ZstdInputStream(FsIO.open(path))
    try {
      val buf = new Array[Byte](64 << 10)
      var nl = 0
      var k = in.read(buf)
      while (k > 0 && nl < 2) {
        var i = 0
        while (i < k) { if (buf(i) == '\n') nl += 1; i += 1 }
        k = in.read(buf)
      }
      nl < 2
    } finally in.close()
  }

  /** One frame batch's OWNED lines of a `.jsonl.zst` stream: line starts
    * in (S, E] of the decoded stream, batch 0 also owning start 0 — Hadoop
    * text-split semantics. A non-first batch discards up to its first
    * in-range newline (that prefix belongs to the previous batch), and a
    * line spanning the batch end is finished from a continuation decode of
    * the following frames; at file end an empty pending start is no row.
    * Lazy: one line is held at a time; closes itself at exhaustion. */
  def ownedLines(path: String, off: Long, len: Int): Iterator[IndexedSeq[String]] =
    new OwnedLines(path, off, len)

  private final class OwnedLines(path: String, off: Long, len: Int)
      extends Iterator[IndexedSeq[String]] with java.io.Closeable {
    private val isLast = off + len >= FsIO.len(path)
    private val own = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(FsIO.readRange(path, off, len)))
    // 64 KiB chunked scan splitting on the '\n' BYTE (unambiguous in
    // UTF-8): a per-byte read() loop costs tens of millions of virtual
    // calls per batch
    private val chunk = new Array[Byte](64 << 10)
    private var n = 0
    private var pos = 0
    private val acc = new java.io.ByteArrayOutputStream()
    // still discarding the previous batch's tail (up to the first own
    // newline); a batch wholly inside one line owns nothing
    private var skipping = off != 0L
    private var sawOwnNl = false
    private var done = false
    private var queued: IndexedSeq[String] = _

    private def take(): IndexedSeq[String] = {
      val line = IndexedSeq(new String(acc.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      acc.reset()
      line
    }

    override def hasNext: Boolean = queued != null || (!done && fetch())

    override def next(): IndexedSeq[String] = {
      if (!hasNext) throw new NoSuchElementException("batch exhausted")
      val q = queued
      queued = null
      q
    }

    /** Scan to the next owned newline, or finish the batch. */
    private def fetch(): Boolean = {
      while (!done) {
        if (pos >= n) {
          n = own.read(chunk)
          pos = 0
          if (n <= 0) finish()
        } else {
          var k = pos
          while (k < n && chunk(k) != '\n') k += 1
          if (k < n) {
            sawOwnNl = true
            val owned = !skipping
            if (owned) acc.write(chunk, pos, k - pos)
            skipping = false
            pos = k + 1
            if (owned) { queued = take(); return true }
          } else {
            if (!skipping) acc.write(chunk, pos, n - pos)
            pos = n
          }
        }
      }
      queued != null
    }

    /** Own range exhausted: a pending OWNED start is finished from the
      * continuation frames. */
    private def finish(): Unit = {
      close()
      if (!skipping || sawOwnNl) {
        var sawCont = false
        if (!isLast) {
          val cont = new BufferedInputStream(
            new com.github.luben.zstd.ZstdInputStream(FsIO.openAt(path, off + len.toLong)), 64 << 10)
          try {
            var c = cont.read()
            while (c >= 0 && c != '\n') { acc.write(c); sawCont = true; c = cont.read() }
            if (c == '\n') sawCont = true
          } finally cont.close()
        }
        if (acc.size() > 0 || sawCont) queued = take()
      }
    }

    override def close(): Unit = if (!done) {
      done = true
      own.close()
    }
  }
}

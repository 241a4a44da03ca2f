package graft.sources.tar

import java.io.{EOFException, InputStream}
import java.nio.charset.StandardCharsets

/** From-spec tar member walk (POSIX.1-1988 ustar + the two extension
  * families real corpora carry), for WebDataset-layout training shards —
  * the dominant container multimodal corpora ship in (img2dataset output:
  * `key.jpg` + `key.txt` + `key.json` member triples, thousands per
  * shard). Reference anchor: the extension-dispatch contract at
  * `/root/reference/main.py:147-165` — one honest answer per member
  * table, no exception escaping the file.
  *
  * Header layout (512-byte blocks): name[100] mode[8] uid[8] gid[8]
  * size[12] mtime[12] chksum[8] typeflag[1] linkname[100] magic[6]
  * version[2] uname[32] gname[32] devmajor[8] devminor[8] prefix[155].
  * Numeric fields are leading-zero octal, NUL/space terminated; GNU tar
  * additionally writes base-256 (top bit of the first byte set, big-endian
  * two's complement in the remainder) for sizes past 8 GiB — both parse.
  * The checksum is the simple sum of all 512 header bytes with the chksum
  * field itself read as eight spaces; POSIX sums unsigned bytes, but
  * historic tars summed SIGNED char — a header is accepted when either
  * sum matches its stored octal value, which is exactly GNU tar's
  * compatibility rule.
  *
  * Extensions handled:
  *   - GNU 'L' (longname): the entry's data block carries the NEXT
  *     member's full name (NUL-terminated); 'K' (longlink) is consumed
  *     and ignored — links are skipped below either way.
  *   - PAX 'x' (per-file extended header): records are
  *     `"<len> <key>=<value>\n"` with len counting the whole record
  *     including its own digits; `path` and `size` override the next
  *     member's header fields (they exist precisely because the header
  *     fields cap at 100 chars / 8 GiB octal). 'g' (global) headers are
  *     consumed and ignored — a global `path` default is pathological and
  *     guessing its interaction order would be dishonest.
  *
  * Member selection: typeflags '0', NUL and '7' (contiguous — POSIX says
  * treat as regular) are files; directories ('5', or the pre-POSIX
  * trailing-slash convention), links ('1'/'2'), devices ('3'/'4') and
  * fifos ('6') are skipped — they carry no payload a corpus consumer
  * reads. An all-zero block ends the archive (the spec writes two; one
  * followed by anything is already past every member, so the walk stops
  * at the first — GNU tar's lenient read). EOF exactly at a block
  * boundary after at least one header is the lenient no-terminator end;
  * EOF inside a header or payload throws (a TRUNCATED shard must answer
  * the caller's Failed row, never a silently short catalog).
  *
  * Scale shape: strictly streaming — one 512-byte header buffer plus
  * whatever the caller reads of each payload; [[walk]] hands each member
  * a BOUNDED payload stream and consumes any unread remainder itself, so
  * cataloging a shard never materializes a member. On a seekable stream
  * (plain `.tar` through the Hadoop FS layer) skipping payloads seeks,
  * which is what makes [[memberExtents]] an I/O-only index pass for the
  * big-shard split road in [[graft.operators.BulkIngest.parseTreeAuto]].
  */
object TarWalk {

  /** One regular member: `name` after longname/PAX/prefix resolution,
    * `typeflag` as stored, `size` in payload bytes. */
  final case class Entry(name: String, typeflag: Char, size: Long)

  /** Block-aligned extent of one logical member in the archive stream —
    * INCLUDING its preceding 'L'/'K'/'x'/'g' meta chain, so a ranged read
    * of `[start, end)` re-walks to the identical member. */
  final case class Extent(start: Long, end: Long)

  private final val Block = 512

  /** Walk every regular member: `f` receives the entry and a stream
    * bounded to exactly `size` payload bytes (the walker consumes any
    * unread remainder and the block padding after `f` returns). Returns
    * `f`'s results in archive order. Throws on malformed input. */
  def walk[T](in: InputStream)(f: (Entry, InputStream) => T): Seq[T] = {
    val out = Seq.newBuilder[T]
    scan(in) { (e, data, _, _) => out += f(e, data) }
    out.result()
  }

  /** One CATALOG row's cells per member — name, typeflag, size, payload
    * md5 streamed through the digest (never materialized) — shared by
    * every catalog road (BulkIngest file-grain, the big-shard split road,
    * the AnyFile importer) so all of them are cell-identical by
    * construction. */
  def memberCells(e: Entry, data: InputStream): Seq[String] =
    Seq(e.name, e.typeflag.toString, e.size.toString, streamMd5Hex(data))

  private val streamDigests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Streaming 64 KiB-chunk md5 of a payload stream — the one digest
    * loop every catalog road shares ([[memberCells]],
    * [[graft.operators.WebDataset.catalog]]), so their digests cannot
    * diverge. */
  def streamMd5Hex(data: InputStream): String = {
    // thread-local digest + table-lookup hex (r15 optimization pass):
    // the previous per-member getInstance + per-byte "%02x".format were
    // the catalog road's hottest non-I/O loop at one call per member.
    // The digest holds partial state across the read() loop below, so it
    // is this loop's own: a read that hashes through Md5Prefix64 on the
    // same thread cannot touch it.
    val md5 = streamDigests.get()
    md5.reset()
    val buf = new Array[Byte](64 << 10)
    var n = data.read(buf)
    while (n > 0) { md5.update(buf, 0, n); n = data.read(buf) }
    graft.functions.Md5Prefix64.hex(md5.digest())
  }

  /** Index pass for the big-shard split road: the block-aligned extent of
    * every regular member (meta chain included), payloads skipped — on a
    * seekable stream this touches header blocks only. */
  def memberExtents(in: InputStream): Seq[Extent] = {
    val out = Seq.newBuilder[Extent]
    scan(in) { (_, _, start, end) => out += Extent(start, end) }
    out.result()
  }

  /** One ranged-read unit of whole members for the big plain-`.tar` split
    * road: re-walking `[offset, offset+length)` yields exactly the batch's
    * regular members, numbered `firstMember + position` — identical to the
    * whole-file numbering (member ordinals are intrinsic, like WARC's). */
  final case class Batch(offset: Long, length: Long, firstMember: Long)

  /** Groups consecutive member extents into ~`targetBatchBytes` batches.
    * The index walk itself is header-I/O only: payload skips seek on the
    * Hadoop stream, so a multi-GB shard indexes at metadata speed. Plain
    * `.tar` only — a compressed shard has no random access and stays on
    * the one-task file-grain road, the shape gzip forces everywhere. */
  def memberBatches(path: String, targetBatchBytes: Long): Seq[Batch] = {
    val in = graft.sources.FsIO.open(path)
    val extents = try memberExtents(in) finally in.close()
    groupExtents(extents, targetBatchBytes)
  }

  /** Groups consecutive member extents into ~`targetBatchBytes` batches —
    * ONE grouping shared by the plain-`.tar` road (compressed offsets)
    * and the `.tar.zst` road (decoded offsets), so the two can never
    * silently diverge on a threshold rule. */
  def groupExtents(extents: Seq[Extent], targetBatchBytes: Long): Seq[Batch] = {
    val out = Seq.newBuilder[Batch]
    var batchStart = -1L
    var batchEnd = -1L
    var batchFirst = 0L
    var idx = 0L
    extents.foreach { e =>
      if (batchStart < 0) { batchStart = e.start; batchFirst = idx }
      batchEnd = e.end
      if (batchEnd - batchStart >= targetBatchBytes) {
        out += Batch(batchStart, batchEnd - batchStart, batchFirst)
        batchStart = -1L
      }
      idx += 1
    }
    if (batchStart >= 0) out += Batch(batchStart, batchEnd - batchStart, batchFirst)
    out.result()
  }

  /** Core scan. `f(entry, boundedPayload, extentStart, extentEnd)` per
    * regular member; `extentEnd` is where the member's padded payload
    * ends (== the next logical member's start). */
  private def scan(
      in: InputStream)(f: (Entry, InputStream, Long, Long) => Unit): Unit = {
    val hdr = new Array[Byte](Block)
    var pos = 0L
    var nHeaders = 0
    // meta chain state for the NEXT real member
    var longName: String = null
    var paxPath: String = null
    var paxSize: Long = -1L
    var chainStart = -1L

    def readBlock(): Boolean = {
      var got = 0
      while (got < Block) {
        val n = in.read(hdr, got, Block - got)
        if (n < 0) {
          if (got == 0) return false
          throw new EOFException(s"truncated tar header at $pos (+$got)")
        }
        got += n
      }
      pos += Block
      true
    }

    def skipFully(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val k = in.skip(left)
        if (k > 0) left -= k
        else {
          // skip() may legally return 0; distinguish EOF with a read
          if (in.read() < 0)
            throw new EOFException(s"truncated tar payload at $pos")
          left -= 1
        }
      }
      pos += n
    }

    def padded(size: Long): Long = ((size + Block - 1) / Block) * Block

    // a consumed 'L'/'x' entry PROMISES a following member: ending the
    // archive (zero block or EOF) with the promise unkept is truncation
    // mid logical member — it must throw, or a catalog cut right after a
    // meta entry would come back silently short
    def requireNoPendingMeta(where: String): Unit =
      if (longName != null || paxPath != null || paxSize >= 0)
        throw new EOFException(
          s"tar ends at $where with a dangling longname/PAX chain " +
            s"(a meta entry promised a member that never followed)")

    while (readBlock()) {
      if (isZeroBlock(hdr)) { // end-of-archive marker
        requireNoPendingMeta("the zero terminator")
        return
      }
      nHeaders += 1
      val headerStart = pos - Block
      if (chainStart < 0) chainStart = headerStart
      verifyChecksum(hdr, headerStart)
      val storedSize = numeric(hdr, 124, 12)
      val tf = {
        val b = hdr(156)
        if (b == 0) '0' else (b & 0xff).toChar
      }
      tf match {
        case 'L' | 'K' =>
          // GNU long name / long linkname: data = the string, NUL-ended
          if (storedSize < 0 || storedSize > (1 << 20))
            throw new IllegalArgumentException(
              s"unreasonable GNU long-name length $storedSize at $headerStart")
          val data = readFully(in, storedSize.toInt)
          pos += storedSize
          skipFully(padded(storedSize) - storedSize)
          if (tf == 'L') longName = cString(data, 0, data.length)
        case 'x' | 'g' =>
          if (storedSize < 0 || storedSize > (16 << 20))
            throw new IllegalArgumentException(
              s"unreasonable PAX header length $storedSize at $headerStart")
          val data = readFully(in, storedSize.toInt)
          pos += storedSize
          skipFully(padded(storedSize) - storedSize)
          if (tf == 'x') {
            val recs = paxRecords(data)
            recs.get("path").foreach(paxPath = _)
            recs.get("size").foreach { v =>
              paxSize = try v.toLong catch {
                case _: NumberFormatException =>
                  throw new IllegalArgumentException(s"bad PAX size '$v'")
              }
            }
          }
        case _ =>
          val size =
            if (paxSize >= 0) paxSize
            else if (storedSize < 0)
              throw new IllegalArgumentException(
                s"negative member size at $headerStart")
            else storedSize
          val rawName = {
            val n = cString(hdr, 0, 100)
            val prefix = cString(hdr, 345, 155)
            // the prefix field is ustar-magic-gated: pre-POSIX headers
            // reuse those bytes for other data
            if (prefix.nonEmpty && isUstar(hdr)) prefix + "/" + n else n
          }
          val name =
            if (paxPath != null) paxPath
            else if (longName != null) longName
            else rawName
          val regular = (tf == '0' || tf == '7') && !name.endsWith("/")
          if (regular) {
            val end = pos + padded(size)
            val bounded = new BoundedStream(in, size)
            f(Entry(name, tf, size), bounded, chainStart, end)
            pos += bounded.consumed // bounded reads bypass skipFully's count
            skipFully(size - bounded.consumed + (padded(size) - size))
          } else {
            // POSIX: typeflags '1'-'6' (links, char/block devices, dirs,
            // fifos) carry NO data records even when the size field is
            // nonzero (historic writers store link-target sizes and
            // directory subtree hints there) — consuming padded(size)
            // would desynchronize the walk mid-archive. Anything else
            // (trailing-slash '0' dirs, vendor typeflags) is laid out
            // like a regular file per POSIX; its data is skipped.
            val dataless = tf >= '1' && tf <= '6'
            if (!dataless) skipFully(padded(size))
          }
          longName = null; paxPath = null; paxSize = -1L; chainStart = -1L
      }
    }
    // EOF at a block boundary with no zero terminator: lenient end — but
    // only past at least one header (an empty stream is not a tar) and
    // never with an unkept meta-chain promise
    if (nHeaders == 0)
      throw new EOFException("empty stream is not a tar archive")
    requireNoPendingMeta("EOF")
  }

  /** Exactly `n` bytes or throw — meta-entry payloads are small by the
    * caps above, so materializing them is bounded. */
  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var got = 0
    while (got < n) {
      val k = in.read(buf, got, n - got)
      if (k < 0) throw new EOFException(s"truncated tar meta entry ($got/$n)")
      got += k
    }
    buf
  }

  private def isZeroBlock(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < Block) { if (b(i) != 0) return false; i += 1 }
    true
  }

  private def isUstar(h: Array[Byte]): Boolean =
    h(257) == 'u' && h(258) == 's' && h(259) == 't' && h(260) == 'a' &&
      h(261) == 'r' // "ustar\0" (POSIX) and "ustar " (old GNU) both pass

  /** NUL-terminated string field, UTF-8 decoded (PAX names arrive via the
    * 'x' record instead, which is UTF-8 by spec). */
  private def cString(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val lim = off + len
    while (end < lim && b(end) != 0) end += 1
    new String(b, off, end - off, StandardCharsets.UTF_8)
  }

  /** Octal numeric field (leading spaces/NULs tolerated), or GNU base-256
    * when the first byte's top bit is set. */
  private def numeric(b: Array[Byte], off: Int, len: Int): Long = {
    if ((b(off) & 0x80) != 0) {
      // base-256: big-endian, top bit of the lead byte is the marker
      var v = (b(off) & 0x7f).toLong
      var i = off + 1
      while (i < off + len) { v = (v << 8) | (b(i) & 0xff); i += 1 }
      v
    } else {
      var i = off
      val lim = off + len
      while (i < lim && (b(i) == ' ' || b(i) == 0)) i += 1
      var v = 0L
      var any = false
      while (i < lim && b(i) >= '0' && b(i) <= '7') {
        v = (v << 3) | (b(i) - '0'); i += 1; any = true
      }
      if (!any) 0L else v
    }
  }

  private def verifyChecksum(h: Array[Byte], at: Long): Unit = {
    val stored = numeric(h, 148, 8)
    var unsignedSum = 0L
    var signedSum = 0L
    var i = 0
    while (i < Block) {
      val raw = if (i >= 148 && i < 156) ' '.toByte else h(i)
      unsignedSum += raw & 0xff
      signedSum += raw
      i += 1
    }
    if (stored != unsignedSum && stored != signedSum)
      throw new IllegalArgumentException(
        s"tar header checksum mismatch at $at: " +
          s"stored $stored, computed $unsignedSum")
  }

  /** PAX extended-header records: `"<len> <key>=<value>\n"` where len is
    * the byte length of the WHOLE record (digits and newline included).
    * Values are UTF-8; a malformed record throws. */
  private[tar] def paxRecords(data: Array[Byte]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < data.length) {
      var j = i
      while (j < data.length && data(j) != ' ') j += 1
      if (j >= data.length)
        throw new IllegalArgumentException("PAX record missing length")
      val len = new String(data, i, j - i, StandardCharsets.US_ASCII).toInt
      if (len <= j - i + 1 || i + len > data.length ||
        data(i + len - 1) != '\n')
        throw new IllegalArgumentException(s"bad PAX record length $len")
      val body = new String(data, j + 1, i + len - 1 - (j + 1),
        StandardCharsets.UTF_8)
      val eq = body.indexOf('=')
      if (eq < 0)
        throw new IllegalArgumentException("PAX record missing '='")
      out += body.substring(0, eq) -> body.substring(eq + 1)
      i += len
    }
    out.result()
  }

  /** A bounded VIEW of `in`: reads at most `limit` bytes then answers
    * EOF (-1), exposing `remaining` so a caller can distinguish a fully
    * consumed range from an underlying stream that ended early — the
    * ranged split roads' truncation check (an index promised `limit`
    * decoded bytes; fewer means the file or a declared frame size lied,
    * and the walk must FAIL rather than answer a silently short
    * catalog). Unlike the private payload view below, hitting EOF early
    * here is the CALLER's condition to check, not an exception. */
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
  }

  /** Skip exactly `n` bytes of `in` or throw — the ranged roads' lead
    * skip (skip() may legally return 0; EOF inside the lead is
    * truncation). */
  def skipExactly(in: InputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val k = in.skip(left)
      if (k > 0) left -= k
      else if (in.read() >= 0) left -= 1
      else throw new EOFException(s"stream ended inside a ${n}-byte skip")
    }
  }

  /** Reads at most `limit` bytes of the underlying stream — the payload
    * view handed to [[walk]]'s callback. Close is a no-op (the walker
    * owns the underlying stream and consumes the remainder itself). */
  private final class BoundedStream(in: InputStream, limit: Long)
      extends InputStream {
    private var done = 0L
    def consumed: Long = done
    override def read(): Int = {
      if (done >= limit) return -1
      val v = in.read()
      if (v < 0) throw new EOFException("truncated tar payload")
      done += 1
      v
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (done >= limit) return -1
      val want = math.min(len.toLong, limit - done).toInt
      val n = in.read(b, off, want)
      if (n < 0) throw new EOFException("truncated tar payload")
      done += n
      n
    }
    override def close(): Unit = ()
  }
}

package graft.sources.sqlite

import scala.collection.mutable

import graft.sources.FsIO

/** SQLite database-file reader — from the public file-format spec
  * (sqlite.org/fileformat2.html), the PdfParser/XlsParser discipline: no
  * external jar, bounds-checked lenient decode, errors surface as None to
  * the importer's never-throw contract.
  *
  * Structure implemented:
  *  - 100-byte header: page size (u16 at 16, 1 → 65536), reserved bytes
  *    per page (u8 at 20), text encoding (u32 at 56: 1 utf-8, 2 utf-16le,
  *    3 utf-16be), page count (u32 at 28, stale-zero repaired from file
  *    length).
  *  - Table B-trees: interior pages (type 0x05; 4-byte child pointers +
  *    rightmost at header offset 8) walked to enumerate leaf pages; leaf
  *    pages (type 0x0D) hold cells = varint payload length, varint rowid,
  *    record. Payloads larger than the local maximum X = U-35 spill to an
  *    overflow-page chain with the spec's split rule (M = ((U-12)*32)/255
  *    - 23; K = M + (P-M) mod (U-4); local = K if K ≤ X else M).
  *  - Records: varint header length, serial-type varints, then values.
  *    Serial types: 0 NULL, 1/2/3/4/5/6 big-endian signed ints of
  *    1/2/3/4/6/8 bytes, 7 float64, 8 literal 0, 9 literal 1, even ≥12
  *    blob of (N-12)/2 bytes, odd ≥13 text of (N-13)/2 bytes.
  *  - `sqlite_master` (root page 1, header at byte offset 100) yields each
  *    object's type/name/rootpage/sql; CREATE TABLE column names parse
  *    from the sql with a quote-aware paren scan (lenient — `"x"`,
  *    `[x]`, `` `x` ``, bare), table-level constraint defs skipped. A
  *    column declared `INTEGER PRIMARY KEY` is the rowid alias: its
  *    stored value is NULL and the cell's rowid is the value.
  *
  * Not supported (detected, reported as unreadable tables rather than
  * wrong data): WITHOUT ROWID tables (their roots are index b-trees,
  * page types 0x02/0x0a) and virtual tables (rootpage 0).
  *
  * All page access is RANGED ([[FsIO.readRange]], one page per read) so
  * the same decode runs on the driver for small files and inside executor
  * tasks for big ones — the container is never copied or localized.
  */
object SqliteParser {

  final case class Header(
      pageSize: Int, reserved: Int, textEnc: Int, nPages: Long) {
    def usable: Int = pageSize - reserved
  }

  /** One schema object from sqlite_master. */
  final case class Master(
      objType: String, name: String, rootPage: Long, sql: String)

  final case class TableMeta(
      name: String,
      rootPage: Long,
      cols: IndexedSeq[String],
      ipk: Int, // index of the INTEGER PRIMARY KEY (rowid alias) col, or -1
      withoutRowid: Boolean,
      virtual: Boolean)

  private val Magic = "SQLite format 3\u0000".getBytes("ISO-8859-1")

  /** Page-access abstraction: a path read RANGED through the Hadoop FS
    * layer (the big-file road — one bounded read per page, the container
    * never whole in heap), or an in-memory byte image (small files read
    * once, in-task round-trips like q182 — per-page FS opens on a tiny
    * file cost more than the decode itself). */
  sealed trait Source {
    def len: Long
    def read(off: Long, n: Int): Array[Byte]
  }
  final case class PathSource(path: String) extends Source {
    lazy val len: Long = FsIO.len(path)
    def read(off: Long, n: Int): Array[Byte] = FsIO.readRange(path, off, n)
  }
  final case class BytesSource(bytes: Array[Byte]) extends Source {
    def len: Long = bytes.length.toLong
    def read(off: Long, n: Int): Array[Byte] = {
      val o = off.toInt
      require(o >= 0 && o + n <= bytes.length, s"read past image end")
      java.util.Arrays.copyOfRange(bytes, o, o + n)
    }
  }

  // ------------------------------------------------------------- header

  def header(src: Source): Option[Header] = {
    val fileLen = try src.len catch { case _: Exception => return None }
    if (fileLen < 512) return None
    val h = src.read(0L, 100)
    var i = 0
    while (i < Magic.length) { if (h(i) != Magic(i)) return None; i += 1 }
    val rawPs = u16(h, 16)
    val pageSize = if (rawPs == 1) 65536 else rawPs
    if (pageSize < 512 || (pageSize & (pageSize - 1)) != 0) return None
    val reserved = h(20) & 0xff
    val textEnc = u32(h, 56).toInt
    // Per fileformat2 the in-header database size (offset 28) is only
    // valid when the change counter (24) matches version-valid-for (92);
    // a db last written by a pre-3.7.0 library carries a stale value.
    // When the pair disagrees, use the file-derived count ALONE — a
    // stale-LARGER declared count would otherwise let pointers past EOF
    // pass the range check only to fail at read time (ADVICE r13), and a
    // stale-smaller one would fail valid pointers.
    val declared = u32(h, 28)
    val changeCtr = u32(h, 24)
    val validFor = u32(h, 92)
    val fromFile = fileLen / pageSize
    val nPages =
      if (declared > 0 && changeCtr == validFor) declared
      else fromFile
    if (textEnc < 1 || textEnc > 3) return None
    Some(Header(pageSize, reserved, textEnc, nPages))
  }

  /** Payloads larger than this fail the table instead of the task heap
    * (the RangedZip MaxCdBytes sanity-cap discipline — a corrupt or
    * pathological length field must not drive a giant allocation). */
  private val MaxPayloadBytes = 256L << 20

  private def readPage(src: Source, h: Header, n: Long): Array[Byte] = {
    require(n >= 1 && n <= h.nPages, s"page $n out of range")
    src.read((n - 1) * h.pageSize.toLong, h.pageSize)
  }

  // --------------------------------------------------------- tree walk

  /** Leaf pages of the table b-tree rooted at `root`, left-to-right.
    * None if the root is not a table b-tree (WITHOUT ROWID / index). */
  def leafPages(src: Source, h: Header, root: Long): Option[Seq[Long]] = {
    val out = mutable.ArrayBuffer.empty[Long]
    val stack = mutable.Stack(root)
    val seen = mutable.HashSet.empty[Long] // cycle guard on corrupt files
    while (stack.nonEmpty) {
      val n = stack.pop()
      if (n < 1 || n > h.nPages || !seen.add(n))
        throw new IllegalStateException(s"bad page pointer $n")
      val pg = readPage(src, h, n)
      val off = if (n == 1L) 100 else 0
      (pg(off) & 0xff) match {
        case 0x0d => out += n
        case 0x05 =>
          val ncells = u16(pg, off + 3)
          // rightmost pointer first so the stack pops children in order
          stack.push(u32(pg, off + 8))
          var i = ncells - 1
          while (i >= 0) {
            val cp = u16(pg, off + 12 + 2 * i)
            stack.push(u32(pg, cp))
            i -= 1
          }
        case _ => return None // index page: not a rowid-table tree
      }
    }
    Some(out.toSeq)
  }

  /** The cell count of one table leaf page, from its b-tree page header
    * alone: its row count, with no record decoded. */
  def leafCells(path: String, h: Header, page: Long): Int = {
    require(page >= 1 && page <= h.nPages, s"page $page out of range")
    val off = if (page == 1L) 100 else 0
    val hd = FsIO.readRange(path, (page - 1) * h.pageSize.toLong + off, 8)
    require((hd(0) & 0xff) == 0x0d, s"page $page is not a table leaf")
    u16(hd, 3)
  }

  /** Decode every row on one table leaf page: (rowid, column values as
    * serial-typed raw cells). */
  def leafRows(path: String, h: Header, page: Long): Seq[(Long, IndexedSeq[Cell])] =
    leafRows(PathSource(path), h, page)
  def leafRows(src: Source, h: Header, page: Long): Seq[(Long, IndexedSeq[Cell])] = {
    val pg = readPage(src, h, page)
    val off = if (page == 1L) 100 else 0
    require((pg(off) & 0xff) == 0x0d, s"page $page is not a table leaf")
    val ncells = u16(pg, off + 3)
    val u = h.usable
    val x = u - 35
    val m = ((u - 12) * 32) / 255 - 23
    (0 until ncells).map { i =>
      val cp = u16(pg, off + 8 + 2 * i)
      var p = cp
      val (payloadLen, a) = varint(pg, p); p += a
      val (rowid, b) = varint(pg, p); p += b
      require(payloadLen >= 0 && payloadLen <= MaxPayloadBytes,
        s"payload length $payloadLen exceeds the sanity cap")
      val payload: Array[Byte] =
        if (payloadLen <= x) {
          java.util.Arrays.copyOfRange(pg, p, p + payloadLen.toInt)
        } else {
          val k = m + ((payloadLen - m) % (u - 4)).toInt
          val local = if (k <= x) k else m
          val buf = new Array[Byte](payloadLen.toInt)
          System.arraycopy(pg, p, buf, 0, local)
          var filled = local
          var next = u32(pg, p + local)
          while (filled < payloadLen && next != 0) {
            val ov = readPage(src, h, next)
            next = u32(ov, 0)
            val take = math.min(u - 4, payloadLen.toInt - filled)
            System.arraycopy(ov, 4, buf, filled, take)
            filled += take
          }
          require(filled == payloadLen, "truncated overflow chain")
          buf
        }
      rowid -> record(payload, h.textEnc)
    }
  }

  // ------------------------------------------------------------ record

  /** One decoded record value. `num` holds int serials, `real` type 7,
    * `bytes` text/blob payloads (text decoded by the caller's charset). */
  sealed trait Cell
  case object NullCell extends Cell
  final case class IntCell(v: Long) extends Cell
  final case class RealCell(v: Double) extends Cell
  final case class TextCell(v: String) extends Cell
  final case class BlobCell(v: Array[Byte]) extends Cell

  private def charset(textEnc: Int): java.nio.charset.Charset = textEnc match {
    case 2 => java.nio.charset.StandardCharsets.UTF_16LE
    case 3 => java.nio.charset.StandardCharsets.UTF_16BE
    case _ => java.nio.charset.StandardCharsets.UTF_8
  }

  def record(payload: Array[Byte], textEnc: Int): IndexedSeq[Cell] = {
    val (hdrLen, h0) = varint(payload, 0)
    var p = h0
    val serials = mutable.ArrayBuffer.empty[Long]
    while (p < hdrLen) {
      val (s, n) = varint(payload, p); p += n; serials += s
    }
    var v = hdrLen.toInt
    val cs = charset(textEnc)
    serials.map { s =>
      val cell: Cell = s match {
        case 0 => NullCell
        case 1 | 2 | 3 | 4 | 5 | 6 =>
          val len = Seq(0, 1, 2, 3, 4, 6, 8)(s.toInt)
          var acc = (payload(v).toLong << 56) >> 56 // sign-extend first byte
          var i = 1
          while (i < len) { acc = (acc << 8) | (payload(v + i) & 0xffL); i += 1 }
          v += len
          IntCell(acc)
        case 7 =>
          var bits = 0L
          var i = 0
          while (i < 8) { bits = (bits << 8) | (payload(v + i) & 0xffL); i += 1 }
          v += 8
          RealCell(java.lang.Double.longBitsToDouble(bits))
        case 8 => IntCell(0L)
        case 9 => IntCell(1L)
        case n if n >= 12 =>
          val len = ((n - 12) / 2).toInt
          val bytes = java.util.Arrays.copyOfRange(payload, v, v + len)
          v += len
          if (n % 2 == 1) TextCell(new String(bytes, cs)) else BlobCell(bytes)
        case _ => NullCell // 10/11 reserved: treat as NULL, keep reading
      }
      cell
    }.toIndexedSeq
  }

  /** Render a cell the way `sqlite3`'s text mode would, deterministic:
    * ints decimal, reals via Double.toString, blobs lowercase hex with an
    * `0x` prefix, NULL → null. */
  def render(c: Cell): String = c match {
    case NullCell    => null
    case IntCell(v)  => v.toString
    case RealCell(v) => java.lang.Double.toString(v)
    case TextCell(v) => v
    case BlobCell(v) =>
      // table-lookup hex (Md5Prefix64.hex) — the per-byte f"%02x"
      // interpolator re-parsed its format string per blob byte
      "0x" + graft.functions.Md5Prefix64.hex(v)
  }

  // ----------------------------------------------------- sqlite_master

  def masterObjects(src: Source, h: Header): Seq[Master] = {
    val leaves = leafPages(src, h, 1L)
      .getOrElse(throw new IllegalStateException("page 1 is not a table tree"))
    leaves.flatMap { pg =>
      leafRows(src, h, pg).flatMap { case (_, cells) =>
        // sqlite_master: (type, name, tbl_name, rootpage, sql)
        if (cells.length < 5) None
        else {
          val objType = cells(0) match { case TextCell(t) => t; case _ => "" }
          val name = cells(1) match { case TextCell(t) => t; case _ => "" }
          val root = cells(3) match { case IntCell(v) => v; case _ => 0L }
          val sql = cells(4) match { case TextCell(t) => t; case _ => "" }
          Some(Master(objType, name, root, sql))
        }
      }
    }
  }

  def tables(src: Source, h: Header): Seq[TableMeta] =
    masterObjects(src, h)
      .filter(m => m.objType == "table" && !m.name.startsWith("sqlite_"))
      .map { m =>
        val up = m.sql.toUpperCase(java.util.Locale.ROOT)
        val virtual = up.contains("CREATE VIRTUAL TABLE")
        val (cols, ipk) =
          if (virtual) (IndexedSeq.empty[String], -1)
          else parseColumns(m.sql)
        // WITHOUT ROWID is the statement's trailing clause
        val withoutRowid =
          up.replaceAll("\\s+", " ").trim.endsWith("WITHOUT ROWID")
        TableMeta(m.name, m.rootPage, cols, ipk, withoutRowid, virtual)
      }

  /** Column names + rowid-alias index from a CREATE TABLE statement.
    * Quote-aware paren scan; table-level constraints skipped; the alias
    * is the column whose definition says INTEGER … PRIMARY KEY. */
  private[sqlite] def parseColumns(sql: String): (IndexedSeq[String], Int) = {
    val open = sql.indexOf('(')
    if (open < 0) return (IndexedSeq.empty, -1)
    // scan to the matching ')' respecting '…', "…", […], `…`
    var depth = 0
    var i = open
    var quote: Char = 0
    var end = -1
    while (i < sql.length && end < 0) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote) quote = 0
        else if (quote == '[' && c == ']') quote = 0
      } else c match {
        case '\'' | '"' | '`' => quote = c
        case '['              => quote = '['
        case '('              => depth += 1
        case ')'              => depth -= 1; if (depth == 0) end = i
        case _                => ()
      }
      i += 1
    }
    if (end < 0) end = sql.length
    val body = sql.substring(open + 1, end)

    // split on top-level commas, same quote discipline
    val defs = mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    depth = 0; quote = 0
    body.foreach { c =>
      if (quote != 0) {
        if (c == quote || (quote == '[' && c == ']')) quote = 0
        cur.append(c)
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c)
        case '['              => quote = '['; cur.append(c)
        case '('              => depth += 1; cur.append(c)
        case ')'              => depth -= 1; cur.append(c)
        case ',' if depth == 0 => defs += cur.toString; cur.setLength(0)
        case _                => cur.append(c)
      }
    }
    if (cur.length > 0) defs += cur.toString

    val constraintHead =
      Set("CONSTRAINT", "PRIMARY", "UNIQUE", "CHECK", "FOREIGN")
    val names = mutable.ArrayBuffer.empty[String]
    var ipk = -1
    defs.map(_.trim).filter(_.nonEmpty).foreach { d =>
      val (name, rest, quoted) = leadingIdentifier(d)
      val headWord = name.toUpperCase(java.util.Locale.ROOT)
      // Constraint-head detection applies to BARE identifiers only: a
      // quoted/bracketed `"check"` or `[primary]` is a legitimate column
      // name per SQL quoting rules, and skipping it would shift every
      // later column's values left — silently wrong data.
      if (quoted || !constraintHead.contains(headWord)) {
        val restUp = rest.toUpperCase(java.util.Locale.ROOT)
        if (restUp.contains("INTEGER") && restUp.contains("PRIMARY KEY") &&
          ipk < 0) ipk = names.length
        names += name
      }
    }
    (names.toIndexedSeq, ipk)
  }

  /** First identifier of a column def: quoted (`"x"` doubled-quote escape,
    * `[x]`, `` `x` ``) or bare (to whitespace/`(`). Returns (name, rest,
    * wasQuoted) — quoting matters because a quoted identifier is ALWAYS a
    * column name, even when it spells a constraint keyword. */
  private def leadingIdentifier(d: String): (String, String, Boolean) = {
    if (d.isEmpty) return ("", "", false)
    d.charAt(0) match {
      case q @ ('"' | '`' | '\'') =>
        val sb = new java.lang.StringBuilder
        var i = 1
        var done = false
        while (i < d.length && !done) {
          val c = d.charAt(i)
          if (c == q) {
            if (i + 1 < d.length && d.charAt(i + 1) == q) { sb.append(q); i += 2 }
            else { done = true; i += 1 }
          } else { sb.append(c); i += 1 }
        }
        (sb.toString, d.substring(math.min(i, d.length)), true)
      case '[' =>
        val close = d.indexOf(']')
        if (close < 0) (d.substring(1), "", true)
        else (d.substring(1, close), d.substring(close + 1), true)
      case _ =>
        var i = 0
        while (i < d.length && !d.charAt(i).isWhitespace && d.charAt(i) != '(')
          i += 1
        (d.substring(0, i), d.substring(i), false)
    }
  }

  // ------------------------------------------------------------- bytes

  private def u16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** SQLite varint: 1-9 bytes, high-bit continuation, 9th byte all 8 bits.
    * Returns (value, bytes consumed). */
  private[sqlite] def varint(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val c = b(o + i) & 0xff
      if ((c & 0x80) == 0) return ((v << 7) | c, i + 1)
      v = (v << 7) | (c & 0x7f)
      i += 1
    }
    (((v << 8) | (b(o + 8) & 0xffL)), 9)
  }
}

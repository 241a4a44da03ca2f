package graft.sources.pdf

import java.util.zip.Inflater

import scala.collection.mutable

/** Minimal, lenient PDF document parser — the container half of the
  * tabula-equivalent the reference shells out to (`main.py:381`,
  * tabula-py → tabula JAR subprocess). Implemented from the public PDF
  * specification (ISO 32000-1, published free by Adobe): COS object
  * syntax, indirect objects, streams with FlateDecode, and the page tree.
  *
  * Leniency mirrors the reference's posture toward damaged files ("The
  * structure may be damaged", `main.py:378`): the cross-reference table is
  * IGNORED — every `N G obj … endobj` span in the file is scanned
  * directly, so truncated/incorrect xref offsets (the most common
  * real-world damage) don't matter. Later definitions of the same object
  * number win, which also approximates incremental-update semantics
  * without parsing /Prev chains.
  *
  * Scope (documented subset): Flate/ASCIIHex/ASCII85/LZW/RunLength
  * filters (incl. chains; no predictors — content streams in practice
  * never use them), PDF 1.5+ object streams (/Type /ObjStm — see
  * [[expandObjectStreams]]) and xref-stream trailers, standard-handler
  * encryption with an empty user password (RC4 + AES-128/256, see
  * [[PdfCrypto]]), and Type0/composite fonts via their embedded
  * /ToUnicode CMaps ([[parseToUnicodeCMap]]). Still out of scope:
  * password-locked/public-key encryption, CCITT/JBIG2/DCT (image)
  * filters, predefined (non-embedded) CMap names. Out-of-scope
  * constructs surface as missing pages/text, never exceptions — the
  * importer's contract is the reference's never-throw error answer.
  */
object PdfParser {

  // ------------------------------------------------------------ COS model

  sealed trait PObj
  final case class PName(value: String) extends PObj
  final case class PNum(value: Double) extends PObj
  final case class PString(bytes: Array[Byte]) extends PObj
  final case class PArr(items: Vector[PObj]) extends PObj
  final case class PDict(entries: Map[String, PObj]) extends PObj
  final case class PRef(num: Int) extends PObj
  final case class PBool(value: Boolean) extends PObj
  case object PNull extends PObj

  /** Indirect object payload: dictionary plus (still-encoded) stream bytes. */
  final case class PStream(dict: PDict, raw: Array[Byte]) extends PObj

  /** Per-font decode info for the content interpreter: composite fonts
    * (Type0, §9.7) show 2-byte codes; `toUnicode` maps a code to its
    * Unicode string per the font's embedded /ToUnicode CMap (§9.10.3).
    * `cidFallback` is the Identity-H recovery path when /ToUnicode is
    * absent: CID → GID (via /CIDToGIDMap) → Unicode (via the embedded
    * TrueType font program's own 'cmap', inverted — [[TrueTypeCmap]],
    * §9.6.6.4). Lookup order in the extractor: toUnicode, cidFallback,
    * then raw code point. */
  final case class PdfFont(
      twoByte: Boolean,
      toUnicode: Map[Int, String],
      cidFallback: Map[Int, String] = Map.empty)

  /** Parse a /ToUnicode CMap stream (§9.10.3 + Adobe CMap spec): only the
    * `bfchar` (code → UTF-16BE string) and `bfrange` (code interval →
    * incremented base or explicit array) sections carry the mapping; all
    * other CMap operators are skipped. Lenient: malformed sections end at
    * the next `end…` keyword with whatever parsed. */
  def parseToUnicodeCMap(bytes: Array[Byte]): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    def codeOf(b: Array[Byte]): Int =
      b.foldLeft(0)((acc, x) => (acc << 8) | (x & 0xff))
    def strOf(b: Array[Byte]): String = new String(b, "UTF-16BE")
    // dst base + offset: increment the LAST UTF-16 code unit (Adobe CMap
    // spec: only the last byte/unit varies within one bfrange)
    def bump(base: Array[Byte], off: Int): String = {
      val s = strOf(base)
      if (s.isEmpty) s
      else s.dropRight(1) + (s.last + off).toChar
    }
    val lex = new Lexer(bytes)
    var tok = lex.next()
    while (tok.isDefined) {
      tok.get match {
        case TKeyword("beginbfchar") =>
          var done = false
          while (!done) {
            (lex.next(), lex.next()) match {
              case (Some(TString(src)), Some(TString(dst))) =>
                out += codeOf(src) -> strOf(dst)
              case _ => done = true // endbfchar or malformed
            }
          }
        case TKeyword("beginbfrange") =>
          var done = false
          while (!done) {
            (lex.next(), lex.next()) match {
              case (Some(TString(lo)), Some(TString(hi))) =>
                val loC = codeOf(lo)
                val hiC = codeOf(hi)
                lex.next() match {
                  case Some(TString(base)) =>
                    var c = loC
                    while (c <= hiC && c - loC <= 65535) {
                      out += c -> bump(base, c - loC); c += 1
                    }
                  case Some(TArrayOpen) =>
                    var c = loC
                    var inArr = true
                    while (inArr) {
                      lex.next() match {
                        case Some(TString(dst)) =>
                          if (c <= hiC) out += c -> strOf(dst)
                          c += 1
                        case _ => inArr = false // TArrayClose or EOF
                      }
                    }
                  case _ => done = true
                }
              case _ => done = true // endbfrange or malformed
            }
          }
        case _ => () // codespace ranges, cid mappings, usecmap — skipped
      }
      tok = lex.next()
    }
    out.result()
  }

  final class Document(objects: Map[Int, PObj]) {

    def resolve(o: PObj): PObj = o match {
      case PRef(n) => objects.get(n).map(resolve).getOrElse(PNull)
      case other   => other
    }

    def dict(o: PObj): Option[PDict] = resolve(o) match {
      case d: PDict     => Some(d)
      case PStream(d, _) => Some(d)
      case _            => None
    }

    def entry(d: PDict, key: String): Option[PObj] =
      d.entries.get(key).map(resolve)

    def name(d: PDict, key: String): Option[String] =
      entry(d, key).collect { case PName(v) => v }

    /** Pages in /Root → /Pages tree order; falls back to file order of
      * `/Type /Page` dictionaries when the tree is broken or absent.
      * Inheritable attributes (/Resources — §7.7.3.4) are pushed down
      * from /Pages ancestors into pages that lack their own. The trailer
      * dictionary is stored under object number -1. */
    def pages: Seq[PDict] = {
      val fromTree = for {
        trailer <- objects.get(-1).flatMap(dict)
        root <- entry(trailer, "Root").flatMap(dict)
        pagesRoot <- entry(root, "Pages").flatMap(dict)
      } yield collectKids(pagesRoot, depth = 0, inheritedRes = None)
      fromTree.filter(_.nonEmpty).getOrElse {
        objects.toSeq.filter(_._1 >= 0).sortBy(_._1).map(o => resolve(o._2))
          .collect {
            case d: PDict if name(d, "Type").contains("Page") => d
          }
      }
    }

    private def collectKids(node: PDict, depth: Int,
        inheritedRes: Option[PObj]): Seq[PDict] = {
      if (depth > 64) return Nil // cycle guard
      val res = node.entries.get("Resources").orElse(inheritedRes)
      name(node, "Type") match {
        case Some("Page") =>
          val page =
            if (node.entries.contains("Resources")) node
            else res.map(r => PDict(node.entries + ("Resources" -> r)))
              .getOrElse(node)
          Seq(page)
        case _ =>
          entry(node, "Kids") match {
            case Some(PArr(kids)) =>
              kids.flatMap(k =>
                dict(k).toSeq.flatMap(collectKids(_, depth + 1, res)))
            case _ => Nil
          }
      }
    }

    /** Fonts visible to a page's content stream, keyed by resource name
      * (the `/F1` of `Tf`): composite-ness (Type0 ⇒ 2-byte codes, the
      * Identity-H/V convention) and the /ToUnicode CMap when embedded.
      * Fonts without /ToUnicode fall back to code-value decoding in the
      * extractor. */
    def pageFonts(page: PDict): Map[String, PdfFont] = {
      val fontDicts = for {
        res <- entry(page, "Resources").flatMap(dict).toSeq
        fonts <- entry(res, "Font").flatMap(dict).toSeq
        key <- fonts.entries.keys
        fd <- entry(fonts, key).flatMap(dict)
      } yield {
        val twoByte = name(fd, "Subtype").contains("Type0")
        val toUni = entry(fd, "ToUnicode") match {
          case Some(s: PStream) =>
            decodeStream(s).map(parseToUnicodeCMap).getOrElse(Map.empty)
          case _ => Map.empty[Int, String]
        }
        // Named predefined Unicode CMaps (Adobe's UniJIS/UniGB/UniCNS/
        // UniKS-UCS2 and -UTF16 families, §9.7.5.2): the 2-byte code IS
        // the Unicode value (UCS-2, or UTF-16BE where a surrogate pair
        // arrives as two consecutive codes that concatenate correctly),
        // so the extractor's raw code-as-codepoint default is exact. The
        // font's embedded TrueType cmap must NOT be inverted here — that
        // recovery assumes code = CID = GID (the Identity-H convention)
        // and would mis-map Unicode-valued codes through glyph ids.
        val unicodeCoded = name(fd, "Encoding").exists(
          _.matches("Uni(JIS|JIS2004|JISX02[0-9]*|GB|CNS|KS)[A-Za-z0-9]*" +
            "-(UCS2|UTF16)(-HW)?-[HV]"))
        val fallback =
          if (!twoByte || toUni.nonEmpty || unicodeCoded) Map.empty[Int, String]
          else cidFallbackOf(fd)
        key -> PdfFont(twoByte, toUni, fallback)
      }
      fontDicts.toMap
    }

    /** Identity-H text recovery without /ToUnicode (§9.6.6.4): descend to
      * the CIDFont, invert the embedded TrueType 'cmap' (GID → Unicode),
      * and compose with /CIDToGIDMap (the /Identity default, or the
      * 2-byte-big-endian stream form). Empty when the font program is
      * absent/unparseable — the extractor then keeps its raw-code-point
      * fallback, which at worst renders GIDs as arbitrary glyphs rather
      * than dropping the table. */
    private def cidFallbackOf(type0: PDict): Map[Int, String] = {
      val cidFont = (for {
        dfs <- entry(type0, "DescendantFonts")
        arr <- Some(resolve(dfs)).collect { case PArr(xs) => xs }
        head <- arr.headOption
        d <- dict(head)
      } yield d).getOrElse(return Map.empty)
      val fontBytes = (for {
        desc <- entry(cidFont, "FontDescriptor").flatMap(dict)
        ff <- entry(desc, "FontFile2")
        s <- Some(resolve(ff)).collect { case st: PStream => st }
        bytes <- decodeStream(s)
      } yield bytes).getOrElse(return Map.empty)
      val gid2uni = TrueTypeCmap.gidToUnicode(fontBytes)
      if (gid2uni.isEmpty) return Map.empty
      entry(cidFont, "CIDToGIDMap") match {
        case Some(s: PStream) =>
          decodeStream(s) match {
            case Some(m) =>
              val out = Map.newBuilder[Int, String]
              var cid = 0
              while (2 * cid + 1 < m.length) {
                val gid = ((m(2 * cid) & 0xff) << 8) | (m(2 * cid + 1) & 0xff)
                gid2uni.get(gid).foreach(u => out += cid -> u)
                cid += 1
              }
              out.result()
            case None => Map.empty
          }
        case _ => gid2uni // /Identity (the default): CID = GID
      }
    }

    /** Decoded content-stream bytes of a page: /Contents may be one stream
      * or an array of streams (concatenated with a separating newline,
      * per spec). Unsupported filters yield None for that stream. */
    def pageContent(page: PDict): Option[Array[Byte]] = {
      val streams = entry(page, "Contents") match {
        case Some(s: PStream) => Seq(s)
        case Some(PArr(xs))   => xs.flatMap(x => resolve(x) match {
          case s: PStream => Some(s); case _ => None
        })
        case _ => Nil
      }
      if (streams.isEmpty) None
      else {
        val parts = streams.map(decodeStream)
        if (parts.exists(_.isEmpty)) None
        else Some(parts.flatMap(p => p.get :+ '\n'.toByte).toArray)
      }
    }

    /** Apply the stream's /Filter chain. Supported (ISO 32000-1 §7.4):
      * FlateDecode, ASCIIHexDecode, ASCII85Decode, LZWDecode (with
      * /DecodeParms /EarlyChange), RunLengthDecode — including chains
      * (e.g. [/ASCII85Decode /FlateDecode]). Unsupported filters (CCITT,
      * DCT, JBIG2, JPX, Crypt) yield None for the stream. */
    def decodeStream(s: PStream): Option[Array[Byte]] = {
      val filters = entry(s.dict, "Filter") match {
        case Some(PName(f)) => Seq(f)
        case Some(PArr(fs)) => fs.collect { case PName(f) => f }
        case _              => Nil
      }
      // /DecodeParms (alias /DP): one dict, or an array aligned with the
      // filter array (null for filters without parameters)
      val parms: Seq[Option[PDict]] =
        entry(s.dict, "DecodeParms").orElse(entry(s.dict, "DP")) match {
          case Some(d: PDict) => Seq(Some(d))
          case Some(PArr(xs)) => xs.map(x => resolve(x) match {
            case d: PDict => Some(d); case _ => None
          })
          case _ => Nil
        }
      filters.zipWithIndex.foldLeft(Option(s.raw)) { case (acc, (f, i)) =>
        acc.flatMap { bytes =>
          f match {
            case "FlateDecode" | "Fl"     => inflate(bytes)
            case "ASCIIHexDecode" | "AHx" => asciiHexDecode(bytes)
            case "ASCII85Decode" | "A85"  => ascii85Decode(bytes)
            case "RunLengthDecode" | "RL" => runLengthDecode(bytes)
            case "LZWDecode" | "LZW" =>
              val early = parms.lift(i).flatten
                .flatMap(d => d.entries.get("EarlyChange"))
                .collect { case PNum(v) => v.toInt }
                .getOrElse(1)
              lzwDecode(bytes, early)
            case _ => None // unsupported filter
          }
        }
      }
    }
  }

  /** ASCIIHexDecode (§7.4.2): hex pairs, whitespace ignored, `>` is EOD,
    * an odd trailing digit is padded with 0. */
  private def asciiHexDecode(bytes: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < bytes.length && !done) {
      val c = bytes(i) & 0xff
      val v =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if (c == '>') done = true
      else if (v >= 0) {
        if (hi < 0) hi = v
        else { out.write((hi << 4) | v); hi = -1 }
      } else if (!(c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0))
        return None // non-hex, non-whitespace byte: corrupt
      i += 1
    }
    if (hi >= 0) out.write(hi << 4)
    Some(out.toByteArray)
  }

  /** ASCII85Decode (§7.4.3): 5 chars `!`..`u` → 4 bytes base 85; `z` (at a
    * group boundary) → 4 zero bytes; `~>` is EOD; a final partial group of
    * n chars is padded with `u` and yields n − 1 bytes. */
  private def ascii85Decode(bytes: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4 / 5 + 4)
    var tuple = 0L
    var n = 0
    var i = 0
    // a leading `<~` (used by some producers) is tolerated
    if (bytes.length >= 2 && bytes(0) == '<' && bytes(1) == '~') i = 2
    var done = false
    while (i < bytes.length && !done) {
      val c = bytes(i) & 0xff
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        tuple = tuple * 85 + (c - '!')
        n += 1
        if (n == 5) {
          out.write(((tuple >> 24) & 0xff).toInt); out.write(((tuple >> 16) & 0xff).toInt)
          out.write(((tuple >> 8) & 0xff).toInt); out.write((tuple & 0xff).toInt)
          tuple = 0L; n = 0
        }
      } else if (!(c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0))
        return None // invalid byte: corrupt
      i += 1
    }
    if (n == 1) return None // a single leftover char encodes nothing
    if (n > 1) {
      var k = n
      while (k < 5) { tuple = tuple * 85 + 84; k += 1 } // pad with 'u'
      val full = Array(((tuple >> 24) & 0xff).toInt, ((tuple >> 16) & 0xff).toInt,
        ((tuple >> 8) & 0xff).toInt, (tuple & 0xff).toInt)
      var j = 0
      while (j < n - 1) { out.write(full(j)); j += 1 }
    }
    Some(out.toByteArray)
  }

  /** RunLengthDecode (§7.4.5): length byte 0..127 → copy L+1 literals;
    * 129..255 → repeat next byte 257 − L times; 128 → EOD. */
  private def runLengthDecode(bytes: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length * 2)
    var i = 0
    var done = false
    while (i < bytes.length && !done) {
      val l = bytes(i) & 0xff
      if (l == 128) done = true
      else if (l < 128) {
        if (i + 1 + l + 1 > bytes.length) return None
        out.write(bytes, i + 1, l + 1)
        i += 1 + l + 1
      } else {
        if (i + 1 >= bytes.length) return None
        val b = bytes(i + 1)
        var k = 0
        while (k < 257 - l) { out.write(b); k += 1 }
        i += 2
      }
    }
    Some(out.toByteArray)
  }

  /** LZWDecode (§7.4.4, the TIFF variant): MSB-first codes starting at 9
    * bits; 256 clears the table, 257 is EOD, new entries from 258; the
    * code width grows at table sizes 511/1023/2047 under the default
    * `EarlyChange = 1` (one code early), or 512/1024/2048 with 0. */
  private def lzwDecode(bytes: Array[Byte], earlyChange: Int): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length * 3)
    val dict = new mutable.ArrayBuffer[Array[Byte]](4096)
    def resetDict(): Unit = {
      dict.clear()
      var b = 0
      while (b < 256) { dict += Array(b.toByte); b += 1 }
      dict += null // 256 clear
      dict += null // 257 EOD
    }
    resetDict()
    var codeWidth = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bitCnt = 0
    var i = 0
    while (true) {
      // refill
      while (bitCnt < codeWidth && i < bytes.length) {
        bitBuf = (bitBuf << 8) | (bytes(i) & 0xffL); bitCnt += 8; i += 1
      }
      if (bitCnt < codeWidth) return Some(out.toByteArray) // truncated: keep prefix
      val code = ((bitBuf >> (bitCnt - codeWidth)) & ((1L << codeWidth) - 1)).toInt
      bitCnt -= codeWidth
      if (code == 257) return Some(out.toByteArray)
      if (code == 256) { resetDict(); codeWidth = 9; prev = null }
      else {
        val entry =
          if (code < dict.length && dict(code) != null) dict(code)
          else if (code == dict.length && prev != null) prev :+ prev(0) // KwKwK case
          else return None // corrupt code
        out.write(entry, 0, entry.length)
        if (prev != null && dict.length < 4096) dict += (prev :+ entry(0))
        prev = entry
        if (dict.length + earlyChange >= (1 << codeWidth) && codeWidth < 12)
          codeWidth += 1
      }
    }
    None // unreachable
  }

  private def inflate(bytes: Array[Byte]): Option[Array[Byte]] = {
    val inf = new Inflater()
    try {
      inf.setInput(bytes)
      val out = new java.io.ByteArrayOutputStream(bytes.length.max(64) * 4)
      val buf = new Array[Byte](8192)
      var done = false
      while (!done && !inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) out.write(buf, 0, n)
        // n == 0 with exhausted input: truncated stream — keep what we got
        else if (inf.needsInput() || inf.needsDictionary()) done = true
      }
      Some(out.toByteArray)
    } catch { case _: Exception => None }
    finally inf.end()
  }

  // ------------------------------------------------------------ tokenizer

  /** Recursive-descent reader over raw bytes; shared by the document
    * parser and the content-stream interpreter (same COS token syntax,
    * content streams just add bare operator keywords). */
  final class Lexer(val bytes: Array[Byte], var pos: Int = 0) {

    def eof: Boolean = pos >= bytes.length

    private def isWs(c: Int): Boolean =
      c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == '\f' || c == 0
    private def isDelim(c: Int): Boolean =
      c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
        c == '{' || c == '}' || c == '/' || c == '%'

    def skipWs(): Unit = {
      while (!eof) {
        val c = bytes(pos) & 0xff
        if (isWs(c)) pos += 1
        else if (c == '%') { // comment to end of line
          while (!eof && bytes(pos) != '\n' && bytes(pos) != '\r') pos += 1
        } else return
      }
    }

    /** Next token as one COS value, operator keyword (PName with marker),
      * or None at EOF. Bare keywords (content operators, true/false/null,
      * obj/endobj/stream/R) come back as `Keyword`. */
    def next(): Option[Token] = {
      skipWs()
      if (eof) return None
      val c = bytes(pos) & 0xff
      c match {
        case '/' => Some(TName(readName()))
        case '(' => Some(TString(readLiteralString()))
        case '[' => pos += 1; Some(TArrayOpen)
        case ']' => pos += 1; Some(TArrayClose)
        case '<' =>
          if (pos + 1 < bytes.length && bytes(pos + 1) == '<') {
            pos += 2; Some(TDictOpen)
          } else Some(TString(readHexString()))
        case '>' =>
          if (pos + 1 < bytes.length && bytes(pos + 1) == '>') {
            pos += 2; Some(TDictClose)
          } else { pos += 1; next() } // stray '>' — skip (lenient)
        case ')' | '{' | '}' => pos += 1; next() // stray delimiters — skip
        case _ if c == '+' || c == '-' || c == '.' || (c >= '0' && c <= '9') =>
          Some(TNum(readNumber()))
        case _ =>
          val start = pos
          while (!eof && !isWs(bytes(pos) & 0xff) && !isDelim(bytes(pos) & 0xff))
            pos += 1
          if (pos == start) { pos += 1; next() }
          else Some(TKeyword(new String(bytes, start, pos - start, "ISO-8859-1")))
      }
    }

    private def readName(): String = {
      pos += 1 // '/'
      val sb = new StringBuilder
      while (!eof) {
        val c = bytes(pos) & 0xff
        if (isWs(c) || isDelim(c)) return sb.toString()
        if (c == '#' && pos + 2 < bytes.length) {
          val hex = Integer.parseInt(
            new String(bytes, pos + 1, 2, "ISO-8859-1"), 16)
          sb.append(hex.toChar); pos += 3
        } else { sb.append(c.toChar); pos += 1 }
      }
      sb.toString()
    }

    private def readNumber(): Double = {
      val start = pos
      if (bytes(pos) == '+' || bytes(pos) == '-') pos += 1
      while (!eof && ((bytes(pos) >= '0' && bytes(pos) <= '9') || bytes(pos) == '.'))
        pos += 1
      val s = new String(bytes, start, pos - start, "ISO-8859-1")
      try s.toDouble catch { case _: NumberFormatException => 0.0 }
    }

    /** `(…)` literal with nested parens and backslash escapes (spec
      * table 3: \n \r \t \b \f \\ \( \) \ddd octal, escaped EOL). */
    private def readLiteralString(): Array[Byte] = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (!eof && depth > 0) {
        val c = bytes(pos) & 0xff
        c match {
          case '\\' if pos + 1 < bytes.length =>
            val e = bytes(pos + 1) & 0xff
            pos += 2
            e match {
              case 'n' => out.write('\n')
              case 'r' => out.write('\r')
              case 't' => out.write('\t')
              case 'b' => out.write('\b')
              case 'f' => out.write('\f')
              case '\n' => () // line continuation
              case '\r' =>
                if (!eof && bytes(pos) == '\n') pos += 1
              case d if d >= '0' && d <= '7' =>
                var v = d - '0'
                var k = 0
                while (k < 2 && !eof && bytes(pos) >= '0' && bytes(pos) <= '7') {
                  v = v * 8 + (bytes(pos) - '0'); pos += 1; k += 1
                }
                out.write(v & 0xff)
              case other => out.write(other)
            }
          case '(' => depth += 1; out.write('('); pos += 1
          case ')' =>
            depth -= 1
            if (depth > 0) out.write(')')
            pos += 1
          case other => out.write(other); pos += 1
        }
      }
      out.toByteArray
    }

    private def readHexString(): Array[Byte] = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      while (!eof && bytes(pos) != '>') {
        val c = bytes(pos) & 0xff
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (v >= 0) {
          if (hi < 0) hi = v
          else { out.write((hi << 4) | v); hi = -1 }
        }
        pos += 1
      }
      if (hi >= 0) out.write(hi << 4) // odd digit count: pad with 0
      if (!eof) pos += 1 // '>'
      out.toByteArray
    }

    /** Parse one COS value starting at the current token. Indirect refs
      * (`N G R`) are recognized by lookahead over number-number-R. Arrays
      * and dictionaries nest at most [[MaxNesting]] deep; past that the
      * value is refused with an exception, so a hostile file cannot
      * exhaust the stack. */
    def parseValue(tok: Token, depth: Int = 0): PObj = tok match {
      case TName(n)   => PName(n)
      case TString(b) => PString(b)
      case TNum(n) =>
        // possible "N G R" indirect reference
        val save = pos
        next() match {
          case Some(TNum(_)) =>
            next() match {
              case Some(TKeyword("R")) => PRef(n.toInt)
              case _                   => pos = save; PNum(n)
            }
          case _ => pos = save; PNum(n)
        }
      case TArrayOpen | TDictOpen if depth >= MaxNesting =>
        throw new IllegalArgumentException(s"PDF value nested deeper than $MaxNesting")
      case TArrayOpen =>
        val items = Vector.newBuilder[PObj]
        var done = false
        while (!done) {
          next() match {
            case None | Some(TArrayClose) => done = true
            case Some(t)                  => items += parseValue(t, depth + 1)
          }
        }
        PArr(items.result())
      case TDictOpen =>
        val m = Map.newBuilder[String, PObj]
        var done = false
        while (!done) {
          next() match {
            case None | Some(TDictClose) => done = true
            case Some(TName(k)) =>
              next() match {
                case None    => done = true
                case Some(t) => m += k -> parseValue(t, depth + 1)
              }
            case Some(_) => () // stray token inside dict — skip (lenient)
          }
        }
        PDict(m.result())
      case TKeyword("true")  => PBool(true)
      case TKeyword("false") => PBool(false)
      case TKeyword("null")  => PNull
      case TKeyword(_)       => PNull
      case TArrayClose | TDictClose => PNull
    }
  }

  /** Array/dictionary nesting bound of [[Lexer.parseValue]]: far above
    * any real document's. */
  final val MaxNesting = 512

  sealed trait Token
  final case class TName(value: String) extends Token
  final case class TNum(value: Double) extends Token
  final case class TString(bytes: Array[Byte]) extends Token
  final case class TKeyword(value: String) extends Token
  case object TArrayOpen extends Token
  case object TArrayClose extends Token
  case object TDictOpen extends Token
  case object TDictClose extends Token

  // ------------------------------------------------------ document scan

  private val ObjHeader =
    java.util.regex.Pattern.compile("""(\d{1,9})\s+(\d{1,5})\s+obj\b""")

  /** Scan all `N G obj … endobj` spans plus the trailer dictionary; the
    * xref table is ignored (see class doc). The scan cursor always moves
    * past each object's body (including its stream payload), so binary
    * stream bytes are never themselves scanned for object headers. */
  def parse(fileBytes: Array[Byte]): Option[Document] = {
    try {
      val text = new String(fileBytes, "ISO-8859-1") // 1:1 byte↔char
      if (!text.startsWith("%PDF")) return None
      val objects = mutable.Map.empty[Int, PObj]
      val gens = mutable.Map.empty[Int, Int]
      val matcher = ObjHeader.matcher(text)
      var from = 0
      while (from < text.length && matcher.find(from)) {
        val num = matcher.group(1).toInt
        gens(num) = matcher.group(2).toInt
        val bodyStart = matcher.end()
        val lex = new Lexer(fileBytes, bodyStart)
        val value = lex.next() match {
          case Some(t) => lex.parseValue(t)
          case None    => PNull
        }
        val afterValue = lex.pos
        lex.skipWs()
        val obj =
          if (text.startsWith("stream", lex.pos)) {
            var p = lex.pos + "stream".length
            if (p < fileBytes.length && fileBytes(p) == '\r') p += 1
            if (p < fileBytes.length && fileBytes(p) == '\n') p += 1
            val dictObj = value match {
              case d: PDict => d
              case _        => PDict(Map.empty)
            }
            // /Length may be an indirect ref — locate `endstream`
            // lexically instead (also survives wrong Lengths in
            // damaged files)
            val end = text.indexOf("endstream", p)
            var q = if (end < 0) fileBytes.length else end
            // trim the spec's EOL before `endstream`
            if (q > p && fileBytes(q - 1) == '\n') q -= 1
            if (q > p && fileBytes(q - 1) == '\r') q -= 1
            lex.pos = if (end < 0) fileBytes.length else end + "endstream".length
            PStream(dictObj, java.util.Arrays.copyOfRange(fileBytes, p, q))
          } else { lex.pos = afterValue; value }
        objects(num) = obj // later definitions win (incremental updates)
        from = lex.pos.max(bodyStart)
      }
      // trailer dict (for /Root): last `trailer` keyword; PDFs with
      // cross-reference STREAMS (1.5+) have no trailer keyword — their
      // /Root lives on the xref stream's own dict (/Type /XRef)
      val ti = text.lastIndexOf("trailer")
      if (ti >= 0) {
        val lex = new Lexer(fileBytes, ti + "trailer".length)
        lex.next().foreach { t =>
          lex.parseValue(t) match {
            case d: PDict => objects(-1) = d
            case _        => ()
          }
        }
      }
      if (!objects.contains(-1)) {
        objects.valuesIterator.collectFirst {
          case PStream(d, _)
              if d.entries.get("Type").contains(PName("XRef")) &&
                d.entries.contains("Root") => d
        }.foreach(objects(-1) = _)
      }
      if (objects.isEmpty) return None
      decryptObjects(objects, gens) match {
        case false => None // encrypted with an unsupported scheme/password
        case true  => Some(new Document(expandObjectStreams(objects.toMap)))
      }
    } catch { case _: Exception => None }
  }

  /** If the trailer carries /Encrypt, decrypt every string and stream
    * in place with the empty-user-password key (see [[PdfCrypto]]).
    * Returns false when the document is encrypted but undecryptable —
    * parsing it further would only yield ciphertext "text". Exempt from
    * decryption (§7.6.2): the /Encrypt dictionary itself, the trailer
    * (/ID), and cross-reference streams. */
  private def decryptObjects(
      objects: mutable.Map[Int, PObj],
      gens: mutable.Map[Int, Int]): Boolean = {
    val trailer = objects.get(-1) match {
      case Some(d: PDict) => d
      case _              => return true
    }
    def resolve(o: PObj): PObj = o match {
      case PRef(n) => objects.get(n).map(resolve).getOrElse(PNull)
      case other   => other
    }
    val encryptObjNum = trailer.entries.get("Encrypt") match {
      case Some(PRef(n)) => n
      case Some(_: PDict) => Int.MinValue // direct dict: nothing to skip
      case _ => return true // not encrypted
    }
    val encDict = resolve(trailer.entries("Encrypt")) match {
      case d: PDict => d
      case _        => return true
    }
    val fileId = resolve(trailer.entries.getOrElse("ID", PNull)) match {
      case PArr(items) => resolve(items.headOption.getOrElse(PNull)) match {
        case PString(b) => b
        case _          => Array.emptyByteArray
      }
      case _ => Array.emptyByteArray
    }
    val dec = PdfCrypto.fromEncrypt(resolve, encDict, fileId) match {
      case Some(d) => d
      case None    => return false
    }
    def walk(num: Int, gen: Int, o: PObj): PObj = o match {
      case PString(b)  => PString(dec.decrypt(num, gen, b))
      case PArr(items) => PArr(items.map(walk(num, gen, _)))
      case PDict(m)    => PDict(m.map { case (k, v) => k -> walk(num, gen, v) })
      case PStream(d, raw) =>
        val isXref = d.entries.get("Type").contains(PName("XRef"))
        val nd = PDict(d.entries.map { case (k, v) => k -> walk(num, gen, v) })
        PStream(nd, if (isXref) raw else dec.decrypt(num, gen, raw))
      case other => other
    }
    objects.keysIterator.toSeq.foreach { num =>
      if (num >= 0 && num != encryptObjNum)
        objects(num) = walk(num, gens.getOrElse(num, 0), objects(num))
    }
    true
  }

  /** PDF 1.5+ object streams (`/Type /ObjStm`): most non-stream objects of
    * a modern PDF live *inside* a Flate-compressed stream — without this
    * pass the page tree of such files is invisible. Layout (spec §7.5.7):
    * the decoded stream opens with /N pairs of `objnum offset` integers,
    * then the object bodies start at /First. Directly-scanned definitions
    * win over object-stream members: appended incremental updates are
    * written as direct objects, so the direct copy is the newer one. */
  private def expandObjectStreams(direct: Map[Int, PObj]): Map[Int, PObj] = {
    val doc0 = new Document(direct)
    val fromStreams = Map.newBuilder[Int, PObj]
    direct.valuesIterator.foreach {
      case s: PStream if doc0.name(s.dict, "Type").contains("ObjStm") =>
        for {
          data <- doc0.decodeStream(s)
          n <- doc0.entry(s.dict, "N").collect { case PNum(v) => v.toInt }
          first <- doc0.entry(s.dict, "First").collect { case PNum(v) => v.toInt }
        } {
          val lex = new Lexer(data)
          val pairs = (0 until n).flatMap { _ =>
            (lex.next(), lex.next()) match {
              case (Some(TNum(num)), Some(TNum(off))) =>
                Some((num.toInt, off.toInt))
              case _ => None
            }
          }
          pairs.foreach { case (num, off) =>
            val olex = new Lexer(data, (first + off).min(data.length))
            olex.next().foreach(t => fromStreams += num -> olex.parseValue(t))
          }
        }
      case _ => ()
    }
    fromStreams.result() ++ direct // direct definitions win
  }
}

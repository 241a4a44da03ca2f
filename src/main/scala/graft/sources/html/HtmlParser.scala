package graft.sources.html

import scala.collection.mutable.ArrayBuffer

/** Lenient HTML reader, hand-rolled from the public WHATWG tokenization
  * rules (the `PdfParser` from-spec discipline — no external parser jar
  * exists offline, and a web corpus needs lenient recovery anyway):
  *
  *  - tag tokenizer: start/end tags with quoted-attribute scanning (a `>`
  *    inside a quoted attribute value does not close the tag), comments
  *    (`<!-- -->`), doctype/marked sections (`<! >`), processing
  *    instructions (`<? >`), self-closing tags; a stray `<` that opens no
  *    construct is literal text (WHATWG's ungraceful-`<` rule);
  *  - RAWTEXT elements: `script`/`style` bodies are consumed verbatim up
  *    to their case-insensitive close tag and dropped (they are code, not
  *    content); `title` content is dropped too (head metadata);
  *  - character references: the five XML-safe named entities plus
  *    decimal/hex numeric forms; unknown entities stay literal (lenient);
  *  - block segmentation (the jusText/Readability unit): text accumulates
  *    into the current block; any BLOCK-level tag boundary (p, div, h1-6,
  *    li, table parts, semantic HTML5 containers, br, hr) flushes it.
  *    Words carry an inside-`<a>` flag so each block knows its link-word
  *    mass — the signal the boilerplate classifier thresholds on;
  *  - table extraction: `<table>`/`<tr>`/`<td|th>` with lenient implicit
  *    closing (a new `td` closes the open cell, a new `tr` closes the open
  *    row, `</table>` closes everything), nested tables contribute to the
  *    innermost open table.
  *
  * Everything is a single linear scan over the char array; no regex, no
  * DOM allocation — a 100 TB web corpus runs this per document inside a
  * partition iterator.
  */
object HtmlParser {

  /** WHATWG-style charset prescan over the first 1024 bytes: the value of
    * the first `charset=` attribute inside a `<meta ...>` tag (covers both
    * the HTML5 `<meta charset="x">` and the legacy http-equiv
    * `content="text/html; charset=x"` spellings — the attribute text is
    * ASCII either way). */
  private[graft] def metaCharset(bytes: Array[Byte]): Option[String] = {
    val n = math.min(bytes.length, 1024)
    val prefix = new String(bytes, 0, n,
      java.nio.charset.StandardCharsets.US_ASCII).toLowerCase
    val meta = "<meta\\s[^>]*charset\\s*=\\s*[\"']?([a-z0-9_\\-]+)".r
    meta.findFirstMatchIn(prefix).map(_.group(1))
  }

  /** One content block: normalized text, word count, link-word count. */
  final case class Block(text: String, words: Int, linkWords: Int) {
    /** Link density in basis points (0 when empty). */
    def linkBp: Int = if (words == 0) 0 else 10000 * linkWords / words
  }

  private val BlockTags: Set[String] = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "td", "th", "thead", "tbody", "tfoot", "caption",
    "section", "article", "header", "footer", "nav", "aside", "main",
    "blockquote", "pre", "br", "hr", "form", "body", "html", "head",
    "title", "dl", "dt", "dd", "figure", "figcaption", "address")

  // script/style are RAWTEXT per spec; textarea is RCDATA but its content
  // is form INPUT, not document content — a boilerplate extractor drops it
  private val RawTextTags: Set[String] = Set("script", "style", "textarea")

  private sealed trait Event
  private final case class TextEv(s: String) extends Event
  private final case class OpenEv(name: String) extends Event
  private final case class CloseEv(name: String) extends Event

  private def isNameStart(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char): Boolean =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == ':'

  /** Decode character references in a text run (lenient: unknown named
    * entities and malformed numeric forms stay literal). */
  private[graft] def decodeEntities(s: String): String = {
    val amp = s.indexOf('&')
    if (amp < 0) return s
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '&') { out.append(c); i += 1 }
      else {
        val semi = s.indexOf(';', i + 1)
        if (semi < 0 || semi - i > 10) { out.append('&'); i += 1 }
        else {
          val name = s.substring(i + 1, semi)
          val decoded: Option[String] = name match {
            case "amp" => Some("&")
            case "lt" => Some("<")
            case "gt" => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            case _ if name.startsWith("#x") || name.startsWith("#X") =>
              try Some(Character.toChars(Integer.parseInt(name.drop(2), 16)).mkString)
              catch { case _: Exception => None }
            case _ if name.startsWith("#") =>
              try Some(Character.toChars(Integer.parseInt(name.drop(1), 10)).mkString)
              catch { case _: Exception => None }
            case _ => None
          }
          decoded match {
            case Some(d) => out.append(d); i = semi + 1
            case None => out.append('&'); i += 1
          }
        }
      }
    }
    out.toString
  }

  /** Tokenize to a flat event stream. Linear, never throws. */
  private def events(html: String): ArrayBuffer[Event] = {
    val ev = ArrayBuffer.empty[Event]
    val n = html.length
    var i = 0
    var textStart = 0
    def flushText(end: Int): Unit =
      if (end > textStart) ev += TextEv(decodeEntities(html.substring(textStart, end)))
    while (i < n) {
      if (html.charAt(i) == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (c1 == '!') {
          flushText(i)
          if (html.startsWith("<!--", i)) {
            val close = html.indexOf("-->", i + 4)
            i = if (close < 0) n else close + 3
          } else {
            val close = html.indexOf('>', i + 2)
            i = if (close < 0) n else close + 1
          }
          textStart = i
        } else if (c1 == '?') {
          flushText(i)
          val close = html.indexOf('>', i + 2)
          i = if (close < 0) n else close + 1
          textStart = i
        } else if (c1 == '/') {
          flushText(i)
          var j = i + 2
          val ns = j
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(ns, j).toLowerCase
          val close = html.indexOf('>', j)
          i = if (close < 0) n else close + 1
          if (name.nonEmpty) ev += CloseEv(name)
          textStart = i
        } else if (isNameStart(c1)) {
          flushText(i)
          var j = i + 1
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(i + 1, j).toLowerCase
          // attribute scan: quoted values may contain '>'
          var done = false
          while (j < n && !done) {
            val c = html.charAt(j)
            if (c == '"' || c == '\'') {
              val q = html.indexOf(c, j + 1)
              j = if (q < 0) n else q + 1
            } else if (c == '>') done = true
            else j += 1
          }
          i = if (done) j + 1 else n
          ev += OpenEv(name)
          if (RawTextTags(name)) {
            // consume RAWTEXT verbatim up to the case-insensitive close tag
            var k = i
            var found = -1
            while (found < 0 && k < n) {
              val lt = html.indexOf('<', k)
              if (lt < 0 || lt + 2 + name.length > n) k = n
              else if (html.charAt(lt + 1) == '/' &&
                html.regionMatches(true, lt + 2, name, 0, name.length))
                found = lt
              else k = lt + 1
            }
            if (found < 0) i = n
            else {
              val close = html.indexOf('>', found)
              i = if (close < 0) n else close + 1
              ev += CloseEv(name)
            }
          }
          textStart = i
        } else { i += 1 } // stray '<': literal text, keep scanning
      } else i += 1
    }
    flushText(n) // trailing text after the last construct
    ev
  }

  /** Segment into content blocks. Title/script/style content is dropped;
    * words inside any `<a>` count as link words. */
  def blocks(html: String): Vector[Block] = {
    val out = Vector.newBuilder[Block]
    var aDepth = 0
    var titleDepth = 0
    val text = new StringBuilder
    var words = 0
    var linkWords = 0
    def flush(): Unit = {
      if (words > 0) out += Block(text.toString, words, linkWords)
      text.clear(); words = 0; linkWords = 0
    }
    events(html).foreach {
      case TextEv(s) =>
        if (titleDepth == 0) {
          var start = 0
          while (start < s.length) {
            while (start < s.length && Character.isWhitespace(s.charAt(start))) start += 1
            var end = start
            while (end < s.length && !Character.isWhitespace(s.charAt(end))) end += 1
            if (end > start) {
              if (text.nonEmpty) text.append(' ')
              text.append(s.substring(start, end))
              words += 1
              if (aDepth > 0) linkWords += 1
            }
            start = end
          }
        }
      case OpenEv(name) =>
        if (name == "a") aDepth += 1
        else if (name == "title") { flush(); titleDepth += 1 }
        else if (BlockTags(name)) flush()
      case CloseEv(name) =>
        if (name == "a") { if (aDepth > 0) aDepth -= 1 }
        else if (name == "title") { if (titleDepth > 0) titleDepth -= 1 }
        else if (BlockTags(name)) flush()
    }
    flush()
    out.result()
  }

  /** Boilerplate gate (jusText-lite, integer-exact): a block is
    * boilerplate iff its link density reaches `maxLinkBp` basis points or
    * it has fewer than `minWords` words. */
  def isBoiler(b: Block, minWords: Int = 5, maxLinkBp: Int = 3000): Boolean =
    b.words < minWords || b.linkBp >= maxLinkBp

  /** Main content: the non-boilerplate block texts, document order,
    * single-space joined. */
  def mainText(html: String, minWords: Int = 5, maxLinkBp: Int = 3000): String =
    blocks(html).filterNot(isBoiler(_, minWords, maxLinkBp))
      .map(_.text).mkString(" ")

  /** Extract `<table>` elements: rows of cell texts (entity-decoded,
    * whitespace-normalized). Lenient implicit closing; nested tables go to
    * the innermost open table. Cell-less text inside a table (outside any
    * td/th) is ignored, matching the spec's "anything else" foster rule's
    * observable effect for data extraction. */
  def tables(html: String): Vector[Vector[Vector[String]]] = {
    final class T {
      val rows = ArrayBuffer.empty[Vector[String]]
      val row = ArrayBuffer.empty[String]
      val cell = new StringBuilder
      var inCell = false
      def endCell(): Unit = if (inCell) {
        row += cell.toString; cell.clear(); inCell = false
      }
      def endRow(): Unit = { endCell(); if (row.nonEmpty) { rows += row.toVector; row.clear() } }
    }
    val done = Vector.newBuilder[Vector[Vector[String]]]
    val stack = ArrayBuffer.empty[T]
    def top: T = stack.last
    events(html).foreach {
      case OpenEv("table") => stack += new T
      case CloseEv("table") =>
        if (stack.nonEmpty) {
          top.endRow()
          val t = stack.remove(stack.length - 1)
          if (t.rows.nonEmpty) done += t.rows.toVector
        }
      case OpenEv("tr") if stack.nonEmpty => top.endRow()
      case CloseEv("tr") if stack.nonEmpty => top.endRow()
      case OpenEv("td") | OpenEv("th") if stack.nonEmpty =>
        top.endCell(); top.inCell = true
      case CloseEv("td") | CloseEv("th") if stack.nonEmpty => top.endCell()
      case TextEv(s) if stack.nonEmpty && top.inCell =>
        var start = 0
        while (start < s.length) {
          while (start < s.length && Character.isWhitespace(s.charAt(start))) start += 1
          var end = start
          while (end < s.length && !Character.isWhitespace(s.charAt(end))) end += 1
          if (end > start) {
            if (top.cell.nonEmpty) top.cell.append(' ')
            top.cell.append(s.substring(start, end))
          }
          start = end
        }
      case _ => ()
    }
    // unclosed tables at EOF still yield their parsed rows (lenient)
    while (stack.nonEmpty) {
      top.endRow()
      val t = stack.remove(stack.length - 1)
      if (t.rows.nonEmpty) done += t.rows.toVector
    }
    done.result()
  }
}

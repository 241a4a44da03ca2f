package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.{Charset, CharsetDecoder, CodingErrorAction}

/** Driver-side file sniffing: encoding detection and delimiter voting.
  *
  * The reference reads the ENTIRE file for both (reference `main.py:194`
  * whole-byte read for charset detection; `main.py:218-219` re-reads all
  * lines once per delimiter sample — O(samples × file)). That cannot scale;
  * here both sniffers read one bounded prefix (default 4 MiB) once. The
  * byte variants sniff the head of bytes a decode already holds, so a
  * decode that read the file reads nothing more. For the sizes where the
  * answers could differ (multi-GiB single text files) the prefix is a
  * statistically sufficient sample, and the scan itself is done by Spark
  * executors, not the driver.
  */
object Sniffers {

  val DefaultDelimiter = "\t"
  val SampleBytes: Int = 4 * 1024 * 1024
  val NumberOfSamples = 15

  /** Candidate delimiters, in `csv.Sniffer`'s preferred order minus the
    * comma: the reference strips commas from every sample before sniffing
    * (`main.py:221-222` — the loop bug means only the comma, not the space,
    * is actually removed), so a comma can never win the vote there either.
    */
  private val Candidates: Seq[Char] = Seq('\t', ';', '|', ':', ' ')

  /** Detect the file encoding, for metadata only.
    *
    * Parity note (`main.py:189-199` + `main.py:339`): the reference detects
    * with charset_normalizer but never passes the result to `open()` — the
    * encoding is *reported, not applied*. We reproduce that: BOM check, then
    * a strict try-decode cascade; reading stays UTF-8 regardless.
    * Returns None on unreadable file (reference returns None on error).
    *
    * Labels follow charset_normalizer's Python-codec naming for the cases
    * the suite emits: `ascii`, `utf_8`, `utf_16`/`utf_32` (BOM present),
    * `utf_16_le`/`utf_16_be` (inferred without BOM), `cp1251` / `koi8_r`
    * (Cyrillic, split by case geography), `shift_jis` / `euc_jp` /
    * `gb2312` / `big5` (strict-decode + lead-byte/row bias — kana rows
    * split EUC-JP from GB2312, ASCII-range trails split Big5 from the EUC
    * family), and `cp1252` for western single-byte text
    * (charset_normalizer reports the Windows superset, not latin_1, for
    * such files); `latin_1` only for byte soup that cp1252 rejects (its
    * five undefined code points). Remaining can-never-fail single-byte
    * charsets (mac_cyrillic, cp866, …) are deliberately NOT claimed:
    * beyond the koi8/cp1251 case-geography signal there is no honest
    * structural evidence to distinguish them.
    */
  def detectEncoding(path: String): Option[String] =
    try detectEncoding(readPrefix(path, SampleBytes))
    catch { case _: Exception => None }

  /** [[detectEncoding]] over bytes already read: their first
    * [[SampleBytes]] are the sample. */
  def detectEncoding(head: Array[Byte]): Option[String] = {
    try {
      val bytes = sample(head)
      if (bytes.isEmpty) return Some("utf_8")
      bomOf(bytes).orElse {
        // UTF-16 first: BOM-less UTF-16 of ASCII text is also valid UTF-8
        // (NUL is a legal UTF-8 byte), so the zero-density test must win
        if (looksUtf16(bytes)) Some(utf16Flavor(bytes))
        else if (decodes(bytes, "UTF-8")) {
          if (bytes.forall(b => b >= 0)) Some("ascii") else Some("utf_8")
        } else if (decodes(bytes, "windows-1251") && hasCyrillicBias(bytes))
          // KOI8-R vs cp1251 (both complete single-byte Cyrillic codecs —
          // neither decode can fail, so the signal is CASE GEOGRAPHY):
          // KOI8-R puts lowercase а-я at 0xC0-0xDF and uppercase at
          // 0xE0-0xFF; cp1251 is the reverse. Running text is
          // overwhelmingly lowercase, so a 0xC0-0xDF-dominant profile is
          // KOI8-R (charset_normalizer reaches the same split through its
          // frequency coherence tables).
          // tier 3 (within the case-geography family): mac_cyrillic keeps
          // its UPPERCASE А-Я at 0x80-0x9F while its lowercase run
          // coincides byte-for-byte with cp1251's (0xE0-0xFE, я at 0xDF
          // being the lone divergence) — so capitalization is the only
          // honest structural signal, and ALL-lowercase Mac text is
          // deliberately labeled cp1251 (literally identical bytes).
          Some(if (looksKoi8(bytes)) "koi8_r"
               else if (looksMacCyrillic(bytes)) "mac_cyrillic"
               else "cp1251")
        // CJK multibyte before the Windows single-byte fallbacks: all have
        // structural (failable) decodes, so a pass is a real signal — but
        // require a lead-byte bias too, since short Cyrillic/Western byte
        // runs can accidentally form valid pairs. Within the EUC family
        // (EUC-JP and GB2312 share the 0xA1-0xFE high×high structure) the
        // discriminator is LANGUAGE SHAPE: real Japanese always carries
        // kana (EUC-JP rows 0xA4/0xA5); Chinese hanzi rows are 0xB0-0xF7.
        else if (decodes(bytes, "EUC-JP") && hasJisBias(bytes, eucJp = true)
            && kanaDominant(bytes))
          Some("euc_jp")
        // gb2312 when the kana evidence is PROPORTIONALLY negligible: the
        // test is a fraction of all high-byte pairs, not an absolute
        // count, because GB2312 itself encodes kana in the same 0xA4/0xA5
        // rows — Chinese text quoting a Japanese title carries a couple
        // of kana pairs and must still route gb2312, while kana-sparse
        // Japanese (a kanji-heavy roster, where kana still make up well
        // over an eighth of the pairs) stays euc_jp via the branch above
        // or the fallback below. Kanji-ONLY text — where the EUC byte
        // structures are literally identical — goes gb2312 when
        // hanzi-row-shaped; no structural signal exists to do better
        // without language frequency tables.
        else if (decodes(bytes, "GB2312") && hasEucHanziBias(bytes)
            && !kanaDominant(bytes))
          Some("gb2312")
        else if (decodes(bytes, "EUC-JP") && hasJisBias(bytes, eucJp = true))
          Some("euc_jp") // EUC structure, kana-sparse or not GB2312-shaped
        // big5 must NOT outrank Shift_JIS on text that satisfies both:
        // SJIS kanji leads 0xE0-0xEF sit inside the Big5 lead window and
        // SJIS trails legitimately span the 0x40-0x7E "ASCII trail"
        // signal, so a strict-Big5-decodable SJIS page is common — but
        // genuine Big5 text essentially never passes a STRICT Shift_JIS
        // decode with lead-shaped bytes (its common hanzi leads 0xA4-0xC6
        // read as half-width-katakana singles, failing the lead-ratio
        // test). Claim big5 only when the Shift_JIS reading is untenable.
        else if (decodes(bytes, "Big5") && hasBig5Bias(bytes)
            && !(decodes(bytes, "Shift_JIS") && hasJisBias(bytes, eucJp = false)))
          Some("big5")
        else if (decodes(bytes, "Shift_JIS") && hasJisBias(bytes, eucJp = false))
          Some("shift_jis")
        // cp866 (tier 3): a complete SBCS — decode can never fail — but
        // its LOWERCASE run is split across 0xA0-0xAF (а-п) and
        // 0xE0-0xEF (р-я) with uppercase at 0x80-0x9F, a band geography
        // no other supported codec produces (cp1251/mac put lowercase at
        // 0xE0+, koi8 at 0xC0-0xDF). Dense high bytes confined to those
        // three bands, with the а-п band dominant, is the structural
        // signature. Ordered after the failable CJK decodes and BEFORE
        // cp1252 (lowercase cp866 bytes happen to be valid cp1252).
        else if (looksCp866(bytes)) Some("cp866")
        else if (decodes(bytes, "windows-1252")) Some("cp1252")
        else Some("latin_1") // latin-1 decodes any byte sequence
      }
    } catch { case _: Exception => None }
  }

  private def bomOf(b: Array[Byte]): Option[String] = {
    // UTF-32 LE BOM (FF FE 00 00) is a superset of the UTF-16 LE BOM —
    // test the 4-byte forms first
    if (b.length >= 4 && b(0) == 0xff.toByte && b(1) == 0xfe.toByte &&
      b(2) == 0 && b(3) == 0)
      Some("utf_32")
    else if (b.length >= 4 && b(0) == 0 && b(1) == 0 &&
      b(2) == 0xfe.toByte && b(3) == 0xff.toByte)
      Some("utf_32")
    else if (b.length >= 3 && b(0) == 0xef.toByte && b(1) == 0xbb.toByte && b(2) == 0xbf.toByte)
      Some("utf_8")
    else if (b.length >= 2 && b(0) == 0xff.toByte && b(1) == 0xfe.toByte)
      Some("utf_16")
    else if (b.length >= 2 && b(0) == 0xfe.toByte && b(1) == 0xff.toByte)
      Some("utf_16")
    else None
  }

  /** Kana/kanji bias: (a) DENSITY — Japanese text is mostly multibyte, so
    * high bytes must be ≥ a third of the sample (accented Western text
    * sits at a few percent, which kills the "café" false positive where
    * é = 0xE9 is a valid Shift_JIS lead and the following ASCII letter a
    * valid trail); (b) LEAD SHAPE — EUC-JP pairs are high×high (every
    * high byte in 0xA1-0xFE), Shift_JIS interleaves leads
    * (0x81-0x9F/0xE0-0xEF) with trails, so about half its high bytes land
    * in the lead ranges; Cyrillic cp1251 clusters in 0xC0-0xFF instead
    * (and is claimed by the earlier cp1251 branch anyway). */
  private def hasJisBias(b: Array[Byte], eucJp: Boolean): Boolean = {
    var high = 0
    var inLead = 0
    var i = 0
    while (i < b.length) {
      val x = b(i) & 0xff
      if (x >= 0x80) {
        high += 1
        val lead =
          if (eucJp) x >= 0xa1 && x <= 0xfe
          else (x >= 0x81 && x <= 0x9f) || (x >= 0xe0 && x <= 0xef)
        if (lead) inLead += 1
      }
      i += 1
    }
    high >= 4 && high * 3 >= b.length &&
      (if (eucJp) inLead == high else inLead * 2 >= high)
  }

  /** BOM-less UTF-16: mostly-Latin text has its zero bytes at ODD offsets
    * when little-endian ("a 00 b 00" in hex) and EVEN offsets when
    * big-endian — charset_normalizer names these utf_16_le / utf_16_be. */
  private def utf16Flavor(b: Array[Byte]): String = {
    var odd = 0
    var even = 0
    var i = 0
    while (i < b.length) {
      if (b(i) == 0) { if ((i & 1) == 1) odd += 1 else even += 1 }
      i += 1
    }
    if (odd >= even) "utf_16_le" else "utf_16_be"
  }

  private def decodes(bytes: Array[Byte], charset: String): Boolean = {
    val dec: CharsetDecoder = Charset
      .forName(charset)
      .newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try { dec.decode(ByteBuffer.wrap(bytes)); true }
    catch { case _: Exception => false }
  }

  /** UTF-16 without BOM shows as ~half the bytes being 0x00. */
  private def looksUtf16(b: Array[Byte]): Boolean = {
    val zeros = b.count(_ == 0)
    b.length >= 4 && zeros * 3 > b.length
  }

  /** KOI8-R case geography (see the cascade comment): among Cyrillic-range
    * bytes, lowercase-position (0xC0-0xDF) dominance ⇒ KOI8-R. The 2×
    * margin keeps mixed-case cp1251 (uppercase А-Я at 0xC0-0xDF) from
    * flipping over on headings. */
  private def looksKoi8(b: Array[Byte]): Boolean = {
    var lo = 0 // 0xC0-0xDF: koi8 lowercase / cp1251 uppercase
    var hi = 0 // 0xE0-0xFF: koi8 uppercase / cp1251 lowercase
    b.foreach { x =>
      val v = x & 0xff
      if (v >= 0xc0 && v <= 0xdf) lo += 1
      else if (v >= 0xe0) hi += 1
    }
    lo > hi * 2
  }

  /** Mac-Cyrillic vs cp1251, decided by WHERE the uppercase lives: both
    * put lowercase а-ю at 0xE0-0xFE, but Mac uppercase А-Я sits at
    * 0x80-0x9F (cp1251's at 0xC0-0xDF; its 0x80-0x9F carries only rare
    * punctuation). Requires ≥2 upper-band bytes AND more of them than
    * the 0xC0-0xDF band (which for Mac text holds only я=0xDF/ё). */
  private def looksMacCyrillic(b: Array[Byte]): Boolean = {
    var high = 0
    var upper = 0 // 0x80-0x9F: mac uppercase
    var mid = 0 // 0xC0-0xDF: cp1251 uppercase (mac: just я, ё)
    b.foreach { x =>
      val v = x & 0xff
      if (v >= 0x80) {
        high += 1
        if (v <= 0x9f) upper += 1
        else if (v >= 0xc0 && v <= 0xdf) mid += 1
      }
    }
    // the ≥3% floor keeps a stray cp1251 „quote“ pair (0x80-0x9F
    // punctuation) from flipping a lowercase page to mac_cyrillic
    upper >= 2 && upper > mid && upper * 32 >= high
  }

  /** cp866 band geography (see the cascade comment): dense high bytes,
    * ≥95% confined to {0x80-0x9F, 0xA0-0xAF, 0xE0-0xEF}, with the а-п
    * lowercase band 0xA0-0xAF carrying at least as much as 0xE0-0xEF
    * and at least a third of all high bytes (а/е/и/н/о all live there,
    * so running Russian text always does). */
  private def looksCp866(b: Array[Byte]): Boolean = {
    var high = 0
    var upper = 0 // 0x80-0x9F
    var lowA = 0 // 0xA0-0xAF: а-п
    var lowB = 0 // 0xE0-0xEF: р-я
    b.foreach { x =>
      val v = x & 0xff
      if (v >= 0x80) {
        high += 1
        if (v <= 0x9f) upper += 1
        else if (v <= 0xaf) lowA += 1
        else if (v >= 0xe0 && v <= 0xef) lowB += 1
      }
    }
    high >= 8 && high * 4 >= b.length &&
      (upper + lowA + lowB) * 20 >= high * 19 &&
      lowA >= lowB && lowA * 3 >= high
  }

  /** EUC kana-row evidence, PROPORTIONAL: pairs with lead 0xA4 (hiragana)
    * / 0xA5 (katakana) relative to all high-byte pairs. Real Japanese
    * prose — even a kanji-heavy roster — runs well above an eighth kana
    * (particles, okurigana); EUC-coded Chinese quoting a Japanese name
    * carries a couple of kana pairs that stay far below it (GB2312 puts
    * kana in the same rows, so an absolute count would misroute such
    * text to euc_jp). Requires ≥2 kana pairs AND kana ≥ 1/8 of pairs. */
  private def kanaDominant(b: Array[Byte]): Boolean = {
    var kana = 0
    var pairs = 0
    var i = 0
    while (i < b.length - 1) {
      val x = b(i) & 0xff
      if (x >= 0x80) {
        pairs += 1
        if ((x == 0xa4 || x == 0xa5) && (b(i + 1) & 0xff) >= 0xa1) kana += 1
        i += 2 // consume the EUC pair
      } else i += 1
    }
    kana >= 2 && kana * 8 >= pairs
  }

  /** GB2312 hanzi bias: high density plus most high×high pair LEADS in the
    * hanzi rows 0xB0-0xF7 (the kana/symbol rows 0xA1-0xAF carry little of
    * real Chinese text). */
  private def hasEucHanziBias(b: Array[Byte]): Boolean = {
    var pairs = 0
    var hanzi = 0
    var high = 0
    var i = 0
    while (i < b.length - 1) {
      val x = b(i) & 0xff
      if (x >= 0x80) {
        high += 2
        pairs += 1
        if (x >= 0xb0 && x <= 0xf7) hanzi += 1
        i += 2
      } else i += 1
    }
    pairs >= 4 && high * 3 >= b.length && hanzi * 4 >= pairs * 3
  }

  /** Big5 bias: dense high×trail pairs with leads in the common Big5 range
    * 0xA4-0xF9, PLUS at least one ASCII-range trail (0x40-0x7E) — the
    * structural signature that separates Big5 from the EUC family, whose
    * trails are never below 0xA1. */
  private def hasBig5Bias(b: Array[Byte]): Boolean = {
    var pairs = 0
    var lead = 0
    var asciiTrail = 0
    var high = 0
    var i = 0
    while (i < b.length - 1) {
      val x = b(i) & 0xff
      if (x >= 0x80) {
        val t = b(i + 1) & 0xff
        high += (if (t >= 0x80) 2 else 1)
        pairs += 1
        if (x >= 0xa4 && x <= 0xf9) lead += 1
        if (t >= 0x40 && t <= 0x7e) asciiTrail += 1
        i += 2
      } else i += 1
    }
    pairs >= 4 && high * 4 >= b.length && lead * 4 >= pairs * 3 &&
      asciiTrail >= 1
  }

  private def hasCyrillicBias(b: Array[Byte]): Boolean = {
    // Two signals, both needed:
    //  - SHAPE: every cp1251 Cyrillic letter (upper А-Я, lower а-я) lives
    //    in 0xC0-0xFF, so genuine Russian puts ~100% of its high bytes
    //    there; Japanese JIS bytes (which often also *decode* as cp1251)
    //    spread leads below 0xC0 and land nearer 40%. Threshold 3/4.
    //  - DENSITY: Russian text is mostly high bytes (only spaces and
    //    punctuation are ASCII), while accented Western text — whose
    //    é/à/è also sit ≥ 0xC0 — is mostly ASCII. Threshold 1/4.
    val high = b.count(_ < 0)
    b.count(x => (x & 0xff) >= 0xc0) * 4 > high * 3 && high * 4 >= b.length
  }

  /** Majority-vote delimiter detection over sampled lines.
    *
    * Reference semantics (`main.py:201-236`): sample 15 line positions
    * spread evenly (`step = line_count // 15`, positions `step * i`), strip
    * commas from each sample (the `main.py:221-222` loop quirk — spaces are
    * NOT stripped), `csv.Sniffer().sniff` each, majority vote; ANY sniff
    * failure (e.g. a sample with no delimiter at all) returns the default
    * tab immediately.
    *
    * Our sniff-per-line: the candidate character (tab, `;`, `|`, `:`,
    * space) with the highest occurrence count in the comma-stripped line; a
    * line where no candidate occurs = sniff failure = default tab.
    */
  def detectDelimiter(path: String): String =
    try detectDelimiter(readPrefix(path, SampleBytes))
    catch { case _: Exception => DefaultDelimiter }

  /** [[detectDelimiter]] over bytes already read: their first
    * [[SampleBytes]] are the sample. */
  def detectDelimiter(head: Array[Byte]): String = {
    try {
      val text = new String(sample(head), "UTF-8")
      val lines = text.split("\n", -1).toIndexedSeq
      // reference counts '\n' chars, so a trailing newline doesn't create a
      // sampled empty last line (positions stay within 0..lineCount-1 only
      // when lineCount >= samples; with fewer lines all positions are 0)
      val lineCount = text.count(_ == '\n')
      val step = lineCount / NumberOfSamples
      val votes = scala.collection.mutable.ArrayBuffer.empty[Char]
      var i = 0
      while (i < NumberOfSamples) {
        val pos = step * i
        if (pos >= lines.length) return DefaultDelimiter
        val sample = lines(pos).replace(",", "")
        sniffLine(sample) match {
          case Some(d) => votes += d
          case None    => return DefaultDelimiter // sniff failure → default
        }
        i += 1
      }
      if (votes.isEmpty) DefaultDelimiter
      else {
        // majority vote; ties broken by candidate preference order
        val grouped = votes.groupBy(identity).view.mapValues(_.size).toMap
        val best = grouped.values.max
        Candidates.find(c => grouped.getOrElse(c, 0) == best).map(_.toString)
          .getOrElse(DefaultDelimiter)
      }
    } catch { case _: Exception => DefaultDelimiter }
  }

  private def sniffLine(line: String): Option[Char] = {
    if (line.isEmpty) None
    else {
      val counts = Candidates.map(c => c -> line.count(_ == c))
      val (bestC, bestN) = counts.maxBy(_._2)
      if (bestN == 0) None
      else Some(counts.find(_._2 == bestN).map(_._1).getOrElse(bestC))
    }
  }

  /** Read at most `limit` bytes from the head of the file (Hadoop-FS:
    * local paths and hdfs:/s3a: URIs alike). Codec-suffixed files
    * (`x.csv.gz`) sniff their DECODED head — the compressed bytes would
    * vote garbage delimiters and fake encodings. */
  private def readPrefix(path: String, limit: Int): Array[Byte] =
    FsIO.readHeadDecoded(path, limit)

  private def sample(head: Array[Byte]): Array[Byte] =
    if (head.length <= SampleBytes) head else java.util.Arrays.copyOf(head, SampleBytes)
}

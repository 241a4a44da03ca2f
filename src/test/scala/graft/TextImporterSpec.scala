package graft

import graft.model.ParserAnswer
import org.apache.spark.sql.Row

/** FIXTURES.md §A1-A3 + error-path semantics for the text pipeline. */
class TextImporterSpec extends SparkSpec {

  test("A1: tab-separated 4x4 — sheet name, shape, metadata") {
    val dir = tmpDir("txt")
    val p = writeFile(dir, "example.txt",
      "v11\tv12\tv13\tv14\nv21\tv22\tv23\tv24\n" +
        "v31\tv32\tv33\tv34\nv41\tv42\tv43\tv44\n")
    val answers = AnyFile.parse(spark, p)
    assert(answers.length == 1)
    val a = answers.head
    assert(a.sheetName == "Text file content")
    assert(a.engine == "ImportText")
    assert(a.separator == "\t")
    assert(a.parseInfo == "OK")
    assert(a.encoding == "ascii")
    assert(a.data.columns.toSeq == Seq("0", "1", "2", "3"))
    assert(a.data.schema.fields.forall(_.dataType.typeName == "string"))
    val rows = a.data.collect()
    assert(rows.length == 4)
    assert(rows(0) == Row("v11", "v12", "v13", "v14"))
  }

  test("A2: ragged pipe csv — delimiter vote, quote strip, '' padding") {
    val dir = tmpDir("csv")
    val p = writeFile(dir, "ragged.csv", "a|b|c\n\"d\"|'e'\nf|g|h|i\n")
    val a = AnyFile.parse(spark, p).head
    assert(a.separator == "|")
    assert(a.data.columns.length == 4)
    val rows = a.data.collect()
    assert(rows(0) == Row("a", "b", "c", ""))
    assert(rows(1) == Row("d", "e", "", "")) // quotes stripped, padded
    assert(rows(2) == Row("f", "g", "h", "i"))
  }

  test("A3: .ant fixed multi-char delimiter") {
    val dir = tmpDir("ant")
    val p = writeFile(dir, "f.ant", "x~~@~~y~~@~~z\n1~~@~~2~~@~~3\n")
    val a = AnyFile.parse(spark, p).head
    assert(a.separator == "~~@~~")
    assert(a.data.columns.length == 3)
    assert(a.data.collect().toSeq == Seq(Row("x", "y", "z"), Row("1", "2", "3")))
  }

  test("quote stripping is literal char-strip, not CSV parsing") {
    val dir = tmpDir("q")
    // runs of quotes stripped from both ends; inner quotes kept;
    // double-then-single strip order (main.py:348)
    val p = writeFile(dir, "quotes.txt", "\"\"a\"\"\tb\"c\t'\"d\"'\n")
    val rows = AnyFile.parse(spark, p).head.data.collect()
    assert(rows(0) == Row("a", "b\"c", "\"d\""))
  }

  test("leading/trailing tabs stripped before split (strip('\\t') parity)") {
    val dir = tmpDir("t")
    // delimiter explicit: with tabs present the voter (like the reference's
    // Sniffer on the raw line) would pick tab — strip still applies first
    val p = writeFile(dir, "t.txt", "\ta;b\t\nc;d\n")
    val a = graft.sources.TextImporter.answers(
      spark, graft.sources.Route(p, graft.sources.Formats.PlainText, ""), Some(";")).head
    assert(a.data.collect().toSeq == Seq(Row("a", "b"), Row("c", "d")))
  }

  test("empty file → single Failed answer") {
    val dir = tmpDir("e")
    val p = writeFile(dir, "empty.txt", "")
    val a = AnyFile.parse(spark, p).head
    assert(a.parseInfo == "Failed")
    assert(a.data.columns.isEmpty)
  }

  test("cp1251-like bytes reported, not applied") {
    val dir = tmpDir("enc")
    val p = dir.resolve("cyr.txt")
    // Cyrillic "привет\tмир" in cp1251
    val bytes = "привет\tмир\n".getBytes("windows-1251")
    java.nio.file.Files.write(p, bytes)
    val a = AnyFile.parse(spark, p.toString).head
    assert(a.encoding == "cp1251")
    assert(a.data.columns.length == 2) // still split on tab
  }

  test("charset_normalizer label parity: cp1252, latin_1, utf_16 flavors") {
    import graft.sources.Sniffers
    val dir = tmpDir("enc2")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    // 0x92 = curly apostrophe in cp1252 (and cp1251, but no Cyrillic bias)
    val west = put("west.txt",
      "it".getBytes("ASCII") ++ Array(0x92.toByte) ++ "s fine\n".getBytes("ASCII"))
    assert(Sniffers.detectEncoding(west).contains("cp1252"))
    // 0x90 is undefined in cp1252 → only latin_1 accepts the byte soup
    val soup = put("soup.txt",
      "x".getBytes("ASCII") ++ Array(0x90.toByte, 0x8d.toByte) ++ "\n".getBytes("ASCII"))
    assert(Sniffers.detectEncoding(soup).contains("latin_1"))
    // BOM-less UTF-16: zero bytes at odd offsets = LE, even = BE
    val le = put("le.txt", "hello world".getBytes("UTF-16LE"))
    assert(Sniffers.detectEncoding(le).contains("utf_16_le"))
    val be = put("be.txt", "hello world".getBytes("UTF-16BE"))
    assert(Sniffers.detectEncoding(be).contains("utf_16_be"))
    // BOM'd UTF-16 stays the generic utf_16 label
    val bom = put("bom.txt", "\ufeffhello".getBytes("UTF-16LE"))
    assert(Sniffers.detectEncoding(bom).contains("utf_16"))
  }

  test("charset_normalizer label parity: utf_32 BOM, shift_jis, euc_jp") {
    import graft.sources.Sniffers
    val dir = tmpDir("enc3")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    // UTF-32 LE BOM is a superset of the UTF-16 LE BOM \u2014 must win
    val u32 = put("u32.txt", "\ufeffhi".getBytes("UTF-32LE"))
    assert(Sniffers.detectEncoding(u32).contains("utf_32"))
    val u32be = put("u32be.txt", "\ufeffhi".getBytes("UTF-32BE"))
    assert(Sniffers.detectEncoding(u32be).contains("utf_32"))
    // Japanese multibyte: same text, both JIS encodings
    val ja = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c\u3001\u4eca\u65e5\u306f\u826f\u3044\u5929\u6c17\u3067\u3059\u3002\n"
    assert(Sniffers.detectEncoding(put("sjis.txt", ja.getBytes("Shift_JIS")))
      .contains("shift_jis"))
    assert(Sniffers.detectEncoding(put("euc.txt", ja.getBytes("EUC-JP")))
      .contains("euc_jp"))
    // density guard: accented Western text must NOT be claimed as JIS
    // (\u00e9 = 0xE9 is a valid Shift_JIS lead byte + ASCII trail)
    val fr = put("fr.txt", "caf\u00e9 au lait, d\u00e9j\u00e0 vu, tr\u00e8s chaud\n".getBytes("windows-1252"))
    assert(Sniffers.detectEncoding(fr).contains("cp1252"))
    // Cyrillic density stays cp1251, not JIS
    val ru = put("ru.txt",
      "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043a\u0430\u043a \u0434\u0435\u043b\u0430 \u0441\u0435\u0433\u043e\u0434\u043d\u044f\n".getBytes("windows-1251"))
    assert(Sniffers.detectEncoding(ru).contains("cp1251"))
  }

  test("charset_normalizer label parity tier 2: koi8_r, gb2312, big5") {
    import graft.sources.Sniffers
    val dir = tmpDir("enc4")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    // the SAME lowercase Russian text in both Cyrillic codecs: case
    // geography (koi8 lowercase at 0xC0-0xDF, cp1251's at 0xE0-0xFF)
    // is the only honest discriminator \u2014 both decodes always succeed
    val ru = "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440 \u043a\u0430\u043a \u0434\u0435\u043b\u0430 \u0441\u0435\u0433\u043e\u0434\u043d\u044f\n"
    assert(Sniffers.detectEncoding(put("koi.txt", ru.getBytes("KOI8-R")))
      .contains("koi8_r"))
    assert(Sniffers.detectEncoding(put("cp1251.txt", ru.getBytes("windows-1251")))
      .contains("cp1251"))
    // Chinese text: GB2312 shares EUC-JP's byte structure but carries no
    // kana \u2014 the hanzi-row bias must claim it as gb2312, not euc_jp
    val zh = "\u4eca\u5929\u5929\u6c14\u5f88\u597d\uff0c\u6211\u4eec\u53bb\u516c\u56ed\u6563\u6b65\u5427\u3002\n"
    assert(Sniffers.detectEncoding(put("gb.txt", zh.getBytes("GB2312")))
      .contains("gb2312"))
    // Traditional Chinese in Big5: ASCII-range trail bytes are the
    // structural signature no EUC-family codec produces
    val tw = "\u4eca\u5929\u5929\u6c23\u5f88\u597d\uff0c\u6211\u5011\u53bb\u516c\u5712\u6563\u6b65\u5427\u3002\n"
    assert(Sniffers.detectEncoding(put("big5.txt", tw.getBytes("Big5")))
      .contains("big5"))
    // and the tier-1 set must be undisturbed: Japanese still splits by
    // its kana rows, never claimed as gb2312
    val ja = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c\u3001\u4eca\u65e5\u306f\u826f\u3044\u5929\u6c17\u3067\u3059\u3002\n"
    assert(Sniffers.detectEncoding(put("ja2.txt", ja.getBytes("EUC-JP")))
      .contains("euc_jp"))
    // kana-SPARSE Japanese (kanji roster with two stray kana) must stay
    // euc_jp \u2014 the gb2312 branch only claims ZERO-kana text
    val jaSparse = "\u6771\u4eac\u90fd\u8b70\u4f1a\u8b70\u54e1\u9078\u6319\u306e\u7d50\u679c\u304c\u767a\u8868\u3055\u308c\u305f\u3002\n"
    assert(Sniffers.detectEncoding(
        put("ja3.txt", jaSparse.getBytes("EUC-JP")))
      .contains("euc_jp"))
  }

  test("tier-2 ambiguity: SJIS-vs-Big5 ordering, proportional kana") {
    import graft.sources.Sniffers
    val dir = tmpDir("enc5")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    // Japanese kanji chosen so every Shift_JIS pair has a 0xE0-0xEF lead
    // AND the byte string strictly decodes as Big5 \u2014 the adversarial case
    // where the Big5 branch used to outrank Shift_JIS. The strict-SJIS
    // tiebreak must route it shift_jis.
    val jisHeavy = "\u51dc\u6248\u7199\u720d\u7210\u721b\u7228\u722c" +
      "\u722d\u7230\u7232\u723b\u723c\u723f\u7240\u7246" +
      "\u4e55\u6ef7\u6f13\u6f3e"
    assert(Sniffers.detectEncoding(
        put("sjis_e0.txt", jisHeavy.getBytes("Shift_JIS")))
      .contains("shift_jis"))
    // Chinese text QUOTING a Japanese title: GB2312 encodes kana in the
    // same 0xA4/0xA5 rows, so a couple of quoted kana pairs must not flip
    // hanzi-row-dominant text to euc_jp \u2014 the kana test is proportional
    val zhQuote = "\u5386\u53f2\u5b66\u5bb6\u5728\u7814\u7a76\u53e4\u4ee3" +
      "\u6587\u732e\u65f6\u53d1\u73b0\u8bb8\u591a\u91cd\u8981\u8d44\u6599" +
      "\uff0c\u5176\u4e2d\u5305\u62ec\u4e00\u9996\u540d\u4e3a\u300c\u3055" +
      "\u304f\u3089\u300d\u7684\u65e5\u672c\u6b4c\u66f2\u7684\u8bb0\u8f7d" +
      "\uff0c\u8fd9\u4e9b\u8d44\u6599\u5bf9\u7814\u7a76\u4e24\u56fd\u6587" +
      "\u5316\u4ea4\u6d41\u5177\u6709\u91cd\u8981\u4ef7\u503c\u3002\n"
    assert(Sniffers.detectEncoding(
        put("zh_quote.txt", zhQuote.getBytes("GB2312")))
      .contains("gb2312"))
  }

  test("charset_normalizer label parity tier 3: cp866, mac_cyrillic") {
    import graft.sources.Sniffers
    val dir = tmpDir("enc6")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      p.toString
    }
    val ru = "привет мир как дела сегодня и ещё немного текста для проверки\n"
    val ruCap = "Привет Мир Как Дела Сегодня Ещё Немного Текста Для Проверки\n"
    // cp866's split lowercase bands (а-п at 0xA0-0xAF, р-я at 0xE0-0xEF)
    // are unique among the supported codecs — claimed in either case
    assert(Sniffers.detectEncoding(put("dos.txt", ru.getBytes("IBM866")))
      .contains("cp866"))
    assert(Sniffers.detectEncoding(put("dos2.txt", ruCap.getBytes("IBM866")))
      .contains("cp866"))
    // mac_cyrillic splits from cp1251 by WHERE the uppercase lives
    // (0x80-0x9F vs 0xC0-0xDF) — capitalized text carries the signal
    assert(Sniffers.detectEncoding(
        put("mac.txt", ruCap.getBytes("x-MacCyrillic")))
      .contains("mac_cyrillic"))
    // ALL-lowercase Mac text is byte-identical to cp1251 (both put а-ю
    // at 0xE0-0xFE): the honest label is the common codec
    assert(Sniffers.detectEncoding(
        put("mac_lo.txt", ru.getBytes("x-MacCyrillic")))
      .contains("cp1251"))
    // and the tier-1/2 Cyrillic set is undisturbed
    assert(Sniffers.detectEncoding(put("win.txt", ruCap.getBytes("windows-1251")))
      .contains("cp1251"))
    assert(Sniffers.detectEncoding(put("koi2.txt", ru.getBytes("KOI8-R")))
      .contains("koi8_r"))
  }

  test("the byte sniffers answer what the path sniffers answer") {
    import graft.sources.Sniffers
    val dir = tmpDir("sniff_bytes")
    val ru = "привет мир как дела сегодня и ещё немного текста для проверки\n"
    val ruCap = "Привет Мир Как Дела Сегодня Ещё Немного Текста Для Проверки\n"
    val ja = "\u3053\u3093\u306b\u3061\u306f\u4e16\u754c\u3001\u4eca\u65e5\u306f\u826f\u3044\u5929\u6c17\u3067\u3059\u3002\n"
    val zh = "\u4eca\u5929\u5929\u6c14\u5f88\u597d\uff0c\u6211\u4eec\u53bb\u516c\u56ed\u6563\u6b65\u5427\u3002\n"
    val tw = "\u4eca\u5929\u5929\u6c23\u5f88\u597d\uff0c\u6211\u5011\u53bb\u516c\u5712\u6563\u6b65\u5427\u3002\n"
    val samples: Seq[(String, Array[Byte])] = Seq(
      "tab.txt" -> "v11\tv12\tv13\nv21\tv22\tv23\n".getBytes("UTF-8"),
      "ragged.csv" -> "a|b|c\n\"d\"|'e'\nf|g|h|i\n".getBytes("UTF-8"),
      "semi.csv" -> "a;b;c\n1;2;3\n".getBytes("UTF-8"),
      "none.txt" -> "no delimiter here\n".getBytes("UTF-8"),
      "empty.txt" -> Array.emptyByteArray,
      "west.txt" -> ("it".getBytes("ASCII") ++ Array(0x92.toByte) ++ "s fine\n".getBytes("ASCII")),
      "soup.txt" -> ("x".getBytes("ASCII") ++ Array(0x90.toByte, 0x8d.toByte) ++ "\n".getBytes("ASCII")),
      "le.txt" -> "hello world".getBytes("UTF-16LE"),
      "be.txt" -> "hello world".getBytes("UTF-16BE"),
      "u32.txt" -> "\ufeffhi".getBytes("UTF-32LE"),
      "sjis.txt" -> ja.getBytes("Shift_JIS"),
      "euc.txt" -> ja.getBytes("EUC-JP"),
      "koi.txt" -> ru.getBytes("KOI8-R"),
      "cp1251.txt" -> ruCap.getBytes("windows-1251"),
      "gb.txt" -> zh.getBytes("GB2312"),
      "big5.txt" -> tw.getBytes("Big5"),
      "dos.txt" -> ru.getBytes("IBM866"),
      "mac.txt" -> ruCap.getBytes("x-MacCyrillic"),
      // past the sample: only the head votes and is decoded
      "long.csv" -> ((("a;b\n" * (Sniffers.SampleBytes / 4)) + ("x|y|z\n" * 1000)).getBytes("UTF-8") ++
        Array(0x90.toByte)),
      "gz.csv.gz" -> IngestFixtures.gz("a|b\nc|d\n".getBytes("UTF-8")),
      "zst.csv.zst" -> IngestFixtures.zst(ru.getBytes("KOI8-R")))
    samples.foreach { case (name, bytes) =>
      val p = dir.resolve(name)
      java.nio.file.Files.write(p, bytes)
      val decoded = graft.sources.FsIO.readAllBytesDecoded(p.toString)
      assert(Sniffers.detectEncoding(decoded) == Sniffers.detectEncoding(p.toString), name)
      assert(Sniffers.detectDelimiter(decoded) == Sniffers.detectDelimiter(p.toString), name)
    }
  }
}

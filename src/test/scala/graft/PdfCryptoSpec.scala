package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.security.MessageDigest

import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

import graft.sources.pdf.{PdfCrypto, PdfParser}

/** Encrypted-PDF fixtures for the standard security handler (ISO 32000-1
  * §7.6): RC4 R3/128, AES-128 (AESV2, R4) and AES-256 (R6). The ENCRYPT
  * side of each fixture — key schedule, U entry, per-object keys, the R6
  * iterated hash — is re-implemented HERE from the spec text, independent
  * of [[PdfCrypto]]'s decrypt side, so a transcription error in either
  * copy fails the round-trip instead of canceling out.
  */
class PdfCryptoSpec extends SparkSpec {

  // --------------------------------------------------- spec-side helpers

  private val Pad: Array[Byte] = Array(
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A).map(_.toByte)

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    parts.foreach(md.update)
    md.digest()
  }

  private val fileId: Array[Byte] =
    "0123456789abcdef".getBytes("ISO-8859-1")
  private val oEntry: Array[Byte] =
    Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte)
  private val perm = -44

  /** Algorithm 2 (empty user password), R3/R4. */
  private def fileKeyR34(keyLen: Int): Array[Byte] = {
    val pLe = Array[Byte](
      (perm & 0xff).toByte, ((perm >> 8) & 0xff).toByte,
      ((perm >> 16) & 0xff).toByte, ((perm >> 24) & 0xff).toByte)
    var key = md5(Pad, oEntry, pLe, fileId).take(keyLen)
    (0 until 50).foreach(_ => key = md5(key).take(keyLen))
    key
  }

  /** Algorithm 5's U entry for R3/R4 (first 16 bytes significant). */
  private def uEntryR34(key: Array[Byte]): Array[Byte] = {
    var x = md5(Pad, fileId)
    (0 until 20).foreach { pass =>
      x = PdfCrypto.rc4(key.map(b => (b ^ pass).toByte), x)
    }
    x.take(16) ++ Array.fill[Byte](16)(0)
  }

  private def objKey(fileKey: Array[Byte], num: Int, aes: Boolean): Array[Byte] = {
    val md = MessageDigest.getInstance("MD5")
    md.update(fileKey)
    md.update(Array[Byte](
      (num & 0xff).toByte, ((num >> 8) & 0xff).toByte,
      ((num >> 16) & 0xff).toByte, 0, 0))
    if (aes) md.update("sAlT".getBytes("ISO-8859-1"))
    md.digest().take(math.min(fileKey.length + 5, 16))
  }

  /** AES-CBC with PKCS#5 pad and a deterministic IV prepended. */
  private def aesEncrypt(key: Array[Byte], plain: Array[Byte]): Array[Byte] = {
    val iv = Array.tabulate[Byte](16)(i => (i * 11 + 1).toByte)
    val padLen = 16 - (plain.length % 16)
    val padded = plain ++ Array.fill[Byte](padLen)(padLen.toByte)
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"),
      new IvParameterSpec(iv))
    iv ++ c.doFinal(padded)
  }

  /** §7.6.4.3.4 algorithm 2.B, re-implemented from the spec text. */
  private def hashR6(pwd: Array[Byte], salt: Array[Byte]): Array[Byte] = {
    var k = MessageDigest.getInstance("SHA-256").digest(pwd ++ salt)
    var round = 0
    var last = 0
    var done = false
    while (!done) {
      val block = pwd ++ k
      val k1 = Iterator.fill(64)(block).flatten.toArray
      val c = Cipher.getInstance("AES/CBC/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(k.take(16), "AES"),
        new IvParameterSpec(k.slice(16, 32)))
      val e = c.doFinal(k1)
      val algo = (e.take(16).map(_ & 0xff).sum % 3) match {
        case 0 => "SHA-256"; case 1 => "SHA-384"; case _ => "SHA-512"
      }
      k = MessageDigest.getInstance(algo).digest(e)
      last = e(e.length - 1) & 0xff
      round += 1
      done = round >= 64 && last <= round - 32
    }
    k.take(32)
  }

  private def hex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  /** Assemble a one-page PDF whose content stream is pre-encrypted, with
    * the given /Encrypt dictionary body. */
  private def encryptedPdf(
      name: String,
      encDictBody: String,
      encContent: Array[Byte]): String = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Contents 4 0 R /Resources << /Font << /F1 100 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${encContent.length} >> stream\n")
    out.write(encContent)
    w("\nendstream endobj\n")
    w("100 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n")
    w(s"200 0 obj << $encDictBody >> endobj\n")
    w(s"trailer << /Root 1 0 R /Encrypt 200 0 R " +
      s"/ID [<${hex(fileId)}> <${hex(fileId)}>] >>\n%%EOF\n")
    val p = tmpDir("pdfenc").resolve(name)
    Files.write(p, out.toByteArray)
    p.toString
  }

  private def gridContent: Array[Byte] =
    ("BT /F1 12 Tf\n" +
      "1 0 0 1 72 700 Tm (key) Tj\n1 0 0 1 192 700 Tm (val) Tj\n" +
      "1 0 0 1 72 680 Tm (pi) Tj\n1 0 0 1 192 680 Tm (3.14) Tj\n" +
      "ET\n").getBytes("ISO-8859-1")

  private def assertGrid(path: String): Unit = {
    val answers = AnyFile.parse(spark, path)
    assert(answers.head.parseInfo == "OK", answers.head.parseInfo)
    val rows = answers.head.data.orderBy("index").collect().map(_.toSeq)
    assert(rows(0) == Seq(0, "key", "val"))
    assert(rows(1) == Seq(1, "pi", "3.14"))
  }

  // --------------------------------------------------------------- tests

  test("RC4 128-bit (V2/R3): encrypted content stream round-trips") {
    val key = fileKeyR34(16)
    val enc = PdfCrypto.rc4(objKey(key, 4, aes = false), gridContent)
    val path = encryptedPdf("rc4.pdf",
      s"/Filter /Standard /V 2 /R 3 /Length 128 /P $perm " +
        s"/O <${hex(oEntry)}> /U <${hex(uEntryR34(key))}>",
      enc)
    assertGrid(path)
  }

  test("RC4 40-bit (V1/R2): the PDF 1.1 legacy scheme decrypts") {
    // R2: key = first 5 MD5 bytes, no 50-pass loop; U = RC4(key, pad)
    val pLe = Array[Byte](
      (perm & 0xff).toByte, ((perm >> 8) & 0xff).toByte,
      ((perm >> 16) & 0xff).toByte, ((perm >> 24) & 0xff).toByte)
    val key = md5(Pad, oEntry, pLe, fileId).take(5)
    val u = PdfCrypto.rc4(key, Pad)
    val enc = PdfCrypto.rc4(objKey(key, 4, aes = false), gridContent)
    val path = encryptedPdf("rc4_40.pdf",
      s"/Filter /Standard /V 1 /R 2 /P $perm " +
        s"/O <${hex(oEntry)}> /U <${hex(u)}>",
      enc)
    assertGrid(path)
  }

  test("AES-128 (V4/R4 AESV2): CBC payload with IV and PKCS#5 pad decrypts") {
    val key = fileKeyR34(16)
    val enc = aesEncrypt(objKey(key, 4, aes = true), gridContent)
    val path = encryptedPdf("aes128.pdf",
      s"/Filter /Standard /V 4 /R 4 /Length 128 /P $perm " +
        "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen >> >> " +
        "/StmF /StdCF /StrF /StdCF " +
        s"/O <${hex(oEntry)}> /U <${hex(uEntryR34(key))}>",
      enc)
    assertGrid(path)
  }

  test("AES-256 (V5/R6): hardened-hash U validation + UE file key decrypt") {
    val fileKey = Array.tabulate[Byte](32)(i => (i * 13 + 5).toByte)
    val valSalt = Array.tabulate[Byte](8)(i => (i + 1).toByte)
    val keySalt = Array.tabulate[Byte](8)(i => (i + 101).toByte)
    val u = hashR6(Array.emptyByteArray, valSalt) ++ valSalt ++ keySalt
    val ueKey = hashR6(Array.emptyByteArray, keySalt)
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(ueKey, "AES"),
      new IvParameterSpec(new Array[Byte](16)))
    val ue = c.doFinal(fileKey)
    val o48 = Array.tabulate[Byte](48)(i => (i * 3).toByte)
    val enc = aesEncrypt(fileKey, gridContent)
    val path = encryptedPdf("aes256.pdf",
      s"/Filter /Standard /V 5 /R 6 /Length 256 /P $perm " +
        s"/O <${hex(o48)}> /U <${hex(u)}> /UE <${hex(ue)}> " +
        s"/OE <${hex(Array.fill[Byte](32)(0))}>",
      enc)
    assertGrid(path)
  }

  test("password-locked file (U mismatch) fails closed, never emits ciphertext") {
    val key = fileKeyR34(16)
    val enc = PdfCrypto.rc4(objKey(key, 4, aes = false), gridContent)
    val badU = Array.fill[Byte](32)(0x42)
    val path = encryptedPdf("locked.pdf",
      s"/Filter /Standard /V 2 /R 3 /Length 128 /P $perm " +
        s"/O <${hex(oEntry)}> /U <${hex(badU)}>",
      enc)
    assert(PdfParser.parse(Files.readAllBytes(
      java.nio.file.Paths.get(path))).isEmpty)
    val answers = AnyFile.parse(spark, path)
    assert(answers.length == 1 && answers.head.parseInfo == "Failed")
  }

  test("strings in page dictionaries decrypt too (walk covers nested values)") {
    // same RC4 R3 file, but sanity-check the parser-level string decrypt:
    // put an RC4'd string into the page dict and read it back via parse()
    val key = fileKeyR34(16)
    val secret = "hello".getBytes("ISO-8859-1")
    val encStr = PdfCrypto.rc4(objKey(key, 3, aes = false), secret)
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.6\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w(s"3 0 obj << /Type /Page /Parent 2 0 R /Note <${hex(encStr)}> >> endobj\n")
    w(s"200 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P $perm " +
      s"/O <${hex(oEntry)}> /U <${hex(uEntryR34(key))}> >> endobj\n")
    w(s"trailer << /Root 1 0 R /Encrypt 200 0 R " +
      s"/ID [<${hex(fileId)}> <${hex(fileId)}>] >>\n%%EOF\n")
    val p = tmpDir("pdfenc").resolve("strings.pdf")
    Files.write(p, out.toByteArray)
    val doc = PdfParser.parse(out.toByteArray).get
    val page = doc.pages.head
    val note = doc.entry(page, "Note").collect {
      case PdfParser.PString(b) => new String(b, "ISO-8859-1")
    }
    assert(note.contains("hello"))
  }
}

package graft.operators

import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns plus a typed metadata struct, and run decode /
  * feature-extraction as a partition-wise typed transformation.
  *
  * The container-header decode is REAL: [[MediaCodec.decode]] parses the
  * PNG (ISO 15948 §5.3/11.2.2: signature + IHDR), JPEG (ITU T.81 §B.2.2:
  * marker scan to SOFn), GIF (GIF89a spec: logical screen descriptor) and
  * WAV (RIFF: `fmt ` chunk) formats from their public specifications, and
  * emits (width, height, format) straight from the header bytes. Only the
  * vision-model feature extraction is a deterministic stand-in (no ML
  * runtime exists in this offline container): features derive from the
  * decoded metadata via small-integer arithmetic so the whole path is
  * oracle-expressible. The Spark shape is what a production decoder uses:
  *
  *  - payloads stay `Array[Byte]` end-to-end (no driver materialization);
  *  - the work runs via `Dataset.mapPartitions` with product encoders — the
  *    JVM twin of `mapInPandas` (one iterator per partition, so a real
  *    decoder amortizes model/codec init across its partition's rows);
  *  - output is a typed row (id, meta, features) ready for the similarity
  *    suite to consume.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte], kind: String)
  final case class DecodedRow(
      doc_id: Long,
      n_bytes: Long,
      width: Int,
      height: Int,
      format: String,
      feat_ss: Long,
      features: Array[Float])

  /** Real container-header codec. Parses the four public container formats
    * from their magic bytes (the `kind` hint is deliberately ignored — a
    * catalog scan must trust the bytes, not the label). */
  object MediaCodec {
    val FeatureDim = 8

    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

    private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def startsWith(b: Array[Byte], sig: Array[Byte]): Boolean =
      b.length >= sig.length && {
        var i = 0
        while (i < sig.length && b(i) == sig(i)) i += 1
        i == sig.length
      }

    /** PNG: 8-byte signature, then the IHDR chunk (length+type at 8..15,
      * width/height big-endian u32 at 16/20). */
    private def parsePng(b: Array[Byte]): Option[(Int, Int)] =
      if (b.length >= 24 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
        Some((be32(b, 16), be32(b, 20)))
      else None

    /** JPEG: marker scan from after SOI; SOFn segment carries
      * precision(1) height(2) width(2) after the 2-byte length. */
    private def parseJpeg(b: Array[Byte]): Option[(Int, Int)] = {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xff) != 0xff) return None
        val m = b(i + 1) & 0xff
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone markers
        else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc) {
          // SOF0..SOF15 minus DHT/JPG/DAC
          return if (i + 8 < b.length) Some((be16(b, i + 7), be16(b, i + 5))) else None
        } else {
          if (i + 3 >= b.length) return None
          i += 2 + be16(b, i + 2)
        }
      }
      None
    }

    /** WAV: RIFF/WAVE, then a chunk scan to `fmt ` (channels LE16 at +2,
      * sample rate LE32 at +4 inside the chunk body). */
    private def parseWav(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 12 || !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
          return if (i + 16 <= b.length) Some((le32(b, i + 12), le16(b, i + 10))) else None
        }
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      None
    }

    /** Locate the RIFF `data` chunk by the same chunk walk [[parseWav]]
      * runs for `fmt ` — returns (payload offset, byte length), the length
      * clamped to the bytes actually present so a truncated file
      * fingerprints what it carries. RIFF permits extra or reordered
      * chunks before `data` (LIST/INFO, fact, cue), so the offset is NOT
      * assumed to be the canonical 44. None when the container is not
      * RIFF/WAVE or carries no data chunk. */
    private[graft] def dataChunk(b: Array[Byte]): Option[(Int, Int)] = {
      if (b.length < 12 || !(b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')) return None
      var i = 12
      while (i + 8 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a')
          return Some((i + 8, math.min(size.toLong, (b.length - i - 8).toLong).toInt))
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      None
    }

    /** AVI: RIFF/'AVI ', chunk walk to LIST/hdrl, then the avih main
      * header — AVIMAINHEADER per the public OpenDML/VfW spec: a 56-byte
      * body with dwWidth/dwHeight at LE32 offsets 32/36. */
    private def parseAvi(b: Array[Byte]): Option[(Int, Int)] = {
      var i = 12
      while (i + 12 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'L' && b(i + 1) == 'I' && b(i + 2) == 'S' && b(i + 3) == 'T' &&
          b(i + 8) == 'h' && b(i + 9) == 'd' && b(i + 10) == 'r' && b(i + 11) == 'l') {
          var j = i + 12
          val end = math.min(i + 8 + size, b.length)
          while (j + 8 <= end) {
            val s2 = le32(b, j + 4)
            if (b(j) == 'a' && b(j + 1) == 'v' && b(j + 2) == 'i' && b(j + 3) == 'h')
              return if (j + 8 + 40 <= b.length)
                Some((le32(b, j + 8 + 32), le32(b, j + 8 + 36)))
              else None
            j += 8 + s2 + (s2 & 1)
          }
          return None
        }
        i += 8 + size + (size & 1)
      }
      None
    }

    /** Frame records of an AVI: chunk walk to LIST/movi, then every
      * `00db` (uncompressed frame) chunk as (payload offset, byte length),
      * lengths clamped to the bytes present — the [[dataChunk]] discipline
      * applied to the video container. */
    private[graft] def moviFrames(b: Array[Byte]): Option[Seq[(Int, Int)]] = {
      if (b.length < 12 || !(b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' '))
        return None
      var i = 12
      while (i + 12 <= b.length) {
        val size = le32(b, i + 4)
        if (b(i) == 'L' && b(i + 1) == 'I' && b(i + 2) == 'S' && b(i + 3) == 'T' &&
          b(i + 8) == 'm' && b(i + 9) == 'o' && b(i + 10) == 'v' && b(i + 11) == 'i') {
          val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var j = i + 12
          val end = math.min(i + 8 + size, b.length)
          while (j + 8 <= end) {
            val s2 = le32(b, j + 4)
            if (b(j) == '0' && b(j + 1) == '0' && b(j + 2) == 'd' && b(j + 3) == 'b')
              frames += ((j + 8, math.min(s2.toLong, (b.length - j - 8).toLong).toInt))
            j += 8 + s2 + (s2 & 1)
          }
          return Some(frames.toSeq)
        }
        i += 8 + size + (size & 1)
      }
      None
    }

    /** Parse (width, height, format) from the container header. For audio
      * the spatial slots carry (sample_rate, channels) — the catalog treats
      * both as "media extent" metadata. */
    def parseHeader(b: Array[Byte]): (Int, Int, String) = {
      if (startsWith(b, PngSig))
        parsePng(b).map { case (w, h) => (w, h, "png") }.getOrElse((0, 0, "corrupt"))
      else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
        parseJpeg(b).map { case (w, h) => (w, h, "jpeg") }.getOrElse((0, 0, "corrupt"))
      else if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')
        Some((le16(b, 6), le16(b, 8))).map { case (w, h) => (w, h, "gif") }.getOrElse((0, 0, "corrupt"))
      else if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')
        parseAvi(b).map { case (w, h) => (w, h, "avi") }.getOrElse((0, 0, "corrupt"))
      else if (b.length >= 4 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F')
        parseWav(b).map { case (w, h) => (w, h, "wav") }.getOrElse((0, 0, "corrupt"))
      else (0, 0, if (b.isEmpty) "empty" else "unknown")
    }

    /** Decode a payload: real header parse, then the feature stand-in.
      * Feature d is ((w·(2d+1) + h·(3d+2) + n·(d+1)) mod 2000 − 1000)/1000 —
      * small-integer arithmetic over decoded metadata, so the norm is exact
      * in both engines. A real pipeline replaces only this block with a
      * model forward pass; schema and partitioning are unchanged. */
    def decode(row: MediaRow): DecodedRow = {
      val bytes = row.payload
      val (w, h, fmt) = parseHeader(bytes)
      val n = bytes.length.toLong
      var ss = 0L
      val features = new Array[Float](FeatureDim)
      var d = 0
      while (d < FeatureDim) {
        val m = math.floorMod(w.toLong * (2 * d + 1) + h.toLong * (3 * d + 2) + n * (d + 1), 2000L)
        val c = m - 1000L
        ss += c * c
        features(d) = c / 1000.0f
        d += 1
      }
      DecodedRow(row.doc_id, n, w, h, fmt, ss, features)
    }

    /** Offset of the container body behind the header the public specs
      * mandate: PNG = 33 (8-byte signature + 25-byte IHDR chunk), GIF = 13
      * (GIF89a header + logical screen descriptor, no global color table
      * when the packed byte is 0), JPEG = end of its SOFn segment (marker
      * scan, same walk as the dimension parse), WAV/other = -1 (no image
      * body). */
    private[graft] def bodyOffset(b: Array[Byte], fmt: String): Int = fmt match {
      case "png" => if (b.length > 33) 33 else -1
      case "gif" => if (b.length > 13) 13 else -1
      case "jpeg" =>
        var i = 2
        while (i + 3 < b.length) {
          if ((b(i) & 0xff) != 0xff) return -1
          val m = b(i + 1) & 0xff
          if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
          else if ((m >= 0xc0 && m <= 0xcf) && m != 0xc4 && m != 0xc8 && m != 0xcc) {
            val end = i + 2 + be16(b, i + 2)
            return if (end < b.length) end else -1
          } else {
            if (i + 3 >= b.length) return -1
            i += 2 + be16(b, i + 2)
          }
        }
        -1
      case _ => -1
    }

    /** REAL PNG pixel decode (ISO 15948): chunk walk (IHDR → PLTE/IDAT →
      * IEND), zlib inflate of the concatenated IDAT stream
      * (`java.util.zip.Inflater`), per-scanline unfilter of all five
      * filter types (None/Sub/Up/Average/Paeth, §9), then 8-bit grayscale
      * luminance — integer (299·R + 587·G + 114·B)/1000 for color types
      * 2/6, the gray channel for 0/4 (16-bit samples take the high byte,
      * sub-byte depths left-bit-packed per §7.2 are expanded by
      * max-value scaling), PLTE lookup for type 3. Returns
      * (width, height, row-major gray bytes); None for anything the
      * decoder can't prove it read right — truncated/garbage chunks, a
      * non-zlib IDAT, interlaced (Adam7) images, inflate length mismatch,
      * spec-invalid depth/type combos, or dimensions past the 64 MPix
      * sanity cap (a corrupt header must not drive a giant allocation —
      * the RangedZip MaxCdBytes discipline). */
    private[graft] def pngGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (!startsWith(b, PngSig)) return None
      var i = 8
      var w = 0; var h = 0; var depth = 0; var ctype = 0; var interlace = 0
      var seenIhdr = false; var seenIend = false
      var plte: Array[Byte] = null
      val idat = new java.io.ByteArrayOutputStream()
      while (i + 8 <= b.length && !seenIend) {
        val len = be32(b, i)
        if (len < 0 || i + 12 + len.toLong > b.length) return None
        val t0 = b(i + 4); val t1 = b(i + 5); val t2 = b(i + 6); val t3 = b(i + 7)
        if (t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R') {
          if (seenIhdr || len != 13) return None
          w = be32(b, i + 8); h = be32(b, i + 12)
          depth = b(i + 16) & 0xff; ctype = b(i + 17) & 0xff
          if ((b(i + 18) & 0xff) != 0 || (b(i + 19) & 0xff) != 0) return None
          interlace = b(i + 20) & 0xff
          seenIhdr = true
        } else if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E') {
          // a palette arriving AFTER the image data it colors is spec-
          // invalid (§5.6) and far likelier corruption than leniency —
          // refuse rather than decode with it
          if (len % 3 != 0 || len > 768 || idat.size() > 0) return None
          plte = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
        } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
          idat.write(b, i + 8, len)
        } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
          seenIend = true
        }
        i += 12 + len
      }
      if (!seenIhdr || !seenIend || idat.size() == 0 || interlace != 0)
        return None
      if (w <= 0 || h <= 0 || w.toLong * h > (64L << 20)) return None
      val channels = ctype match {
        case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
        case _ => return None
      }
      val depthOk = ctype match {
        case 0 => Set(1, 2, 4, 8, 16)(depth)
        case 3 => Set(1, 2, 4, 8)(depth)
        case _ => depth == 8 || depth == 16
      }
      if (!depthOk) return None
      if (ctype == 3 && plte == null) return None
      val bitsPerPixel = channels * depth
      val rowBytes = (w.toLong * bitsPerPixel + 7) / 8
      val expected = h * (1L + rowBytes)
      if (expected > (512L << 20)) return None
      val raw = new Array[Byte](expected.toInt)
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(idat.toByteArray)
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val k = inf.inflate(raw, off, raw.length - off)
          // Any zero-byte step without finishing is undecodable here: the
          // output buffer has room, so k == 0 means either needsInput
          // (truncated stream) or needsDictionary (zlib FDICT — which PNG
          // §10.1 forbids, so bailing is spec-correct). Treating only
          // needsInput as fatal left a crafted FDICT IDAT spinning this
          // loop forever on an executor task (ADVICE r13).
          if (k == 0) return None
          off += k
        }
        if (off != raw.length) return None
      } catch {
        case _: java.util.zip.DataFormatException => return None
      } finally inf.end()
      // unfilter in place, scanline by scanline (§9: Recon mod 256)
      val bpp = math.max(1, bitsPerPixel / 8)
      val rb = rowBytes.toInt
      val px = new Array[Byte](h * rb) // filtered-out raw sample rows
      var y = 0
      while (y < h) {
        val f = raw(y * (rb + 1)) & 0xff
        if (f > 4) return None
        val src = y * (rb + 1) + 1
        val dst = y * rb
        var x0 = 0
        while (x0 < rb) {
          val ft = raw(src + x0) & 0xff
          val a = if (x0 >= bpp) px(dst + x0 - bpp) & 0xff else 0
          val up = if (y > 0) px(dst - rb + x0) & 0xff else 0
          val ul = if (y > 0 && x0 >= bpp) px(dst - rb + x0 - bpp) & 0xff else 0
          val recon = f match {
            case 0 => ft
            case 1 => ft + a
            case 2 => ft + up
            case 3 => ft + ((a + up) >> 1)
            case 4 =>
              val pp = a + up - ul
              val pa = math.abs(pp - a); val pb = math.abs(pp - up)
              val pc = math.abs(pp - ul)
              ft + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul)
          }
          px(dst + x0) = (recon & 0xff).toByte
          x0 += 1
        }
        y += 1
      }
      // samples → 8-bit grayscale
      val gray = new Array[Byte](w * h)
      val maxv = (1 << math.min(depth, 8)) - 1
      def luma(r: Int, g: Int, bl: Int): Int = (299 * r + 587 * g + 114 * bl) / 1000
      // channel sample → 8 bits: depth-16 samples rescale by the
      // correctly-rounded 255/65535 (an exact 8→16 expansion v = g·257
      // maps back to g precisely) rather than high-byte truncation,
      // which differs by one gray level on half the range
      def chan(off: Int, stride: Int): Int =
        if (stride == 1) px(off) & 0xff
        else {
          val v16 = ((px(off) & 0xff) << 8) | (px(off + 1) & 0xff)
          (v16 * 255 + 32767) / 65535
        }
      y = 0
      while (y < h) {
        val dst = y * rb
        var x = 0
        while (x < w) {
          val g8 = (ctype, depth) match {
            case (0, d) if d < 8 =>
              val bit = x * d
              val v = (px(dst + (bit >> 3)) >> (8 - d - (bit & 7))) & maxv
              v * 255 / maxv
            case (0, 8) => px(dst + x) & 0xff
            case (0, 16) => chan(dst + 2 * x, 2)
            case (2, d) =>
              val s = if (d == 8) 1 else 2
              luma(chan(dst + 3 * s * x, s), chan(dst + 3 * s * x + s, s),
                chan(dst + 3 * s * x + 2 * s, s))
            case (3, d) =>
              val idx = if (d == 8) px(dst + x) & 0xff
                else { val bit = x * d; (px(dst + (bit >> 3)) >> (8 - d - (bit & 7))) & maxv }
              if (3 * idx + 2 >= plte.length) return None
              luma(plte(3 * idx) & 0xff, plte(3 * idx + 1) & 0xff,
                plte(3 * idx + 2) & 0xff)
            case (4, d) =>
              val s = if (d == 8) 1 else 2
              chan(dst + 2 * s * x, s)
            case (6, d) =>
              val s = if (d == 8) 1 else 2
              luma(chan(dst + 4 * s * x, s), chan(dst + 4 * s * x + s, s),
                chan(dst + 4 * s * x + 2 * s, s))
            case _ => return None
          }
          gray(y * w + x) = g8.toByte
          x += 1
        }
        y += 1
      }
      Some((w, h, gray))
    }

    // ---------------------------------------------------------- JPEG

    /** Zig-zag order (T.81 Figure 5): natural position of the k-th
      * coefficient in scan order. */
    private val ZigZag: Array[Int] = Array(
      0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
      35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
      58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

    /** cos((2x+1)·u·π/16) table for the 8-point IDCT. Doubles are
      * deterministic on Java 17+ (strict FP everywhere), so the decode is
      * bit-reproducible across executors. */
    private val Cos: Array[Array[Double]] = Array.tabulate(8, 8) { (x, u) =>
      math.cos((2 * x + 1) * u * math.Pi / 16)
    }
    private val Alpha: Array[Double] =
      Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
    /** α(u)·α(v) with the (0,0) entry pinned to the EXACT 0.5 — in doubles
      * (1/√2)² is 0.5000000000000001, which would nudge a DC-only block's
      * half-integer pixel across its rounding boundary; mathematically the
      * product IS one half, and exactness there is what lets q185's oracle
      * replay the whole decode in integers. */
    private val AlphaProd: Array[Array[Double]] = Array.tabulate(8, 8) {
      (u, v) => if (u == 0 && v == 0) 0.5 else Alpha(u) * Alpha(v)
    }

    private final class JpegAbort extends RuntimeException

    /** Canonical Huffman table per T.81 Annex C / F.2.2.3. */
    private final class HuffTable(counts: Array[Int], symbols: Array[Int]) {
      private val minCode = new Array[Int](17)
      private val maxCode = new Array[Int](17)
      private val valPtr = new Array[Int](17)
      locally {
        var code = 0
        var k = 0
        var l = 1
        while (l <= 16) {
          if (counts(l - 1) == 0) maxCode(l) = -1
          else {
            valPtr(l) = k
            minCode(l) = code
            code += counts(l - 1)
            k += counts(l - 1)
            maxCode(l) = code - 1
          }
          code <<= 1
          l += 1
        }
      }
      def decode(r: JpegBits): Int = {
        var code = r.nextBit()
        var l = 1
        while (maxCode(l) < 0 || code > maxCode(l)) {
          l += 1
          if (l > 16) throw new JpegAbort
          code = (code << 1) | r.nextBit()
        }
        symbols(valPtr(l) + code - minCode(l))
      }
    }

    /** Entropy-segment bit reader with 0xFF00 byte unstuffing; any bare
      * marker inside a coefficient read aborts the decode. */
    private final class JpegBits(b: Array[Byte], var pos: Int) {
      private var cur = 0
      private var nbits = 0
      def nextBit(): Int = {
        if (nbits == 0) {
          if (pos >= b.length) throw new JpegAbort
          var v = b(pos) & 0xff
          pos += 1
          if (v == 0xff) {
            if (pos >= b.length) throw new JpegAbort
            val m = b(pos) & 0xff
            if (m == 0) pos += 1 // stuffed 0xFF data byte
            else throw new JpegAbort // marker mid-symbol
          }
          cur = v
          nbits = 8
        }
        nbits -= 1
        (cur >> nbits) & 1
      }
      def receive(n: Int): Int = {
        var v = 0
        var i = 0
        while (i < n) { v = (v << 1) | nextBit(); i += 1 }
        v
      }
      def align(): Unit = nbits = 0
      /** Consume an RSTn marker if one sits at the (aligned) cursor. */
      /** Consume an RSTn marker at the (aligned) cursor — and VALIDATE n
        * against the expected mod-8 cycle (T.81 B.2.4.4): the cycle
        * exists precisely so a lost/duplicated restart interval is
        * detected instead of silently misplacing every later MCU. */
      def restart(expected: Int): Boolean = {
        if (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
          (b(pos + 1) & 0xff) == 0xd0 + (expected & 7)) {
          pos += 2; true
        } else false
      }
    }

    /** T.81 F.2.2.1 EXTEND: map a `t`-bit magnitude to its signed value. */
    private def extend(v: Int, t: Int): Int =
      if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

    /** REAL baseline JPEG decode (ITU T.81): marker walk (DQT/DHT/DRI/
      * SOF0/SOF1/SOS), canonical Huffman tables, per-MCU entropy decode
      * of every component's blocks (DC diff + EXTEND, AC run/size with
      * EOB/ZRL, restart markers, 0xFF00 unstuffing), dequantize,
      * de-zigzag, separable double-precision IDCT (+128 level shift,
      * clamp). Output is the LUMA plane as 8-bit gray — chroma blocks
      * are fully entropy-decoded (the bitstream demands it) and
      * discarded, so 4:4:4 / 4:2:2 / 4:2:0 all decode without
      * upsampling machinery. None for anything the decoder can't prove
      * it read right — progressive (SOF2+), arithmetic coding,
      * 12-bit precision, a luma that is not the max-sampled component,
      * truncated or marker-corrupt streams. */
    private[graft] def jpegGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
        return None
      try {
        val qt = new Array[Array[Int]](4)
        val dcTab = new Array[HuffTable](4)
        val acTab = new Array[HuffTable](4)
        var restartInterval = 0
        var w = 0; var h = 0
        // per component: (id, hSamp, vSamp, quantId)
        var comps: Array[Array[Int]] = null
        var i = 2
        while (i + 4 <= b.length) {
          if ((b(i) & 0xff) != 0xff) return None
          val marker = b(i + 1) & 0xff
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) {
            i += 2 // standalone
          } else if (marker == 0xd9) {
            return None // EOI before any scan
          } else {
            val len = be16(b, i + 2)
            if (len < 2 || i + 2 + len > b.length) return None
            val seg = i + 4
            val segEnd = i + 2 + len
            marker match {
              case 0xdb => // DQT: one or more (pq/tq, 64 values)
                var p = seg
                while (p < segEnd) {
                  val pq = (b(p) >> 4) & 0x0f
                  val tq = b(p) & 0x0f
                  if (pq != 0 || tq > 3 || p + 65 > segEnd) return None
                  qt(tq) = Array.tabulate(64)(k => b(p + 1 + k) & 0xff)
                  p += 65
                }
              case 0xc4 => // DHT: one or more tables
                var p = seg
                while (p < segEnd) {
                  val tc = (b(p) >> 4) & 0x0f
                  val th = b(p) & 0x0f
                  if (tc > 1 || th > 3 || p + 17 > segEnd) return None
                  val counts = Array.tabulate(16)(k => b(p + 1 + k) & 0xff)
                  val total = counts.sum
                  if (p + 17 + total > segEnd) return None
                  val syms = Array.tabulate(total)(k => b(p + 17 + k) & 0xff)
                  val t = new HuffTable(counts, syms)
                  if (tc == 0) dcTab(th) = t else acTab(th) = t
                  p += 17 + total
                }
              case 0xdd => // DRI
                if (len != 4) return None
                restartInterval = be16(b, seg)
              case 0xc0 | 0xc1 => // SOF0 / SOF1 (both Huffman sequential)
                if ((b(seg) & 0xff) != 8) return None // 8-bit precision only
                h = be16(b, seg + 1); w = be16(b, seg + 3)
                val nc = b(seg + 5) & 0xff
                if (w <= 0 || h <= 0 || w.toLong * h > (64L << 20)) return None
                if (nc < 1 || nc > 4 || seg + 6 + 3 * nc > segEnd) return None
                comps = Array.tabulate(nc) { k =>
                  val o = seg + 6 + 3 * k
                  Array(b(o) & 0xff, (b(o + 1) >> 4) & 0x0f,
                    b(o + 1) & 0x0f, b(o + 2) & 0xff)
                }
              case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
                  0xcd | 0xce | 0xcf =>
                return None // progressive/lossless/arithmetic: not baseline
              case 0xda => // SOS → entropy decode
                if (comps == null) return None
                val ns = b(seg) & 0xff
                if (ns != comps.length || seg + 1 + 2 * ns + 3 > segEnd)
                  return None
                // component scan order with table assignments
                val scan = Array.tabulate(ns) { k =>
                  val cid = b(seg + 1 + 2 * k) & 0xff
                  val tt = b(seg + 2 + 2 * k) & 0xff
                  val ci = comps.indexWhere(_(0) == cid)
                  if (ci < 0) return None
                  (ci, (tt >> 4) & 0x0f, tt & 0x0f)
                }
                val hmax = comps.map(_(1)).max
                val vmax = comps.map(_(2)).max
                if (hmax < 1 || hmax > 4 || vmax < 1 || vmax > 4) return None
                // luma = first scan component; must be max-sampled so its
                // blocks place 1:1 on the pixel grid
                val (li, _, _) = scan(0)
                if (comps(li)(1) != hmax || comps(li)(2) != vmax) return None
                val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
                val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
                val gray = new Array[Byte](w * h)
                val r = new JpegBits(b, segEnd)
                val pred = new Array[Int](ns)
                val coef = new Array[Int](64)
                val px = new Array[Double](64)
                var mcu = 0
                val totalMcus = mcusX * mcusY
                while (mcu < totalMcus) {
                  if (restartInterval > 0 && mcu > 0 &&
                    mcu % restartInterval == 0) {
                    r.align()
                    if (!r.restart(mcu / restartInterval - 1))
                      throw new JpegAbort
                    java.util.Arrays.fill(pred, 0)
                  }
                  val mx = mcu % mcusX
                  val my = mcu / mcusX
                  var sIdx = 0
                  while (sIdx < ns) {
                    val (ci, dcId, acId) = scan(sIdx)
                    val ch = comps(ci)(1); val cv = comps(ci)(2)
                    val q = qt(comps(ci)(3))
                    if (q == null || dcTab(dcId) == null || acTab(acId) == null)
                      throw new JpegAbort
                    var by = 0
                    while (by < cv) {
                      var bx = 0
                      while (bx < ch) {
                        java.util.Arrays.fill(coef, 0)
                        val t = dcTab(dcId).decode(r)
                        if (t > 15) throw new JpegAbort
                        pred(sIdx) += extend(r.receive(t), t)
                        coef(0) = pred(sIdx) * q(0)
                        var k = 1
                        var eob = false
                        while (k < 64 && !eob) {
                          val rs = acTab(acId).decode(r)
                          val run = (rs >> 4) & 0x0f
                          val size = rs & 0x0f
                          if (size == 0) {
                            if (run == 15) k += 16 // ZRL
                            else eob = true
                          } else {
                            k += run
                            if (k > 63) throw new JpegAbort
                            coef(ZigZag(k)) = extend(r.receive(size), size) * q(k)
                            k += 1
                          }
                        }
                        if (ci == li) {
                          // IDCT (separable would be faster; direct double
                          // sum is exact and plenty at fingerprint scales)
                          var y0 = 0
                          while (y0 < 8) {
                            var x0 = 0
                            while (x0 < 8) {
                              var s = 0.0
                              var v = 0
                              while (v < 8) {
                                var u = 0
                                while (u < 8) {
                                  val f = coef(v * 8 + u)
                                  if (f != 0)
                                    s += AlphaProd(u)(v) * f *
                                      Cos(x0)(u) * Cos(y0)(v)
                                  u += 1
                                }
                                v += 1
                              }
                              px(y0 * 8 + x0) = s / 4.0
                              x0 += 1
                            }
                            y0 += 1
                          }
                          val baseX = (mx * ch + bx) * 8
                          val baseY = (my * cv + by) * 8
                          var yy = 0
                          while (yy < 8) {
                            val gy = baseY + yy
                            if (gy < h) {
                              var xx = 0
                              while (xx < 8) {
                                val gx = baseX + xx
                                if (gx < w) {
                                  val v0 = Math.round(px(yy * 8 + xx)).toInt + 128
                                  gray(gy.toInt * w + gx) =
                                    math.max(0, math.min(255, v0)).toByte
                                }
                                xx += 1
                              }
                            }
                            yy += 1
                          }
                        }
                        bx += 1
                      }
                      by += 1
                    }
                    sIdx += 1
                  }
                  mcu += 1
                }
                return Some((w, h, gray))
              case _ => () // APPn, COM, others: skip
            }
            i = segEnd
          }
        }
        None
      } catch { case _: JpegAbort | _: ArrayIndexOutOfBoundsException => None }
    }

    /** 9×8 average pool over a row-major grayscale image — the shared
      * real-pixel front half of [[dhashBands]]: cell (r,c) is the exact
      * integer mean of pixel rows [⌊r·h/8⌋, ⌊(r+1)·h/8⌋) × cols
      * [⌊c·w/9⌋, ⌊(c+1)·w/9⌋). Requires w ≥ 9 and h ≥ 8 (every cell
      * pools ≥ 1 pixel); callers gate on that. */
    /** dHash bands straight from an already-decoded gray plane — for
      * callers that hold the pixels anyway (q185 decodes once for its
      * checksum and fingerprints the same plane). None under the 9×8
      * grid minimum, identical bits to [[dhashBands]]'s real road. */
    private[graft] def bandsOfGray(
        w: Int, h: Int, gray: Array[Byte]): Option[Array[Int]] =
      if (w < 9 || h < 8) None
      else {
        val p = pool72(w, h, gray)
        val bands = new Array[Int](4)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            if (p(r * 9 + c + 1) > p(r * 9 + c)) {
              val bit = r * 8 + c
              bands(bit / 16) |= 1 << (bit % 16)
            }
            c += 1
          }
          r += 1
        }
        Some(bands)
      }

    private def pool72(w: Int, h: Int, gray: Array[Byte]): Array[Int] = {
      val p = new Array[Int](72)
      var r = 0
      while (r < 8) {
        val y0 = (r.toLong * h / 8).toInt
        val y1 = ((r + 1).toLong * h / 8).toInt
        var c = 0
        while (c < 9) {
          val x0 = (c.toLong * w / 9).toInt
          val x1 = ((c + 1).toLong * w / 9).toInt
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { s += gray(y * w + x) & 0xff; x += 1 }
            y += 1
          }
          p(r * 9 + c) = (s / ((y1 - y0).toLong * (x1 - x0))).toInt
          c += 1
        }
        r += 1
      }
      p
    }

    /** REAL GIF pixel decode (GIF89a spec + its LZW variant): header +
      * logical screen descriptor, global color table, extension skip,
      * first image descriptor, LZW decompress of the sub-block stream
      * (LSB-first codes, clear/end codes, dictionary growth to 12 bits),
      * Adam-style 4-pass de-interlace when flagged, palette → integer
      * luminance (299·R + 587·G + 114·B)/1000. Returns (width, height,
      * row-major gray bytes); None for anything the decoder can't prove
      * it read right — and deliberately STRICT about shape: only a
      * full-canvas first frame (left = top = 0, frame = screen size)
      * decodes, so the q173 container fixtures (text bytes behind a real
      * 13-byte header) can never alias into pixels and always take the
      * documented byte-pool fallback. This is the SINGLE-frame reader;
      * the fingerprint road ([[dhashBands]]) rides [[gifGrayFrames]],
      * which composites every image block and refuses what it can't
      * prove. */
    private[graft] def gifGray(b: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
      if (!(b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
      val w = le16(b, 6); val h = le16(b, 8)
      if (w <= 0 || h <= 0 || w.toLong * h > (64L << 20)) return None
      val packed = b(10) & 0xff
      var i = 13
      var gct: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val n = 3 * (1 << ((packed & 7) + 1))
        if (i + n > b.length) return None
        gct = java.util.Arrays.copyOfRange(b, i, i + n)
        i += n
      }
      // block walk to the first image descriptor
      while (i < b.length) {
        (b(i) & 0xff) match {
          case 0x21 => // extension: label + length-prefixed sub-blocks
            i += 2
            var len = if (i < b.length) b(i) & 0xff else return None
            while (len != 0) {
              i += 1 + len
              if (i >= b.length) return None
              len = b(i) & 0xff
            }
            i += 1
          case 0x2c =>
            if (i + 10 > b.length) return None
            val left = le16(b, i + 1); val top = le16(b, i + 3)
            val fw = le16(b, i + 5); val fh = le16(b, i + 7)
            val fp = b(i + 9) & 0xff
            // full-canvas first frame only (see scaladoc)
            if (left != 0 || top != 0 || fw != w || fh != h) return None
            i += 10
            var pal = gct
            if ((fp & 0x80) != 0) {
              val n = 3 * (1 << ((fp & 7) + 1))
              if (i + n > b.length) return None
              pal = java.util.Arrays.copyOfRange(b, i, i + n)
              i += n
            }
            if (pal == null) return None
            val interlaced = (fp & 0x40) != 0
            if (i >= b.length) return None
            val minCode = b(i) & 0xff
            i += 1
            if (minCode < 1 || minCode > 11) return None
            // concatenate the LZW sub-blocks
            val data = new java.io.ByteArrayOutputStream()
            var len = if (i < b.length) b(i) & 0xff else return None
            while (len != 0) {
              if (i + 1 + len > b.length) return None
              data.write(b, i + 1, len)
              i += 1 + len
              if (i >= b.length) return None
              len = b(i) & 0xff
            }
            val idx = lzwDecode(data.toByteArray, minCode, w * h)
              .getOrElse(return None)
            // de-interlace + palette → luminance
            val gray = new Array[Byte](w * h)
            val rowOrder: Array[Int] =
              if (!interlaced) Array.tabulate(h)(identity)
              else {
                val rows = new Array[Int](h)
                var k = 0
                Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
                  var y = start
                  while (y < h) { rows(k) = y; k += 1; y += step }
                }
                rows
              }
            var r = 0
            while (r < h) {
              val y = rowOrder(r)
              var x = 0
              while (x < w) {
                val ix = idx(r * w + x) & 0xff
                if (3 * ix + 2 >= pal.length) return None
                val g8 = (299 * (pal(3 * ix) & 0xff) + 587 * (pal(3 * ix + 1) & 0xff)
                  + 114 * (pal(3 * ix + 2) & 0xff)) / 1000
                gray(y * w + x) = g8.toByte
                x += 1
              }
              r += 1
            }
            return Some((w, h, gray))
          case 0x3b => return None // trailer before any image
          case _ => return None
        }
      }
      None
    }

    /** EVERY frame of a GIF, honestly composited (GIF89a §23): walks all
      * image blocks, carrying the Graphic Control Extension state that
      * precedes each one. Compositing scope — exactly what the spec lets
      * this decoder PROVE without guessing renderer behavior:
      *   - the FIRST frame must be full-canvas (left = top = 0, frame =
      *     screen size) — same strictness as [[gifGray]], so the q173
      *     container fixtures can never alias into pixels, and the canvas
      *     has no undefined region;
      *   - later frames may be sub-rectangles: disposal 0 (unspecified)
      *     and 1 (do not dispose) paint onto the persisting canvas, with
      *     GCE-transparent indices leaving the underlying pixel intact —
      *     the standard delta-frame animation encoding;
      *   - disposal 2 (restore to background) and disposal 3 (restore to
      *     previous) are accepted exactly when the restore is PROVABLY
      *     invisible: on the last frame (nothing after it reads the
      *     canvas), or when the NEXT frame fully covers the disposed rect
      *     with no transparency (it repaints every restored pixel
      *     opaquely, so the restored content — background semantics real
      *     renderers disagree on for 2, the folklore-divergent "previous"
      *     state for 3 — never reaches a composited frame). Any other
      *     disposal-2/3, and the reserved disposals 4-7, REFUSE (None): a
      *     wrong guess would silently corrupt the fingerprint (the
      *     byte-pool stand-in is the honest fallback);
      *   - FIRST-frame transparency is painted from the palette (there
      *     is no composited underlay — the canvas would be undefined,
      *     renderer-dependent background), which is [[gifGray]]'s
      *     deterministic behavior and what keeps the single-frame
      *     bit-identity law below; later frames honor transparency
      *     against the real underlay they composite onto.
      * Returns (width, height, one composited gray canvas per frame);
      * the single-frame result is bit-identical to [[gifGray]]. */
    private[graft] def gifGrayFrames(
        b: Array[Byte]): Option[(Int, Int, Seq[Array[Byte]])] = {
      if (!(b.length >= 13 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return None
      val w = le16(b, 6); val h = le16(b, 8)
      if (w <= 0 || h <= 0 || w.toLong * h > (64L << 20)) return None
      val packed = b(10) & 0xff
      var i = 13
      var gct: Array[Byte] = null
      if ((packed & 0x80) != 0) {
        val n = 3 * (1 << ((packed & 7) + 1))
        if (i + n > b.length) return None
        gct = java.util.Arrays.copyOfRange(b, i, i + n)
        i += n
      }
      val canvas = new Array[Byte](w * h)
      val frames = Seq.newBuilder[Array[Byte]]
      var nFrames = 0
      // GCE state for the NEXT image block (reset after it renders)
      var disposal = 0
      var transIdx = -1
      // a prior frame's disposal-2 rect awaiting proof of invisibility:
      // the next frame must repaint it fully and opaquely (see scaladoc)
      var pendingRestore: Array[Int] = null
      while (i < b.length) {
        (b(i) & 0xff) match {
          case 0x21 =>
            val label = if (i + 1 < b.length) b(i + 1) & 0xff else return None
            // Graphic Control Extension: capture disposal + transparency
            if (label == 0xf9 && i + 7 < b.length && (b(i + 2) & 0xff) == 4) {
              val flags = b(i + 3) & 0xff
              disposal = (flags >> 2) & 7
              transIdx = if ((flags & 1) != 0) b(i + 6) & 0xff else -1
            }
            i += 2
            var len = if (i < b.length) b(i) & 0xff else return None
            while (len != 0) {
              i += 1 + len
              if (i >= b.length) return None
              len = b(i) & 0xff
            }
            i += 1
          case 0x2c =>
            if (i + 10 > b.length) return None
            val left = le16(b, i + 1); val top = le16(b, i + 3)
            val fw = le16(b, i + 5); val fh = le16(b, i + 7)
            val fp = b(i + 9) & 0xff
            if (fw <= 0 || fh <= 0 ||
              left + fw > w || top + fh > h) return None
            // first frame establishes the whole canvas (see scaladoc)
            if (nFrames == 0 && (left != 0 || top != 0 || fw != w || fh != h))
              return None
            // disposals 4-7 are reserved ("to be defined", §23) — refuse
            // rather than guess what a future renderer would composite;
            // 2 and 3 defer to the provable-invisibility check below
            if (disposal >= 4) return None
            // frame 0's transparency has NO composited underlay — the
            // canvas is undefined there, a renderer-dependent background.
            // Paint every first-frame pixel from the palette instead
            // (gifGray's deterministic behavior, keeping the documented
            // single-frame bit-identity law); later frames honor
            // transparency against the REAL underlay they composite onto.
            if (nFrames == 0) transIdx = -1
            if (pendingRestore != null) {
              // the prior frame disposed to background/previous: THIS
              // frame must repaint that rect fully and opaquely or the
              // restored pixels (renderer-dependent) would reach the canvas
              val covered = left <= pendingRestore(0) &&
                top <= pendingRestore(1) &&
                left + fw >= pendingRestore(0) + pendingRestore(2) &&
                top + fh >= pendingRestore(1) + pendingRestore(3) &&
                transIdx < 0
              if (!covered) return None
              pendingRestore = null
            }
            i += 10
            var pal = gct
            if ((fp & 0x80) != 0) {
              val n = 3 * (1 << ((fp & 7) + 1))
              if (i + n > b.length) return None
              pal = java.util.Arrays.copyOfRange(b, i, i + n)
              i += n
            }
            if (pal == null) return None
            val interlaced = (fp & 0x40) != 0
            if (i >= b.length) return None
            val minCode = b(i) & 0xff
            i += 1
            if (minCode < 1 || minCode > 11) return None
            val data = new java.io.ByteArrayOutputStream()
            var len = if (i < b.length) b(i) & 0xff else return None
            while (len != 0) {
              if (i + 1 + len > b.length) return None
              data.write(b, i + 1, len)
              i += 1 + len
              if (i >= b.length) return None
              len = b(i) & 0xff
            }
            i += 1 // past the sub-block terminator
            val idx = lzwDecode(data.toByteArray, minCode, fw * fh)
              .getOrElse(return None)
            // interlace order applies WITHIN the frame rectangle
            val rowOrder: Array[Int] =
              if (!interlaced) Array.tabulate(fh)(identity)
              else {
                val rows = new Array[Int](fh)
                var k = 0
                Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
                  var y = start
                  while (y < fh) { rows(k) = y; k += 1; y += step }
                }
                rows
              }
            var r = 0
            while (r < fh) {
              val y = top + rowOrder(r)
              var x = 0
              while (x < fw) {
                val ix = idx(r * fw + x) & 0xff
                if (ix != transIdx) {
                  if (3 * ix + 2 >= pal.length) return None
                  val g8 = (299 * (pal(3 * ix) & 0xff)
                    + 587 * (pal(3 * ix + 1) & 0xff)
                    + 114 * (pal(3 * ix + 2) & 0xff)) / 1000
                  canvas(y * w + left + x) = g8.toByte
                }
                x += 1
              }
              r += 1
            }
            frames += canvas.clone()
            nFrames += 1
            // disposal 2/3 defer: the NEXT frame (or the trailer — a final
            // frame's restore is never observed) decides acceptability
            if (disposal == 2 || disposal == 3)
              pendingRestore = Array(left, top, fw, fh)
            disposal = 0; transIdx = -1
          case 0x3b =>
            return if (nFrames == 0) None else Some((w, h, frames.result()))
          case _ => return None
        }
      }
      // no trailer: accept what rendered (lenient tail, like the member
      // walk) — but only if at least one frame decoded
      if (nFrames == 0) None else Some((w, h, frames.result()))
    }

    /** GIF-variant LZW decode: codes LSB-first, initial width
      * minCode+1, clear = 2^minCode, end = clear+1, dictionary grows one
      * entry per emitted code up to 12 bits. Returns exactly `expected`
      * indices; None on any malformed stream (out-of-range code, early
      * exhaustion, overflow past expected). */
    private def lzwDecode(
        data: Array[Byte], minCode: Int, expected: Int): Option[Array[Byte]] = {
      val clear = 1 << minCode
      val end = clear + 1
      val prefix = new Array[Int](4096)
      val suffix = new Array[Byte](4096)
      val out = new Array[Byte](expected)
      var outN = 0
      var dictSize = end + 1
      var codeWidth = minCode + 1
      var oldCode = -1
      var bitPos = 0L
      val totalBits = data.length.toLong * 8
      val stack = new Array[Byte](4096)
      def emitCode(code: Int): Boolean = {
        var sp = 0
        var c = code
        while (c >= clear) { // walk the chain (initials are < clear)
          if (sp >= stack.length || c >= dictSize) return false
          stack(sp) = suffix(c); sp += 1; c = prefix(c)
        }
        stack(sp) = c.toByte; sp += 1
        if (outN + sp > expected) return false
        while (sp > 0) { sp -= 1; out(outN) = stack(sp); outN += 1 }
        true
      }
      def firstOf(code: Int): Int = {
        var c = code
        while (c >= clear) c = prefix(c)
        c
      }
      while (outN < expected) {
        if (bitPos + codeWidth > totalBits) return None
        var code = 0
        var k = 0
        while (k < codeWidth) {
          val bp = bitPos + k
          if ((data((bp >> 3).toInt) >> (bp & 7).toInt & 1) != 0)
            code |= 1 << k
          k += 1
        }
        bitPos += codeWidth
        if (code == clear) {
          dictSize = end + 1; codeWidth = minCode + 1; oldCode = -1
        } else if (code == end) {
          return if (outN == expected) Some(out) else None
        } else if (oldCode < 0) {
          if (code >= clear) return None // first code must be a literal
          if (!emitCode(code)) return None
          oldCode = code
        } else {
          if (code > dictSize || (code == dictSize && code >= 4096)) return None
          val kFirst =
            if (code == dictSize) firstOf(oldCode) else firstOf(code)
          // new dictionary entry: oldCode + first(code or oldCode)
          if (dictSize < 4096) {
            prefix(dictSize) = oldCode
            suffix(dictSize) = kFirst.toByte
            dictSize += 1
            if (dictSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          }
          if (!emitCode(code)) return None
          oldCode = code
        }
      }
      Some(out)
    }

    /** dHash — the classic perceptual image fingerprint (Krawetz's public
      * difference-hash formulation): average-pool the image down to a 9×8
      * grayscale grid, emit one gradient bit per horizontally-adjacent
      * cell pair (64 bits).
      *
      * For PNG payloads the pixel source is REAL whenever [[pngGray]] can
      * decode the image (zlib IDAT + unfilter + luminance, w ≥ 9 and
      * h ≥ 8 so every grid cell pools ≥ 1 pixel): cell (r,c) pools the
      * exact integer mean of the pixel rectangle rows [⌊r·h/8⌋,
      * ⌊(r+1)·h/8⌋) × cols [⌊c·w/9⌋, ⌊(c+1)·w/9⌋) — so two PNGs with the
      * same pixels hash identically no matter the zlib level or filter
      * choices (the recompression-invariance law, Round13PngSpec).
      *
      * GIF payloads get the same real treatment through [[gifGray]]
      * (LZW + palette + de-interlace), so one pixel field hashes
      * identically through the PNG/zlib and GIF/LZW stacks (q184's law).
      *
      * JPEG payloads take the same real-pixel road through [[jpegGray]]
      * (T.81 baseline: Huffman entropy decode + dequant + IDCT), with
      * q185 pinning the lossy roundtrip — so ALL THREE formats decode
      * real pixels whenever the payload is decodable. Only for payloads
      * the decoders honestly reject (progressive/arithmetic/12-bit JPEG,
      * truncated or corrupt containers) does
      * the pixel source fall back to the
      * deterministic stand-in — the container body's bytes act as the
      * grayscale buffer, grid cell j pooling the exact integer
      * mean of bytes [⌊j·n/72⌋, ⌊(j+1)·n/72⌋); a real pipeline swaps only
      * that pooling for a decoded resize and keeps every
      * downstream band/bucket shape. Bodies under 72 bytes are too small
      * for the 9×8 grid → None, as are audio/corrupt containers.
      *
      * `dither = true` brightens cells j ≡ 0 (mod 7) by one gray level
      * before hashing — the deterministic stand-in for re-encode/dither
      * noise, used by the q173 fixture to plant near-duplicate twins
      * whose Hamming distance is small but (at gradient ties) nonzero.
      *
      * Returns the 64 bits as 4 × 16-bit non-negative band values — the
      * Hamming-bucket join keys: two hashes within Hamming distance 3
      * share at least one equal band by pigeonhole, so a band-equality
      * join enumerates every candidate pair without an all-pairs pass. */
    def dhashBands(
        payload: Array[Byte], dither: Boolean = false): Option[Array[Int]] = {
      val (_, _, fmt) = parseHeader(payload)
      if (fmt != "png" && fmt != "jpeg" && fmt != "gif") None
      else {
        // real-pixel road: decodable payloads pool true luminance
        // rectangles. PNG/JPEG are single-plane; an animated GIF yields
        // one composited plane PER FRAME ([[gifGrayFrames]]) and the
        // final hash takes per-bit majorities across frames — the
        // [[videoBands]] temporal pooling — so a re-encoded animation
        // whose intro frame changed still lands on its twin (a
        // single-frame GIF is the majority of one: bit-identical to the
        // old first-frame hash, which keeps q184's oracle law intact).
        val real: Option[Seq[Array[Int]]] = (fmt match {
          case "png" => pngGray(payload).map(t => (t._1, t._2, Seq(t._3)))
          case "gif" => gifGrayFrames(payload)
          case "jpeg" => jpegGray(payload).map(t => (t._1, t._2, Seq(t._3)))
          case _ => None
        }).collect { case (w, h, planes) if w >= 9 && h >= 8 =>
          planes.map(pool72(w, h, _))
        }
        val cellFrames: Option[Seq[Array[Int]]] = real.orElse {
          val off = bodyOffset(payload, fmt)
          val n = payload.length - off
          if (off < 0 || n < 72) None
          else {
            val p = new Array[Int](72)
            var j = 0
            while (j < 72) {
              val lo = (j.toLong * n / 72).toInt
              val hi = ((j + 1).toLong * n / 72).toInt
              var s = 0L
              var i = lo
              while (i < hi) { s += payload(off + i) & 0xff; i += 1 }
              p(j) = (s / (hi - lo)).toInt
              j += 1
            }
            Some(Seq(p))
          }
        }
        cellFrames.map { planes =>
          val cnt = new Array[Int](64)
          planes.foreach { p =>
            if (dither) {
              var j = 0
              while (j < 72) { if (j % 7 == 0) p(j) += 1; j += 7 }
            }
            var r = 0
            while (r < 8) {
              var c = 0
              while (c < 8) {
                if (p(r * 9 + c + 1) > p(r * 9 + c)) cnt(r * 8 + c) += 1
                c += 1
              }
              r += 1
            }
          }
          val bands = new Array[Int](4)
          var bit = 0
          while (bit < 64) {
            if (2 * cnt(bit) > planes.length) bands(bit / 16) |= 1 << (bit % 16)
            bit += 1
          }
          bands
        }
      }
    }

    /** Audio frame-energy sign fingerprint — the 1-D audio twin of
      * [[dhashBands]] (Haitsma–Kalker-style energy-gradient hashing,
      * reduced to its sign-of-frame-delta core): the RIFF data chunk —
      * located by the chunk walk ([[dataChunk]]), so non-canonical
      * layouts with extra/reordered chunks fingerprint their actual PCM
      * payload — is split into 65 equal time frames, each pooled to its exact integer
      * mean (the deterministic stand-in for per-frame PCM energy in this
      * offline container — a real pipeline swaps only the pooling for an
      * RMS over decoded samples and keeps every downstream band/bucket
      * shape), and bit i of the 64-bit fingerprint is frame(i+1) >
      * frame(i). Sign-of-delta makes the fingerprint GAIN-INVARIANT by
      * construction: adding a constant to every frame flips no bit.
      *
      * `dither = true` models a re-encoded copy: +2 on every frame (a
      * uniform gain step — provably invisible to the fingerprint) plus
      * +1 on frames j ≡ 0 (mod 7) (dither noise — perturbs only
      * gradient ties), so planted twins land at small-but-often-nonzero
      * Hamming distance, exactly the q173 image-twin construction.
      *
      * Non-wav containers and data chunks under 65 bytes (too short for
      * 65 non-empty frames) → None. Returns 4 × 16-bit bands: Hamming
      * ≤ 3 ⇒ some band equal by pigeonhole (the bucket-join keys). */
    def audioBands(
        payload: Array[Byte], dither: Boolean = false): Option[Array[Int]] = {
      val (_, _, fmt) = parseHeader(payload)
      if (fmt != "wav") None
      else dataChunk(payload) match {
        case None => None
        case Some((off, n)) if n < 65 => None
        case Some((off, n)) =>
        {
          val p = new Array[Long](65)
          var j = 0
          while (j < 65) {
            val lo = (j.toLong * n / 65).toInt
            val hi = ((j + 1).toLong * n / 65).toInt
            var s = 0L
            var i = lo
            while (i < hi) { s += payload(off + i) & 0xff; i += 1 }
            p(j) = s / (hi - lo) +
              (if (dither) 2 + (if (j % 7 == 0) 1 else 0) else 0)
            j += 1
          }
          val bands = new Array[Int](4)
          var bit = 0
          while (bit < 64) {
            if (p(bit + 1) > p(bit)) bands(bit / 16) |= 1 << (bit % 16)
            bit += 1
          }
          Some(bands)
        }
      }
    }

    /** Video sequence fingerprint — completes the modality ladder
      * (q22 text / q173 image / q174 audio / this): every `00db` frame of
      * the AVI movi list runs the [[dhashBands]] 9×8 pooling + gradient
      * kernel (the frame body's bytes act as the grayscale buffer, the
      * same deterministic stand-in; a real pipeline swaps only the
      * pooling for decoded pixels), and the SEQUENCE fingerprint is the
      * per-bit MAJORITY over valid frames (2·count > F) — the classic
      * temporal pooling that makes the hash robust to any single
      * re-encoded / dropped frame while per-frame dHash alone is not.
      *
      * `dither = true` models a re-encoded copy frame-by-frame: +1 gray
      * on cells j ≡ 0 (mod 7) of EVERY frame (q173's construction), so
      * planted twins land at small-but-often-nonzero Hamming distance.
      *
      * Frames under 72 bytes can't fill the 9×8 grid and are skipped; a
      * payload with fewer than 2 valid frames is not a sequence → None
      * (as are non-AVI containers). Returns 4 × 16-bit bands — the
      * Hamming-bucket join keys, pigeonhole-complete at radius 3. */
    def videoBands(
        payload: Array[Byte], dither: Boolean = false): Option[Array[Int]] = {
      val (_, _, fmt) = parseHeader(payload)
      if (fmt != "avi") None
      else moviFrames(payload) match {
        case None => None
        case Some(frames) =>
          val valid = frames.filter(_._2 >= 72)
          if (valid.length < 2) None
          else {
            val cnt = new Array[Int](64)
            valid.foreach { case (off, m) =>
              val p = new Array[Int](72)
              var j = 0
              while (j < 72) {
                val lo = (j.toLong * m / 72).toInt
                val hi = ((j + 1).toLong * m / 72).toInt
                var s = 0L
                var i = lo
                while (i < hi) { s += payload(off + i) & 0xff; i += 1 }
                p(j) = (s / (hi - lo)).toInt +
                  (if (dither && j % 7 == 0) 1 else 0)
                j += 1
              }
              var r = 0
              while (r < 8) {
                var c = 0
                while (c < 8) {
                  if (p(r * 9 + c + 1) > p(r * 9 + c)) cnt(r * 8 + c) += 1
                  c += 1
                }
                r += 1
              }
            }
            val bands = new Array[Int](4)
            var bit = 0
            while (bit < 64) {
              if (2 * cnt(bit) > valid.length) bands(bit / 16) |= 1 << (bit % 16)
              bit += 1
            }
            Some(bands)
          }
      }
    }
  }

  /** Real container builders — each writes the public-spec header around an
    * arbitrary body. Used by [[containerTable]] to synthesize media
    * fixtures; the headers are byte-for-byte what the formats mandate, so
    * [[MediaCodec]] exercises the real parse path. */
  object Containers {
    /** 8-byte signature + 25-byte IHDR (incl. real CRC32) = 33-byte header. */
    def png(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](33 + body.length)
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      var i = 0
      while (i < 8) { out(i) = sig(i).toByte; i += 1 }
      putBE32(out, 8, 13) // IHDR data length
      out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
      putBE32(out, 16, width); putBE32(out, 20, height)
      out(24) = 8 // bit depth
      out(25) = 6 // color type RGBA
      out(26) = 0; out(27) = 0; out(28) = 0 // compression/filter/interlace
      val crc = new CRC32; crc.update(out, 12, 17)
      putBE32(out, 29, crc.getValue.toInt)
      System.arraycopy(body, 0, out, 33, body.length)
      out
    }

    /** REAL PNG encoder (ISO 15948) — the write complement of
      * [[MediaCodec.pngGray]]: gray-8 row-major pixels become signature +
      * IHDR + IDAT (zlib at `level` over FORWARD-filtered scanlines, §9
      * filter type per row from `filterOf`) + IEND, each chunk with its
      * real CRC32. Different (level, filter) choices give different BYTE
      * STREAMS for the same pixels — exactly the degree of freedom the
      * recompression-invariance law (Round13PngSpec) and q183's
      * distributed twin construction exercise. */
    def pngGray8(
        w: Int, h: Int, pixels: Array[Byte],
        level: Int, filterOf: Int => Int): Array[Byte] = {
      require(pixels.length == w * h, "bad pixel buffer")
      val raw = new Array[Byte](h * (w + 1))
      var y = 0
      while (y < h) {
        val f = filterOf(y)
        raw(y * (w + 1)) = f.toByte
        var x = 0
        while (x < w) {
          val orig = pixels(y * w + x) & 0xff
          val a = if (x >= 1) pixels(y * w + x - 1) & 0xff else 0
          val up = if (y > 0) pixels((y - 1) * w + x) & 0xff else 0
          val ul = if (y > 0 && x >= 1) pixels((y - 1) * w + x - 1) & 0xff else 0
          val pred = f match {
            case 0 => 0
            case 1 => a
            case 2 => up
            case 3 => (a + up) >> 1
            case 4 =>
              val pp = a + up - ul
              val pa = math.abs(pp - a); val pb = math.abs(pp - up)
              val pc = math.abs(pp - ul)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul
            case other => throw new IllegalArgumentException(s"filter $other")
          }
          raw(y * (w + 1) + 1 + x) = ((orig - pred) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater(level)
      deflater.setInput(raw); deflater.finish()
      // loop until finished: stored-block overhead (~5 B / 64 KiB) on an
      // incompressible plane exceeds any fixed slack past ~13 MB, so a
      // single deflate() into a raw.length+k buffer can't be relied on
      val zout = new java.io.ByteArrayOutputStream(raw.length / 2 + 1024)
      val zbuf = new Array[Byte](64 << 10)
      while (!deflater.finished())
        zout.write(zbuf, 0, deflater.deflate(zbuf))
      deflater.end()
      def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
        val out = new Array[Byte](12 + data.length)
        putBE32(out, 0, data.length)
        var i = 0
        while (i < 4) { out(4 + i) = typ.charAt(i).toByte; i += 1 }
        System.arraycopy(data, 0, out, 8, data.length)
        val crc = new CRC32
        crc.update(out, 4, 4 + data.length)
        putBE32(out, 8 + data.length, crc.getValue.toInt)
        out
      }
      val ihdr = new Array[Byte](13)
      putBE32(ihdr, 0, w); putBE32(ihdr, 4, h)
      ihdr(8) = 8 // bit depth
      ihdr(9) = 0 // color type: grayscale
      val bos = new java.io.ByteArrayOutputStream()
      val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      sig.foreach(b => bos.write(b))
      bos.write(chunk("IHDR", ihdr))
      bos.write(chunk("IDAT", zout.toByteArray))
      bos.write(chunk("IEND", Array.emptyByteArray))
      bos.toByteArray
    }

    /** SOI + 17-byte SOF0 segment (3 components) = 21-byte header. */
    def jpeg(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](21 + body.length)
      out(0) = 0xff.toByte; out(1) = 0xd8.toByte // SOI
      out(2) = 0xff.toByte; out(3) = 0xc0.toByte // SOF0
      out(4) = 0; out(5) = 17 // segment length
      out(6) = 8 // precision
      out(7) = ((height >> 8) & 0xff).toByte; out(8) = (height & 0xff).toByte
      out(9) = ((width >> 8) & 0xff).toByte; out(10) = (width & 0xff).toByte
      out(11) = 3 // components
      var c = 0
      while (c < 3) { // id, sampling, quant table per component
        out(12 + 3 * c) = (c + 1).toByte; out(13 + 3 * c) = 0x11; out(14 + 3 * c) = c.toByte
        c += 1
      }
      System.arraycopy(body, 0, out, 21, body.length)
      out
    }

    /** REAL GIF encoder (GIF89a + its LZW variant) — the write complement
      * of [[MediaCodec.gifGray]]: gray-8 pixels become header + logical
      * screen descriptor + 256-entry gray global color table + one
      * full-canvas image (optionally interlaced) whose index stream is
      * REAL LZW (dictionary growth, width bumps at 2^n, clear on a full
      * table), chunked into ≤255-byte sub-blocks, + trailer. Indices ARE
      * the gray values (identity palette), so encode→decode is lossless —
      * the degree of freedom q184 exercises: the same pixels through the
      * PNG/zlib stack and the GIF/LZW stack must land on one dHash. */
    def gifGray8(
        w: Int, h: Int, pixels: Array[Byte], interlaced: Boolean): Array[Byte] = {
      require(pixels.length == w * h, "bad pixel buffer")
      // transmitted row order (4-pass interlace when flagged)
      val rowOrder: Array[Int] =
        if (!interlaced) Array.tabulate(h)(identity)
        else {
          val rows = new Array[Int](h)
          var k = 0
          Seq((0, 8), (4, 8), (2, 4), (1, 2)).foreach { case (start, step) =>
            var y = start
            while (y < h) { rows(k) = y; k += 1; y += step }
          }
          rows
        }
      val idx = new Array[Byte](w * h)
      var r = 0
      while (r < h) {
        System.arraycopy(pixels, rowOrder(r) * w, idx, r * w, w)
        r += 1
      }
      val z = gifLzwEncode(idx)
      // ---- container
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
      def le16w(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      le16w(w); le16w(h)
      bos.write(0x80 | 7) // GCT present, 256 entries
      bos.write(0); bos.write(0)
      var v = 0
      while (v < 256) { bos.write(v); bos.write(v); bos.write(v); v += 1 }
      bos.write(0x2c) // image descriptor: full canvas
      le16w(0); le16w(0); le16w(w); le16w(h)
      bos.write(if (interlaced) 0x40 else 0x00)
      bos.write(8) // LZW min code size (256 literals)
      var off = 0
      while (off < z.length) {
        val take = math.min(255, z.length - off)
        bos.write(take)
        bos.write(z, off, take)
        off += take
      }
      bos.write(0) // sub-block terminator
      bos.write(0x3b) // trailer
      bos.toByteArray
    }

    /** GIF-variant LZW compress at min code size 8 (256 literals) — the
      * write complement of [[MediaCodec]]'s decoder, shared by the
      * single-frame and animated builders. */
    private def gifLzwEncode(idx: Array[Byte]): Array[Byte] = {
      val minCode = 8
      val clear = 1 << minCode
      val end = clear + 1
      val bits = new java.io.ByteArrayOutputStream()
      var cur = 0L; var curBits = 0
      var codeWidth = minCode + 1
      def put(code: Int): Unit = {
        cur |= code.toLong << curBits
        curBits += codeWidth
        while (curBits >= 8) {
          bits.write((cur & 0xff).toInt); cur >>>= 8; curBits -= 8
        }
      }
      val dict = new java.util.HashMap[Long, Integer]()
      var dictSize = end + 1
      put(clear)
      var prefixCode = -1
      var i = 0
      while (i < idx.length) {
        val k = idx(i) & 0xff
        if (prefixCode < 0) prefixCode = k
        else {
          val key = prefixCode.toLong << 12 | k
          val hit = dict.get(key)
          if (hit != null) prefixCode = hit.intValue()
          else {
            put(prefixCode)
            if (dictSize < 4096) {
              dict.put(key, Integer.valueOf(dictSize))
              dictSize += 1
              // width bump one entry AFTER 2^w: the decoder's dictionary
              // runs one entry behind the encoder's (its first data code
              // adds nothing), so it widens exactly when ours reaches
              // 2^w + 1 — bumping at 2^w would desynchronize the stream
              if (dictSize == (1 << codeWidth) + 1 && codeWidth < 12)
                codeWidth += 1
            } else {
              put(clear)
              dict.clear(); dictSize = end + 1; codeWidth = minCode + 1
            }
            prefixCode = k
          }
        }
        i += 1
      }
      if (prefixCode >= 0) put(prefixCode)
      put(end)
      if (curBits > 0) bits.write((cur & 0xff).toInt)
      bits.toByteArray
    }

    /** One animation frame for [[gifGray8Anim]]: a sub-rectangle painted
      * onto the persisting canvas, gray pixel value = palette index into
      * the 256-entry gray GCT; pixels equal to `transIdx` (when ≥ 0) are
      * declared GCE-transparent and leave the canvas pixel intact;
      * `disposal` is written into the GCE verbatim (1 = do not dispose —
      * the composable kind; 2/3 exist to exercise the decoder's honest
      * refusal). */
    final case class GifFrame(
        left: Int, top: Int, w: Int, h: Int, pixels: Array[Byte],
        transIdx: Int = -1, disposal: Int = 1)

    /** REAL animated-GIF encoder (GIF89a §23): logical screen + gray GCT,
      * then per frame a Graphic Control Extension (disposal + optional
      * transparency) and an image descriptor at the frame's offset with
      * its own LZW-compressed index stream. The write complement of
      * [[MediaCodec.gifGrayFrames]]. */
    def gifGray8Anim(w: Int, h: Int, frames: Seq[GifFrame]): Array[Byte] = {
      require(frames.nonEmpty, "no frames")
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("GIF89a".getBytes(StandardCharsets.US_ASCII))
      def le16w(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      le16w(w); le16w(h)
      bos.write(0x80 | 7) // GCT present, 256 entries
      bos.write(0); bos.write(0)
      var v = 0
      while (v < 256) { bos.write(v); bos.write(v); bos.write(v); v += 1 }
      frames.foreach { f =>
        require(f.pixels.length == f.w * f.h, "bad frame buffer")
        require(f.left >= 0 && f.top >= 0 &&
          f.left + f.w <= w && f.top + f.h <= h, "frame out of canvas")
        // Graphic Control Extension
        bos.write(0x21); bos.write(0xf9); bos.write(4)
        bos.write((f.disposal & 7) << 2 | (if (f.transIdx >= 0) 1 else 0))
        le16w(0) // delay
        bos.write(if (f.transIdx >= 0) f.transIdx else 0)
        bos.write(0) // GCE terminator
        bos.write(0x2c)
        le16w(f.left); le16w(f.top); le16w(f.w); le16w(f.h)
        bos.write(0x00) // no local palette, not interlaced
        bos.write(8)
        val z = gifLzwEncode(f.pixels)
        var off = 0
        while (off < z.length) {
          val take = math.min(255, z.length - off)
          bos.write(take)
          bos.write(z, off, take)
          off += take
        }
        bos.write(0)
      }
      bos.write(0x3b)
      bos.toByteArray
    }

    /** REAL baseline JPEG encoder, DC-only (ITU T.81) — the write
      * complement of [[MediaCodec.jpegGray]] for the one coefficient
      * whose quantization arithmetic is exactly replayable: each 8×8
      * block (edge-replicated at the borders) carries its true DCT DC
      * coefficient, quantized round-half-up as
      * dcQ = ⌊(2·S + 8·q0) / (16·q0)⌋ with S = Σ(p−128), followed by an
      * immediate EOB — so the decoded block is the constant
      * ⌊(dcQ·q0 + 4) / 8⌋ + 128, clamped. The container is fully real:
      * DQT, SOF0 (single gray component), custom canonical DHT tables
      * (12 four-bit DC categories; a two-bit EOB-only AC table), optional
      * DRI + RSTn restarts, Huffman-coded scan with 0xFF00 byte
      * stuffing, EOI. q185 pins this whole road against a pixel/integer
      * oracle. */
    def jpegGray8Dc(
        w: Int, h: Int, pixels: Array[Byte], q0: Int,
        restartEvery: Int = 0): Array[Byte] = {
      require(pixels.length == w * h, "bad pixel buffer")
      require(q0 >= 1 && q0 <= 255, "bad quantizer")
      val bos = new java.io.ByteArrayOutputStream()
      def m(marker: Int): Unit = { bos.write(0xff); bos.write(marker) }
      def be16w(v: Int): Unit = { bos.write((v >> 8) & 0xff); bos.write(v & 0xff) }
      m(0xd8) // SOI
      m(0xdb); be16w(2 + 65); bos.write(0x00) // DQT, table 0, 8-bit
      var k = 0
      while (k < 64) { bos.write(q0); k += 1 }
      m(0xc0); be16w(2 + 6 + 3) // SOF0: 8-bit, 1 component
      bos.write(8); be16w(h); be16w(w); bos.write(1)
      bos.write(1); bos.write(0x11); bos.write(0) // id 1, 1x1, qt 0
      // DHT DC0: 12 categories, all 4-bit codes (canonical 0000..1011)
      m(0xc4); be16w(2 + 17 + 12); bos.write(0x00)
      (1 to 16).foreach(l => bos.write(if (l == 4) 12 else 0))
      (0 until 12).foreach(bos.write)
      // DHT AC0: EOB only, one 2-bit code
      m(0xc4); be16w(2 + 17 + 1); bos.write(0x10)
      (1 to 16).foreach(l => bos.write(if (l == 2) 1 else 0))
      bos.write(0x00)
      if (restartEvery > 0) { m(0xdd); be16w(4); be16w(restartEvery) }
      m(0xda); be16w(2 + 1 + 2 + 3) // SOS
      bos.write(1); bos.write(1); bos.write(0x00)
      bos.write(0); bos.write(63); bos.write(0)
      // ---- entropy-coded data
      var acc = 0; var accBits = 0
      def putBits(v: Int, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1)
          accBits += 1
          if (accBits == 8) {
            bos.write(acc & 0xff)
            if ((acc & 0xff) == 0xff) bos.write(0) // stuff
            acc = 0; accBits = 0
          }
          i -= 1
        }
      }
      def flushOnes(): Unit = while (accBits != 0) putBits(1, 1)
      val bw = (w + 7) / 8
      val bh = (h + 7) / 8
      var pred = 0
      var rstIdx = 0
      var blk = 0
      val total = bw * bh
      while (blk < total) {
        if (restartEvery > 0 && blk > 0 && blk % restartEvery == 0) {
          flushOnes()
          m(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) % 8
          pred = 0
        }
        val bx = blk % bw
        val by = blk / bw
        var s = 0
        var y = 0
        while (y < 8) {
          val gy = math.min(by * 8 + y, h - 1)
          var x = 0
          while (x < 8) {
            val gx = math.min(bx * 8 + x, w - 1)
            s += (pixels(gy * w + gx) & 0xff) - 128
            x += 1
          }
          y += 1
        }
        val dcQ = Math.floorDiv(2 * s + 8 * q0, 16 * q0)
        val diff = dcQ - pred
        pred = dcQ
        val t = 32 - Integer.numberOfLeadingZeros(math.abs(diff))
        require(t <= 11, "DC category out of baseline range")
        putBits(t, 4) // DC category symbol = its own 4-bit code
        if (t > 0)
          putBits(if (diff < 0) diff + (1 << t) - 1 else diff, t)
        putBits(0, 2) // EOB (the AC table's single 2-bit code 00)
        blk += 1
      }
      flushOnes()
      m(0xd9) // EOI
      bos.toByteArray
    }

    /** GIF89a logical screen descriptor = 13-byte header. */
    def gif(width: Int, height: Int, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](13 + body.length)
      val sig = "GIF89a".getBytes(StandardCharsets.US_ASCII)
      System.arraycopy(sig, 0, out, 0, 6)
      out(6) = (width & 0xff).toByte; out(7) = ((width >> 8) & 0xff).toByte
      out(8) = (height & 0xff).toByte; out(9) = ((height >> 8) & 0xff).toByte
      out(10) = 0; out(11) = 0; out(12) = 0 // packed, bg index, aspect
      System.arraycopy(body, 0, out, 13, body.length)
      out
    }

    /** Canonical 44-byte RIFF/WAVE header (PCM fmt + data chunk). */
    def wav(sampleRate: Int, channels: Int, body: Array[Byte]): Array[Byte] = {
      val out = new Array[Byte](44 + body.length)
      putTag(out, 0, "RIFF"); putLE32(out, 4, 36 + body.length)
      putTag(out, 8, "WAVE"); putTag(out, 12, "fmt ")
      putLE32(out, 16, 16) // PCM fmt chunk size
      putLE16(out, 20, 1) // audio format = PCM
      putLE16(out, 22, channels)
      putLE32(out, 24, sampleRate)
      putLE32(out, 28, sampleRate * channels * 2) // byte rate
      putLE16(out, 32, channels * 2) // block align
      putLE16(out, 34, 16) // bits per sample
      putTag(out, 36, "data"); putLE32(out, 40, body.length)
      System.arraycopy(body, 0, out, 44, body.length)
      out
    }

    /** RIFF/'AVI ' with a real LIST('hdrl' avih) main header (56-byte
      * AVIMAINHEADER, dwWidth/dwHeight at body offsets 32/36) and a
      * LIST('movi') of word-aligned `00db` frame chunks. */
    def avi(width: Int, height: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
      val hdrlBody = 4 + 8 + 56
      val moviBody = 4 + frames.map(f => 8 + f.length + (f.length & 1)).sum
      val total = 12 + 8 + hdrlBody + 8 + moviBody
      val out = new Array[Byte](total)
      putTag(out, 0, "RIFF"); putLE32(out, 4, total - 8); putTag(out, 8, "AVI ")
      putTag(out, 12, "LIST"); putLE32(out, 16, hdrlBody); putTag(out, 20, "hdrl")
      putTag(out, 24, "avih"); putLE32(out, 28, 56)
      putLE32(out, 32, 33333) // dwMicroSecPerFrame (~30 fps)
      putLE32(out, 32 + 16, frames.length) // dwTotalFrames
      putLE32(out, 32 + 24, 1) // dwStreams
      putLE32(out, 32 + 32, width)
      putLE32(out, 32 + 36, height)
      var p = 32 + 56
      putTag(out, p, "LIST"); putLE32(out, p + 4, moviBody); putTag(out, p + 8, "movi")
      p += 12
      frames.foreach { f =>
        putTag(out, p, "00db"); putLE32(out, p + 4, f.length)
        System.arraycopy(f, 0, out, p + 8, f.length)
        p += 8 + f.length + (f.length & 1)
      }
      out
    }

    private def putBE32(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = ((v >> 24) & 0xff).toByte; b(i + 1) = ((v >> 16) & 0xff).toByte
      b(i + 2) = ((v >> 8) & 0xff).toByte; b(i + 3) = (v & 0xff).toByte
    }
    private def putLE16(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
    }
    private def putLE32(b: Array[Byte], i: Int, v: Int): Unit = {
      b(i) = (v & 0xff).toByte; b(i + 1) = ((v >> 8) & 0xff).toByte
      b(i + 2) = ((v >> 16) & 0xff).toByte; b(i + 3) = ((v >> 24) & 0xff).toByte
    }
    private def putTag(b: Array[Byte], i: Int, t: String): Unit = {
      var k = 0
      while (k < 4) { b(i + k) = t.charAt(k).toByte; k += 1 }
    }
  }

  /** documents.text bytes stand in for media payloads; real pipelines would
    * read payload files/blob columns the same way. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    s.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
        lit("image").as("kind"))
      .as[MediaRow]
  }

  /** Fixture corpus with REAL container headers: each document's UTF-8
    * bytes wrapped in a PNG / JPEG / GIF / WAV container (doc_id mod 4),
    * with header dimensions derived from doc_id so the decode is
    * oracle-checkable end-to-end. The wrap runs executor-side per
    * partition — payload bytes never visit the driver. */
  def containerTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val id = r.doc_id
        val w = (16 + math.floorMod(id * 31 + 7, 2048L)).toInt
        val h = (16 + math.floorMod(id * 17 + 3, 2048L)).toInt
        val rate = (8000 + math.floorMod(id, 8L) * 4000).toInt
        val chans = (1 + math.floorMod(id, 2L)).toInt
        math.floorMod(id, 4L) match {
          case 0 => MediaRow(id, Containers.png(w, h, r.payload), "image")
          case 1 => MediaRow(id, Containers.jpeg(w, h, r.payload), "image")
          case 2 => MediaRow(id, Containers.gif(w, h, r.payload), "image")
          case _ => MediaRow(id, Containers.wav(rate, chans, r.payload), "audio")
        }
      }
    }
  }

  /** AVI fixture corpus: each document's UTF-8 bytes split into 4 equal
    * frame slices (frame f = body bytes [⌊f·n/4⌋, ⌊(f+1)·n/4⌋) — the
    * q70 even-spacing arithmetic) inside a REAL RIFF/AVI container
    * (hdrl/avih main header + movi/00db frame list), header dimensions
    * from the q50 doc_id recurrences so the parse is oracle-checkable.
    * Executor-side per partition; payload bytes never visit the driver. */
  def videoTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaTable(s, dir).mapPartitions { rows =>
      rows.map { r =>
        val id = r.doc_id
        val w = (16 + math.floorMod(id * 31 + 7, 2048L)).toInt
        val h = (16 + math.floorMod(id * 17 + 3, 2048L)).toInt
        val n = r.payload.length
        val frames = (0 until 4).map { f =>
          val lo = (f.toLong * n / 4).toInt
          val hi = ((f + 1).toLong * n / 4).toInt
          java.util.Arrays.copyOfRange(r.payload, lo, hi)
        }
        MediaRow(id, Containers.avi(w, h, frames), "video")
      }
    }
  }

  /** Partition-wise decode: the real-decoder shape (iterator in, iterator
    * out, per-partition init amortized). */
  def decodeAll(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // a real decoder would init its codec/model HERE, once per partition
      rows.map(MediaCodec.decode)
    }
  }

  /** Declared query: full container decode (real header parse) + the exact
    * feature-norm, flattened to a stable hash-checkable schema. */
  def query(s: SparkSession, dir: String): DataFrame = {
    decodeAll(containerTable(s, dir))
      .withColumn("feat_norm", sqrt(col("feat_ss").cast("double")) / lit(1000.0d))
      .select("doc_id", "n_bytes", "width", "height", "format", "feat_norm")
      .orderBy("doc_id")
  }
}

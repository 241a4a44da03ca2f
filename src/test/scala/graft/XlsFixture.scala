package graft

import java.io.ByteArrayOutputStream

/** Legacy `.xls` fixture builders shared by the BIFF8 reader specs and the
  * ingestion parity spec: little-endian byte helpers, a minimal CFB
  * container around a small "Workbook" stream, and a LABEL-only BIFF8
  * workbook with any number of sheets. */
object XlsFixture {

  // ---- little-endian byte builders
  def u16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  def u32(v: Int): Array[Byte] = u16(v & 0xffff) ++ u16(v >>> 16)
  def f64(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(i => ((bits >> (8 * i)) & 0xff).toByte)
  }
  def rec(id: Int, body: Array[Byte]): Array[Byte] =
    u16(id) ++ u16(body.length) ++ body
  def latin1(s: String): Array[Byte] = s.getBytes("ISO-8859-1")
  def utf16(s: String): Array[Byte] = s.getBytes("UTF-16LE")

  /** Wrap a (small) stream named "Workbook" in a minimal CFB container —
    * 1 FAT sector, 1 directory sector, 1 miniFAT sector, mini-stream data.
    */
  def cfb(wb: Array[Byte]): Array[Byte] = {
    val nMini = (wb.length + 63) / 64
    val miniStream = java.util.Arrays.copyOf(wb, nMini * 64)
    val nMiniSect = (miniStream.length + 511) / 512
    val free = 0xFFFFFFFF
    val end = 0xFFFFFFFE

    val header = new ByteArrayOutputStream()
    header.write(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte))
    header.write(new Array[Byte](16))       // CLSID
    header.write(u16(0x003E)); header.write(u16(0x0003)) // minor/major
    header.write(u16(0xFFFE))               // little-endian marker
    header.write(u16(9)); header.write(u16(6)) // sector 512 / mini 64
    header.write(new Array[Byte](6))        // reserved
    header.write(u32(0))                    // # dir sectors (v3: 0)
    header.write(u32(1))                    // # FAT sectors
    header.write(u32(1))                    // first directory sector
    header.write(u32(0))                    // transaction
    header.write(u32(4096))                 // mini-stream cutoff
    header.write(u32(2)); header.write(u32(1)) // first/# miniFAT sectors
    header.write(u32(end)); header.write(u32(0)) // first/# DIFAT sectors
    header.write(u32(0))                    // DIFAT[0] → FAT at sector 0
    (1 until 109).foreach(_ => header.write(u32(free)))

    def sector(fill: Array[Byte]): Array[Byte] =
      java.util.Arrays.copyOf(fill, 512)

    // FAT: s0=FATSECT, s1=dir END, s2=miniFAT END, s3..=mini-stream chain
    val fat = new ByteArrayOutputStream()
    fat.write(u32(0xFFFFFFFD)); fat.write(u32(end)); fat.write(u32(end))
    (0 until nMiniSect).foreach { i =>
      fat.write(u32(if (i == nMiniSect - 1) end else 3 + i + 1))
    }
    ((3 + nMiniSect) until 128).foreach(_ => fat.write(u32(free)))

    def dirEntry(name: String, objType: Int, child: Int, start: Int,
                 size: Int): Array[Byte] = {
      val e = new ByteArrayOutputStream()
      val nm = utf16(name)
      e.write(java.util.Arrays.copyOf(nm, 64))
      e.write(u16(nm.length + 2))            // name length incl. terminator
      e.write(Array(objType.toByte, 1.toByte)) // type, black
      e.write(u32(free)); e.write(u32(free)); e.write(u32(child)) // sibs/child
      e.write(new Array[Byte](16))           // CLSID
      e.write(u32(0)); e.write(new Array[Byte](16)) // state, timestamps
      e.write(u32(start)); e.write(u32(size)); e.write(u32(0))
      e.toByteArray
    }
    val dir = dirEntry("Root Entry", 5, 1, 3, miniStream.length) ++
      dirEntry("Workbook", 2, free, 0, wb.length) ++
      new Array[Byte](256)

    val miniFat = new ByteArrayOutputStream()
    (0 until nMini).foreach { i =>
      miniFat.write(u32(if (i == nMini - 1) end else i + 1))
    }
    (nMini until 128).foreach(_ => miniFat.write(u32(free)))

    val out = new ByteArrayOutputStream()
    out.write(sector(header.toByteArray))
    out.write(sector(fat.toByteArray))
    out.write(sector(dir))
    out.write(sector(miniFat.toByteArray))
    out.write(java.util.Arrays.copyOf(miniStream, nMiniSect * 512))
    out.toByteArray
  }

  /** BIFF8 workbook of LABEL cells, one BOUNDSHEET per sheet (a sheet
    * with no rows is a BOF/EOF pair with no cell records). */
  def workbook(sheets: Seq[(String, Seq[Seq[String]])]): Array[Byte] = {
    def bof(kind: Int): Array[Byte] = rec(0x0809, u16(0x0600) ++ u16(kind) ++
      u16(0x0DBB) ++ u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val eof = rec(0x000A, Array.empty)
    val streams = sheets.map { case (_, rows) =>
      bof(0x0010) ++ rows.zipWithIndex.flatMap { case (row, r) =>
        row.zipWithIndex.flatMap { case (v, c) =>
          rec(0x0204, u16(r) ++ u16(c) ++ u16(0) ++ u16(v.length) ++
            Array(0.toByte) ++ latin1(v))
        }
      } ++ eof
    }
    def globals(offsets: Seq[Int]): Array[Byte] =
      bof(0x0005) ++ sheets.zip(offsets).flatMap { case ((name, _), off) =>
        rec(0x0085, u32(off) ++ u16(0) ++
          Array(name.length.toByte, 0.toByte) ++ latin1(name))
      } ++ eof
    val base = globals(sheets.map(_ => 0)).length
    val offsets = streams.scanLeft(base)(_ + _.length).init
    cfb(globals(offsets) ++ streams.flatten)
  }
}

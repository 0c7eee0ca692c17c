package graft.sources.excel

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Fixture-driven spec for the legacy `.xls` (BIFF8) reader: builds a
  * real OLE2/CFB container + BIFF8 workbook byte-for-byte (two sheets,
  * SST with a mid-string CONTINUE split, LABELSST/NUMBER/RK/MULRK/
  * BOOLERR cells), then reads it back through both the parser API and
  * the full `spark.read.format("excel")` DSv2 path.
  */
class XlsSourceSpec extends SparkSpec {

  // ---- minimal BIFF8 + CFB fixture writer ------------------------------

  private class Buf {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): this.type = { out.write(v & 0xFF); this }
    def u16(v: Int): this.type = { u8(v); u8(v >> 8) }
    def u32(v: Int): this.type = { u16(v); u16(v >> 16) }
    def f64(v: Double): this.type = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putDouble(v); out.write(b.array()); this
    }
    def bytes(b: Array[Byte]): this.type = { out.write(b); this }
    def ascii(s: String): this.type = { out.write(s.getBytes("ISO-8859-1")); this }
    def toArray: Array[Byte] = out.toByteArray
  }

  private def record(id: Int, body: Buf => Unit): Array[Byte] = {
    val b = new Buf
    body(b)
    val data = b.toArray
    val r = new Buf
    r.u16(id).u16(data.length).bytes(data)
    r.toArray
  }

  private def bof(substreamType: Int): Array[Byte] =
    record(0x0809, b => b.u16(0x0600).u16(substreamType)
      .u16(0).u16(0).u32(0).u32(0))
  private def eof: Array[Byte] = record(0x000A, _ => ())

  private def rkInt(v: Int): Int = (v << 2) | 2
  private def rkIntX100(centi: Int): Int = (centi << 2) | 3

  /** The workbook stream: globals (BOUNDSHEET×2 + split SST) + 2 sheets. */
  private def workbookStream(sstStrings: IndexedSeq[String]): Array[Byte] = {
    def sheet1: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(bof(0x0010))
      // header row via LABELSST: name, qty, price, flag
      Seq(0, 1, 2, 3).foreach { c =>
        b.write(record(0x00FD, w => w.u16(0).u16(c).u16(0).u32(c)))
      }
      // row 1: "alpha", 42 (RK int), 2.5 (NUMBER), true (BOOLERR)
      b.write(record(0x00FD, w => w.u16(1).u16(0).u16(0).u32(4)))
      b.write(record(0x027E, w => w.u16(1).u16(1).u16(0).u32(rkInt(42))))
      b.write(record(0x0203, w => w.u16(1).u16(2).u16(0).f64(2.5)))
      b.write(record(0x0205, w => w.u16(1).u16(3).u16(0).u8(1).u8(0)))
      // row 2: "beta…" (the CONTINUE-split SST string), MULRK 7,8 at cols
      // 1-2, false
      b.write(record(0x00FD, w => w.u16(2).u16(0).u16(0).u32(5)))
      b.write(record(0x00BD, w =>
        w.u16(2).u16(1).u16(0).u32(rkInt(7)).u16(0).u32(rkIntX100(125)).u16(2)))
      b.write(record(0x0205, w => w.u16(2).u16(3).u16(0).u8(0).u8(0)))
      b.write(eof)
      b.toByteArray
    }
    def sheet2: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(bof(0x0010))
      b.write(record(0x00FD, w => w.u16(0).u16(0).u16(0).u32(6))) // header "k"
      b.write(record(0x027E, w => w.u16(1).u16(0).u16(0).u32(rkInt(-5))))
      b.write(eof)
      b.toByteArray
    }

    def globals(s1Pos: Int, s2Pos: Int): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(bof(0x0005))
      def boundsheet(pos: Int, name: String): Array[Byte] =
        record(0x0085, w => w.u32(pos).u16(0)
          .u8(name.length).u8(0).ascii(name))
      b.write(boundsheet(s1Pos, "Data"))
      b.write(boundsheet(s2Pos, "Other"))
      // SST split mid-string: record ends inside sstStrings(5)'s chars;
      // the CONTINUE record re-specifies the compression flag byte
      val split = sstStrings(5)
      val head = split.substring(0, 4)
      val tail = split.substring(4)
      b.write(record(0x00FC, w => {
        w.u32(sstStrings.length).u32(sstStrings.length)
        sstStrings.take(5).foreach { s =>
          w.u16(s.length).u8(0).ascii(s)
        }
        w.u16(split.length).u8(0).ascii(head) // …record boundary here
      }))
      b.write(record(0x003C, w => {
        w.u8(0).ascii(tail) // fresh option byte, remaining chars
        val s6 = sstStrings(6)
        w.u16(s6.length).u8(0).ascii(s6)
      }))
      b.write(eof)
      b.toByteArray
    }

    // two-pass: globals length is independent of the offsets it embeds
    val gLen = globals(0, 0).length
    val g = globals(gLen, gLen + sheet1.length)
    g ++ sheet1 ++ sheet2
  }

  /** Wrap a stream as a single-stream CFB compound file (regular FAT
    * sectors: the stream is padded to the 4096-byte mini cutoff).
    */
  private def cfb(raw: Array[Byte]): Array[Byte] = {
    // pad to the mini cutoff BEFORE declaring the size, so the stream
    // genuinely lives in regular FAT sectors (the reader's record scan
    // stops at the zero-id padding)
    val stream0 = java.util.Arrays.copyOf(raw, math.max(raw.length, 4096))
    val stream = stream0
    val sectorSize = 512
    val nStream = (stream.length + sectorSize - 1) / sectorSize
    val padded = java.util.Arrays.copyOf(stream, nStream * sectorSize)
    // layout: sector 0 = FAT, 1..nStream = workbook, nStream+1 = directory
    val dirSector = nStream + 1
    val fat = new Buf
    fat.u32(0xFFFFFFFD) // sector 0: FAT itself
    (1 until nStream).foreach(i => fat.u32(i + 1)) // workbook chain
    fat.u32(0xFFFFFFFE) // last workbook sector: end of chain
    fat.u32(0xFFFFFFFE) // directory: single sector
    while (fat.toArray.length < sectorSize) fat.u32(0xFFFFFFFF)

    def dirEntry(name: String, objType: Int, child: Int, start: Int,
        size: Int): Array[Byte] = {
      val b = new Buf
      val utf16 = name.getBytes("UTF-16LE")
      b.bytes(java.util.Arrays.copyOf(utf16, 64))
      b.u16(utf16.length + 2).u8(objType).u8(1)
      b.u32(0xFFFFFFFF).u32(0xFFFFFFFF).u32(child) // left, right, child
      b.bytes(new Array[Byte](16)).u32(0) // clsid, state
      b.u32(0).u32(0).u32(0).u32(0) // timestamps
      b.u32(start).u32(size).u32(0)
      b.toArray
    }
    val dir = new Buf
    dir.bytes(dirEntry("Root Entry", 5, 1, 0xFFFFFFFE, 0))
    dir.bytes(dirEntry("Workbook", 2, 0xFFFFFFFF, 1, stream0.length))
    dir.bytes(new Array[Byte](sectorSize - 256))

    val header = new Buf
    header.bytes(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte))
    header.bytes(new Array[Byte](16)) // clsid
    header.u16(0x003E).u16(0x0003).u16(0xFFFE) // minor, major, byte order
    header.u16(9).u16(6) // sector shift, mini shift
    header.bytes(new Array[Byte](6)).u32(0) // reserved, numDirSectors
    header.u32(1) // numFat
    header.u32(dirSector) // first directory sector
    header.u32(0).u32(4096) // transaction, mini cutoff
    header.u32(0xFFFFFFFE).u32(0) // first miniFAT, count
    header.u32(0xFFFFFFFE).u32(0) // first DIFAT, count
    header.u32(0) // DIFAT[0] = FAT sector 0
    (1 until 109).foreach(_ => header.u32(0xFFFFFFFF))

    val all = new java.io.ByteArrayOutputStream()
    all.write(header.toArray)
    all.write(fat.toArray.take(sectorSize))
    all.write(padded)
    all.write(dir.toArray.take(sectorSize))
    all.toByteArray
  }

  /** Same workbook, stored the way real small .xls files are: in the
    * root entry's MINI stream (64-byte mini sectors chained through the
    * mini FAT), since the stream is under the 4096-byte cutoff.
    */
  private def cfbMini(raw: Array[Byte]): Array[Byte] = {
    require(raw.length < 4096, "mini-stream fixture requires a small stream")
    val sectorSize = 512
    val nMini = (raw.length + 63) / 64
    val miniBytes = java.util.Arrays.copyOf(raw, nMini * 64)
    val nMiniSectors = (miniBytes.length + sectorSize - 1) / sectorSize
    val padded = java.util.Arrays.copyOf(miniBytes, nMiniSectors * sectorSize)
    val miniFatSector = nMiniSectors + 1
    val dirSector = nMiniSectors + 2
    val fat = new Buf
    fat.u32(0xFFFFFFFD) // FAT itself
    (1 until nMiniSectors).foreach(i => fat.u32(i + 1)) // ministream chain
    fat.u32(0xFFFFFFFE) // ministream end
    fat.u32(0xFFFFFFFE) // miniFAT sector
    fat.u32(0xFFFFFFFE) // directory
    while (fat.toArray.length < sectorSize) fat.u32(0xFFFFFFFF)
    val miniFat = new Buf
    (1 until nMini).foreach(miniFat.u32)
    miniFat.u32(0xFFFFFFFE)
    while (miniFat.toArray.length < sectorSize) miniFat.u32(0xFFFFFFFF)

    def dirEntry(name: String, objType: Int, child: Int, start: Int,
        size: Int): Array[Byte] = {
      val b = new Buf
      val utf16 = name.getBytes("UTF-16LE")
      b.bytes(java.util.Arrays.copyOf(utf16, 64))
      b.u16(utf16.length + 2).u8(objType).u8(1)
      b.u32(0xFFFFFFFF).u32(0xFFFFFFFF).u32(child)
      b.bytes(new Array[Byte](16)).u32(0)
      b.u32(0).u32(0).u32(0).u32(0)
      b.u32(start).u32(size).u32(0)
      b.toArray
    }
    val dir = new Buf
    dir.bytes(dirEntry("Root Entry", 5, 1, 1, miniBytes.length))
    dir.bytes(dirEntry("Workbook", 2, 0xFFFFFFFF, 0, raw.length))
    dir.bytes(new Array[Byte](sectorSize - 256))

    val header = new Buf
    header.bytes(Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)
      .map(_.toByte))
    header.bytes(new Array[Byte](16))
    header.u16(0x003E).u16(0x0003).u16(0xFFFE)
    header.u16(9).u16(6)
    header.bytes(new Array[Byte](6)).u32(0)
    header.u32(1) // numFat
    header.u32(dirSector)
    header.u32(0).u32(4096)
    header.u32(miniFatSector).u32(1) // first miniFAT + count
    header.u32(0xFFFFFFFE).u32(0)
    header.u32(0)
    (1 until 109).foreach(_ => header.u32(0xFFFFFFFF))

    val all = new java.io.ByteArrayOutputStream()
    all.write(header.toArray)
    all.write(fat.toArray.take(sectorSize))
    all.write(padded)
    all.write(miniFat.toArray.take(sectorSize))
    all.write(dir.toArray.take(sectorSize))
    all.toByteArray
  }

  private val sst = IndexedSeq("name", "qty", "price", "flag",
    "alpha", "beta-split-across-continue", "k")

  private final case class Sheet(name: String, rows: Map[Int, Seq[String]])

  /** Every sheet of an .xls as decoded by [[XlsParser.openSheet]]: its
    * rows as cell texts, in column order. */
  private def read(f: Path): Seq[Sheet] = {
    val path = f.toString
    XlsParser.sheetNames(path).map { name =>
      val sheet = XlsParser.openSheet(path, Some(name))
      val rows = mutable.Map.empty[Int, mutable.ArrayBuffer[String]]
      var cells = mutable.ArrayBuffer.empty[String]
      val texts = new XlsxParser.CellSink {
        def row(index: Int): Unit = { cells = mutable.ArrayBuffer.empty; rows(index) = cells }
        def number(col: Int, chars: Array[Char], off: Int, len: Int): Unit =
          cells += new String(chars, off, len)
        def date(col: Int, epochMs: Long): Unit = cells += XlsxParser.dateTimeText(epochMs)
        def shared(col: Int, idx: Int): Unit = cells += sheet.sharedStrings(idx)
        def text(col: Int, s: String): Unit = cells += s
        def bool(col: Int, b: Boolean): Unit = cells += b.toString
      }
      try while (sheet.next(texts)) () finally sheet.close()
      Sheet(name, rows.map { case (r, cs) => r -> cs.toSeq }.toMap)
    }
  }

  private def fixture(): Path = {
    val dir = Files.createTempDirectory("xls-fixture")
    val f = dir.resolve("legacy_book.xls")
    Files.write(f, cfb(workbookStream(sst)))
    f
  }

  test("XlsParser: sheets, SST continue split, RK/MULRK/NUMBER/BOOLERR decode") {
    val f = fixture()
    val sheets = read(f)
    assert(sheets.map(_.name) == Seq("Data", "Other"))
    val rows = sheets.head.rows.toMap
    assert(rows(0) == Seq("name", "qty", "price", "flag"))
    assert(rows(1) == Seq("alpha", "42", "2.5", "true"))
    // the split string reassembles exactly; MULRK decodes both forms
    assert(rows(2) ==
      Seq("beta-split-across-continue", "7", "1.25", "false"))
    assert(sheets(1).rows.toMap.apply(1) == Seq("-5"))
  }

  test("SST unicode strings: UTF-16 segments + mixed-compression CONTINUE split") {
    // one sheet, three strings: ascii, unicode (uncompressed UTF-16LE),
    // and a string split across CONTINUE where the head is written
    // uncompressed and the tail re-flags as compressed — the exact
    // boundary case the per-segment flag byte exists for
    val uni = "prix café ±±"
    val split = "héllo-wörld-123"
    val headChars = 6 // "héllo-" uncompressed, "wörld-123" re-flagged
    def wb(): Array[Byte] = {
      def sheet: Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream()
        b.write(bof(0x0010))
        b.write(record(0x00FD, w => w.u16(0).u16(0).u16(0).u32(0)))
        b.write(record(0x00FD, w => w.u16(1).u16(0).u16(0).u32(1)))
        b.write(record(0x00FD, w => w.u16(2).u16(0).u16(0).u32(2)))
        b.write(eof)
        b.toByteArray
      }
      def globals(s1: Int): Array[Byte] = {
        val b = new java.io.ByteArrayOutputStream()
        b.write(bof(0x0005))
        b.write(record(0x0085, w => w.u32(s1).u16(0)
          .u8(4).u8(0).ascii("Data")))
        b.write(record(0x00FC, w => {
          w.u32(3).u32(3)
          w.u16(5).u8(0).ascii("title") // ascii, compressed
          w.u16(uni.length).u8(1).bytes(uni.getBytes("UTF-16LE"))
          w.u16(split.length).u8(1) // starts uncompressed…
            .bytes(split.substring(0, headChars).getBytes("UTF-16LE"))
        }))
        b.write(record(0x003C, w =>
          // …tail re-flagged compressed: wörld has ö > 0x7F? no — ö IS
          // > 0x7F but fits one byte in the 0-255 range BIFF uses
          w.u8(0).bytes(split.substring(headChars)
            .map(c => c.toByte).toArray)))
        b.write(eof)
        b.toByteArray
      }
      val gLen = globals(0).length
      globals(gLen) ++ sheet
    }
    val dir = Files.createTempDirectory("xls-uni")
    val f = dir.resolve("uni.xls")
    Files.write(f, cfb(wb()))
    val rows = read(f).head.rows.toMap
    assert(rows(0).head == "title")
    assert(rows(1).head == uni)
    assert(rows(2).head == split)
  }

  test("mini-stream container: small workbooks chained through the mini FAT") {
    val dir = Files.createTempDirectory("xls-mini")
    val f = dir.resolve("mini_book.xls")
    Files.write(f, cfbMini(workbookStream(sst)))
    val sheets = read(f)
    assert(sheets.map(_.name) == Seq("Data", "Other"))
    assert(sheets.head.rows.toMap.apply(1) ==
      Seq("alpha", "42", "2.5", "true"))
  }

  test("RK decoding: int, x100, and truncated-double forms") {
    assert(XlsParser.decodeRk(rkInt(42)) == 42.0)
    assert(XlsParser.decodeRk(rkInt(-5)) == -5.0)
    assert(XlsParser.decodeRk(rkIntX100(125)) == 1.25)
    // truncated double: high 30 mantissa/exponent bits of 2.5
    val bits = java.lang.Double.doubleToLongBits(2.5)
    val rk = ((bits >>> 32) & 0xFFFFFFFCL).toInt
    assert(XlsParser.decodeRk(rk) == 2.5)
  }

  test(".xls date cells: FORMAT/XF/DATEMODE -> timestamps (round 7)") {
    // one-sheet workbook with date-styled numerics: XF 1 -> custom
    // format "yyyy-mm-dd" (ifmt 164), XF 2 -> builtin 22 (m/d/yy h:mm)
    def sheet: Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(bof(0x0010))
      def label(row: Int, c: Int, s: String): Array[Byte] =
        record(0x0204, w => w.u16(row).u16(c).u16(0)
          .u16(s.length).u8(0).ascii(s))
      b.write(label(0, 0, "id"))
      b.write(label(0, 1, "when"))
      // serial 45306.5 = 2024-01-15 12:00:00; 36525.25 = 1999-12-31 06:00
      b.write(record(0x027E, w => w.u16(1).u16(0).u16(0).u32(rkInt(1))))
      b.write(record(0x0203, w => w.u16(1).u16(1).u16(1).f64(45306.5)))
      b.write(record(0x027E, w => w.u16(2).u16(0).u16(0).u32(rkInt(2))))
      b.write(record(0x0203, w => w.u16(2).u16(1).u16(2).f64(36525.25)))
      b.write(eof)
      b.toByteArray
    }
    def globals(sPos: Int): Array[Byte] = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(bof(0x0005))
      b.write(record(0x0022, w => w.u16(0))) // DATEMODE: 1900 system
      val code = "yyyy-mm-dd"
      b.write(record(0x041E, w => w.u16(164)
        .u16(code.length).u8(0).ascii(code)))
      def xf(ifmt: Int): Array[Byte] =
        record(0x00E0, w => w.u16(0).u16(ifmt).u16(0)
          .u16(0).u16(0).u16(0).u16(0).u16(0).u16(0).u16(0))
      b.write(xf(0)); b.write(xf(164)); b.write(xf(22))
      b.write(record(0x0085, w => w.u32(sPos).u16(0)
        .u8(5).u8(0).ascii("Dates")))
      b.write(eof)
      b.toByteArray
    }
    val gLen = globals(0).length
    val dir = Files.createTempDirectory("xls-dates")
    val f = dir.resolve("dates.xls")
    Files.write(f, cfb(globals(gLen) ++ sheet))

    val df = spark.read.format("excel").load(f.toString)
    assert(df.schema == StructType(Seq(
      StructField("id", LongType), StructField("when", TimestampType))),
      df.schema.toString)
    val got = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSeq
    assert(got == Seq(
      (1L, "2024-01-15 12:00:00.0"),
      (2L, "1999-12-31 06:00:00.0")), got.toString)
  }

  test("spark.read.format(\"excel\") on .xls: inference, values, sheet option") {
    val f = fixture()
    val df = spark.read.format("excel").load(f.toString)
    assert(df.schema == StructType(Seq(
      StructField("name", StringType), StructField("qty", LongType),
      StructField("price", DoubleType), StructField("flag", StringType))))
    val got = df.orderBy("name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("alpha", 42L, 2.5, "true"),
      ("beta-split-across-continue", 7L, 1.25, "false")))
    val other = spark.read.format("excel").option("sheet", "Other")
      .load(f.toString)
    assert(other.columns.toSeq == Seq("k") &&
      other.collect().map(_.getLong(0)).toSeq == Seq(-5L))
    // column pruning + filter still run through the DSv2 scan
    assert(df.filter(col("qty") > 10).select("name").collect()
      .map(_.getString(0)).toSeq == Seq("alpha"))
  }
}

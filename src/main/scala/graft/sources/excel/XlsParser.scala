package graft.sources.excel

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** Minimal legacy `.xls` (BIFF8) reader: an OLE2/CFB compound-file
  * parser that locates the `Workbook` stream, plus a BIFF8 record
  * decoder covering the cell records real-world sheets use —
  * SST/CONTINUE shared strings (including mid-string continuation with
  * re-specified flags), LABELSST, LABEL, NUMBER, RK, MULRK, BOOLERR,
  * and FORMULA cached results (numeric, boolean, and STRING-record
  * string results).
  *
  * The reference reads `.xls` through pandas/xlrd
  * (reference query_iterator.py:63-65 matches both extensions,
  * fsheet.py:34 loads either) — this closes the same surface natively.
  * Like the xlsx path, this is the single-machine ingest edge: one
  * workbook parses within one input partition (BIFF caps at 65,536
  * rows/sheet); parallelism comes from many files.
  */
object XlsParser {

  import XlsxParser.{CellSink, SheetRows}

  def isXls(path: String): Boolean = path.toLowerCase.endsWith(".xls")

  /** Sheet names only — parses just the globals substream (BOUNDSHEET
    * records + SST), no cell data.
    */
  def sheetNames(path: String): Seq[String] = globals(path).bounds.map(_._1)

  /** One sheet (default: the first), replayed row by row in row order
    * into the same [[CellSink]] the xlsx decoder feeds. Parses the
    * globals substream once and then ONLY the requested sheet's
    * substream (its BOF offset comes from BOUNDSHEET) — other sheets in
    * the workbook are never decoded, so per-sheet input partitions and
    * bounded-sample schema inference don't pay for the whole file.
    */
  def openSheet(path: String, sheetOpt: Option[String]): SheetRows = {
    val g = globals(path)
    val bofPos = sheetOpt match {
      case Some(s) => g.bounds.find(_._1 == s).getOrElse(
        throw new IllegalArgumentException(
          s"excel: sheet '$s' not found in $path; has: ${g.bounds.map(_._1).mkString(", ")}"))._2
      case None => g.bounds.head._2
    }
    val rows = parseSheet(g, bofPos)
    new SheetRows {
      val sharedStrings: Array[String] = g.sst.toArray
      private val it = rows.iterator
      def next(sink: CellSink): Boolean = it.hasNext && {
        val (row, cells) = it.next()
        sink.row(row)
        cells.foreach(_._2(sink))
        true
      }
      def close(): Unit = ()
    }
  }

  private def globals(path: String): Globals = {
    val stream = Cfb.workbookStream(Files.readAllBytes(Paths.get(path)), path)
    parseGlobals(stream)
  }

  // ---- OLE2 / CFB container --------------------------------------------

  private object Cfb {
    private val EndOfChain = 0xFFFFFFFE
    private val FreeSect = 0xFFFFFFFF

    private def u16(b: Array[Byte], off: Int): Int =
      (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
    private def i32(b: Array[Byte], off: Int): Int =
      ByteBuffer.wrap(b, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt

    /** Extract the `Workbook` (or `Book`) stream bytes. */
    def workbookStream(file: Array[Byte], path: String): Array[Byte] = {
      require(file.length >= 512 &&
          (0 until 8).forall(i => (file(i) & 0xFF) ==
            Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1)(i)),
        s"excel: $path is not an OLE2 compound file (.xls)")
      val sectorSize = 1 << u16(file, 30)
      val miniSectorSize = 1 << u16(file, 32)
      val numFat = i32(file, 44)
      val firstDir = i32(file, 48)
      val miniCutoff = i32(file, 56)
      val firstMiniFat = i32(file, 60)
      val firstDifat = i32(file, 68)
      val numDifat = i32(file, 72)

      def sector(id: Int): Array[Byte] = {
        val off = (id + 1) * sectorSize
        java.util.Arrays.copyOfRange(file, off,
          math.min(off + sectorSize, file.length))
      }

      // DIFAT: 109 header entries + chained difat sectors
      val fatSectorIds = mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i < 109 && fatSectorIds.length < numFat) {
        val v = i32(file, 76 + i * 4)
        if (v != FreeSect && v != EndOfChain) fatSectorIds += v
        i += 1
      }
      var difat = firstDifat
      var difatSeen = 0
      while (difat != EndOfChain && difat != FreeSect && difatSeen < numDifat) {
        val s = sector(difat)
        val perSector = sectorSize / 4 - 1
        var j = 0
        while (j < perSector && fatSectorIds.length < numFat) {
          val v = i32(s, j * 4)
          if (v != FreeSect && v != EndOfChain) fatSectorIds += v
          j += 1
        }
        difat = i32(s, sectorSize - 4)
        difatSeen += 1
      }
      val fat: Array[Int] = fatSectorIds.toArray.flatMap { sid =>
        val s = sector(sid)
        (0 until sectorSize / 4).map(j => i32(s, j * 4))
      }

      def chain(start: Int, limit: Long): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        var cur = start
        var guard = 0
        while (cur != EndOfChain && cur != FreeSect && cur >= 0 &&
            out.size < limit && guard <= fat.length) {
          out.write(sector(cur))
          cur = if (cur < fat.length) fat(cur) else EndOfChain
          guard += 1
        }
        out.toByteArray
      }

      // directory entries (128 bytes each)
      val dir = chain(firstDir, Long.MaxValue)
      final case class Entry(name: String, objType: Int, start: Int, size: Long)
      val entries = (0 until dir.length / 128).map { e =>
        val off = e * 128
        val nameLen = u16(dir, off + 64)
        val name =
          if (nameLen >= 2)
            new String(dir, off, nameLen - 2, java.nio.charset.StandardCharsets.UTF_16LE)
          else ""
        val size = i32(dir, off + 120).toLong & 0xFFFFFFFFL
        Entry(name, dir(off + 66) & 0xFF, i32(dir, off + 116), size)
      }
      val root = entries.headOption.getOrElse(
        throw new IllegalArgumentException(s"excel: $path has no CFB root entry"))
      val wb = entries.find(e => e.name == "Workbook" || e.name == "Book")
        .getOrElse(throw new IllegalArgumentException(
          s"excel: $path contains no Workbook stream (streams: " +
            entries.filter(_.objType == 2).map(_.name).mkString(", ") + ")"))

      if (wb.size >= miniCutoff) {
        java.util.Arrays.copyOf(chain(wb.start, wb.size), wb.size.toInt)
      } else {
        // small stream: lives in the root entry's mini stream, chained
        // through the mini FAT in 64-byte mini sectors
        val miniStream = chain(root.start, Long.MaxValue)
        val miniFatBytes = chain(firstMiniFat, Long.MaxValue)
        val miniFat = (0 until miniFatBytes.length / 4)
          .map(j => i32(miniFatBytes, j * 4)).toArray
        val out = new java.io.ByteArrayOutputStream()
        var cur = wb.start
        var guard = 0
        while (cur != EndOfChain && cur != FreeSect && cur >= 0 &&
            out.size < wb.size && guard <= miniFat.length) {
          val off = cur * miniSectorSize
          out.write(java.util.Arrays.copyOfRange(miniStream, off,
            math.min(off + miniSectorSize, miniStream.length)))
          cur = if (cur < miniFat.length) miniFat(cur) else EndOfChain
          guard += 1
        }
        java.util.Arrays.copyOf(out.toByteArray, wb.size.toInt)
      }
    }
  }

  // ---- BIFF8 records ---------------------------------------------------

  private object Rec {
    val Bof = 0x0809
    val Eof = 0x000A
    val BoundSheet = 0x0085
    val Sst = 0x00FC
    val Continue = 0x003C
    val LabelSst = 0x00FD
    val Label = 0x0204
    val Number = 0x0203
    val Rk = 0x027E
    val MulRk = 0x00BD
    val BoolErr = 0x0205
    val Formula = 0x0006
    val StringRec = 0x0207
    val FormatRec = 0x041E
    val Xf = 0x00E0
    val DateMode = 0x0022
    val SharedFmla = 0x04BC
    val ArrayRec = 0x0221
    val TableRec = 0x0236
  }

  private final case class RawRecord(id: Int, data: Array[Byte], pos: Int)

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def i32(b: Array[Byte], off: Int): Int =
    ByteBuffer.wrap(b, off, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
  private def f64(b: Array[Byte], off: Int): Double =
    ByteBuffer.wrap(b, off, 8).order(ByteOrder.LITTLE_ENDIAN).getDouble

  private def records(stream: Array[Byte], from: Int): Iterator[RawRecord] =
    new Iterator[RawRecord] {
      private var pos = from
      override def hasNext: Boolean =
        pos + 4 <= stream.length && {
          val id = u16(stream, pos)
          id != 0 // zero-padding tail (fixture/round-sector writers)
        }
      override def next(): RawRecord = {
        val id = u16(stream, pos)
        val len = u16(stream, pos + 2)
        val data = java.util.Arrays.copyOfRange(stream, pos + 4, pos + 4 + len)
        val r = RawRecord(id, data, pos)
        pos += 4 + len
        r
      }
    }

  /** RK-encoded number: bit0 = ×1/100, bit1 = integer-vs-truncated-double. */
  private[excel] def decodeRk(rk: Int): Double = {
    val base =
      if ((rk & 2) != 0) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    if ((rk & 1) != 0) base / 100.0 else base
  }

  /** Render a BIFF numeric cell the way the xlsx path sees numbers in
    * XML: integral doubles print without a decimal point, so schema
    * inference types whole-number columns as long on both paths.
    */
  private[excel] def numToString(d: Double): String =
    if (d == math.rint(d) && !d.isInfinite && math.abs(d) < 1e15)
      d.toLong.toString
    else d.toString

  /** Cursor over the SST record's payload and its CONTINUE records —
    * handles the BIFF8 quirk that a string's character run may split at
    * a record boundary, where the continuation re-specifies the
    * compression flag byte for the remaining characters.
    */
  private final class SstCursor(segments: IndexedSeq[Array[Byte]]) {
    private var seg = 0
    private var off = 0
    private def remainingInSeg: Int =
      if (seg >= segments.length) 0 else segments(seg).length - off
    private def advanceSeg(): Unit = { seg += 1; off = 0 }
    def readU8(): Int = {
      if (remainingInSeg == 0) advanceSeg()
      val v = segments(seg)(off) & 0xFF
      off += 1
      v
    }
    def readU16(): Int = readU8() | (readU8() << 8)
    def readI32(): Int =
      readU16() | (readU16() << 16)
    /** Read `cch` characters honoring per-segment compression re-flags. */
    def readChars(cch: Int, firstFlags: Int): String = {
      val sb = new StringBuilder
      var left = cch
      var highByte = (firstFlags & 1) != 0
      while (left > 0) {
        if (remainingInSeg == 0) {
          advanceSeg()
          // continuation mid-string: fresh option byte
          highByte = (readU8() & 1) != 0
        }
        val avail = remainingInSeg
        val charBytes = if (highByte) 2 else 1
        val take = math.min(left, avail / charBytes)
        if (take == 0 && avail > 0 && highByte) {
          // a split UTF-16 pair across segments cannot occur per spec
          // (writers break on character boundaries); guard anyway
          throw new IllegalArgumentException("excel: torn UTF-16 pair in SST")
        }
        val s = segments(seg)
        if (highByte) {
          sb.append(new String(s, off, take * 2,
            java.nio.charset.StandardCharsets.UTF_16LE))
          off += take * 2
        } else {
          var i = 0
          while (i < take) { sb.append((s(off + i) & 0xFF).toChar); i += 1 }
          off += take
        }
        left -= take
      }
      sb.toString
    }
    /** Skip `n` bytes that may span segments (rich runs / ext data). */
    def skip(n: Int): Unit = {
      var left = n
      while (left > 0) {
        if (remainingInSeg == 0) advanceSeg()
        val take = math.min(left, remainingInSeg)
        off += take
        left -= take
      }
    }
  }

  /** Decode the shared-string table from the SST record + following
    * CONTINUE records.
    */
  private def parseSst(sst: RawRecord,
      continues: Seq[RawRecord]): IndexedSeq[String] = {
    val unique = i32(sst.data, 4)
    val cur = new SstCursor(
      (java.util.Arrays.copyOfRange(sst.data, 8, sst.data.length) +:
        continues.map(_.data)).toIndexedSeq)
    (0 until unique).map { _ =>
      val cch = cur.readU16()
      val flags = cur.readU8()
      val cRun = if ((flags & 8) != 0) cur.readU16() else 0
      val cbExt = if ((flags & 4) != 0) cur.readI32() else 0
      val s = cur.readChars(cch, flags)
      cur.skip(cRun * 4 + cbExt)
      s
    }
  }

  /** One XLUnicodeString (cch16 + flags + chars) inside a single record —
    * BOUNDSHEET names (cch8) and LABEL/STRING (cch16) both reduce to it.
    */
  private def readInlineString(b: Array[Byte], off: Int, cch: Int,
      flags: Int): String =
    if ((flags & 1) != 0)
      new String(b, off, cch * 2, java.nio.charset.StandardCharsets.UTF_16LE)
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < cch) { sb.append((b(off + i) & 0xFF).toChar); i += 1 }
      sb.toString
    }

  /** Workbook-global state: the raw stream, sheet directory, SST, the
    * per-XF date flags (FORMAT + XF records, same builtin-id ranges and
    * custom-code heuristic as the xlsx styles path), and the DATEMODE
    * 1904-epoch flag.
    */
  private final case class Globals(stream: Array[Byte],
      bounds: Vector[(String, Int)], sst: IndexedSeq[String],
      xfIsDate: IndexedSeq[Boolean], date1904: Boolean)

  private def parseGlobals(stream: Array[Byte]): Globals = {
    // ---- globals substream: BOUNDSHEETs + SST + FORMAT/XF/DATEMODE
    var bounds = Vector.empty[(String, Int)] // (name, sheet BOF position)
    var sstStrings: IndexedSeq[String] = IndexedSeq.empty
    val customFmts = mutable.Map.empty[Int, String] // ifmt -> format code
    val xfIfmts = mutable.ArrayBuffer.empty[Int]    // XF order -> ifmt
    var date1904 = false
    val it = records(stream, 0).buffered
    var done = false
    while (it.hasNext && !done) {
      val r = it.next()
      r.id match {
        case Rec.BoundSheet =>
          val bofPos = i32(r.data, 0)
          val cch = r.data(6) & 0xFF
          val flags = r.data(7) & 0xFF
          bounds :+= (readInlineString(r.data, 8, cch, flags), bofPos)
        case Rec.Sst =>
          val conts = mutable.ArrayBuffer.empty[RawRecord]
          while (it.hasNext && it.head.id == Rec.Continue) conts += it.next()
          sstStrings = parseSst(r, conts.toSeq)
        case Rec.FormatRec if r.data.length >= 5 =>
          val ifmt = u16(r.data, 0)
          val cch = u16(r.data, 2)
          val flags = r.data(4) & 0xFF
          customFmts(ifmt) = readInlineString(r.data, 5, cch, flags)
        case Rec.Xf if r.data.length >= 4 =>
          xfIfmts += u16(r.data, 2)
        case Rec.DateMode if r.data.length >= 2 =>
          date1904 = u16(r.data, 0) == 1
        case Rec.Eof => done = true
        case _ => ()
      }
    }
    def isDateFmt(ifmt: Int): Boolean =
      (ifmt >= 14 && ifmt <= 22) || (ifmt >= 27 && ifmt <= 36) ||
        (ifmt >= 45 && ifmt <= 47) ||
        customFmts.get(ifmt).exists(XlsxParser.isDateFormatCode)
    Globals(stream, bounds, sstStrings,
      xfIfmts.map(isDateFmt).toIndexedSeq, date1904)
  }

  /** A decoded cell: its column and how it reports itself to a sink. */
  private type XlsCell = (Int, CellSink => Unit)

  /** One sheet substream, starting at its BOUNDSHEET-recorded BOF: its
    * rows in row order, each row's cells in column order.
    */
  private def parseSheet(g: Globals, bofPos: Int): IndexedSeq[(Int, IndexedSeq[XlsCell])] = {
    val stream = g.stream
    val sstStrings = g.sst
    locally {
      val cells = mutable.SortedMap.empty[Int, mutable.ArrayBuffer[XlsCell]]
      def add(row: Int, col: Int, emit: CellSink => Unit): Unit =
        cells.getOrElseUpdate(row, mutable.ArrayBuffer.empty) += ((col, emit))
      def text(row: Int, col: Int, s: String): Unit = add(row, col, _.text(col, s))
      def bool(row: Int, col: Int, b: Boolean): Unit = add(row, col, _.bool(col, b))
      // a numeric cell whose XF carries a date format is a DATE — the
      // same style-based storage as xlsx (serial + format), so legacy
      // workbooks get the identical pandas-datetime64 parity
      def num(row: Int, col: Int, ixfe: Int, d: Double): Unit =
        if (ixfe >= 0 && ixfe < g.xfIsDate.length && g.xfIsDate(ixfe)) {
          val ms = XlsxParser.serialToMillis(d, g.date1904)
          add(row, col, _.date(col, ms))
        } else {
          val t = numToString(d).toCharArray
          add(row, col, _.number(col, t, 0, t.length))
        }
      val rit = records(stream, bofPos).buffered
      var inSheet = true
      if (rit.hasNext && rit.head.id == Rec.Bof) rit.next()
      while (rit.hasNext && inSheet) {
        val r = rit.next()
        r.id match {
          case Rec.Eof => inSheet = false
          case Rec.Bof => inSheet = false // next substream began
          case Rec.LabelSst =>
            val isst = i32(r.data, 6)
            val col = u16(r.data, 2)
            if (isst >= 0 && isst < sstStrings.length) add(u16(r.data, 0), col, _.shared(col, isst))
            else text(u16(r.data, 0), col, "")
          case Rec.Label =>
            val cch = u16(r.data, 6)
            val flags = r.data(8) & 0xFF
            text(u16(r.data, 0), u16(r.data, 2), readInlineString(r.data, 9, cch, flags))
          case Rec.Number =>
            num(u16(r.data, 0), u16(r.data, 2), u16(r.data, 4), f64(r.data, 6))
          case Rec.Rk =>
            num(u16(r.data, 0), u16(r.data, 2), u16(r.data, 4), decodeRk(i32(r.data, 6)))
          case Rec.MulRk =>
            val row = u16(r.data, 0)
            val colFirst = u16(r.data, 2)
            val n = (r.data.length - 6) / 6
            var k = 0
            while (k < n) {
              num(row, colFirst + k, u16(r.data, 4 + k * 6),
                decodeRk(i32(r.data, 4 + k * 6 + 2)))
              k += 1
            }
          case Rec.BoolErr =>
            val isErr = (r.data(7) & 0xFF) != 0
            // error cells read as empty (pandas: NaN)
            if (isErr) text(u16(r.data, 0), u16(r.data, 2), "")
            else bool(u16(r.data, 0), u16(r.data, 2), (r.data(6) & 0xFF) != 0)
          case Rec.Formula =>
            val row = u16(r.data, 0)
            val colIdx = u16(r.data, 2)
            if (u16(r.data, 12) == 0xFFFF) {
              (r.data(6) & 0xFF) match {
                case 0 => // string result: value in the following STRING record.
                  // Real writers interleave SHAREDFMLA/ARRAY/TABLE (and
                  // CONTINUE) between FORMULA and STRING — skip them all.
                  while (rit.hasNext && (rit.head.id == Rec.Continue ||
                      rit.head.id == Rec.SharedFmla ||
                      rit.head.id == Rec.ArrayRec ||
                      rit.head.id == Rec.TableRec)) rit.next()
                  if (rit.hasNext && rit.head.id == Rec.StringRec) {
                    val sr = rit.next()
                    val cch = u16(sr.data, 0)
                    val flags = sr.data(2) & 0xFF
                    text(row, colIdx, readInlineString(sr.data, 3, cch, flags))
                  } else {
                    // missing STRING record: empty string per spec, never
                    // a silently dropped cell
                    text(row, colIdx, "")
                  }
                case 1 => // boolean result
                  bool(row, colIdx, (r.data(8) & 0xFF) != 0)
                case _ => () // error / empty result
              }
            } else {
              num(row, colIdx, u16(r.data, 4), f64(r.data, 6))
            }
          case _ => ()
        }
      }
      cells.iterator.map { case (row, cs) =>
        (row, cs.sortBy(_._1).toIndexedSeq)
      }.toIndexedSeq
    }
  }
}

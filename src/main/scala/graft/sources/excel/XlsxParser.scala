package graft.sources.excel

import java.io.InputStream
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}
import scala.collection.mutable

/** Low-level xlsx (OOXML spreadsheet) parsing on top of `java.util.zip` +
  * StAX — no POI dependency exists in this environment (SURVEY.md §7:
  * xlsx = zip+XML). Streaming parse: worksheet XML is never materialized
  * as a DOM, and a sheet is decoded one row at a time, so memory stays
  * O(row) regardless of sheet size.
  *
  * Supports the cell types the format uses in practice:
  * `n` (number, default), `s` (sharedStrings index), `inlineStr`
  * (what the reference's committed workbook uses — it has no
  * sharedStrings.xml part), `str` (formula result), `b` (boolean).
  * Each cell is reported once, in the form the file stores it, to a
  * [[CellSink]]; the sink converts it to whatever its column needs.
  */
object XlsxParser {

  /** Receives the cells of a sheet from a decoder (the xlsx
    * [[openSheet]] or [[XlsParser.openSheet]]), row by row, each in the
    * form the file stores it. An empty number or text is a blank cell.
    */
  trait CellSink {
    /** A row begins; `index` is its 0-based row number in the sheet. */
    def row(index: Int): Unit
    /** A number cell; its text as written is `chars(off until off + len)`. */
    def number(col: Int, chars: Array[Char], off: Int, len: Int): Unit
    /** A number cell with a date/time style, as epoch millis (UTC wall
      * time — xlsx dates are zone-less; the engine pins sessions to UTC). */
    def date(col: Int, epochMs: Long): Unit
    /** A string cell holding entry `idx` of [[SheetRows.sharedStrings]]. */
    def shared(col: Int, idx: Int): Unit
    /** A string cell with its own text (inline string, formula result). */
    def text(col: Int, s: String): Unit
    /** A boolean cell. */
    def bool(col: Int, b: Boolean): Unit
  }

  /** One sheet, decoded a row at a time. */
  trait SheetRows extends AutoCloseable {
    /** The workbook's shared strings, as [[CellSink.shared]] indexes them. */
    def sharedStrings: Array[String]
    /** Decode the next row into `sink`; false after the last row. */
    def next(sink: CellSink): Boolean
  }

  /** Excel's 1900-system day-0 (1899-12-30T00:00:00Z — the offset that
    * absorbs the format's historical 1900 leap-year quirk for all
    * modern serials) and the 1904-system epoch, as epoch millis.
    */
  private val Epoch1900Ms = -2209161600000L
  private val Epoch1904Ms = -2082844800000L
  private val MsPerDay = 86400000L

  /** Excel date serial → epoch millis. Rounded to milliseconds: a serial
    * double carries ~µs precision for modern dates, and rounding undoes
    * the binary-fraction noise of time-of-day arithmetic.
    */
  def serialToMillis(serial: Double, date1904: Boolean): Long =
    Math.round(serial * MsPerDay) + (if (date1904) Epoch1904Ms else Epoch1900Ms)

  /** Inverse of [[serialToMillis]], for writers. */
  def millisToSerial(epochMs: Long, date1904: Boolean = false): Double = {
    val epoch = if (date1904) Epoch1904Ms else Epoch1900Ms
    (epochMs - epoch).toDouble / MsPerDay
  }

  /** Epoch millis → `yyyy-MM-dd HH:mm:ss[.SSS]`, the text a date cell
    * reads as in a string column or a header.
    */
  def dateTimeText(epochMs: Long): String = {
    val dt = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(epochMs), java.time.ZoneOffset.UTC)
    val base = f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d " +
      f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
    val millis = dt.getNano / 1000000
    if (millis == 0) base else f"$base.$millis%03d"
  }

  /** Epoch millis of 0000-01-01 and 10000-01-01: a date outside them has
    * no `yyyy` text, so it reads as null in a timestamp column.
    */
  val MinTextMs: Long = -62167219200000L
  val MaxTextMs: Long = 253402300800000L

  /** Is a custom number-format code a DATE/TIME format? The openpyxl /
    * pandas heuristic: any of the date-token letters (y m d h s)
    * appearing OUTSIDE quoted literals, `[...]` sections (colors,
    * conditions — but `[h]`/`[mm]`/`[ss]` elapsed-time tokens DO count),
    * and backslash-escaped characters.
    */
  def isDateFormatCode(code: String): Boolean = {
    var i = 0
    var inQuote = false
    while (i < code.length) {
      val c = code.charAt(i)
      if (inQuote) { if (c == '"') inQuote = false; i += 1 }
      else c match {
        case '"' => inQuote = true; i += 1
        case '\\' => i += 2
        case '[' =>
          val close = code.indexOf(']', i)
          val section = if (close < 0) code.substring(i + 1)
            else code.substring(i + 1, close)
          // elapsed-time tokens like [h] [mm] [ss] are date formats
          if (section.nonEmpty &&
              section.forall(ch => "hmsHMS".indexOf(ch) >= 0)) return true
          i = if (close < 0) code.length else close + 1
        case ch if "ymdhsYMDHS".indexOf(ch) >= 0 => return true
        case _ => i += 1
      }
    }
    false
  }

  /** Per style index (the `s=` attribute of cells): is its number format
    * a date/time format — a builtin date id (14-22, 27-36, 45-47) or a
    * custom format code [[isDateFormatCode]] recognizes. Empty when the
    * workbook has no styles part.
    */
  private def dateStyles(zip: ZipFile): Array[Boolean] = {
    val e = zip.getEntry("xl/styles.xml")
    if (e == null) return Array.empty
    val custom = mutable.Map.empty[Int, String] // numFmtId -> code
    val xfFmts = mutable.ArrayBuffer.empty[Int] // xf order -> numFmtId
    var inCellXfs = false
    val r = xmlReader(zip.getInputStream(e))
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "numFmt" =>
            val id = attr(r, "numFmtId"); val code = attr(r, "formatCode")
            if (id != null && code != null) custom(id.toInt) = code
          case "cellXfs" => inCellXfs = true
          case "xf" if inCellXfs =>
            xfFmts += Option(attr(r, "numFmtId")).fold(0)(_.toInt)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT if r.getLocalName == "cellXfs" =>
          inCellXfs = false
        case _ =>
      }
    } finally r.close()
    def isDateFmt(id: Int): Boolean =
      (id >= 14 && id <= 22) || (id >= 27 && id <= 36) ||
        (id >= 45 && id <= 47) ||
        custom.get(id).exists(isDateFormatCode)
    xfFmts.map(isDateFmt).toArray
  }

  /** One StAX factory per thread: `XMLInputFactory.newInstance()` looks
    * the implementation up on the classpath on every call, and a factory
    * is not specified to be thread-safe.
    */
  private val factory: ThreadLocal[XMLInputFactory] = ThreadLocal.withInitial { () =>
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    // hardening: never resolve external entities from untrusted workbooks
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def xmlReader(in: InputStream): XMLStreamReader =
    factory.get.createXMLStreamReader(in)

  /** Value of the attribute with local name `name` on the current element. */
  private def attr(r: XMLStreamReader, name: String): String = {
    var i = 0
    while (i < r.getAttributeCount) {
      if (r.getAttributeLocalName(i) == name) return r.getAttributeValue(i)
      i += 1
    }
    null
  }

  /** Column letters of an `r="BC42"` cell reference → 0-based index. */
  def colIndex(cellRef: String): Int = {
    var i = 0; var acc = 0
    while (i < cellRef.length && cellRef.charAt(i).isLetter) {
      acc = acc * 26 + (cellRef.charAt(i) - 'A' + 1); i += 1
    }
    acc - 1
  }

  /** workbook.xml: sheet names with their relationship ids, in workbook
    * order, and the `date1904` flag (Mac-epoch serials).
    */
  private def workbook(zip: ZipFile): (Seq[(String, String)], Boolean) = {
    val wb = zip.getEntry("xl/workbook.xml")
    require(wb != null, "not an xlsx: missing xl/workbook.xml")
    val sheets = mutable.ArrayBuffer.empty[(String, String)] // (name, rid)
    var date1904 = false
    val r = xmlReader(zip.getInputStream(wb))
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT) r.getLocalName match {
          case "sheet" =>
            val name = attr(r, "name"); val rid = attr(r, "id")
            if (name != null && rid != null) sheets += ((name, rid))
          case "workbookPr" =>
            val v = attr(r, "date1904")
            if (v != null) date1904 = v == "1" || v.equalsIgnoreCase("true")
          case _ =>
        }
      }
    } finally r.close()
    (sheets.toSeq, date1904)
  }

  /** workbook.xml.rels: relationship id → part path inside the zip. */
  private def relationships(zip: ZipFile): Map[String, String] = {
    val rels = zip.getEntry("xl/_rels/workbook.xml.rels")
    if (rels == null) return Map.empty
    val ridToTarget = mutable.Map.empty[String, String]
    val r = xmlReader(zip.getInputStream(rels))
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT
          && r.getLocalName == "Relationship") {
          val id = attr(r, "Id"); val target = attr(r, "Target")
          if (id != null && target != null) {
            val t = if (target.startsWith("/")) target.drop(1)
                    else if (target.startsWith("xl/")) target
                    else "xl/" + target
            ridToTarget(id) = t
          }
        }
      }
    } finally r.close()
    ridToTarget.toMap
  }

  /** sharedStrings.xml → indexed string table (absent part → empty).
    * An item's text is its runs' `<t>` texts concatenated; phonetic
    * guides (`<rPh>`) are not part of the value.
    */
  private def sharedStrings(zip: ZipFile): Array[String] = {
    val e = zip.getEntry("xl/sharedStrings.xml")
    if (e == null) return Array.empty
    val out = mutable.ArrayBuffer.empty[String]
    val r = xmlReader(zip.getInputStream(e))
    val sb = new java.lang.StringBuilder
    var inSi = false
    var inRph = false
    try {
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "si" => inSi = true; sb.setLength(0)
          case "rPh" => inRph = true
          case "t" if inSi && !inRph => sb.append(r.getElementText)
          case _ =>
        }
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "si" => inSi = false; out += sb.toString
          case "rPh" => inRph = false
          case _ =>
        }
        case _ =>
      }
    } finally r.close()
    out.toArray
  }

  /** Open one sheet of the workbook at `path` (default: the first) for
    * row-at-a-time decoding. Closing the result closes the file.
    */
  def openSheet(path: String, sheetOpt: Option[String]): SheetRows = {
    val zip = new ZipFile(path)
    try {
      val (sheets, date1904) = workbook(zip)
      val rid = sheetOpt match {
        case Some(s) => sheets.find(_._1 == s).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"excel: sheet '$s' not found in $path; has: ${sheets.map(_._1).mkString(", ")}"))
        case None => sheets.head._2
      }
      val entryPath = relationships(zip).getOrElse(rid, "xl/worksheets/sheet1.xml")
      val e = zip.getEntry(entryPath)
      require(e != null, s"xlsx: missing worksheet entry $entryPath")
      new SheetCursor(zip, sharedStrings(zip), dateStyles(zip), date1904,
        xmlReader(zip.getInputStream(e)))
    } catch { case t: Throwable => zip.close(); throw t }
  }

  // cell kinds, from the `t=` attribute
  private final val Num = 0
  private final val Shared = 1
  private final val Bool = 2
  private final val Str = 3
  private final val Inline = 4

  /** The one worksheet decode loop: walks the StAX tokens of a row and
    * reports each cell once. Text is copied out of the parser's buffer
    * into a reused char array; only string cells allocate a String.
    */
  private final class SheetCursor(zip: ZipFile, val sharedStrings: Array[String],
      dateStyle: Array[Boolean], date1904: Boolean, r: XMLStreamReader)
      extends SheetRows {
    private var rowIdx = -1
    private var buf = new Array[Char](64)
    private var len = 0

    private def append(): Unit = {
      val n = r.getTextLength
      if (len + n > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
      System.arraycopy(r.getTextCharacters, r.getTextStart, buf, len, n)
      len += n
    }

    private def trimmed: String = new String(buf, 0, len).trim

    def next(sink: CellSink): Boolean = {
      var col = -1
      var autoCol = -1 // fallback when the r= attribute is absent
      var kind = Num
      var style = -1
      var inV = false
      var inT = false
      var inRph = false
      var sawT = false
      while (r.hasNext) r.next() match {
        case XMLStreamConstants.START_ELEMENT => r.getLocalName match {
          case "c" =>
            kind = Num; style = -1; len = 0; sawT = false
            col = autoCol + 1; autoCol = col
            var i = 0
            while (i < r.getAttributeCount) {
              r.getAttributeLocalName(i) match {
                case "r" => col = colIndex(r.getAttributeValue(i)); autoCol = col
                case "t" => kind = r.getAttributeValue(i) match {
                  case "s" => Shared
                  case "b" => Bool
                  case "str" => Str
                  case "inlineStr" => Inline
                  case _ => Num
                }
                case "s" => style =
                  try r.getAttributeValue(i).toInt catch { case _: NumberFormatException => -1 }
                case _ =>
              }
              i += 1
            }
          case "v" => inV = true; len = 0
          case "t" => if (!inRph) { inT = true; sawT = true }
          case "rPh" => inRph = true
          case "row" =>
            rowIdx += 1
            // honour an explicit r="n" row index (1-based) for sparse rows
            val ri = attr(r, "r")
            if (ri != null) rowIdx = ri.toInt - 1
            sink.row(rowIdx)
          case _ =>
        }
        case XMLStreamConstants.CHARACTERS if inV || inT => append()
        case XMLStreamConstants.END_ELEMENT => r.getLocalName match {
          case "v" =>
            inV = false
            kind match {
              case Shared =>
                val idx = trimmed.toInt
                if (idx < sharedStrings.length) sink.shared(col, idx) else sink.text(col, "")
              case Bool => sink.bool(col, trimmed == "1")
              case Str => sink.text(col, new String(buf, 0, len))
              case _ =>
                // a number cell with a DATE number format is a date —
                // how xlsx actually stores dates (serial + style);
                // pandas converts these to datetime64 (SURVEY.md §1.2
                // row 3), so parity requires the same here
                var isDate = style >= 0 && style < dateStyle.length && dateStyle(style)
                val s = if (!isDate) 0.0
                  else try trimmed.toDouble catch { case _: NumberFormatException => isDate = false; 0.0 }
                if (isDate) sink.date(col, serialToMillis(s, date1904))
                else sink.number(col, buf, 0, len)
            }
          case "t" => inT = false
          case "rPh" => inRph = false
          case "c" =>
            // an inline string's runs, concatenated
            if (kind == Inline && sawT) sink.text(col, new String(buf, 0, len))
          case "row" => return true
          case _ =>
        }
        case _ =>
      }
      false
    }

    def close(): Unit = try r.close() finally zip.close()
  }
}

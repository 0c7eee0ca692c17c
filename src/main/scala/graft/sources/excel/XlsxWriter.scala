package graft.sources.excel

import java.io.OutputStream
import java.nio.file.Paths
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.sinks.AtomicFile

/** Minimal xlsx writer: one workbook, N sheets, header row.
  *
  * Strings are dictionary-encoded through a `sharedStrings.xml` part by
  * default — the standard xlsx layout, and the difference between a
  * linear-size and a bloated workbook when a column repeats values
  * (every occurrence of a string after the first costs ~14 bytes of
  * `<c t="s"><v>idx</v></c>` instead of the full text). The dictionary
  * is built incrementally while sheets stream out and the part is
  * written last (zip parts are order-independent), so streaming is
  * preserved; driver memory holds the DISTINCT strings only.
  *
  * Data is pulled with `toLocalIterator` so the driver never holds more
  * than one partition of rows; a single .xlsx is inherently a single
  * file, so a driver-side funnel is the correct (and only) topology —
  * the distributed part of the job is everything upstream of the sink.
  */
object XlsxWriter {

  private def colRef(c: Int): String = {
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ()
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Write `sheets` (name → DataFrame) into one workbook at `path`.
    * `maxRows` caps the per-sheet data rows: the default is the xlsx
    * format's own sheet limit (1,048,576 rows incl. the header), past
    * which the workbook would be invalid anyway — rows stream through
    * `toLocalIterator`, so the cap guards runtime and output sanity, not
    * driver memory. Exceeding it raises, pointing large exports at
    * parquet instead.
    *
    * The workbook is built in a temp file next to `path` (its name ends
    * in `.tmp`, so directory listings of workbooks skip it) and renamed
    * into place: a failed write — the row cap, a query that throws —
    * leaves the previous file at `path` as it was.
    */
  def write(path: String, sheets: Seq[(String, DataFrame)],
      maxRows: Int = 1048575): Unit = {
    require(maxRows > 0, s"XlsxWriter: maxRows must be positive (got $maxRows)")
    AtomicFile.write(Paths.get(path).toAbsolutePath)(
      writeZip(_, sheets, maxRows))
  }

  private def writeZip(out: OutputStream, sheets: Seq[(String, DataFrame)],
      maxRows: Int): Unit = {
    val zos = new ZipOutputStream(out)
    def entry(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    // insertion-ordered string dictionary, built while sheets stream
    val sstIndex = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var sstRefs = 0L
    def sstRef(s: String): Int = {
      sstRefs += 1
      sstIndex.getOrElseUpdate(s, sstIndex.size)
    }
    try {
      val n = sheets.length
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
        """<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>""" +
        (1 to n).map(i =>
          s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
        ).mkString +
        """</Types>""")
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((name, _), i) =>
          s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
        }.mkString +
        """</sheets></workbook>""")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        (1 to n).map(i =>
          s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>"""
        ).mkString +
        s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
        s"""<Relationship Id="rId${n + 2}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>""" +
        """</Relationships>""")
      // styles: xf 0 = general; xf 1 = datetime (builtin numFmt 22,
      // "m/d/yy h:mm"); xf 2 = date (builtin 14, "m/d/yy"). Written for
      // every workbook so timestamp/date cells always have a style to
      // reference — readers (ours, pandas/openpyxl) detect dates by it.
      entry("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
        """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>""" +
        """<borders count="1"><border/></borders>""" +
        """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
        """<cellXfs count="3">""" +
        """<xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
        """<xf numFmtId="22" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
        """<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
        """</cellXfs></styleSheet>""")

      sheets.zipWithIndex.foreach { case ((_, df), si) =>
        zos.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${si + 1}.xml"))
        val w = new java.io.OutputStreamWriter(zos, "UTF-8")
        w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
        w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        val schema = df.schema
        def stringCell(ref: String, s: String): String =
          s"""<c r="$ref" t="s"><v>${sstRef(s)}</v></c>"""
        // header row
        w.write("<row r=\"1\">")
        schema.fields.zipWithIndex.foreach { case (f, c) =>
          w.write(stringCell(s"${colRef(c)}1", f.name))
        }
        w.write("</row>")
        var r = 2
        val it = df.toLocalIterator()
        while (it.hasNext) {
          if (r - 1 > maxRows)
            throw new IllegalArgumentException(
              s"XlsxWriter: sheet exceeds the $maxRows-data-row cap " +
                "(xlsx sheets hold at most 1,048,576 rows); write large " +
                "results to parquet, or raise maxRows deliberately if " +
                "still within the format limit")
          val row = it.next()
          w.write(s"""<row r="$r">""")
          schema.fields.zipWithIndex.foreach { case (f, c) =>
            if (!row.isNullAt(c)) {
              val ref = s"${colRef(c)}$r"
              f.dataType match {
                case _: NumericType =>
                  w.write(s"""<c r="$ref"><v>${row.get(c)}</v></c>""")
                case BooleanType =>
                  w.write(s"""<c r="$ref" t="b"><v>${if (row.getBoolean(c)) 1 else 0}</v></c>""")
                case TimestampType =>
                  // dates the way xlsx actually stores them: serial
                  // number + date style (s="1" → numFmt 22), not text —
                  // so pandas and our reader both get datetimes back
                  val ts = row.getAs[java.sql.Timestamp](c)
                  val serial = XlsxParser.millisToSerial(ts.getTime)
                  w.write(s"""<c r="$ref" s="1"><v>$serial</v></c>""")
                case TimestampNTZType =>
                  // zone-less parquet timestamps surface as LocalDateTime;
                  // Excel serials are zone-less too — direct wall-time map
                  val ldt = row.getAs[java.time.LocalDateTime](c)
                  val serial = XlsxParser.millisToSerial(
                    ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
                  w.write(s"""<c r="$ref" s="1"><v>$serial</v></c>""")
                case DateType =>
                  val d = row.getAs[java.sql.Date](c)
                  val serial = XlsxParser.millisToSerial(d.getTime)
                  w.write(s"""<c r="$ref" s="2"><v>$serial</v></c>""")
                case _ =>
                  w.write(stringCell(ref, String.valueOf(row.get(c))))
              }
            }
          }
          w.write("</row>")
          r += 1
        }
        w.write("</sheetData></worksheet>")
        w.flush()
        zos.closeEntry()
      }
      // dictionary last: complete only after every sheet has streamed
      zos.putNextEntry(new ZipEntry("xl/sharedStrings.xml"))
      val w = new java.io.OutputStreamWriter(zos, "UTF-8")
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write(s"""<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="$sstRefs" uniqueCount="${sstIndex.size}">""")
      sstIndex.keysIterator.foreach { s =>
        // xml:space: leading/trailing whitespace must survive readers
        // that apply XML whitespace collapsing
        w.write(s"""<si><t xml:space="preserve">${xmlEscape(s)}</t></si>""")
      }
      w.write("</sst>")
      w.flush()
      zos.closeEntry()
    } finally zos.close()
  }
}

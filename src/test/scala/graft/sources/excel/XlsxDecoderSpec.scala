package graft.sources.excel

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen

import graft.SparkSpec

/** The xlsx cell decoder and the typed row builder, on workbooks zipped
  * by hand (not by [[XlsxWriter]]), with literal expected values; plus
  * the digit scans and the date arithmetic checked against the regexes
  * and the text round trip they replace.
  */
class XlsxDecoderSpec extends SparkSpec {

  private val Ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val Rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  /** A one-sheet workbook named `Data`, from its parts' XML. */
  private def workbook(sheetXml: String, sharedStrings: Option[String] = None,
      styles: Option[String] = None, workbookPr: String = "", doctype: String = ""): Path = {
    val path = Files.createTempDirectory("xlsx-decoder").resolve("book.xlsx")
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    entry("_rels/.rels",
      s"""<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$Rel/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      s"""<?xml version="1.0"?><workbook xmlns="$Ns" xmlns:r="$Rel">$workbookPr<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      s"""<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$Rel/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?>$doctype<worksheet xmlns="$Ns"><sheetData>$sheetXml</sheetData></worksheet>""")
    sharedStrings.foreach(si => entry("xl/sharedStrings.xml",
      s"""<?xml version="1.0"?><sst xmlns="$Ns">$si</sst>"""))
    styles.foreach(xfs => entry("xl/styles.xml",
      s"""<?xml version="1.0"?><styleSheet xmlns="$Ns">$xfs</styleSheet>"""))
    zos.close()
    path
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  // xf 0 general, xf 1 builtin 22 (m/d/yy h:mm), xf 2 a custom date code
  private val dateStyles =
    """<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd hh:mm:ss.000"/></numFmts>""" +
    """<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="22"/><xf numFmtId="164"/></cellXfs>"""

  /** Every cell kind, a row without `r=` on its cells, a row gap (row 4
    * is absent) and a sparse row. */
  private lazy val mixed: Path = workbook(
    sharedStrings = Some(Seq("id", "name", "qty", "price", "flag", "note", "when", "Bank of America")
      .map(s => s"<si><t>$s</t></si>").mkString),
    styles = Some(dateStyles),
    sheetXml =
      """<row r="1">""" + (0 to 6).map(i => s"""<c r="${('A' + i).toChar}1" t="s"><v>$i</v></c>""").mkString + "</row>" +
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>7</v></c><c r="C2"><v>10</v></c>""" +
      """<c r="D2"><v>2.5</v></c><c r="E2" t="b"><v>1</v></c><c r="F2" t="str"><v>formula out</v></c>""" +
      """<c r="G2" s="1"><v>45306.5</v></c></row>""" +
      """<row r="3"><c><v>2</v></c><c t="inlineStr"><is><t>Hello</t></is></c><c><v>-3</v></c>""" +
      """<c><v>1e3</v></c><c t="b"><v>0</v></c><c t="str"><v></v></c>""" +
      """<c s="2"><v>45306.573266782405</v></c></row>""" +
      """<row r="5"><c r="A5"><v>5</v></c><c r="G5" s="1"><v>45307</v></c></row>""")

  test("hand-zipped workbook: every cell kind, dates with milliseconds, gaps, cells without r=") {
    val df = spark.read.format("excel").load(mixed.toString)
    assert(df.schema == StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("qty", LongType), StructField("price", DoubleType),
      StructField("flag", StringType), StructField("note", StringType),
      StructField("when", TimestampType))), df.schema.toString)
    assert(df.orderBy("id").collect().toSeq == Seq(
      Row(1L, "Bank of America", 10L, 2.5, "true", "formula out", ts("2024-01-15 12:00:00")),
      Row(2L, "Hello", -3L, 1000.0, "false", null, ts("2024-01-15 13:45:30.25")),
      Row(5L, null, null, null, null, null, ts("2024-01-16 00:00:00"))))
    // pruned columns, in another order
    assert(df.select("when", "id").orderBy("id").collect().toSeq == Seq(
      Row(ts("2024-01-15 12:00:00"), 1L), Row(ts("2024-01-15 13:45:30.25"), 2L),
      Row(ts("2024-01-16 00:00:00"), 5L)))
    assert(df.select("qty").count() == 3)
  }

  test("header=false: the first row is data, every cell reads as its text") {
    val df = spark.read.format("excel").option("header", "false").load(mixed.toString)
    assert(df.columns.toSeq == (0 to 6).map(i => s"_c$i"))
    assert(df.schema.fields.forall(_.dataType == StringType), df.schema.toString)
    assert(df.collect().toSeq == Seq(
      Row("id", "name", "qty", "price", "flag", "note", "when"),
      Row("1", "Bank of America", "10", "2.5", "true", "formula out", "2024-01-15 12:00:00"),
      Row("2", "Hello", "-3", "1e3", "false", null, "2024-01-15 13:45:30.250"),
      Row("5", null, null, null, null, null, "2024-01-16 00:00:00")))
  }

  test("date1904 workbooks count serials from 1904-01-01") {
    val path = workbook(
      workbookPr = """<workbookPr date1904="1"/>""",
      styles = Some(dateStyles),
      sheetXml = """<row r="1"><c r="A1" t="inlineStr"><is><t>when</t></is></c></row>""" +
        """<row r="2"><c r="A2" s="1"><v>0</v></c></row>""" +
        """<row r="3"><c r="A3" s="1"><v>43843.5</v></c></row>""" +
        """<row r="4"><c r="A4" s="2"><v>35063.999999988424</v></c></row>""")
    val got = spark.read.format("excel").load(path.toString).collect().map(_.getTimestamp(0)).toSeq
    assert(got == Seq(ts("1904-01-01 00:00:00"), ts("2024-01-14 12:00:00"),
      ts("1999-12-31 23:59:59.999")))
  }

  test("inline rich-text cells concatenate their runs") {
    val path = workbook(
      """<row r="1"><c r="A1" t="inlineStr"><is><t>greeting</t></is></c></row>""" +
      """<row r="2"><c r="A2" t="inlineStr"><is><r><t xml:space="preserve">Hello </t></r>""" +
      """<r><rPr><b/></rPr><t>World</t></r></is></c></row>""")
    assert(spark.read.format("excel").load(path.toString).collect().toSeq == Seq(Row("Hello World")))
  }

  test("phonetic runs are not part of a shared string's value") {
    val path = workbook(
      sharedStrings = Some("<si><t>city</t></si>" +
        """<si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si>""" +
        """<si><r><t>大</t></r><r><t>阪</t></r><rPh sb="0" eb="2"><t>オオサカ</t></rPh></si>"""),
      sheetXml = """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c></row><row r="3"><c r="A3" t="s"><v>2</v></c></row>""")
    assert(spark.read.format("excel").load(path.toString).collect().map(_.getString(0)).toSeq ==
      Seq("東京", "大阪"))
  }

  test("a DOCTYPE with an external entity is not resolved") {
    val secret = Files.createTempFile("xlsx-secret", ".txt")
    Files.write(secret, "TOP-SECRET-CONTENT".getBytes("UTF-8"))
    val path = workbook(
      doctype = s"""<!DOCTYPE worksheet [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""",
      sheetXml = """<row r="1"><c r="A1" t="inlineStr"><is><t>v</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>&xxe;</t></is></c></row>""")
    val read = scala.util.Try(
      spark.read.format("excel").load(path.toString).collect().map(_.toString).mkString)
    read.foreach(v => assert(!v.contains("TOP-SECRET"), v))
    read.failed.foreach(e => assert(!String.valueOf(e.getMessage).contains("TOP-SECRET")))
  }

  // ---- the scans and conversions against what they replace ----------------

  private val IntRe = "[+-]?\\d{1,19}".r
  private val NumRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
  private def regexIntegral(s: String): Boolean = {
    val t = s.trim
    IntRe.matches(t) &&
      (t.length < 19 + (if (t.startsWith("-") || t.startsWith("+")) 1 else 0) ||
        scala.util.Try(t.toLong).isSuccess)
  }
  private def regexNumeric(s: String): Boolean = NumRe.matches(s.trim)

  private val numberish: Gen[String] = Gen.oneOf(
    Gen.listOfN(12, Gen.oneOf("0123456789+-.eE \tx".toSeq)).flatMap(cs =>
      Gen.choose(0, cs.length).map(n => cs.take(n).mkString)),
    Gen.choose(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.choose(-1e12, 1e12).map(_.toString),
    Gen.choose(-1e6, 1e6).map(d => f"$d%.4f"),
    // long plain decimals
    for (n <- Gen.choose(13, 19); ds <- Gen.listOfN(n, Gen.numChar); at <- Gen.choose(0, n))
      yield ds.take(at).mkString + "." + ds.drop(at).mkString,
    Gen.choose(0, 99).map(i => "9223372036854775" + f"$i%03d"),
    Gen.choose(0, 99).map(i => "-9223372036854775" + f"$i%03d"),
    Gen.oneOf("", " ", ".", "-", "+.5", "5.", ".e1", "1e", "1e+5", " 007 ", "1.2.3",
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "+9223372036854775807", "-9223372036854775809", "12345678901234567890",
      "0.1", "-0", "-0.0", "123456789012345.6", "1234567890123456", "NaN", "Infinity", "1d"))

  private def samples[A](g: Gen[A], n: Int): Iterator[A] =
    Iterator.continually(g.sample).flatten.take(n)

  test("isIntegral / isNumeric accept exactly what IntRe / NumRe accepted") {
    samples(numberish, 20000).foreach { s =>
      assert(ExcelSchema.isIntegral(s) == regexIntegral(s), s"isIntegral('$s')")
      assert(ExcelSchema.isNumeric(s) == regexNumeric(s), s"isNumeric('$s')")
    }
  }

  test("date serials become the timestamps and text of the old text round trip") {
    // the parent's conversion: serial → formatted text → parsed back
    def oldText(serial: Double, d1904: Boolean): String = {
      val ms = Math.round(serial * 86400000L) + (if (d1904) -2082844800000L else -2209161600000L)
      val dt = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(ms), java.time.ZoneOffset.UTC)
      val base = f"${dt.getYear}%04d-${dt.getMonthValue}%02d-${dt.getDayOfMonth}%02d " +
        f"${dt.getHour}%02d:${dt.getMinute}%02d:${dt.getSecond}%02d"
      val millis = dt.getNano / 1000000
      if (millis == 0) base else f"$base.$millis%03d"
    }
    def oldMicros(text: String): Any =
      try {
        val inst = java.time.LocalDateTime.parse(text.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC)
        java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      } catch { case _: java.time.format.DateTimeParseException => null }
    val schema = StructType(Seq(StructField("t", TimestampType)))
    val rows = new RowBuilder(schema, schema, header = false, Array.empty)
    val serials = Gen.oneOf(Gen.choose(-800000.0, 3100000.0), Gen.choose(0.0, 60000.0),
      Gen.choose(0, 3000000).map(_.toDouble),
      Gen.oneOf(-693959.0, -693959.00001, -693960.0, 2958465.99999, 2958465.999999999,
        2958466.0, 0.0, 60.0, 61.0, 45306.573266782405, 1e-9, -1e-9))
    samples(serials, 20000).foreach { serial =>
      for (d1904 <- Seq(false, true)) {
        val ms = XlsxParser.serialToMillis(serial, d1904)
        assert(XlsxParser.dateTimeText(ms) == oldText(serial, d1904), s"text of $serial")
        rows.row(0)
        rows.date(0, ms)
        assert(java.util.Objects.equals(rows.result.get(0, TimestampType),
          oldMicros(oldText(serial, d1904))), s"micros of $serial ($d1904)")
      }
    }
  }
}

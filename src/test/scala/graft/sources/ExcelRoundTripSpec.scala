package graft.sources

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.excel.XlsxWriter

/** Excel reader/writer round-trip: write with XlsxWriter, read back with
  * the `excel` DataSource V2 — covering the type-inference matrix
  * (FIXTURES.md §3 `typed.xlsx`), multi-sheet workbooks, blank cells,
  * and pandas-parity string-typed dates (SURVEY.md §1.2).
  */
class ExcelRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("excel-spec").toString
    s"$d/$name"
  }

  test("per-sheet row cap: oversized sheets error, capped sheets write") {
    val df = spark.range(0, 20).toDF("id")
    val err = intercept[IllegalArgumentException] {
      XlsxWriter.write(tmp("over.xlsx"), Seq("s" -> df), maxRows = 19)
    }
    assert(err.getMessage.contains("row cap") && err.getMessage.contains("parquet"))
    val ok = tmp("at-cap.xlsx")
    XlsxWriter.write(ok, Seq("s" -> df), maxRows = 20)
    assert(spark.read.format("excel").load(ok).count() == 20)
  }

  test("a failed export keeps the previous workbook readable") {
    val path = tmp("export.xlsx")
    val dir = java.nio.file.Paths.get(path).getParent
    XlsxWriter.write(path, Seq("s" -> spark.range(0, 5).toDF("id")))
    // the row cap, and a query that throws part-way through its rows
    intercept[IllegalArgumentException] {
      XlsxWriter.write(path, Seq("s" -> spark.range(0, 50).toDF("id")), maxRows = 10)
    }
    intercept[Exception] {
      XlsxWriter.write(path, Seq("s" -> spark.range(0, 50).toDF("id")
        .selectExpr("CASE WHEN id < 40 THEN id ELSE raise_error('boom') END AS id")))
    }
    assert(spark.read.format("excel").load(path).orderBy("id").collect().map(_.getLong(0)).toSeq
      == (0L until 5L))
    // no temp file is left behind, and none would be listed as a workbook
    assert(Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq == Seq("export.xlsx"))
    // the renamed workbook has the file mode any new file there gets
    val plain = Files.write(dir.resolve("plain.bin"), Array.emptyByteArray)
    assert(Files.getPosixFilePermissions(java.nio.file.Paths.get(path)) ==
      Files.getPosixFilePermissions(plain))
  }

  test("repeated header names read back made unique as pandas does") {
    val path = tmp("dup.xlsx")
    XlsxWriter.write(path, Seq("s" -> spark.range(3).selectExpr("id AS x", "id * 10 AS x")))
    val back = spark.read.format("excel").load(path)
    assert(back.columns.toSeq == Seq("x", "x.1"))
    assert(back.orderBy("x").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 0L), (1L, 10L), (2L, 20L)))
    // a pruned scan maps the renamed column back to its own cells
    assert(back.select("`x.1`").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 10L, 20L))
    // a generated name skips one the header already holds
    val taken = tmp("taken.xlsx")
    XlsxWriter.write(taken, Seq("s" -> spark.range(1)
      .selectExpr("id AS x", "id + 1 AS `x.1`", "id + 2 AS x")))
    val t = spark.read.format("excel").load(taken)
    assert(t.columns.toSeq == Seq("x", "x.1", "x.1.1"))
    assert(t.select("`x.1.1`", "`x.1`").head() == Row(2L, 1L))
  }

  test("typed round trip: long / double / string / blanks / mixed") {
    val df = Seq(
      (1L, 1.5, "alpha", Some("x"), "2013-08-30"),
      (2L, -2.25, "beta", None, "09/03/2013"),
      (3L, 3.0, "gamma, with comma", Some("z"), "not a date")
    ).toDF("id", "score", "name", "opt", "datestr")
    val path = tmp("typed.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))

    val back = spark.read.format("excel").option("sheet", "Sheet1").load(path)
    assert(back.schema == StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("name", StringType, nullable = true),
      StructField("opt", StringType, nullable = true),
      // dates must stay strings (pandas parity, SURVEY.md §1.2)
      StructField("datestr", StringType, nullable = true))))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0) == Row(1L, 1.5, "alpha", "x", "2013-08-30"))
    assert(rows(1) == Row(2L, -2.25, "beta", null, "09/03/2013"))
    assert(rows(2) == Row(3L, 3.0, "gamma, with comma", "z", "not a date"))
  }

  test("date-styled cells round-trip as timestamps (pandas datetime64 parity)") {
    import graft.sources.excel.XlsxParser
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      (1L, ts("2024-01-15 00:00:00")),          // date-only serial (integer)
      (2L, ts("2024-01-15 13:45:30")),          // time-of-day fraction
      (3L, ts("1999-12-31 23:59:59.250"))       // sub-second, pre-2000
    ).toDF("id", "when")
    val path = tmp("dates.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))

    val back = spark.read.format("excel").option("sheet", "Sheet1").load(path)
    assert(back.schema("when").dataType == TimestampType,
      s"date-styled column not inferred as timestamp: ${back.schema}")
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1))).toMap
    assert(got(1L) == ts("2024-01-15 00:00:00"))
    assert(got(2L) == ts("2024-01-15 13:45:30"))
    assert(got(3L) == ts("1999-12-31 23:59:59.250"))

    // a column mixing date-styled and plain numeric cells stays the
    // numeric/string path — only all-date columns become timestamps
    // (mirrors inference discipline elsewhere in the reader)
    val serial = XlsxParser.millisToSerial(ts("2024-01-15 00:00:00").getTime)
    assert(serial == 45306.0, s"serial epoch math drifted: $serial")
  }

  test("date format-code detection: date codes yes, number codes no") {
    import graft.sources.excel.XlsxParser.isDateFormatCode
    assert(isDateFormatCode("yyyy-mm-dd"))
    assert(isDateFormatCode("m/d/yy h:mm"))
    assert(isDateFormatCode("[h]:mm:ss"))        // elapsed time
    assert(isDateFormatCode("hh:mm AM/PM"))
    assert(!isDateFormatCode("0.00"))
    assert(!isDateFormatCode("#,##0"))
    assert(!isDateFormatCode("0.00E+00"))
    assert(!isDateFormatCode("\"date: y\"0.0"))  // y only inside quotes
    assert(!isDateFormatCode("[Red]0.0"))        // color section, no date tokens
  }

  test("longs above 2^53 round-trip exactly (no double truncation)") {
    val big = 9007199254740993L // 2^53 + 1: unrepresentable as a double
    val df = Seq((big, "a"), (Long.MaxValue - 1, "b"), (7L, "c"))
      .toDF("id", "tag")
    val path = tmp("biglong.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))
    val back = spark.read.format("excel").load(path)
    assert(back.schema("id").dataType == LongType)
    assert(back.orderBy("tag").collect().map(_.getLong(0)).toSeq ==
      Seq(big, Long.MaxValue - 1, 7L))
  }

  test("mixed numeric+string column degrades to string") {
    val df = Seq(("1", "a"), ("2.5", "b"), ("three", "c")).toDF("mixed", "tag")
    val path = tmp("mixed.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))
    val back = spark.read.format("excel").load(path)
    assert(back.schema("mixed").dataType == StringType)
    assert(back.select("mixed").as[String].collect().sorted
      === Array("1", "2.5", "three"))
  }

  test("multi-sheet workbook reads each sheet by name") {
    val a = Seq((1L, "one")).toDF("k", "v")
    val b = Seq((9.5, true)).toDF("x", "flag")
    val path = tmp("multisheet.xlsx")
    XlsxWriter.write(path, Seq("First" -> a, "Second" -> b))

    val backA = spark.read.format("excel").option("sheet", "First").load(path)
    val backB = spark.read.format("excel").option("sheet", "Second").load(path)
    assert(backA.columns.toSeq == Seq("k", "v"))
    assert(backA.collect() === Array(Row(1L, "one")))
    assert(backB.columns.toSeq == Seq("x", "flag"))
    // booleans are written as cells t="b"; inference keeps them strings
    // (pandas-parity: no bool column appears in the reference data)
    assert(backB.collect() === Array(Row(9.5, "true")))

    // default sheet = first in workbook order
    assert(spark.read.format("excel").load(path).columns.toSeq == Seq("k", "v"))
  }

  test("missing sheet errors clearly") {
    val path = tmp("one.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> Seq((1L, "x")).toDF("a", "b")))
    val e = intercept[Exception] {
      spark.read.format("excel").option("sheet", "Nope").load(path).collect()
    }
    assert(e.getMessage.contains("Nope"))
  }

  test("special characters and identifier-quoting survive round trip") {
    // FIXTURES.md §1: `consumer_disputed?` — ? in a column name
    val df = Seq(("Yes", "a&b <c>", 511074L))
      .toDF("consumer_disputed?", "escaped", "complaint_id")
    val path = tmp("quoting.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))
    val back = spark.read.format("excel").load(path)
    assert(back.columns.toSeq ==
      Seq("consumer_disputed?", "escaped", "complaint_id"))
    assert(back.collect() === Array(Row("Yes", "a&b <c>", 511074L)))
  }

  test("reads sharedStrings workbooks (the format Excel/pandas write)") {
    // our writer emits inline strings (like the reference's committed
    // workbook); craft a sharedStrings-style file by hand to cover the
    // other on-disk profile
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val path = tmp("shared.xlsx")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(name: String, body: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>""")
    entry("_rels/.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    entry("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4"><si><t>name</t></si><si><t>qty</t></si><si><t>rich </t><r><t>text run</t></r></si><si><t>plain</t></si></sst>""")
    entry("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row><row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>5</v></c></row><row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>7</v></c></row></sheetData></worksheet>""")
    zos.close()

    val back = spark.read.format("excel").load(path)
    assert(back.columns.toSeq == Seq("name", "qty"))
    assert(back.schema("qty").dataType == LongType)
    val rows = back.orderBy("qty").collect()
    assert(rows(0) == Row("rich text run", 5L)) // rich runs concatenate
    assert(rows(1) == Row("plain", 7L))
  }

  test("repeated strings are dictionary-encoded via sharedStrings") {
    import java.util.zip.ZipFile
    def partText(path: String, part: String): Option[String] = {
      val zip = new ZipFile(path)
      try Option(zip.getEntry(part)).map { e =>
        new String(zip.getInputStream(e).readAllBytes(), "UTF-8")
      } finally zip.close()
    }
    // one string value repeated 50×, another 30× — plus " padded " to pin
    // whitespace preservation through the dictionary
    val rows = (1 to 50).map(i =>
      (i.toLong, "Bank of America", if (i <= 30) "Mortgage" else " padded "))
    val df = rows.toDF("id", "company", "product")
    val path = tmp("sst.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))

    val sst = partText(path, "xl/sharedStrings.xml")
      .getOrElse(fail("sharedStrings.xml part missing"))
    // dictionary holds each distinct string ONCE (3 values + 3 headers)
    assert(sst.contains("""uniqueCount="6""""), sst.take(200))
    assert("Bank of America".r.findAllIn(sst).length == 1)
    // sheet cells reference the dictionary, no inline strings remain
    val sheet = partText(path, "xl/worksheets/sheet1.xml").get
    assert(!sheet.contains("inlineStr") && sheet.contains("""t="s""""))

    // round trip is identity, whitespace included
    val back = spark.read.format("excel").load(path)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(back.toSeq == rows)
  }

  test("column pruning pushes into the scan") {
    val df = Seq((1L, "a", 2.0), (2L, "b", 3.0)).toDF("k", "s", "d")
    val path = tmp("prune.xlsx")
    XlsxWriter.write(path, Seq("Sheet1" -> df))
    val pruned = spark.read.format("excel").load(path).select("s")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(scan.schema.fieldNames.toSeq == Seq("s"),
      s"expected pruned scan schema, got ${scan.schema}")
    assert(pruned.as[String].collect().sorted === Array("a", "b"))
  }
}

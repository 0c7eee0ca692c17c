package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

import graft.SparkSpec
import graft.sinks.HyperBinary
import graft.sources.excel.XlsxWriter

/** End-to-end pipeline parity: reproduces the reference's committed
  * example run (run_main_example.py:10-59) — two workbooks, two queries
  * (one pivot-stacked, one positionally concatenated), exported to both
  * sinks — and asserts the golden output shapes from FIXTURES.md §1
  * (.hyper catalog types after hyperd.log:3513/3531).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Miniature consumer_complaints-shaped dataset. */
  private def complaintsDf = Seq(
    ("08/30/2013", "Mortgage", "Bank of America", "Closed with explanation", 511074L),
    ("09/03/2013", "Mortgage", "Bank of America", "Closed with explanation", 511080L),
    ("09/03/2013", "Credit reporting", "Bank of America", "Closed", 511090L),
    ("09/04/2013", "Credit card", "Wells Fargo & Company", "Closed", 511100L),
    ("09/05/2013", "Mortgage", "Wells Fargo & Company", "Closed", 511110L)
  ).toDF("date_received", "product", "company",
    "company_response_to_consumer", "complaint_id")

  private def setupDir(): String = {
    val dir = Files.createTempDirectory("pipeline-spec").toString
    // two byte-identical workbooks, like the committed
    // consumer_complaints.xlsx / consumer_complaints1.xlsx pair
    XlsxWriter.write(s"$dir/consumer_complaints.xlsx",
      Seq("Sheet1" -> complaintsDf))
    XlsxWriter.write(s"$dir/consumer_complaints1.xlsx",
      Seq("Sheet1" -> complaintsDf))
    // a non-Excel file that the directory matcher must ignore
    Files.write(Paths.get(dir, "notes.txt"), "ignore me".getBytes)
    dir
  }

  private def bundles = Seq(
    QueryBundle(
      queries = Seq(
        Query("complaint_counts_by_company",
          """SELECT company, product,
             COUNT(product) AS number_of_complaints
             FROM Sheet1.sheet
             WHERE company='Bank of America'
             GROUP BY company, product
             ORDER BY product""",
          pivotTable = true),
        Query("num_of_complaints_per_company",
          """SELECT company, COUNT(company) AS number_of_complaints
             FROM Sheet1.sheet GROUP BY company ORDER BY company""",
          pivotTable = false)),
      fileMatches = Seq("consumer_complaints.xlsx", "consumer_complaints1"),
      sheets = Seq("Sheet1"),
      exportFileName = "complaints_by_bank",
      format = ExportFormat.Hyper))

  test("directory matcher: extension filter, substring match, errors") {
    val dir = setupDir()
    val p = new Pipeline(spark, dir)
    val m = p.matchDirectoryFiles(Seq("consumer_complaints1", "consumer_complaints.xlsx"))
    assert(m("consumer_complaints1") == "consumer_complaints1.xlsx")
    assert(m("consumer_complaints.xlsx") == "consumer_complaints.xlsx")
    val e = intercept[IllegalArgumentException] {
      p.matchDirectoryFiles(Seq("nonexistent_match"))
    }
    assert(e.getMessage.contains("nonexistent_match"))

    val empty = Files.createTempDirectory("empty").toString
    intercept[IllegalArgumentException] {
      new Pipeline(spark, empty).matchDirectoryFiles(Seq("x"))
    }
  }

  test("sheet-ref rewrite: documented contract + punctuation edge (Q3)") {
    val q = Query("t", "SELECT * FROM Sheet1.sheet WHERE x=1", pivotTable = false)
    assert(q.formatQuery("consumer_complaints.xlsx") ==
      "SELECT * FROM consumer_complaints_Sheet1_sheet WHERE x=1")
    // trailing comma survives (the reference's split-on-space drops it)
    val q2 = Query("t", "SELECT a FROM Sheet1.sheet, Other.sheet WHERE 1=1",
      pivotTable = false)
    assert(q2.formatQuery("f.xlsx") ==
      "SELECT a FROM f_Sheet1_sheet, f_Other_sheet WHERE 1=1")
    // `.sheet` inside a longer identifier is not rewritten
    val q3 = Query("t", "SELECT sheetmetal FROM Sheet1.sheets", pivotTable = false)
    assert(q3.formatQuery("f.xlsx") == "SELECT sheetmetal FROM Sheet1.sheets")
  }

  test("full run: pivot stack + positional concat into hyper-equivalent sink") {
    val dir = setupDir()
    val outs = new Pipeline(spark, dir).run(bundles)
    assert(outs == Seq(s"$dir/complaints_by_bank.hyper"))
    val out = Paths.get(dir, "complaints_by_bank.hyper")
    assert(Files.list(out).toArray.map(_.toString).toSeq ==
      Seq(out.resolve("extract.hyper").toString))
    val extract = out.resolve("extract.hyper").toString
    val tables = HyperBinary.read(extract).map { case (name, schema, rows) =>
      name -> (schema.fieldNames.toSeq, rows.map(r => Row(r.toSeq: _*)).toSeq)
    }.toMap
    assert(tables.keySet ==
      Set("complaint_counts_by_company", "num_of_complaints_per_company"))

    // golden column types (hyperd.log:3513 / 3531, FIXTURES.md §1), with
    // the count columns widened to BigInt (SURVEY.md Q9)
    val relations = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(HyperBinary.catalogJsons(extract).head).get("relations")
    val types = (0 until relations.size()).flatMap { r =>
      val attrs = relations.get(r).get("attributes")
      (0 until attrs.size()).map(a =>
        attrs.get(a).get("name").asText() -> attrs.get(a).get("type").toString)
    }.toMap
    val varchar = """["Varchar",1000,"nullable"]"""
    val bigint = """["BigInt","nullable"]"""
    assert(types("index") == varchar)
    assert(types("company") == varchar)
    assert(types("number_of_complaints") == bigint)
    assert(types("consumer_complaints.xlsx_company") == varchar)
    assert(types("consumer_complaints.xlsx_number_of_complaints") == bigint)
    assert(types("consumer_complaints1_number_of_complaints") == bigint)

    // pivot table: index column carries the source file basename and the
    // two identical workbooks stack vertically
    val (pivotCols, pivotRowsAll) = tables("complaint_counts_by_company")
    assert(pivotCols ==
      Seq("index", "company", "product", "number_of_complaints"))
    val pivotRows = pivotRowsAll.sortBy(r => (r.getString(0), r.getString(2)))
    assert(pivotRows.length == 4) // 2 files × 2 products for BofA
    assert(pivotRows(0) == Row("consumer_complaints",
      "Bank of America", "Credit reporting", 1L))
    assert(pivotRows(1) == Row("consumer_complaints",
      "Bank of America", "Mortgage", 2L))
    assert(pivotRows(2).getString(0) == "consumer_complaints1")

    // concat table: positionally aligned, match-prefixed columns
    val (concatCols, concatRowsAll) = tables("num_of_complaints_per_company")
    assert(concatCols == Seq(
      "consumer_complaints.xlsx_company",
      "consumer_complaints.xlsx_number_of_complaints",
      "consumer_complaints1_company",
      "consumer_complaints1_number_of_complaints"))
    val concatRows = concatRowsAll.sortBy(_.getString(0))
    assert(concatRows.length == 2)
    assert(concatRows(0) == Row("Bank of America", 3L, "Bank of America", 3L))
    assert(concatRows(1) == Row("Wells Fargo & Company", 2L,
      "Wells Fargo & Company", 2L))

    // Q1 decision: views dropped once after the run
    assert(!spark.catalog.tableExists("consumer_complaints_Sheet1_sheet"))
  }

  test("excel export: one sheet per query (A15)") {
    val dir = setupDir()
    val excelBundles = Seq(bundles.head.copy(format = ExportFormat.Excel))
    val outs = new Pipeline(spark, dir).run(excelBundles)
    // Q2 decision: suffix by chosen format, no `.hyper.xlsx` double suffix
    assert(outs == Seq(s"$dir/complaints_by_bank.xlsx"))
    val back = spark.read.format("excel")
      .option("sheet", "complaint_counts_by_company")
      .load(s"$dir/complaints_by_bank.xlsx")
    assert(back.count() == 4)
    val back2 = spark.read.format("excel")
      .option("sheet", "num_of_complaints_per_company")
      .load(s"$dir/complaints_by_bank.xlsx")
    assert(back2.count() == 2)
  }

  test("csv → excel utility honours the 1000-row cap (scratch.py parity)") {
    val dir = Files.createTempDirectory("csv-spec").toString
    val csv = s"$dir/in.csv"
    val lines = "id,name" +: (1 to 1500).map(i => s"$i,row$i")
    Files.write(Paths.get(csv), String.join("\n", lines: _*).getBytes)
    CsvToExcel.convert(spark, csv, s"$dir/out.xlsx")
    val back = spark.read.format("excel").load(s"$dir/out.xlsx")
    assert(back.count() == 1000)
    assert(back.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
  }
}

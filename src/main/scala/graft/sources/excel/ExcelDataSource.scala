package graft.sources.excel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("excel")` — a DataSource V2 Excel source.
  *
  * Replaces the reference's pandas `read_excel` (reference fsheet.py:33-36)
  * with a distributed scan: one input partition per (file, sheet), so a
  * directory of workbooks reads in parallel across executors. Column
  * pruning is pushed into the reader (pruned columns are parsed but not
  * converted/emitted; the XML itself must be streamed regardless — xlsx
  * is not a splittable columnar format, which is exactly why the pipeline
  * converts to parquet/views before heavy queries).
  *
  * Options:
  *   - `path`  (or `.load(path)`): one workbook
  *   - `sheet`: sheet name (default: first sheet)
  *   - `header`: first row is column names (default true)
  *   - `inferSchema`: per-column inference mirroring pandas' behavior
  *     on the reference data (default true; SURVEY.md §1.2: integers →
  *     long, decimals → double, date-styled cells → timestamp,
  *     everything else — including date-like text — stays string)
  *   - `sampleRows`: rows to sample for inference (default 1000)
  */
class ExcelDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "excel"

  override def supportsExternalMetadata(): Boolean = true

  private def opt(m: CaseInsensitiveStringMap, k: String, d: String) =
    Option(m.get(k)).getOrElse(d)

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("excel: 'path' option required"))
    val sheet = Option(options.get("sheet"))
    val header = opt(options, "header", "true").toBoolean
    val infer = opt(options, "inferSchema", "true").toBoolean
    val sample = opt(options, "sampleRows", "1000").toInt
    // schema from the first matching workbook (files in one load share a
    // schema by contract, as with Spark's built-in file sources)
    ExcelSchema.infer(ExcelSchema.resolvePaths(path).head, sheet, header,
      infer, sample)
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ExcelTable(schema, properties.asScala.toMap)
}

private[excel] object ExcelSchema {

  /** Expand a path option to concrete workbook files: a single file, a
    * directory (all .xlsx/.xls inside, sorted), or a glob in the last
    * path segment. Each file becomes its own input partition, so a
    * directory of workbooks scans in parallel across executors.
    */
  def resolvePaths(path: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(path)
    def excel(f: java.nio.file.Path) = {
      val n = f.getFileName.toString
      n.endsWith(".xlsx") || n.endsWith(".xls")
    }
    val out =
      if (Files.isDirectory(p))
        Files.list(p).iterator().asScala.filter(excel).map(_.toString).toSeq.sorted
      else if (path.contains("*")) {
        val dir = Option(p.getParent).getOrElse(Paths.get("."))
        val matcher = dir.getFileSystem.getPathMatcher(
          "glob:" + p.getFileName.toString)
        Files.list(dir).iterator().asScala
          .filter(f => matcher.matches(f.getFileName))
          .map(_.toString).toSeq.sorted
      } else Seq(path)
    require(out.nonEmpty, s"excel: no workbooks match '$path'")
    out
  }

  /** Open a sheet regardless of container format: BIFF8 via
    * [[XlsParser]] for `.xls`, zip/XML via [[XlsxParser]] for `.xlsx`.
    */
  def openSheet(path: String, sheetOpt: Option[String]): XlsxParser.SheetRows =
    if (XlsParser.isXls(path)) XlsParser.openSheet(path, sheetOpt)
    else XlsxParser.openSheet(path, sheetOpt)

  /** `s.trim`'s bounds (Java trim: chars <= ' ' at either end). */
  private def trimStart(cs: CharSequence, from: Int, until: Int): Int = {
    var i = from
    while (i < until && cs.charAt(i) <= ' ') i += 1
    i
  }
  private def trimEnd(cs: CharSequence, from: Int, until: Int): Int = {
    var j = until
    while (j > from && cs.charAt(j - 1) <= ' ') j -= 1
    j
  }
  /** End of the run of ASCII digits that starts at `from`. */
  private def digits(cs: CharSequence, from: Int, until: Int): Int = {
    var i = from
    while (i < until && { val c = cs.charAt(i); c >= '0' && c <= '9' }) i += 1
    i
  }

  /** Integral iff the trimmed text is an optional sign and 1-19 decimal
    * digits whose value fits a Long — 19-digit values are compared with
    * Long's bounds, so long ids are kept and overflows rejected.
    */
  def isIntegral(cs: CharSequence): Boolean = isIntegral(cs, 0, cs.length)
  def isIntegral(cs: CharSequence, from: Int, until: Int): Boolean = {
    var i = trimStart(cs, from, until)
    val j = trimEnd(cs, i, until)
    val neg = i < j && cs.charAt(i) == '-'
    if (i < j && (neg || cs.charAt(i) == '+')) i += 1
    val n = j - i
    n >= 1 && n <= 19 && digits(cs, i, j) == j && (n < 19 || {
      val max = if (neg) "9223372036854775808" else "9223372036854775807"
      var k = 0
      while (k < 19 && cs.charAt(i + k) == max.charAt(k)) k += 1
      k == 19 || cs.charAt(i + k) < max.charAt(k)
    })
  }

  /** Numeric iff the trimmed text is an optional sign, then digits with
    * an optional point and fraction (or a point and digits), then an
    * optional exponent: `[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?`.
    */
  def isNumeric(cs: CharSequence): Boolean = isNumeric(cs, 0, cs.length)
  def isNumeric(cs: CharSequence, from: Int, until: Int): Boolean = {
    var i = trimStart(cs, from, until)
    val j = trimEnd(cs, i, until)
    if (i < j && (cs.charAt(i) == '+' || cs.charAt(i) == '-')) i += 1
    val intEnd = digits(cs, i, j)
    var k = intEnd
    if (k < j && cs.charAt(k) == '.') k = digits(cs, k + 1, j)
    // mantissa: digits first, or a point followed by at least one digit
    val mantissa = intEnd > i || k > i + 1
    if (!mantissa) return false
    if (k < j && (cs.charAt(k) == 'e' || cs.charAt(k) == 'E')) {
      k += 1
      if (k < j && (cs.charAt(k) == '+' || cs.charAt(k) == '-')) k += 1
      val e = digits(cs, k, j)
      if (e == k) return false
      k = e
    }
    k == j
  }

  /** Header names + per-column type from a bounded sample of the sheet.
    * Mirrors pandas inference as characterized in SURVEY.md §1.2: a
    * column whose non-empty sampled cells are all numeric-typed cells
    * becomes long (all integral) or double; anything else is string.
    * A column whose non-empty sampled cells are all date-styled becomes
    * timestamp (pandas datetime64 parity).
    */
  def infer(path: String, sheetOpt: Option[String], header: Boolean,
      inferTypes: Boolean, sampleRows: Int): StructType = {
    val sheet = openSheet(path, sheetOpt)
    val sample = try {
      val s = new SampleSink(header, sheet.sharedStrings)
      // bounded streaming scan: stop once the sample is met
      while (!(s.inData && s.visited >= sampleRows) && sheet.next(s)) ()
      s
    } finally sheet.close()
    val names = sample.names
    while (names.length < sample.width) names += ""
    val unique = uniqueNames(names.zipWithIndex.map { case (n, i) =>
      if (n.nonEmpty) n else s"_c$i" }.toSeq)
    val fields = unique.zipWithIndex.map { case (n, i) =>
      val dt: DataType =
        if (!inferTypes || i >= sample.seen.length || !sample.seen(i)) StringType
        else if (sample.allDates(i)) TimestampType
        else if (sample.allNumeric(i)) if (sample.allIntegral(i)) LongType else DoubleType
        else StringType
      StructField(n, dt, nullable = true)
    }
    StructType(fields)
  }

  /** Repeated header names made unique the way pandas does: the second
    * `x` becomes `x.1`, the third `x.2`, skipping a name an earlier
    * column already holds. The scan maps pruned columns back by name,
    * so a schema with two equal names could not be read.
    */
  private def uniqueNames(names: Seq[String]): Seq[String] = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    names.map { name =>
      var n = name
      var count = counts(n)
      while (count > 0) {
        counts(n) = count + 1
        n = s"$n.$count"
        count = counts(n)
      }
      counts(n) = count + 1
      n
    }
  }

  /** What inference learns from the sampled rows: header names, and per
    * column whether every non-empty cell so far is numeric-typed,
    * integral, date-styled.
    */
  private final class SampleSink(header: Boolean, shared: Array[String])
      extends XlsxParser.CellSink {
    val names = mutable.ArrayBuffer.empty[String]
    val seen = mutable.ArrayBuffer.empty[Boolean] // any non-empty cell
    val allNumeric = mutable.ArrayBuffer.empty[Boolean]
    val allIntegral = mutable.ArrayBuffer.empty[Boolean]
    val allDates = mutable.ArrayBuffer.empty[Boolean]
    var width = 0
    var visited = 0
    var inData = false

    def row(index: Int): Unit = {
      inData = !(header && index == 0)
      if (inData) visited += 1
    }

    private def header(col: Int, s: String): Unit =
      if (col >= 0) {
        while (names.length <= col) names += ""
        names(col) = s
        if (col >= width) width = col + 1
      }

    private def cell(col: Int, nonEmpty: Boolean, isNum: Boolean, isInt: Boolean,
        isDate: Boolean): Unit =
      if (col >= 0) {
        while (seen.length <= col) {
          seen += false; allNumeric += true; allIntegral += true; allDates += true
        }
        if (col >= width) width = col + 1
        if (nonEmpty) {
          seen(col) = true
          if (!isNum) allNumeric(col) = false
          if (!isInt) allIntegral(col) = false
          if (!isDate) allDates(col) = false
        }
      }

    def number(col: Int, chars: Array[Char], off: Int, len: Int): Unit =
      if (!inData) header(col, new String(chars, off, len))
      else cell(col, len > 0, isNum = true,
        isIntegral(java.nio.CharBuffer.wrap(chars), off, off + len), isDate = false)
    def date(col: Int, epochMs: Long): Unit =
      if (!inData) header(col, XlsxParser.dateTimeText(epochMs))
      else cell(col, nonEmpty = true, isNum = false, isInt = false, isDate = true)
    def shared(col: Int, idx: Int): Unit = text(col, shared(idx))
    def text(col: Int, s: String): Unit =
      if (!inData) header(col, s)
      else cell(col, s.nonEmpty, isNumeric(s), isIntegral(s), isDate = false)
    def bool(col: Int, b: Boolean): Unit = text(col, b.toString)
  }
}

/** A case class: two reads of one sheet with the same options are equal
  * tables, so a fresh read finds the cache entry of a cached one. */
private[excel] final case class ExcelTable(schema0: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"excel:${props.getOrElse("path", "?")}#${props.getOrElse("sheet", "<first>")}"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ExcelScanBuilder(schema0, options)
}

private[excel] class ExcelScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ExcelScan(fullSchema, required,
    options.get("path"),
    Option(options.get("sheet")),
    Option(options.get("header")).forall(_.toBoolean))
}

private[excel] class ExcelScan(
    fullSchema: StructType, required: StructType,
    path: String, sheet: Option[String], header: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    ExcelSchema.resolvePaths(path)
      .map(p => ExcelInputPartition(p, sheet, header): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new ExcelPartitionReaderFactory(fullSchema, required)
}

private[excel] case class ExcelInputPartition(
    path: String, sheet: Option[String], header: Boolean)
    extends InputPartition

private[excel] class ExcelPartitionReaderFactory(
    fullSchema: StructType, required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val ep = p.asInstanceOf[ExcelInputPartition]
    new ExcelPartitionReader(ep, fullSchema, required)
  }
}

/** Streams one sheet's rows: each [[next]] decodes one worksheet row
  * straight into a typed row; nothing is buffered beyond that row.
  */
private[excel] class ExcelPartitionReader(
    part: ExcelInputPartition, fullSchema: StructType, required: StructType)
    extends PartitionReader[InternalRow] {

  private val sheet = ExcelSchema.openSheet(part.path, part.sheet)
  private val rows =
    try new RowBuilder(fullSchema, required, part.header, sheet.sharedStrings)
    catch { case t: Throwable => sheet.close(); throw t }
  private var current: InternalRow = _

  override def next(): Boolean = {
    current = null
    while (current == null && sheet.next(rows)) current = rows.result
    current != null
  }
  override def get(): InternalRow = current
  override def close(): Unit = sheet.close()
}

/** Builds the scan's rows from decoded cells. Each cell is converted
  * once, straight to its column's type: a number's text to a long or a
  * double, a date serial to timestamp micros, a shared string to the
  * `UTF8String` made once per workbook. A blank cell is null.
  */
private[excel] final class RowBuilder(fullSchema: StructType, required: StructType,
    header: Boolean, shared: Array[String]) extends XlsxParser.CellSink {
  import RowBuilder._

  // per full-schema column: the required positions it fills, and their type
  private val targets: Array[Array[Int]] = {
    val byCol = Array.fill(fullSchema.length)(mutable.ArrayBuffer.empty[Int])
    required.fields.zipWithIndex.foreach { case (f, i) =>
      byCol(fullSchema.fieldIndex(f.name)) += i
    }
    byCol.map(_.toArray)
  }
  private val types: Array[DataType] =
    targets.map(t => if (t.isEmpty) null else required.fields(t(0)).dataType)
  private val kinds: Array[Int] = types.map {
    case null => Skip
    case TimestampType => KTimestamp
    case LongType | DoubleType | BooleanType => KParse
    case _ => KString
  }
  private val sharedUtf8 = new Array[UTF8String](shared.length)
  private var vals: Array[Any] = _
  private var isHeader = true

  /** The last decoded row, or null when it was the header row. */
  def result: InternalRow = if (isHeader) null else new GenericInternalRow(vals)

  def row(index: Int): Unit = {
    isHeader = header && index == 0
    if (!isHeader) vals = new Array[Any](required.length)
  }

  private def kind(col: Int): Int =
    if (isHeader || col < 0 || col >= kinds.length) Skip else kinds(col)

  private def put(col: Int, v: Any): Unit = {
    val t = targets(col)
    var i = 0
    while (i < t.length) { vals(t(i)) = v; i += 1 }
  }

  def number(col: Int, chars: Array[Char], off: Int, len: Int): Unit =
    if (kind(col) != Skip && len > 0) put(col, fromText(new String(chars, off, len), types(col)))

  def date(col: Int, epochMs: Long): Unit = {
    val k = kind(col)
    if (k == KTimestamp)
      put(col, if (epochMs >= XlsxParser.MinTextMs && epochMs < XlsxParser.MaxTextMs)
        java.lang.Long.valueOf(epochMs * 1000L) else null)
    else if (k != Skip) put(col, fromText(XlsxParser.dateTimeText(epochMs), types(col)))
  }

  def shared(col: Int, idx: Int): Unit = {
    val k = kind(col)
    if (k != Skip && shared(idx).nonEmpty) put(col,
      if (k == KString) {
        var u = sharedUtf8(idx)
        if (u == null) { u = UTF8String.fromString(shared(idx)); sharedUtf8(idx) = u }
        u
      } else fromText(shared(idx), types(col)))
  }

  def text(col: Int, s: String): Unit =
    if (kind(col) != Skip && s.nonEmpty) put(col, fromText(s, types(col)))

  def bool(col: Int, b: Boolean): Unit =
    if (kind(col) != Skip) put(col, fromText(b.toString, types(col)))
}

private[excel] object RowBuilder {
  private final val Skip = 0
  private final val KParse = 1 // long, double, boolean: parsed from the text
  private final val KTimestamp = 2
  private final val KString = 3 // and every other type: read as text

  /** A non-empty cell text as a value of type `dt`. */
  def fromText(raw: String, dt: DataType): Any = dt match {
    case LongType =>
      // exact integer parse first: toDouble.toLong silently corrupts
      // integers above 2^53, and XlsxWriter emits longs as exact text,
      // so round-trips must be lossless. The double path remains for
      // decimal/exponent forms ("3.0", "1e4") that inference typed integral.
      try java.lang.Long.valueOf(raw.trim.toLong)
      catch { case _: NumberFormatException =>
        try java.lang.Long.valueOf(raw.trim.toDouble.toLong)
        catch { case _: NumberFormatException => null }
      }
    case DoubleType =>
      try java.lang.Double.valueOf(raw.trim.toDouble)
      catch { case _: NumberFormatException => null }
    case BooleanType =>
      java.lang.Boolean.valueOf(raw.trim == "true" || raw.trim == "1")
    case TimestampType =>
      // `yyyy-MM-dd HH:mm:ss[.SSS]` (UTC wall time) → micros since epoch
      try {
        val ldt = java.time.LocalDateTime.parse(raw.trim.replace(' ', 'T'))
        val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
        java.lang.Long.valueOf(inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
      } catch { case _: java.time.format.DateTimeParseException => null }
    case _ => UTF8String.fromString(raw)
  }
}

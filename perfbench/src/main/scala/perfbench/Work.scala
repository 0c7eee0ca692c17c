package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.operators.Combinators
import graft.pipeline._
import graft.sinks.{HyperBinary, HyperEquivalentSink}
import graft.sources.excel.XlsxWriter

/** A pipeline workload: the workbooks in `work_dir` and the bundles
  * `Pipeline.run` executes over them. */
final class PipelineWork(spark: SparkSession, spec: JsonNode) extends Work {
  private val workDir = spec.get("work_dir").asText()
  // the workloads' SQL uses SQLite constructs (double-quoted identifiers,
  // GLOB, strftime), so the dialect rewrite is always on
  spark.conf.set(SqliteDialect.ConfKey, "true")

  private val bundles: Seq[QueryBundle] = Util.elements(spec, "bundles").map { b =>
    QueryBundle(
      Util.elements(b, "queries").map(q =>
        Query(q.get("name").asText(), q.get("sql").asText(), q.get("pivot").asBoolean())),
      Util.elements(b, "matches").map(_.asText()),
      Util.elements(b, "sheets").map(_.asText()),
      b.get("export").asText(),
      if (b.get("format").asText() == "hyper") ExportFormat.Hyper else ExportFormat.Excel)
  }

  private def outPath(b: QueryBundle): Path = b.format match {
    case ExportFormat.Hyper => Paths.get(workDir, b.exportFileName + ".hyper")
    case ExportFormat.Excel => Paths.get(workDir, b.exportFileName + ".xlsx")
  }

  /** Untraced: the public entry point itself. Traced: its stages, called
    * in the order `Pipeline.run` calls them, each inside a span; viewing
    * is forced between registration and the queries so the scan gets a
    * span of its own. */
  def pass(tr: Tracer): Unit =
    if (!tr.enabled) new Pipeline(spark, workDir).run(bundles)
    else {
      val p = new Pipeline(spark, workDir)
      val (matched, fsheets) = tr.span("pipeline.match") {
        val m = p.matchDirectoryFiles(bundles.flatMap(_.fileMatches).distinct)
        (m, p.distinctFsheets(bundles, m))
      }
      tr.span("excel.infer")(p.registerViews(fsheets))
      try {
        tr.span("excel.scan")(forceViews(fsheets))
        bundles.foreach { b =>
          val combined = tr.span("pipeline.combine_bundle")(p.combineBundle(b, matched))
          b.format match {
            case ExportFormat.Hyper =>
              tr.span("sink.hyper")(new HyperEquivalentSink().write(outPath(b).toString, combined))
            case ExportFormat.Excel =>
              tr.span("sink.xlsx")(XlsxWriter.write(outPath(b).toString, combined))
          }
        }
      } finally tr.span("pipeline.drop_views")(p.dropViews(fsheets))
    }

  /** Materialise every cached sheet in one job, so the workbooks are
    * scanned in parallel as the pipeline's own first queries scan them. */
  private def forceViews(fsheets: Seq[Fsheet]): Unit =
    fsheets.map(fs => spark.table(fs.sqlTableName).select(lit(1))).reduce(_ union _).count()

  /** Every table the pass wrote, read back: .hyper through
    * HyperBinary.read, .xlsx through the excel source. */
  private def readBack(): Seq[(String, String, DataFrame)] = bundles.flatMap { b =>
    b.format match {
      case ExportFormat.Hyper =>
        HyperBinary.read(outPath(b).resolve("extract.hyper").toString).map {
          case (name, schema, rows) =>
            val list = new java.util.ArrayList[Row](rows.length)
            rows.foreach(r => list.add(Row.fromSeq(r.toSeq)))
            (b.exportFileName, name, spark.createDataFrame(list, schema))
        }
      case ExportFormat.Excel =>
        b.queries.map(q => (b.exportFileName, q.name,
          spark.read.format("excel").option("sheet", q.name).load(outPath(b).toString)))
    }
  }

  private var reference: Option[Seq[(String, Long, Long)]] = None
  private var rows = 0L

  /** Row count and order-independent row hash of one table. */
  private def fingerprint(name: String, rs: Seq[Seq[Any]]): (String, Long, Long) =
    (name, rs.length.toLong, rs.map(_.hashCode.toLong).sum)

  /** Row count and row hash of every table the pass wrote (.hyper tables
    * through HyperBinary.read, .xlsx sheets through the excel source):
    * equal to the first pass's, or the pass failed. */
  def check(): Boolean = {
    val fp = bundles.flatMap { b =>
      b.format match {
        case ExportFormat.Hyper =>
          HyperBinary.read(outPath(b).resolve("extract.hyper").toString).map {
            case (name, _, rs) => fingerprint(name, rs.toSeq.map(_.toSeq))
          }
        case ExportFormat.Excel =>
          b.queries.map(q => fingerprint(q.name,
            spark.read.format("excel").option("sheet", q.name).load(outPath(b).toString)
              .collect().toSeq.map(_.toSeq)))
      }
    }
    rows = fp.map(_._2).sum
    if (reference.isEmpty) reference = Some(fp)
    reference.contains(fp)
  }

  def dump(dir: Path): Unit = readBack().foreach { case (export, table, df) =>
    df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(export).resolve(table).toString)
  }

  def outputBytes: Long = bundles.map(b => Util.treeBytes(outPath(b))).sum
  def rowsWritten: Long = rows

  /** Isolated layer probes over cached inputs, after the passes: dialect
    * rewrite, analysis, per-query execution, the combine operators over
    * cached per-query results, and HyperBinary over cached tables. */
  override def probes(tr: Tracer): Unit = {
    val p = new Pipeline(spark, workDir)
    val matched = p.matchDirectoryFiles(bundles.flatMap(_.fileMatches).distinct)
    val fsheets = p.distinctFsheets(bundles, matched)
    p.registerViews(fsheets)
    forceViews(fsheets)
    try bundles.foreach { b =>
      for (q <- b.queries; m <- b.fileMatches)
        tr.span("dialect.rewrite")(SqliteDialect.rewrite(q.formatQuery(matched(m))))
      val perQuery = tr.span("sql.analyze")(p.queryDataFrames(b, matched))
      tr.span("sql.exec")(perQuery.values.flatten.foreach { case (_, df) =>
        df.write.format("noop").mode("overwrite").save()
      })
      val cached = perQuery.map { case (q, rs) => q -> rs.map { case (f, df) => (f, df.cache()) } }
      cached.values.flatten.foreach(_._2.count())
      // the same operator calls Pipeline.combineBundle makes; checked
      // against combineBundle below, so the copy cannot drift unnoticed
      val combined = tr.span("combine.plan")(b.queries.map { q =>
        val rs = cached(q.name)
        val df =
          if (q.pivotTable)
            Combinators.pivotStack(rs.map { case (f, d) => Fsheet(f, "").baseName -> d })
          else if (rs.length == 1) rs.head._2
          else Combinators.positionalConcat(rs.map { case (_, d) => ("", d, Nil) }).drop("row_id")
        (q, df)
      })
      combined.foreach { case (q, df) =>
        tr.span(if (q.pivotTable) "combine.pivot_exec" else "combine.concat_exec")(
          df.write.format("noop").mode("overwrite").save())
      }
      val program = p.combineBundle(b, matched).toMap
      combined.foreach { case (q, df) =>
        if (!sameRows(df, program(q.name)))
          throw new IllegalStateException(
            s"combine probe of ${q.name} differs from Pipeline.combineBundle")
      }
      if (b.format == ExportFormat.Hyper) {
        val tables = combined.map { case (q, df) => (q.name, df.cache()) }
        tables.foreach(_._2.count())
        val probeOut = Files.createTempFile("probe", ".hyper")
        tr.span("sink.hyper_binary")(HyperBinary.write(probeOut.toString, tables))
        Files.delete(probeOut)
        tables.foreach(_._2.unpersist())
      }
      cached.values.flatten.foreach(_._2.unpersist())
    } finally p.dropViews(fsheets)
  }

  /** Same column names and types, and the same rows in any order. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def cols(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    cols(a) == cols(b) && sorted(a) == sorted(b)
  }

  override def counters: String = Json.obj(
    "hyper_tables" -> bundles.filter(_.format == ExportFormat.Hyper)
      .map(_.queries.length).sum.toString)
}

/** The gate workload: each listed gate's DataFrame, from SparkEntry.queries,
  * written to the noop sink. */
final class GateWork(spark: SparkSession, spec: JsonNode) extends Work {
  private val dataDir = spec.get("data_dir").asText()
  private val gates = Util.elements(spec, "gates").map(_.asText())
  private val byName = graft.SparkEntry.queries
  private var dumped = 0L

  def pass(tr: Tracer): Unit = gates.foreach { g =>
    tr.span(s"gate.$g")(byName(g)(spark, dataDir).write.format("noop").mode("overwrite").save())
  }

  /** The noop sink keeps nothing to compare; a pass fails only by throwing.
    * Results are checked once per run against the oracle ([[dump]]). */
  def check(): Boolean = true

  def dump(dir: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    gates.foreach { g =>
      byName(g)(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(g).toString)
    }
    Files.writeString(dir.resolve("oracle_sql.json"),
      Json.obj(gates.map(g => g -> Json.str(oracle(g))): _*))
    dumped = gates.map(g => Util.treeBytes(dir.resolve(g))).sum
  }

  def outputBytes: Long = dumped
  def rowsWritten: Long = 0L
}

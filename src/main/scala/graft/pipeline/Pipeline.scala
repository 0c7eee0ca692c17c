package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.Combinators
import graft.sinks.HyperEquivalentSink
import graft.sources.excel.XlsxWriter

/** The reference's QueryIterator orchestration (query_iterator.py:32-55),
  * Spark-first: Excel sheets become cached temp views (no SQLite staging
  * copy — A6 collapses into view registration), queries run through the
  * full Catalyst pipeline, and each output table is one lazily-composed
  * DAG that only executes at the sink.
  *
  * Deliberate non-replications (SURVEY.md §2.F): Q1 (broken cleanup call
  * — views are dropped once, after all bundles), Q2 (unconditional
  * `.hyper` suffix — we suffix by actual format), Q7 (substring format
  * dispatch — exact enum).
  */
class Pipeline(spark: SparkSession, workingDir: String) {

  /** A4 — directory matcher (query_iterator.py:58-86): list Excel files,
    * resolve each match substring to the first file containing it.
    */
  def matchDirectoryFiles(matches: Seq[String]): Map[String, String] = {
    val files = Files.list(Paths.get(workingDir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(f => f.endsWith(".xlsx") || f.endsWith(".xls"))
      .toSeq.sorted
    require(files.nonEmpty,
      s"No Excel files found in working directory $workingDir")
    matches.map { m =>
      val hit = files.find(_.contains(m)).getOrElse(
        throw new IllegalArgumentException(
          s"No Excel file in $workingDir matches '$m' (files: ${files.mkString(", ")})"))
      m -> hit
    }.toMap
  }

  /** A5 — distinct (file, sheet) pairs across all bundles, so each sheet
    * is scanned exactly once (query_iterator.py:88-99). Scan sharing is
    * made real with `.cache()`: every query over the same sheet hits the
    * cached columnar batches instead of re-parsing XML.
    */
  def distinctFsheets(
      bundles: Seq[QueryBundle], matched: Map[String, String]): Seq[Fsheet] =
    (for {
      b <- bundles
      m <- b.fileMatches
      s <- b.sheets
    } yield Fsheet(matched(m), s)).distinct

  /** A6 — "table load": register each sheet as a cached temp view under
    * its derived name. Replaces the reference's SQLite materialization
    * (query_iterator.py:101-107) with zero data movement.
    */
  def registerViews(fsheets: Seq[Fsheet]): Unit =
    fsheets.foreach { fs =>
      val df = spark.read.format("excel")
        .option("sheet", fs.sheet)
        .load(Paths.get(workingDir, fs.fileName).toString)
        .cache()
      df.createOrReplaceTempView(fs.sqlTableName)
    }

  def dropViews(fsheets: Seq[Fsheet]): Unit =
    fsheets.foreach(fs => spark.catalog.dropTempView(fs.sqlTableName))

  /** A7+A8+A9 — per (query, match) fan-out: rewrite `.sheet` tokens for
    * the matched file, run through Catalyst, post-process per pivot flag
    * (query_iterator.py:109-139).
    */
  def queryDataFrames(
      bundle: QueryBundle, matched: Map[String, String])
      : Map[String, Seq[(String, DataFrame)]] = {
    val sqliteDialect =
      spark.conf.get(SqliteDialect.ConfKey, "false").toBoolean
    bundle.queries.map { q =>
      q.name -> bundle.fileMatches.map { m =>
        val file = matched(m)
        val formatted = q.formatQuery(file, sqliteDialect)
        // features Spark lacks (GROUPS frames) fail with a friendly
        // one-liner, not a raw Catalyst parse error. The dialect rewrite
        // preflights internally, so only the Spark-dialect path needs it
        // here (running it twice was harmless but wasteful).
        if (!sqliteDialect) SqliteDialect.preflight(formatted)
        val df = spark.sql(formatted)
        // A10: non-pivot results get match-prefixed columns
        // (query_iterator.py:111-119,133-134)
        val out = if (q.pivotTable) df else Combinators.prefixColumns(df, m)
        file -> out
      }
    }.toMap
  }

  /** A11/A12 — the per-query combine step: pivot-stack or positional
    * concat across the bundle's matched files, returning the final
    * (table name, DataFrame) pairs the sinks receive. Exposed separately
    * from [[exportBundle]] so callers can time or inspect the combined
    * tables without going through a sink file.
    */
  def combineBundle(
      bundle: QueryBundle, matched: Map[String, String]): Seq[(String, DataFrame)] = {
    val perQuery = queryDataFrames(bundle, matched)
    val combined: Seq[(String, DataFrame)] = bundle.queries.map { q =>
      val results = perQuery(q.name)
      val df =
        if (q.pivotTable)
          Combinators.pivotStack(results.map { case (f, d) =>
            Fsheet(f, "").baseName -> d
          })
        else if (results.length == 1) results.head._2
        else
          Combinators.positionalConcat(results.map { case (_, d) =>
            // empty order = the query's own emitted order, matching the
            // reference's pandas positional row alignment (a query with
            // its own ORDER BY keeps it); results are small per-file
            // aggregates (Q6 decision, SURVEY.md §2.F)
            ("", d, Nil)
          }).drop("row_id")
      q.name -> df
    }
    combined
  }

  /** A14/A15 — export one bundle through its sink. */
  def exportBundle(
      bundle: QueryBundle, matched: Map[String, String]): String = {
    val combined = combineBundle(bundle, matched)
    bundle.format match {
      case ExportFormat.Hyper =>
        val out = Paths.get(workingDir, bundle.exportFileName + ".hyper").toString
        new HyperEquivalentSink().write(out, combined)
        out
      case ExportFormat.Excel =>
        val out = Paths.get(workingDir, bundle.exportFileName + ".xlsx").toString
        XlsxWriter.write(out, combined)
        out
    }
  }

  /** A17 — full run: match → dedup → views → query → combine → export
    * (query_iterator.py:32-55). Returns the written output paths.
    */
  def run(bundles: Seq[QueryBundle]): Seq[String] = {
    val allMatches = bundles.flatMap(_.fileMatches).distinct
    val matched = matchDirectoryFiles(allMatches)
    val fsheets = distinctFsheets(bundles, matched)
    registerViews(fsheets)
    try bundles.map(b => exportBundle(b, matched))
    finally dropViews(fsheets)
  }
}

object Pipeline {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
  import graft.streaming.EventsStream

  /** Where [[runStreaming]] lands its two result streams. */
  sealed trait StreamTarget

  /** In-session tables `<prefix>_windowed` / `<prefix>_sessions` — live
    * queryable state (the windowed stream runs in complete mode, so a
    * bounded replay shows every window, including those still inside the
    * watermark).
    */
  final case class MemoryTables(prefix: String) extends StreamTarget

  /** Parquet directories `<dir>/windowed` and `<dir>/sessions`
    * (checkpoints under `<dir>/_checkpoints`). File sinks are
    * append-only, so windows are emitted once their watermark passes —
    * the right semantics for continuous operation; trailing windows stay
    * in state until later data closes them.
    */
  final case class ParquetDir(dir: String) extends StreamTarget

  /** Handle on the two queries started by [[runStreaming]]. */
  final case class StreamingRun(windowed: StreamingQuery, sessions: StreamingQuery) {
    /** Drain everything currently in the watched directory (testing and
      * catch-up; continuous operation just leaves the queries running).
      */
    def processAllAvailable(): Unit = {
      windowed.processAllAvailable()
      sessions.processAllAvailable()
    }
    def stop(): Unit = {
      windowed.stop()
      sessions.stop()
    }
  }

  /** Streaming pipeline entry point (the streaming dual of [[Pipeline.run]],
    * SURVEY.md §7.6): watch `watchDir` for event files and continuously
    * maintain the two gated streaming results —
    *
    *   - watermarked tumbling-window counts
    *     ([[EventsStream.windowedCounts]], the s01 plan), and
    *   - stateful gap sessionization
    *     ([[EventsStream.sessionize]], the s02 plan; sessions emit when a
    *     later event closes them, so an end-of-stream flush file — one
    *     past-gap sentinel event per user — closes the final sessions,
    *     exactly as [[EventsStream.sessionizeWithFinalFlush]] does in
    *     batch).
    *
    * Both queries share the incrementally-executed batch plans the
    * driver's s01/s02 oracle gates verify every round; PipelineStreamingSpec
    * feeds files in one at a time and checks the outputs equal those gated
    * results row-for-row.
    */
  def runStreaming(
      spark: SparkSession,
      watchDir: String,
      target: StreamTarget,
      format: String = "parquet",
      windowLength: String = "1 hour",
      watermark: String = "10 minutes",
      gapSeconds: Long = 1800,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingRun = {
    import spark.implicits._
    val events = EventsStream.readEvents(spark, watchDir, format)
    val windowed = EventsStream.windowedCounts(events, windowLength, watermark)
    val sessions = EventsStream.sessionize(
      events.as[EventsStream.Event], gapSeconds).toDF()

    target match {
      case MemoryTables(prefix) =>
        StreamingRun(
          windowed.writeStream.outputMode("complete")
            .format("memory").queryName(s"${prefix}_windowed")
            .trigger(trigger).start(),
          sessions.writeStream.outputMode("append")
            .format("memory").queryName(s"${prefix}_sessions")
            .trigger(trigger).start())
      case ParquetDir(dir) =>
        StreamingRun(
          windowed.writeStream.outputMode("append")
            .option("checkpointLocation", s"$dir/_checkpoints/windowed")
            .trigger(trigger).start(s"$dir/windowed"),
          sessions.writeStream.outputMode("append")
            .option("checkpointLocation", s"$dir/_checkpoints/sessions")
            .trigger(trigger).start(s"$dir/sessions"))
    }
  }
}

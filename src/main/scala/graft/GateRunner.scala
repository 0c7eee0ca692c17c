package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The one runner over the [[SparkEntry.queries]] gates:
  *
  * `graft.GateRunner <verify|explain|profile> <sfDir> <out> [gate,gate,…]`
  *
  *   - `verify` writes each gate's result to `<out>/<gate>` parquet plus
  *     `<out>/oracle_sql.json` (the selected gates' DuckDB SQL) for
  *     `tools/check.py`; a failing gate is reported on stderr and the
  *     rest still run;
  *   - `explain` rewrites the markdown file `<out>`: its text above the
  *     first `## ` heading stays, then one `## <gate>` section per gate
  *     with the formatted physical plan; without a list it regenerates
  *     the sections the file already has, in order;
  *   - `profile` runs each gate once through the noop sink [[Bench]]
  *     times, after the bench warm-up, and prints a per-Spark-job
  *     breakdown, also written to the text file `<out>`.
  *
  * The optional comma-separated list selects gates; without it every
  * gate runs. `main` builds the session ([[LocalSession]] on
  * `SPARK_GRAFT_CPUS` cores, default 4); each mode body takes the
  * session as a parameter. Session settings for an A/B run go on the
  * JVM command line as `-Dspark.*=…`.
  */
object GateRunner {

  /** The gates a comma-separated `list` names, in list order, or
    * `default` without a list. An unknown name throws, naming it, before
    * any gate runs. */
  def select(list: Option[String],
      default: => Seq[String] = SparkEntry.queries.keys.toSeq): Seq[String] =
    list match {
      case None => default
      case Some(csv) =>
        val names = csv.split(',').map(_.trim).filter(_.nonEmpty).distinct.toSeq
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(names.nonEmpty, s"empty gate list: '$csv'")
        require(unknown.isEmpty, s"unknown gate(s): ${unknown.mkString(", ")}")
        names
    }

  /** `s` as a quoted JSON string: quote, backslash and every control
    * character (< 0x20) escaped — a tab or CR in gate SQL would
    * otherwise make a reader's `json.load` fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Warm the session before timed gate runs: the `entry` smoke query
    * (JVM/JIT, codegen compiler, parquet footer caches) and every shared
    * gate fixture ([[Fixtures.prewarm]]), so a gate's first sample
    * measures its verb, not one-time startup. A failure is reported on
    * stderr; the first measured gate then absorbs that cost. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    try SparkEntry.entry(spark).count() catch {
      case e: Throwable => System.err.println(s"WARN warmup failed: $e")
    }
    try Fixtures.prewarm(spark, sfDir) catch {
      case e: Throwable => System.err.println(s"WARN fixture prewarm failed: $e")
    }
  }

  /** Correctness dump for the DuckDB oracle compare (`tools/check.py`).
    * Fixtures build lazily on first touch. */
  def verify(spark: SparkSession, sfDir: String, outDir: String,
      list: Option[String] = None): Unit = {
    val names = select(list)
    val fns = SparkEntry.queries
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try fns(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.toSeq.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** Formatted physical plans as markdown, under the target file's
    * existing preamble. Every plan is built before the file is touched. */
  def explain(spark: SparkSession, sfDir: String, outFile: String,
      list: Option[String] = None): Unit = {
    val path = Paths.get(outFile)
    val old = if (Files.exists(path)) Files.readString(path) else ""
    val headings = "(?m)^## (.*)$".r.findAllMatchIn(old).toSeq
    val names = select(list, headings.map(_.group(1).trim))
    require(names.nonEmpty, s"no gate list and no ## sections in $outFile")
    val fns = SparkEntry.queries
    val sections = names.map { name =>
      val plan = fns(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      s"## $name\n\n```\n${plan.trim}\n```\n"
    }
    val preamble = headings.headOption.fold(old)(m => old.substring(0, m.start))
    Files.writeString(path, preamble + sections.mkString("\n"))
    println(s"[explain] wrote ${names.size} plans to $outFile")
  }

  private final case class JobRow(id: Int, desc: String, start: Long, var end: Long = 0L)

  /** Per-gate Spark job breakdown: each selected gate runs once through
    * the noop sink after [[warmUp]], with a listener recording every
    * job's wall time and call site. The rows show what one per-gate
    * number hides — micro-batch overhead in a streaming gate, how many
    * driver-scheduled jobs an iterative verb launches, which job
    * dominates, and the driver time between jobs. Returns the report. */
  def profile(spark: SparkSession, sfDir: String,
      list: Option[String] = None): String = {
    val names = select(list)
    val fns = SparkEntry.queries
    val jobs = new ConcurrentLinkedQueue[JobRow]()
    val open = new ConcurrentHashMap[Int, JobRow]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description", p.getProperty("callSite.short"))))
        val row = JobRow(js.jobId, desc.getOrElse(""), js.time)
        open.put(js.jobId, row)
        jobs.add(row)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(open.remove(je.jobId)).foreach(_.end = je.time)
    }
    warmUp(spark, sfDir)
    val out = new StringBuilder
    def say(line: String): Unit = { println(line); out.append(line).append('\n') }
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      jobs.clear(); open.clear()
      val t0 = System.nanoTime()
      fns(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      say(f"== $name%s  wall=$wall%.2f s")
      val rows = jobs.toArray(Array.empty[JobRow]).sortBy(_.start)
      val base = rows.headOption.map(_.start).getOrElse(0L)
      var covered = 0L
      var lastEnd = 0L
      for (r <- rows) {
        val dur = math.max(0L, r.end - r.start)
        val gap = r.start - math.max(base, lastEnd)
        if (gap > 50)
          say(f"   [driver gap ${gap / 1e3}%.2f s before job ${r.id}%d]")
        say(f"   job ${r.id}%4d  +${(r.start - base) / 1e3}%7.2f s  dur ${dur / 1e3}%6.2f s  ${r.desc.take(110)}%s")
        covered += dur
        lastEnd = math.max(lastEnd, r.end)
      }
      say(f"   -- jobs=${rows.length}%d sumJobDur=${covered / 1e3}%.2f s wall=$wall%.2f s (driver/non-job=${wall - covered / 1e3}%.2f s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    out.toString
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: GateRunner <verify|explain|profile> <sfDir> <out> [gate,gate,...]"
    require(args.length == 3 || args.length == 4, usage)
    val Array(mode, sfDir, out) = args.take(3)
    val list = args.lift(3)
    require(Set("verify", "explain", "profile")(mode), usage)
    select(list) // a bad gate name fails before the session starts
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "verify" => verify(spark, sfDir, out, list)
      case "explain" => explain(spark, sfDir, out, list)
      case "profile" => Files.writeString(Paths.get(out), profile(spark, sfDir, list))
    } finally spark.stop()
  }
}

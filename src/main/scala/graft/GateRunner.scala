package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.streaming.state.StateStore

/** The one runner over the [[SparkEntry.queries]] gates:
  *
  * `graft.GateRunner <verify|explain|profile|time> <sfDir> <out> [gate,gate,…]`
  *
  *   - `verify` writes each gate's result to `<out>/<gate>` parquet plus
  *     `<out>/oracle_sql.json` (the selected gates' DuckDB SQL) for
  *     `tools/check.py`; a failing gate is reported on stderr and the
  *     rest still run;
  *   - `explain` rewrites the markdown file `<out>`: its text above the
  *     first `## ` heading stays, then one `## <gate>` section per gate
  *     with the formatted physical plan; without a list it regenerates
  *     the sections the file already has, in order;
  *   - `profile` samples each gate once the way `time` does and prints
  *     a per-Spark-job breakdown, also written to the text file `<out>`;
  *   - `time` measures the gates and prints ONE JSON line as the last
  *     stdout line (see [[time]]); `<out>` is the cost-hints file that
  *     orders the run and that a quiet unlisted run refreshes. [[Bench]]
  *     is this mode with its arguments taken from the environment.
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

  /** Run `body` on a daemon thread under Spark job group `group`; past
    * `capS` seconds, cancel the group's jobs and report the timeout
    * instead of blocking the run on one inflated sample. Right(seconds)
    * or Left(error). The group carries no description, so each job
    * keeps its call site for the `profile` listener. */
  private def guarded(spark: SparkSession, group: String, capS: Double)(
      body: => Unit): Either[String, Double] = {
    val failure = new AtomicReference[Throwable]
    val t0 = System.nanoTime()
    val worker = new Thread(() => {
      spark.sparkContext.setJobGroup(group, null, interruptOnCancel = true)
      try body catch { case e: Throwable => failure.set(e) }
    }, s"bench-$group")
    worker.setDaemon(true)
    worker.start()
    worker.join(math.max(1L, (capS * 1000).toLong))
    if (worker.isAlive) {
      spark.sparkContext.cancelJobGroup(group)
      worker.join(10000) // give the cancel a moment; daemon thread if stuck
      Left(f"watchdog: sample exceeded cap $capS%.0f s (contention or regression)")
    } else Option(failure.get) match {
      case Some(e) => Left(
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
      case None => Right((System.nanoTime() - t0) / 1e9)
    }
  }

  /** Unload every loaded state-store provider and its maintenance
    * task. Each streaming-gate sample runs against a fresh checkpoint,
    * so the providers (RocksDB: native memory + a periodic
    * compaction/snapshot task each) that earlier samples loaded are
    * never reused, yet stay resident and slow whatever runs after the
    * s-family (measured: d07 11.1 s late in the suite vs 5.9 s in a
    * fresh JVM, d30 9.4 vs 2.7). A no-op when nothing is loaded; the
    * next streaming sample reloads its own providers lazily. */
  private def dropStreamState(): Unit =
    try StateStore.stop() catch { case _: Throwable => () }

  /** The one timed call of `time` and `profile`: gate `name`'s
    * noop-sink write — full distributed execution including final
    * sorts, which `count()` would let Catalyst drop, and nothing
    * written — under job group `group`, watchdogged at `capS`; then
    * the stream state is dropped, outside the timed region. */
  private def sample(spark: SparkSession, sfDir: String, name: String,
      group: String, capS: Double): Either[String, Double] = {
    val gate = SparkEntry.queries(name)
    val r = guarded(spark, group, capS)(
      gate(spark, sfDir).write.format("noop").mode("overwrite").save())
    dropStreamState()
    r
  }

  private final case class JobRow(id: Int, desc: String, start: Long, var end: Long = 0L)

  /** Per-gate Spark job breakdown: after [[warmUp]], each selected gate
    * is sampled once, as `time` samples it, with a listener recording
    * every job's wall time and call site. The rows show what one
    * per-gate number hides — micro-batch overhead in a streaming gate,
    * how many driver-scheduled jobs an iterative verb launches, which
    * job dominates, and the driver time between jobs. Returns the
    * report. */
  def profile(spark: SparkSession, sfDir: String,
      list: Option[String] = None): String = {
    val names = select(list)
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
      sample(spark, sfDir, name, name, Double.PositiveInfinity) match {
        case Left(err) => say(s"== $name  failed: $err")
        case Right(wall) =>
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
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    out.toString
  }

  // ---- `time`: the suite timing run ------------------------------------

  /** Flat `{"name": seconds, ...}` parse — the only JSON shape the hints
    * file ever holds, so a regex scan beats pulling in a parser. Any
    * malformed file degrades to no hints (every gate then orders as 1 s).
    */
  private[graft] def parseCostHints(json: String): Map[String, Double] = {
    val entry = """"((?:[^"\\]|\\.)+)"\s*:\s*([0-9.eE+-]+)""".r
    entry.findAllMatchIn(json).flatMap { m =>
      scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption
    }.toMap
  }

  private[graft] def loadCostHints(path: String): Map[String, Double] =
    scala.util.Try {
      val p = Paths.get(path)
      if (Files.isReadable(p)) parseCostHints(new String(Files.readAllBytes(p), "UTF-8"))
      else Map.empty[String, Double]
    }.getOrElse(Map.empty)

  /** Best-effort write of this run's measured costs (sorted cheapest
    * first for human diffing); failure is non-fatal — the hints are an
    * ordering optimization, not data.
    */
  private[graft] def saveCostHints(path: String, costs: Map[String, Double]): Unit =
    scala.util.Try {
      val p = Paths.get(path)
      Option(p.getParent).foreach(Files.createDirectories(_))
      val body = costs.toSeq.sortBy { case (n, c) => (c, n) }
        .map { case (n, c) => s""""$n":$c""" }
        .mkString("{", ",", "}")
      Files.write(p, body.getBytes("UTF-8"))
    }

  /** Sweep-phase watchdog cap for one sample, relative to the gate's
    * own cost hint (a flat budget/8 cap let one contention spike eat
    * ~60 s for zero data). Bounded both ways so a poisoned hints file
    * cannot reduce sweep coverage:
    *   - floor 10 s — a hint poisoned LOW (or missing/NaN/negative)
    *     cannot watchdog-kill a healthy gate;
    *   - ceiling budget/4 — a hint poisoned HIGH cannot let one sample
    *     starve the rest of the sweep.
    */
  private[graft] def sweepCapS(hint: Double, budgetS: Double): Double = {
    val h = if (hint.isNaN || hint <= 0) 1.0 else hint
    math.min(budgetS / 4, math.max(5 * h, 10.0))
  }

  /** Total busy CPU jiffies across all cores from `/proc/stat` line 1
    * (every field except idle and iowait). Paired snapshots give the
    * box's total CPU consumption over an interval — the input to the
    * co-tenant measure below. None off-Linux / on read error.
    */
  private[graft] def totalBusyJiffies(): Option[Long] = scala.util.Try {
    val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  }.toOption

  /** This JVM's cumulative CPU nanos (all threads — local-mode
    * executors included, since local mode never forks). */
  private[graft] def ownCpuNanos(): Option[Long] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        Some(os.getProcessCpuTime).filter(_ >= 0)
      case _ => None
    }

  /** The co-tenant CPU fraction over a measurement window:
    * (box busy CPU − this JVM's CPU) / (wall × cores) — what share of
    * the machine someone ELSE burned while we measured. It reads
    * ~0.01–0.03 on an idle box (kernel + daemons) and rises directly
    * with real co-tenant load, where the max/min probe ratio is noise
    * on a quiet box (1.3–1.8 across runs whose totals agreed within
    * 0.04 %: JIT re-optimization and scheduler blips move a 0.2 s
    * probe). USER_HZ is 100 on every mainstream kernel. Negative drift
    * (timer granularity) clamps to 0.
    */
  private[graft] def coTenantFraction(busyJiffies: Long, ownNanos: Long,
      wallNanos: Long, cores: Int): Double = {
    if (wallNanos <= 0 || cores <= 0) return -1.0
    val busySec = busyJiffies / 100.0
    val otherSec = busySec - ownNanos / 1e9
    math.max(0.0, otherSec / (wallNanos / 1e9 * cores))
  }

  /** Clean-run bar for [[coTenantFraction]]: under 5% of the box spent
    * by others — idle boxes measure 1–3% (kernel, journald, sshd); any
    * real co-tenant Spark JVM reads far above it.
    */
  private[graft] val CoTenantQuietBar = 0.05

  /** The clean-run criterion, emitted as `contention.quiet`: the
    * co-tenant fraction under [[CoTenantQuietBar]]; without one (no
    * `/proc/stat`, fraction −1) a max/min probe ratio in (0, 1.5] — 0
    * means the probes failed, no signal. Only a quiet run's medians
    * become the next run's hints: a contended run's are co-tenant
    * noise and would misorder the next sweep.
    */
  private[graft] def quiet(coFrac: Double, probeRatio: Double): Boolean =
    if (coFrac >= 0) coFrac < CoTenantQuietBar
    else probeRatio > 0 && probeRatio <= 1.5

  /** How far one run may drag a hint UP relative to the value on file:
    * a burst BETWEEN quiet probes can inflate single medians (d07 6.7 s
    * idle → 24.7 s). Capping upward movement at 1.5× bounds any single
    * burst's poisoning, while a genuine regression still propagates
    * (geometrically, ~2 runs per doubling) and one quiet run restores
    * the true value at once (downward moves are taken as-is). Gates
    * absent from this run (watchdog-killed or budget-skipped) keep
    * their existing hint.
    */
  private val hintRiseCap = 1.5

  /** Geometric decay applied to a budget-SKIPPED gate's hint at
    * persist time — the deadlock breaker: a skipped gate gets no
    * measurement, so a stale-high hint kept verbatim would make every
    * later window skip it too, permanently. Decaying 0.8×/run walks a
    * 1.5×-overstated hint under the skip threshold in ~2 runs; if the
    * gate really is that expensive, its first re-measurement restores
    * the true cost.
    */
  private val hintSkipDecay = 0.8

  private[graft] def mergeCostHints(
      existing: Map[String, Double],
      measured: Map[String, Double],
      skipped: Set[String] = Set.empty): Map[String, Double] = {
    val merged = existing ++ measured.map { case (n, c) =>
      existing.get(n) match {
        case Some(h) if h > 0 && c > h => n -> math.min(c, h * hintRiseCap)
        case _                         => n -> c
      }
    }
    merged ++ skipped.iterator.filterNot(measured.contains)
      .flatMap(n => merged.get(n).map(h =>
        n -> math.max(1.0, h * hintSkipDecay)))
  }

  private def r3(v: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Render the per-fixture build-cost map for the emitted JSON line:
    * compact object, costliest first, ms precision — the same layout
    * rules as the queries map.
    */
  private[graft] def fixturesJson(costs: Map[String, Double]): String =
    costs.toSeq.sortBy { case (n, c) => (-c, n) }
      .map { case (k, v) => jsonString(k) + ":" + r3(v) }
      .mkString("{", ",", "}")

  /** What one `time` run has measured so far and the JSON line that
    * reports it. It is made before the session so that a shutdown hook
    * can [[emit]] a partial line even when an external kill lands
    * during session start; the budget clock starts here too. Every
    * access to the maps and `pending` is synchronized on `samples`
    * (the timing loop is single-threaded; the hook races it).
    *
    * @param hintsPath cost hints that order the run; a quiet unlisted
    *   run merges its medians back in
    * @param list gate list: a targeted re-measurement, writes no hints
    */
  final class Timing(val sfDir: String, hintsPath: String,
      list: Option[String], val runs: Int, val budgetS: Double) {
    private val startNanos = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNanos) / 1e9
    def remainingS: Double = budgetS - elapsedS
    val costHint: Map[String, Double] = loadCostHints(hintsPath)
    def hint(name: String): Double = costHint.getOrElse(name, 1.0)

    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.LinkedHashMap.empty[String, String]
    val probes = mutable.LinkedHashMap.empty[String, Double]
    /** Gates not yet sampled, cheapest-first; left non-empty only by a
      * budget skip or expiry. */
    var pending: Seq[String] = select(list).sortBy(n => (hint(n), n))
    /** (box busy jiffies, own CPU nanos, wall nanos) when the session
      * came up, so JVM/Spark startup isn't charged to the box. */
    @volatile var coAnchor: Option[(Long, Long, Long)] = None
    private val printed = new AtomicBoolean(false)

    /** Print the JSON line, once, and persist the medians as hints if
      * this was a quiet unlisted run.
      *
      * The line is laid out for tail capture (a reader may keep only
      * the last ~2000 characters of output): per-gate times at ms
      * precision and slowest first, so truncation eats the cheap
      * sub-second tail, and errors, skipped, contention,
      * budget_expired, elapsed and the slowest-10 recap at the end.
      */
    def emit(expired: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      samples.synchronized {
        val medians = samples.collect { case (k, ss) if ss.nonEmpty =>
          k -> ss.sorted.apply(ss.size / 2)
        }
        val ordered = medians.toSeq.sortBy { case (n, c) => (-c, n) }
        def obj(kvs: Iterable[(String, String)]): String =
          kvs.map { case (k, v) => jsonString(k) + ":" + v }.mkString("{", ",", "}")
        val qs = obj(ordered.map { case (k, v) => k -> r3(v) })
        val errJson = obj(errors.map { case (k, v) => k -> jsonString(v) })
        val skipped = pending.map(jsonString).mkString("[", ",", "]")
        val total = if (medians.nonEmpty) medians.values.sum else 0.0
        val ratio =
          if (probes.nonEmpty && probes.values.min > 0) probes.values.max / probes.values.min
          else 0.0
        val coFrac = (for {
          (b0, o0, w0) <- coAnchor
          b1 <- totalBusyJiffies()
          o1 <- ownCpuNanos()
        } yield coTenantFraction(b1 - b0, o1 - o0, System.nanoTime() - w0,
          // the MACHINE's cores, not Spark's thread count: the fraction
          // asks what share of the BOX someone else burned
          Runtime.getRuntime.availableProcessors())).getOrElse(-1.0)
        val isQuiet = quiet(coFrac, ratio)
        val contention = obj(probes.map { case (k, v) => k -> r3(v) } ++
          Seq("ratio" -> r3(ratio), "cotenant_frac" -> r3(coFrac),
            "quiet" -> isQuiet.toString))
        val slowJson = obj(ordered.take(10).map { case (k, v) => k -> r3(v) })
        // budget_expired means COVERAGE was lost: a gate never got a
        // measured sample — skipped outright (pending is non-empty only
        // after a budget skip or expiry, even with the clock still
        // ticking), or attempted and failed with no retry slot left. A
        // budget that ran out during refine with every gate measured is
        // the designed spend-what's-left behavior: refine_truncated.
        val unmeasuredErr = errors.keys.exists(k =>
          !k.startsWith("__probe") && !k.endsWith("@refine") &&
            !samples.get(k).exists(_.nonEmpty))
        val coverageLost = pending.nonEmpty || (expired && unmeasuredErr)
        val refineCut = expired && !coverageLost
        // per-fixture build seconds: the warm-up cost deliberately kept
        // out of every per-gate number, so elapsed − total reconciles
        val fixJson = fixturesJson(Fixtures.buildCosts)
        println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"sf":${jsonString(sfDir)},"n_queries":${medians.size},"queries":$qs,"errors":$errJson,"skipped":$skipped,"fixtures":$fixJson,"contention":$contention,"budget_expired":$coverageLost,"refine_truncated":$refineCut,"elapsed":${r3(elapsedS)},"slowest":$slowJson}""")
        System.out.flush()
        if (medians.nonEmpty && isQuiet && list.isEmpty)
          saveCostHints(hintsPath, mergeCostHints(loadCostHints(hintsPath),
            medians.toMap, skipped = pending.toSet))
      }
    }
  }

  /** The timing loop behind [[Bench]]: measure `t`'s gates on `spark`,
    * recording into `t`; returns whether the budget expired. The
    * caller emits the line ([[Timing.emit]]) once the session is
    * stopped.
    *
    * Measurement: the median of up to `runs` [[sample]]s per gate;
    * failures are reported in `errors`, never swallowed as a fast
    * sample. [[warmUp]] and fixture builds are paid once, inside the
    * budget, outside every gate's number.
    *
    * Budget and coverage: `budgetS` is a wall-clock budget and coverage
    * comes before precision.
    *   - SWEEP: one sample of every gate, cheapest-first by cost hint,
    *     each under a watchdog of [[sweepCapS]]; a gate whose own hint
    *     exceeds the remaining budget is skipped (reported under
    *     `skipped`, not `errors`);
    *   - RETRY: a watchdog-killed sweep gate gets one more attempt at
    *     the budget/4 cap before any repeat sample;
    *   - REFINE: the rest of the budget buys repeat samples,
    *     round-robin (every gate's 2nd before any 3rd), slowest-first
    *     by the gate's own first time (a single cold sample distorts a
    *     heavy gate most), each only if that time fits what is left.
    *
    * Contention: a fixed compute-bound probe (a 1B-row hash, no I/O, no
    * shuffle; each point the median of 3 runs) is timed at the start,
    * middle and end of the run. Refine rounds run behind a contention
    * gate (a pause, bounded by the budget, while a probe reads > 1.5×
    * the quietest point); a refine watchdog kill settles and retries
    * once before it becomes an error; the closing point waits out any
    * tail burst.
    */
  def time(spark: SparkSession, t: Timing): Boolean = {
    import t.{samples, errors, probes}
    t.coAnchor = for {
      b <- totalBusyJiffies(); o <- ownCpuNanos()
    } yield (b, o, System.nanoTime())

    // 1B rows ≈ 0.5–1 s idle on 32 threads: the ~30–50 ms job
    // scheduling overhead is noise, yet a 15×-contended box still
    // finishes 3 runs inside one cap
    def probeOnce(): Either[String, Double] =
      guarded(spark, "probe", capS = 30)(
        spark.range(0, 1000000000L, 1, spark.sparkContext.defaultParallelism)
          .selectExpr("bit_xor(xxhash64(id)) AS h") // xor: no ANSI overflow
          .write.format("noop").mode("overwrite").save())
    // median of 3: one run can eat a scheduler blip (often the run's own
    // task-cleanup tail) and read 2–4× on an idle box; sustained
    // co-tenant pressure inflates all three
    def probe(label: String): Unit = {
      val runs = (1 to 3).map(_ => probeOnce())
      val ok = runs.collect { case Right(s) => s }.sorted
      if (ok.nonEmpty)
        samples.synchronized { probes(label) = ok(ok.size / 2) }
      else runs.head.left.foreach { err =>
        samples.synchronized { errors.getOrElseUpdate(s"__probe_$label", err) }
      }
    }

    def recordSample(name: String, s: Double): Unit = samples.synchronized {
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += s
    }
    // a failure AFTER the gate already has a valid sample is keyed
    // `name@refine`: a measured gate with a failed repeat is not a
    // failed gate, and no gate is listed under both queries and errors
    def recordError(name: String, err: String): Unit = samples.synchronized {
      val key = if (samples.get(name).exists(_.nonEmpty)) s"$name@refine" else name
      errors.getOrElseUpdate(key, err)
    }
    def sampleOf(name: String, attempt: Int, capS: Double): Either[String, Double] =
      sample(spark, t.sfDir, name, s"$name-$attempt",
        math.min(capS, math.max(t.remainingS, 1.0)))
    def sampleOnce(name: String, attempt: Int, capS: Double): Unit =
      sampleOf(name, attempt, capS) match {
        case Right(s) => recordSample(name, s)
        case Left(err) => recordError(name, err)
      }

    // Before refine work, probe against the quietest point seen so far;
    // while it reads > 1.5× that, PAUSE (bounded by the budget) rather
    // than sample under co-tenant pressure. True when quiet (or when
    // probing itself fails — no signal, don't spin), false when the
    // contention outlasted the wait.
    def ensureQuiet(): Boolean = {
      val base = samples.synchronized {
        if (probes.nonEmpty) probes.values.min else 0.0
      }
      if (base <= 0) return true
      var tries = 0
      while (tries < 8) {
        probeOnce() match {
          case Right(s) if s <= base * 1.5 => return true
          case Right(_) =>
            if (t.remainingS < 60) return false // don't eat the emit window
            Thread.sleep(8000)
            tries += 1
          case Left(_) => return true
        }
      }
      false
    }

    warmUp(spark, t.sfDir)
    // warm the probe to steady state before the first point: C2 keeps
    // re-optimizing the probe loop (idle runs measured start > mid >
    // end, 0.30 → 0.19 s), which alone would push the ratio past the
    // clean-run bar. Stop when two consecutive runs agree within ±10%
    // (or after 8); a slower second run (a noise spike) does not end it
    var probePrev = Double.MaxValue
    var probeWarm = 0
    var probeSteady = false
    while (probeWarm < 8 && !probeSteady) {
      probeOnce() match {
        case Right(s) =>
          probeSteady = s >= probePrev * 0.9 && s <= probePrev * 1.1
          probePrev = s; probeWarm += 1
        case Left(_) => probeSteady = true
      }
    }
    probe("start")

    // ---- SWEEP
    val order = t.pending.toList
    val midpoint = order.size / 2
    var expired = false
    for ((name, idx) <- order.zipWithIndex if !expired) {
      if (idx == midpoint) probe("mid")
      val hint = t.hint(name)
      if (t.remainingS <= 0) expired = true
      else if (t.remainingS >= math.max(hint, 1.0)) {
        sampleOnce(name, attempt = 0, capS = sweepCapS(hint, t.budgetS))
        samples.synchronized { t.pending = t.pending.filterNot(_ == name) }
      }
    }

    // ---- RETRY: the full budget/4 cap, whatever the (maybe too tight) hint
    val cappedInSweep = samples.synchronized {
      errors.collect {
        case (n, e) if e.startsWith("watchdog") &&
          !samples.get(n).exists(_.nonEmpty) && SparkEntry.queries.contains(n) => n
      }.toList
    }
    for (name <- cappedInSweep if !expired) {
      if (t.remainingS <= 0) expired = true
      else if (t.remainingS >= math.max(t.hint(name), 1.0)) {
        samples.synchronized { errors.remove(name) }
        sampleOnce(name, attempt = -1, capS = t.budgetS / 4)
      }
    }

    // ---- REFINE
    val failedInSweep = samples.synchronized { errors.keySet.toSet }
    var refineQuiet = true
    for (round <- 1 until t.runs if !expired && refineQuiet) {
      refineQuiet = ensureQuiet()
      val byMeasured = samples.synchronized {
        samples.collect { case (n, ss) if ss.size == round && !failedInSweep(n) =>
          n -> ss.sorted.apply(ss.size / 2)
        }.toSeq.sortBy { case (n, c) => (-c, n) }
      }
      for ((name, lastCost) <- byMeasured if !expired && refineQuiet) {
        if (t.remainingS <= 0) expired = true
        else if (lastCost < t.remainingS) {
          val cap = sweepCapS(lastCost, t.budgetS)
          sampleOf(name, attempt = round, capS = cap) match {
            case Right(s) => recordSample(name, s)
            case Left(err) if err.startsWith("watchdog") =>
              // the gate already has an in-cap sample this run, so a
              // refine kill is almost always a contention burst: settle,
              // retry ONCE, and only a second kill on a quiet box counts
              refineQuiet = ensureQuiet()
              if (refineQuiet && lastCost < t.remainingS)
                sampleOnce(name, attempt = round, capS = cap)
            case Left(err) => recordError(name, err)
          }
        }
      }
    }

    // the closing point describes the box DURING measurement, not a
    // co-tenant wave that arrived after the last sample
    ensureQuiet()
    probe("end")
    expired
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: GateRunner <verify|explain|profile|time> <sfDir> <out> [gate,gate,...]"
    require(args.length == 3 || args.length == 4, usage)
    val Array(mode, sfDir, out) = args.take(3)
    val list = args.lift(3)
    require(Set("verify", "explain", "profile", "time")(mode), usage)
    select(list) // a bad gate name fails before the session starts
    val timing = Option.when(mode == "time")(new Timing(sfDir, out, list,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "480").toDouble))
    // an external kill (`timeout` sends SIGTERM first) still gets the
    // partial line, even during session start
    timing.foreach(t => Runtime.getRuntime.addShutdownHook(
      new Thread(() => t.emit(expired = true))))
    val spark = LocalSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    var expired = false
    try mode match {
      case "verify" => verify(spark, sfDir, out, list)
      case "explain" => explain(spark, sfDir, out, list)
      case "profile" => Files.writeString(Paths.get(out), profile(spark, sfDir, list))
      case "time" => expired = time(spark, timing.get)
    } finally {
      // the JSON line must be the last stdout line: stop the state-store
      // maintenance thread (its post-shutdown WARN used to trail the
      // line), silence stragglers, stop Spark, then print
      dropStreamState()
      spark.sparkContext.setLogLevel("OFF")
      spark.stop()
    }
    timing.foreach(_.emit(expired))
  }
}

package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.apache.spark.sql.SparkSession

import graft.GateRunner.jsonString

/** Benchmark main: `graft.Bench [gate,gate,…]` runs the listed
  * [[SparkEntry]] queries (all of them without a list) on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric","value","unit","queries",...,"sf"}`. A listed run is a
  * targeted re-measurement and writes no cost hints.
  *
  * Measurement discipline (VERDICT r1 #4):
  *   - median of `SPARK_GRAFT_BENCH_RUNS` (default 3) executions per
  *     query — a single sample on a contended sandbox is noise;
  *   - the action is a noop-sink WRITE, not `count()`: under `count()`
  *     Catalyst's EliminateSorts removes every top-level ORDER BY, so
  *     sort cost was never measured; a write keeps the sort in the plan;
  *   - failures are REPORTED (per-query `"errors"` map) instead of being
  *     swallowed as a fast "-1" sample.
  *
  * Budget discipline (VERDICT r3 #1 — BENCH_r03 was rc=124/parsed=null):
  * a bench that dies at the driver's timeout emits NOTHING, which is
  * strictly worse than partial data. So:
  *   - `SPARK_GRAFT_BENCH_BUDGET_S` (default 480) is a wall-clock budget;
  *     when it expires the already-collected per-query medians are
  *     emitted immediately with `"budget_expired":true` and the names of
  *     the queries that never ran;
  *   - the per-query run count degrades toward 1 as the budget tightens:
  *     a repeat sample is only attempted if the query's first sample says
  *     it fits in the time remaining;
  *   - a JVM shutdown hook emits the partial line even if the process is
  *     killed externally (driver `timeout` sends SIGTERM before SIGKILL),
  *     so a contended sandbox can no longer produce a data-free round.
  *
  * Contention discipline (VERDICT r4 #2 — BENCH_r04 measured 9/68
  * queries because two contention-inflated samples at the front of the
  * alphabet ate the whole budget):
  *   - queries run CHEAPEST-FIRST by last-known idle cost
  *     ([[costHints]]), so a budget squeeze drops the few expensive
  *     tails instead of 85% of the suite;
  *   - every sample runs under a WATCHDOG capped at budget/8: a single
  *     contention spike (idle seconds → minutes) is cancelled via its
  *     Spark job group and reported in `"errors"`, and the loop moves
  *     on instead of letting one sample starve the rest;
  *   - a fixed compute-bound PROBE is timed at start / middle / end of
  *     the run; the `"contention"` object (three times + max/min ratio)
  *     lets the driver tell sandbox noise from a real regression
  *     without a judge re-run — ratio ≈ 1 means a quiet box, ratio ≫ 1
  *     means the medians are inflated by co-tenants.
  *
  * Coverage discipline (VERDICT r5 #2 — BENCH_r05 measured 37/69: the
  * budget died mid-suite and every expensive dedup/ANN query was
  * skipped wholesale, so 5 rounds passed without one complete official
  * artifact): COVERAGE BEFORE PRECISION. The run is two phases:
  *   - phase 1 SWEEP: one sample of every query, cheapest-first. The
  *     idle full pass fits in ~62 s of query time, so even a
  *     5×-throttled box covers the whole suite at n=1 before the
  *     default 480 s budget is half spent;
  *   - phase 2 REFINE: only after the sweep completes, the remaining
  *     budget buys repeat samples for medians — round-robin (every
  *     query gets its 2nd sample before any gets its 3rd), cheapest
  *     first by its OWN phase-1 time, each repeat only attempted if
  *     that time fits the remaining budget.
  *
  * Settle discipline (VERDICT r10 #2 — the official r10 artifact was
  * tail-contended while the immediate idle rerun was clean): refine
  * rounds run behind a contention GATE — a probe against the quietest
  * point seen so far; while it reads > 1.5× the run PAUSES (bounded by
  * the budget) instead of sampling, a refine watchdog kill settles and
  * retries once before it may become an error, and the closing probe
  * point is taken after waiting out any tail burst, so the emitted
  * probes describe the box DURING measurement.
  *
  * Cost-hint freshness (VERDICT r5 #3): every emit also writes the
  * measured per-query seconds to `SPARK_GRAFT_COST_HINTS` (default
  * `bench/cost_hints.json`); the next run loads that file and lets it
  * override the baked-in map, so ordering self-refreshes instead of
  * relying on a hand-maintained copy of the last idle run.
  */
object Bench {

  /** Baked-in idle per-query cost (seconds, sf0.1, local[32]) — an
    * ORDERING HINT ONLY, never reported. Sources: the round-4 judge's
    * idle re-runs and isolation timings. Unlisted queries default to
    * 1.0 (the measured idle cost of nearly every q-series query is
    * 0.2–2 s). Drift is harmless: a stale hint only perturbs run order,
    * and [[loadCostHints]] overrides these with the previous run's
    * measured costs when `bench/cost_hints.json` exists.
    */
  private val bakedCostHint: Map[String, Double] = Map(
    // round 16 additions + re-measured fixture cuts (measured idle,
    // sf0.1 local[32], targeted Bench run over a gate list)
    "t41_bpe_train_incremental" -> 4.5,
    "t42_corpus_shuffle" -> 2.3,
    "t43_concat_chunks" -> 1.8,
    "t44_concat_chunks_incremental" -> 2.0,
    "s21_stream_chunks" -> 7.8,
    "t45_curriculum_pack" -> 3.7,
    "p14_tokenize_pack_shard" -> 6.1,
    "p12_shard_delete" -> 6.1, // budget 20000 fixture (was 28 s at 2000)
    "s13_stream_shards_ooo_repair" -> 9.8, // two drops (was 24 s at three)
    "s10_stream_shards" -> 9.7, // two drops, budget 20000
    "s12_stream_shards_incremental" -> 12.1, // budget 20000
    "p07_shard_read_compacted" -> 6.6, // two epochs (was three)
    // round 15 additions (measured idle, sf0.1 local[32] —
    // bench/scale_r15/bench_189q_idle.json)
    "t32_lm_ngram" -> 1.8,
    "t33_lm_model_artifact" -> 2.5,
    "t34_lm_ngram5" -> 2.3, // measured idle, sf0.1 (193q archive)
    "t35_resample_tokens" -> 0.6, // measured idle, sf0.1 (193q archive)
    "p09_zorder_nd" -> 0.3,
    "s16_stream_span_decontam" -> 3.1,
    "p10_web_corpus_recipe" -> 9.3, // measured idle, sf0.1 (193q archive)
    "p11_web_recipe_spans" -> 11.2, // measured idle, sf0.1 (193q archive)
    "s17_stream_web_ingest" -> 2.0, // measured idle, sf0.1 (193q archive)
    "e17_ivfpq_autoconfig" -> 0.1,
    "e18_knn_ivfpq_autoconfig" -> 6.5,
    "e19_knn_ivfpq_delete" -> 5.9, // measured idle, sf0.1 (194q archive)
    // round 14 additions (estimated from siblings)
    "e15_knn_ivfpq_retrain" -> 8.0, // e13's append shape + two retrains
    "t27_tokenize_greedy" -> 0.5, // zero-shuffle trie projection
    "t28_pack_by_tokens" -> 0.7, // t27's projection + the t12 window
    "t29_lm_familiarity" -> 0.8, // two model aggs + broadcast join + per-doc agg
    "p08_zorder_layout" -> 0.5, // zero-shuffle Morton projection
    "s14_stream_ann_search" -> 8.0, // retrain + 2 streamed searches
    "d31_decontaminate_spans" -> 2.0, // broadcast bench set + hit-only rebuild
    "e16_knn_ivfpq_fullprobe" -> 1.0, // e11's shape, all cells probed
    "g06_personalized_pagerank" -> 3.5, // g01's pair graph + 5 sweeps
    "d32_span_index_artifact" -> 2.5, // d31 + the index write round-trip
    "t30_strip_markup" -> 0.5, // codegen'd regexp/replace projection
    "t31_canonical_url" -> 0.5, // zero-shuffle extract/normalize chain
    "s15_stream_heavy_hitters" -> 1.5, // windowed MG sketch over events
    // round 13 additions (estimated from their siblings: e14 from e13
    // plus one compaction pass, x13 from x12's scan pair, d30 from
    // 2× d29)
    "p06_shard_read" -> 2.0,
    "t26_weighted_sample" -> 0.5,
    "e14_knn_ivfpq_compact" -> 9.0,
    "x13_quantile_compose" -> 1.0,
    "d30_linkage_sorted_multi" -> 2.5,
    // round 11 additions (estimated from neighboring shapes: g-series
    // from g01's pair-graph cost, t20 from t15, the rest sub-second
    // projections/joins)
    "e07_jl_project" -> 0.5,
    "e08_knn_jl" -> 0.7,
    "d24_record_linkage" -> 1.0,
    "t20_quality_tiers" -> 1.8,
    "s07_stream_enrich" -> 0.5,
    "g02_triangles" -> 4.5,
    "g03_clustering_coeff" -> 5.0,
    "m07_video_frames" -> 1.0,
    "m08_video_neardup" -> 1.0,
    // round 10 additions (estimated from the d18/e03 shapes)
    "d23_repeated_spans" -> 2.5,
    "e06_cluster_sample" -> 1.0,
    "t16_gopher_rules" -> 1.0,
    "t17_c4_filters" -> 1.0,
    "t18_gopher_repetition" -> 2.0,
    "s05_content_dedup" -> 1.0,
    // round 9 additions (measured idle, sf0.1 local[32])
    "d17_incremental_lsh" -> 8.7,
    "d15_incremental_dedup" -> 8.0,
    "d13_winnow_pairs" -> 6.6,
    "g01_pagerank" -> 5.7,
    "d14_semantic_dedup" -> 3.9,
    "d16_dedup_near_lsh" -> 3.6,
    "p02_curation_lsh" -> 3.2,
    "p01_curation_recipe" -> 2.4,
    "d18_line_dedup" -> 1.5,
    "d19_decontamination_bloom" -> 1.5,
    "d20_simhash_auto" -> 3.8,
    "d21_dedup_near_containment" -> 3.2,
    "t15_word_rank_score" -> 1.5,
    // refreshed round 5 from the idle 69/69 run (bench_idle_69q.json)
    "t04_winnowing" -> 6.2,
    "d12_dedup_near" -> 6.0, // r7: pairs + CC + anti-join ≈ d08 + ε
    "d07_simhash_pairs" -> 5.9,
    "d10_dup_clusters_star" -> 3.5,
    "d06_embedding_neardup" -> 2.7,
    "d08_dup_clusters" -> 2.4,
    "d04_minhash_lsh" -> 1.9,
    "e03_knn_ivf" -> 1.8,
    "d09_containment" -> 1.6,
    "d03_jaccard_pairs" -> 1.5,
    "d05_simhash" -> 1.5,
    "s02_sessionize" -> 1.4,
    "q03_group_multi" -> 1.1,
    "a01_asof_join" -> 1.1,
    "e02_knn_lsh" -> 1.0,
    "j01_json_extract" -> 1.0,
    "q11_window_lag" -> 1.0,
    "q12_window_running" -> 1.0,
    "q16_scalar_subquery" -> 1.0,
    "q28_window_suite" -> 1.0,
    "s01_event_window" -> 1.0,
    "t03_langid" -> 1.0)

  /** Flat `{"name": seconds, ...}` parse — the only JSON shape the hints
    * file ever holds, so a regex scan beats pulling in a parser. Any
    * malformed file degrades to the baked-in map (ordering hint only).
    */
  private[graft] def parseCostHints(json: String): Map[String, Double] = {
    val entry = """"((?:[^"\\]|\\.)+)"\s*:\s*([0-9.eE+-]+)""".r
    entry.findAllMatchIn(json).flatMap { m =>
      scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption
    }.toMap
  }

  private[graft] def loadCostHints(path: String): Map[String, Double] =
    scala.util.Try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isReadable(p))
        parseCostHints(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else Map.empty[String, Double]
    }.getOrElse(Map.empty)

  /** Sweep-phase watchdog cap for one sample, relative to the query's
    * own cost hint (VERDICT r6 #1: the flat budget/8 cap let a single
    * contention spike eat ~60 s for zero data, twice, starving two
    * queries out of the sweep entirely). Bounded both ways so a
    * poisoned hints file cannot reduce sweep coverage:
    *   - floor 10 s — a hint poisoned LOW (or missing/NaN/negative)
    *     cannot watchdog-kill a healthy query;
    *   - ceiling budget/4 — a hint poisoned HIGH cannot let one sample
    *     starve the rest of the sweep.
    */
  private[graft] def sweepCapS(hint: Double, budgetS: Double): Double = {
    val h = if (hint.isNaN || hint <= 0) 1.0 else hint
    math.min(budgetS / 4, math.max(5 * h, 10.0))
  }

  /** Whether this run's measured medians are safe to persist as the
    * next run's ordering hints. A probe ratio over ~3 means the box was
    * contended while we measured — the medians reflect co-tenant
    * pressure, not query cost, and persisting them misorders the next
    * sweep and suppresses its refine repeats (VERDICT r6 #2: the r6
    * contended run wrote a02=58.4 s where idle is 0.9 s). Ratio 0 means
    * the probes themselves failed: no signal, don't persist.
    */
  private[graft] def shouldPersistHints(probeRatio: Double): Boolean =
    probeRatio > 0 && probeRatio <= 3.0

  /** Total busy CPU jiffies across all cores from `/proc/stat` line 1
    * (every field except idle and iowait). Paired snapshots give the
    * box's total CPU consumption over an interval — the input to the
    * ABSOLUTE co-tenant measure below. None off-Linux / on read error.
    */
  private[graft] def totalBusyJiffies(): Option[Long] = scala.util.Try {
    val line = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
  }.toOption

  /** This JVM's cumulative CPU nanos (all threads — local[32] executors
    * included, since local mode never forks). */
  private[graft] def ownCpuNanos(): Option[Long] =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        Some(os.getProcessCpuTime).filter(_ >= 0)
      case _ => None
    }

  /** The ABSOLUTE co-tenant CPU fraction over a measurement window:
    * (box busy CPU − this JVM's CPU) / (wall × cores) — what share of
    * the machine someone ELSE burned while we measured. This replaces
    * the max/min probe ratio as the clean-run criterion: the ratio is
    * noise-dominated on a quiet box (r13 measured 1.3–1.8 across runs
    * whose totals agreed within 0.04%, tripping the <1.5 bar on
    * provably idle hardware — JIT re-optimization and scheduler blips
    * move a 0.2 s probe, not co-tenants), while this fraction reads
    * ~0.01–0.03 idle (kernel + daemons) and rises directly with real
    * co-tenant load. USER_HZ is 100 on every mainstream kernel.
    * Negative drift (timer granularity) clamps to 0.
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

  /** How far one run may drag a hint UP relative to the value on file.
    * The probe-ratio gate catches sustained contention, but a burst
    * BETWEEN probes slips through: the r7 run-6 pass self-reported
    * quiet probes (0.33/0.26/0.23 s, ratio 1.41) yet a mid-run wave
    * inflated d07's median from 6.7 s idle to 24.7 s, and a plain
    * overwrite persisted it. Capping upward movement at 1.5× bounds
    * any single burst's poisoning, while a genuine regression still
    * propagates (geometrically, ~2 runs per doubling) and one quiet
    * run restores the true value instantly (downward moves are taken
    * as-is). Queries absent from this run (watchdog-killed or
    * budget-skipped) keep their existing hint rather than vanishing
    * back to the baked-in default.
    */
  private val hintRiseCap = 1.5

  /** Geometric decay applied to a budget-SKIPPED query's hint at
    * persist time — the deadlock breaker (VERDICT r17 #2): a skipped
    * gate gets no measurement, so under plain keep-verbatim a
    * stale-high hint (e.g. one rise-capped up during an old contention
    * burst) makes every subsequent window skip it too — permanently.
    * Decaying 0.8×/run walks a 1.5×-overstated hint under the skip
    * threshold in ~2 runs; if the gate really is that expensive, its
    * first re-measurement restores the true cost immediately.
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

  /** Render the per-fixture build-cost map for the emitted JSON line
    * (VERDICT r18 #6: fixture cost must be inspectable in the
    * artifact, not land silently in elapsed − total): compact object,
    * costliest first, ms precision — the same layout rules as the
    * queries map. Pure so BenchSpec pins the field's shape.
    */
  private[graft] def fixturesJson(costs: Map[String, Double]): String =
    costs.toSeq.sortBy { case (n, c) => (-c, n) }
      .map { case (k, v) =>
        jsonString(k) + ":" + java.lang.String.format(
          java.util.Locale.ROOT, "%.3f", Double.box(v))
      }
      .mkString("{", ",", "}")

  /** Best-effort write of this run's measured costs (sorted cheapest
    * first for human diffing); failure is non-fatal — the hints are an
    * ordering optimization, not data.
    */
  private[graft] def saveCostHints(path: String, costs: Map[String, Double]): Unit =
    scala.util.Try {
      val p = java.nio.file.Paths.get(path)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val body = costs.toSeq.sortBy { case (n, c) => (c, n) }
        .map { case (n, c) => s""""$n":$c""" }
        .mkString("{", ",", "}")
      java.nio.file.Files.write(p, body.getBytes("UTF-8"))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "480").toDouble
    val hintsPath = sys.env.getOrElse("SPARK_GRAFT_COST_HINTS", "bench/cost_hints.json")
    val costHint = bakedCostHint ++ loadCostHints(hintsPath)
    val startNanos = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - startNanos) / 1e9
    def remainingS: Double = budgetS - elapsedS

    // Shared mutable state so the shutdown hook can report whatever has
    // completed at the instant of an external kill. All access synchronized
    // on `samples` (the bench loop is single-threaded; the hook races it).
    val samples = scala.collection.mutable
      .LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val probes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // absolute co-tenant window anchor: set once the session is up (so
    // JVM/Spark startup isn't charged to the box), read at emit time —
    // the shutdown hook then still reports the window it actually saw
    @volatile var coAnchor: Option[(Long, Long, Long)] = None // (busy, own, wallNanos)
    val only = args.headOption // a targeted run: no cost hints written
    var pending: Seq[String] =
      GateRunner.select(only).sortBy(n => (costHint.getOrElse(n, 1.0), n))
    val printed = new AtomicBoolean(false)

    def emit(expired: Boolean): Unit = if (printed.compareAndSet(false, true)) {
      samples.synchronized {
        // Tail-window emission (VERDICT r15 #2, r14 #7): the driver
        // archives only the LAST ~2000 chars of output, and sbt's
        // un-suppressable `[success]` trailer follows the JSON — so
        // the line is laid out for TAIL capture, not last-line
        // parsing: the constant-1 samples map is gone, per-query
        // times are compact (ms precision) and SLOWEST-FIRST (the
        // cheap sub-second tail is what truncation eats), and the
        // highest-value fields — errors, skipped, contention,
        // budget_expired, elapsed, the slowest-10 recap — sit at the
        // very END so they survive any window.
        def r3(v: Double): String =
          java.lang.String.format(java.util.Locale.ROOT, "%.3f",
            Double.box(v))
        val medians = samples.collect { case (k, ss) if ss.nonEmpty =>
          k -> ss.sorted.apply(ss.size / 2)
        }
        val ordered = medians.toSeq.sortBy { case (n, c) => (-c, n) }
        val qs = ordered.map { case (k, v) => jsonString(k) + ":" + r3(v) }
          .mkString("{", ",", "}")
        val errJson = errors.map { case (k, v) => jsonString(k) + ":" + jsonString(v) }
          .mkString("{", ",", "}")
        val skipped = pending.map(jsonString).mkString("[", ",", "]")
        val total = if (medians.nonEmpty) medians.values.sum else 0.0
        val ratio =
          if (probes.nonEmpty && probes.values.min > 0) probes.values.max / probes.values.min
          else 0.0
        // the ABSOLUTE co-tenant measure is the clean-run criterion;
        // the max/min probe ratio stays emitted as informational only
        // (it reads 1.3–1.8 on provably idle boxes — see coTenantFraction)
        val coFrac = (for {
          (b0, o0, w0) <- coAnchor
          b1 <- totalBusyJiffies()
          o1 <- ownCpuNanos()
        } yield coTenantFraction(b1 - b0, o1 - o0,
          System.nanoTime() - w0,
          // the MACHINE's cores, not Spark's thread count: the fraction
          // asks what share of the BOX someone else burned
          Runtime.getRuntime.availableProcessors())).getOrElse(-1.0)
        val quiet =
          if (coFrac >= 0) coFrac < CoTenantQuietBar
          else ratio > 0 && ratio <= 1.5 // no /proc/stat: ratio fallback
        val contention = (probes.map { case (k, v) => jsonString(k) + ":" + r3(v) } ++
          Seq("\"ratio\":" + r3(ratio), "\"cotenant_frac\":" + r3(coFrac),
            "\"quiet\":" + quiet)).mkString("{", ",", "}")
        val slowJson = ordered.take(10)
          .map { case (k, v) => jsonString(k) + ":" + r3(v) }
          .mkString("{", ",", "}")
        // budget_expired means COVERAGE was lost (queries never got a
        // measured sample — skipped outright, OR attempted and failed
        // with no retry slot left: a watchdog-capped sweep query is
        // removed from pending but is still unmeasured). A budget
        // that ran out during the refine phase with every query
        // measured is the designed spend-what's-left behavior,
        // reported separately as refine_truncated.
        val unmeasuredErr = errors.keys.exists(k =>
          !k.startsWith("__probe") && !k.endsWith("@refine") &&
            !samples.get(k).exists(_.nonEmpty))
        // pending can only be non-empty at emit via a budget-skip or
        // expiry, so a skip with the clock still ticking is STILL lost
        // coverage (ADVICE r17: cheapest-first means one skip usually
        // skips the whole expensive tail without elapsed ever hitting
        // the budget — budget_expired=false would misreport a partial
        // artifact as complete)
        val coverageLost = pending.nonEmpty || (expired && unmeasuredErr)
        val refineCut = expired && !coverageLost
        // per-fixture build seconds (VERDICT r18 #6): the warmup cost
        // that is deliberately NOT in any per-gate number, emitted so
        // the artifact's elapsed − total is reconcilable. Costs are
        // wall seconds of each build closure; a build that triggers a
        // not-yet-built dependency includes it (prewarm builds in
        // dependency order, so overlaps are rare in bench runs).
        val fixJson = fixturesJson(Fixtures.buildCosts)
        println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,"sf":${jsonString(sfDir)},"n_queries":${medians.size},"queries":$qs,"errors":$errJson,"skipped":$skipped,"fixtures":$fixJson,"contention":$contention,"budget_expired":$coverageLost,"refine_truncated":$refineCut,"elapsed":${r3(elapsedS)},"slowest":$slowJson}""")
        System.out.flush()
        // feed the next run's ordering with this run's measured costs
        // (VERDICT r5 #3) — but ONLY from a quiet run: a contended
        // run's medians are co-tenant noise and would poison the next
        // sweep's ordering (VERDICT r6 #2) — and even then only via a
        // rise-capped merge, because a burst between quiet probes can
        // inflate individual medians without moving the ratio
        if (medians.nonEmpty && shouldPersistHints(ratio) && only.isEmpty)
          saveCostHints(hintsPath, mergeCostHints(loadCostHints(hintsPath),
            medians.toMap, skipped = pending.toSet))
      }
    }
    // Backstop for external SIGTERM (driver `timeout`): partial data beats
    // none. Registered before Spark starts so it runs even if session
    // creation itself eats the whole budget.
    Runtime.getRuntime.addShutdownHook(new Thread(() => emit(expired = true)))

    val spark = LocalSession.build(cpus)
    spark.sparkContext.setLogLevel("WARN")
    coAnchor = for {
      b <- totalBusyJiffies(); o <- ownCpuNanos()
    } yield (b, o, System.nanoTime())

    /** Run `body` on a daemon thread under a named Spark job group; if
      * it exceeds `capS` seconds, cancel the group's jobs and report the
      * timeout instead of blocking the whole run on one inflated sample.
      */
    def guarded(group: String, capS: Double)(body: => Unit): Either[String, Double] = {
      val failure = new AtomicReference[Throwable]
      val t0 = System.nanoTime()
      val worker = new Thread(() => {
        spark.sparkContext.setJobGroup(group, group, interruptOnCancel = true)
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

    // Fixed compute-bound probe: hash-heavy scan of a literal range, no
    // I/O, no shuffle variance — its runtime moves with co-tenant CPU
    // pressure and (via the three samples below) nothing else. Each
    // probe POINT is the median of 3 back-to-back runs: a single run
    // can eat one scheduler blip (often the bench's own task-cleanup
    // tail) and report 2-4× on an otherwise idle box, which poisons
    // the max/min ratio the hint-persistence gate keys on; sustained
    // co-tenant pressure still inflates all three.
    // 1B rows ≈ 0.5-1 s idle on 32 threads: large enough that the
    // ~30-50 ms fixed job-scheduling overhead is noise, small enough
    // that even a 15×-contended box finishes 3 runs inside one cap
    def probeOnce(): Either[String, Double] =
      guarded("probe", capS = 30)(
        spark.range(0, 1000000000L, 1, spark.sparkContext.defaultParallelism)
          .selectExpr("bit_xor(xxhash64(id)) AS h") // xor: no ANSI overflow
          .write.format("noop").mode("overwrite").save())
    def probe(label: String): Unit = {
      val runs = (1 to 3).map(_ => probeOnce())
      val ok = runs.collect { case Right(t) => t }.sorted
      if (ok.nonEmpty)
        samples.synchronized { probes(label) = ok(ok.size / 2) }
      else runs.head.left.foreach { err =>
        samples.synchronized { errors.getOrElseUpdate(s"__probe_$label", err) }
      }
    }

    // warmup and fixture builds are paid once inside this same budget
    // window, not counted in the totals
    GateRunner.warmUp(spark, sfDir)
    // warm the probe path to STEADY STATE before the first point: one
    // throwaway run is not enough — C2 keeps re-optimizing the probe
    // loop for minutes (r13 idle runs measured monotone start > mid >
    // end, 0.30 → 0.19 s, on a provably quiet box — self-warm-up, not
    // co-tenants), which alone pushes the max/min ratio past the 1.5
    // clean-run bar and poisons the regression signal. Bounded: stop
    // when two consecutive throwaways agree within 10% (or 8 tries);
    // sustained co-tenant pressure inflates every later point equally,
    // so real contention still moves the ratio.
    var probePrev = Double.MaxValue
    var probeWarm = 0
    var probeSteady = false
    while (probeWarm < 8 && !probeSteady) {
      probeOnce() match {
        case Right(t) =>
          // two-sided: a SLOWER second run (a transient noise spike)
          // must not end warm-up while the loop is still cold — only
          // genuine agreement within ±10% does
          probeSteady = t >= probePrev * 0.9 && t <= probePrev * 1.1
          probePrev = t; probeWarm += 1
        case Left(_) => probeSteady = true
      }
    }
    probe("start")

    val queryFns = SparkEntry.queries

    /** Unload every loaded state-store provider and its maintenance
      * task (optimization r19, guide §5 — the session-aging leak):
      * each streaming-gate sample runs against a FRESH checkpoint, so
      * the providers (RocksDB: native memory + a periodic
      * compaction/snapshot maintenance task each) loaded by earlier
      * samples are never reused, yet stay resident and keep running
      * for the remainder of the suite — measured as late-window
      * inflation of whatever runs after the s-family (d07 11.1 s in
      * the full window vs 5.9 s in a fresh JVM, d30 9.4 vs 2.7,
      * d14 5.8 vs 3.8). Runs OUTSIDE the timed region, after each
      * sample; a no-op when nothing is loaded; the next streaming
      * sample reloads its own providers lazily.
      */
    def dropStreamState(): Unit =
      try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      catch { case _: Throwable => () }

    /** One raw watchdogged sample — no state recording. */
    def sampleRaw(name: String, attempt: Int, capS: Double): Either[String, Double] =
      // noop sink: full distributed execution incl. final sorts, no
      // driver materialization, nothing written
      guarded(s"$name-$attempt", math.min(capS, math.max(remainingS, 1.0)))(
        queryFns(name)(spark, sfDir).write.format("noop").mode("overwrite").save())

    def recordSample(name: String, t: Double): Unit = samples.synchronized {
      samples.getOrElseUpdate(
        name, scala.collection.mutable.ArrayBuffer.empty[Double]) += t
    }

    /** A failure AFTER the query already has a valid sample is keyed
      * `name@refine` so the emitted JSON never lists the same query
      * under both `queries` and `errors` — a measured query with a
      * failed repeat is not a failed query.
      */
    def recordError(name: String, err: String): Unit = samples.synchronized {
      val hasSample = samples.get(name).exists(_.nonEmpty)
      val key = if (hasSample) s"$name@refine" else name
      errors.getOrElseUpdate(key, err)
    }

    /** One measured sample of `name`; records the timing (or the first
      * error). Returns the sample's seconds, or None on failure.
      */
    def sampleOnce(name: String, attempt: Int, capS: Double): Option[Double] = {
      val r = sampleRaw(name, attempt, capS) match {
        case Right(t) => recordSample(name, t); Some(t)
        case Left(err) => recordError(name, err); None
      }
      dropStreamState()
      r
    }

    /** Contention gate (VERDICT r10 #2: the official r10 artifact was
      * tail-contended — ratio 2.36, two `@refine` watchdog errors —
      * while the immediate idle rerun was clean; the round artifact
      * should BE the clean run). Before refine work, check the box with
      * one probe against the quietest probe point seen so far; while it
      * reads > `contendedRatio`, PAUSE (sleep, bounded by the budget)
      * and re-check instead of sampling under co-tenant pressure —
      * medians taken then are noise, and a watchdog kill then is a
      * contention artifact, not a query regression. Returns true when
      * the box is quiet (or probing itself fails — no signal, don't
      * spin), false when contention outlasted the wait budget.
      */
    val contendedRatio = 1.5
    def ensureQuiet(): Boolean = {
      val base = samples.synchronized {
        if (probes.nonEmpty) probes.values.min else 0.0
      }
      if (base <= 0) return true
      var tries = 0
      while (tries < 8) {
        probeOnce() match {
          case Right(t) if t <= base * contendedRatio => return true
          case Right(_) =>
            if (remainingS < 60) return false // don't eat the emit window
            Thread.sleep(8000)
            tries += 1
          case Left(_) => return true
        }
      }
      false
    }

    // ---- phase 1: SWEEP — one sample of EVERY query, cheapest-first.
    // Coverage before precision (VERDICT r5 #2): nothing gets a second
    // sample until everything has a first. Per-query watchdog cap
    // (VERDICT r6 #1): 5× the query's own hint, not budget/8 — one
    // contention spike costs ~the query's own scale, not 60 s.
    val order = pending.toList
    val midpoint = order.size / 2
    var expired = false
    for ((name, idx) <- order.zipWithIndex if !expired) {
      if (idx == midpoint) probe("mid")
      val hint = costHint.getOrElse(name, 1.0)
      if (remainingS <= 0) expired = true
      else if (remainingS < math.max(hint, 1.0)) {
        // budget-skip (VERDICT r16 #3): a query whose own committed
        // hint exceeds the remaining budget cannot finish — attempting
        // it burns the remainder into a guaranteed watchdog kill
        // misreported as "contention or regression" (r16: s13 given a
        // 4 s cap against a 10 s hint). Leave it in `pending` so it is
        // reported under `skipped` (a budget fact), not `errors`.
      } else {
        sampleOnce(name, attempt = 0, capS = sweepCapS(hint, budgetS))
        samples.synchronized { pending = pending.filterNot(_ == name) }
      }
    }

    // ---- phase 1b: RETRY — watchdog-capped sweep queries get one more
    // attempt BEFORE any refine samples (VERDICT r6 #1): coverage at
    // n=1 for all queries beats extra samples for the cheap ones. The
    // retry cap ignores the (possibly too-tight) hint: the full
    // budget/4 ceiling, clamped to what's left.
    val cappedInSweep = samples.synchronized {
      errors.collect {
        case (n, e) if e.startsWith("watchdog") &&
          !samples.get(n).exists(_.nonEmpty) && queryFns.contains(n) => n
      }.toList
    }
    for (name <- cappedInSweep if !expired) {
      if (remainingS <= 0) expired = true
      else if (remainingS >= math.max(costHint.getOrElse(name, 1.0), 1.0)) {
        // same budget-skip rule as the sweep: a retry that cannot fit
        // the query's own hint is a guaranteed second kill
        samples.synchronized { errors.remove(name) }
        sampleOnce(name, attempt = -1, capS = budgetS / 4)
      }
    }

    // ---- phase 2: REFINE — spend what's left on repeat samples for
    // medians, round-robin so every query gets its 2nd sample before any
    // gets its 3rd; within a round, SLOWEST-first by the query's OWN
    // phase-1 median (VERDICT r18 #1: under cheapest-first a budget
    // squeeze left exactly the heavy tail — the gates where a single
    // cold/contended sample distorts the artifact most, d17's 21.4 s
    // round-18 print being one sample — at n=1; the cheap tail's
    // absolute error is bounded by its own sub-second scale, so it is
    // the right thing to trim). A repeat is only attempted if the
    // query's last sample fits the remaining budget (the "degrade n
    // toward 1" rule from round 3).
    val failedInSweep = samples.synchronized { errors.keySet.toSet }
    var refineQuiet = true
    for (round <- 1 until runs if !expired && refineQuiet) {
      // settle before each refine round: repeats taken under co-tenant
      // pressure inflate medians and trip watchdogs for nothing
      refineQuiet = ensureQuiet()
      val byMeasured = samples.synchronized {
        samples.collect { case (n, ss) if ss.size == round && !failedInSweep(n) =>
          n -> ss.sorted.apply(ss.size / 2)
        }.toSeq.sortBy { case (n, c) => (-c, n) }
      }
      for ((name, lastCost) <- byMeasured if !expired && refineQuiet) {
        if (remainingS <= 0) expired = true
        else if (lastCost < remainingS) {
          // cap from the query's OWN phase-1 time — the best hint there is
          val cap = sweepCapS(lastCost, budgetS)
          sampleRaw(name, attempt = round, capS = cap) match {
            case Right(t) => recordSample(name, t)
            case Left(err) if err.startsWith("watchdog") =>
              // a refine-phase watchdog kill is almost always a
              // contention burst, not a regression (the query already
              // has an in-cap sample this run): settle, retry ONCE,
              // and only a second kill on a quiet box becomes an error
              refineQuiet = ensureQuiet()
              if (refineQuiet && lastCost < remainingS)
                sampleRaw(name, attempt = round, capS = cap) match {
                  case Right(t) => recordSample(name, t)
                  case Left(err2) => recordError(name, err2)
                }
            case Left(err) => recordError(name, err)
          }
          dropStreamState()
        }
      }
    }

    // wait out any tail burst before the closing probe point: refine
    // sampling is itself paused under contention (above), so the probes
    // report the box state DURING measurement, not during a co-tenant
    // wave that arrived after the last sample completed (the r10
    // artifact's 2.36 ratio was exactly that tail)
    ensureQuiet()
    probe("end")
    // Emission hygiene (VERDICT r14 #3): the result JSON must be the
    // ABSOLUTE last stdout line — the streaming gates leave a state-
    // store maintenance thread alive whose post-shutdown WARN used to
    // trail the JSON in the sbt stream, so line-tail parsers mis-keyed
    // the driver's `parsed` field every round. Stop the maintenance
    // thread, silence stragglers, stop Spark, THEN print.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    emit(expired)
  }
}

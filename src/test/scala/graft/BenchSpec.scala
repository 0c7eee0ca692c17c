package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plumbing of the `time` mode behind `graft.Bench`: the
  * self-refreshing cost-hints file, the watchdog cap, the clean-run
  * criterion and the co-tenant measure. GateRunnerSpec runs the mode
  * itself; here we pin the hint round-trip so a malformed or missing
  * file can never break ordering.
  */
class BenchSpec extends AnyFunSuite {

  // every temp tree is removed before the test returns — a per-run
  // leak, however small, is the x08 ADVICE bug in miniature
  private def withTempDir[A](f: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-hints")
    try f(dir)
    finally {
      def rm(p: java.io.File): Unit = {
        val cs = p.listFiles(); if (cs != null) cs.foreach(rm); p.delete(); ()
      }
      rm(dir.toFile)
    }
  }

  test("cost hints round-trip through save + load") { withTempDir { dir =>
    val path = dir.resolve("cost_hints.json").toString
    val costs = Map("q01_filter_project" -> 0.31, "t04_winnowing" -> 6.25,
      "d07_simhash_pairs" -> 5.9)
    GateRunner.saveCostHints(path, costs)
    val loaded = GateRunner.loadCostHints(path)
    assert(loaded === costs)
    // sorted cheapest-first on disk for human diffing
    val body = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    assert(body.indexOf("q01_filter_project") < body.indexOf("d07_simhash_pairs"))
    assert(body.indexOf("d07_simhash_pairs") < body.indexOf("t04_winnowing"))
  } }

  test("missing or malformed hints degrade to empty (every gate orders as 1 s)") {
    withTempDir { dir =>
      assert(GateRunner.loadCostHints("/nonexistent/path/hints.json") === Map.empty)
      val bad = dir.resolve("bad.json")
      java.nio.file.Files.write(bad, "not json at all {{{".getBytes("UTF-8"))
      assert(GateRunner.loadCostHints(bad.toString) === Map.empty)
    }
  }

  test("parseCostHints tolerates scientific notation and ignores junk values") {
    val parsed = GateRunner.parseCostHints("""{"a":1.5e-1,"b":2,"c":0.75}""")
    assert(parsed === Map("a" -> 0.15, "b" -> 2.0, "c" -> 0.75))
  }

  // VERDICT r6 #1/#2: a poisoned hints file must not be able to reduce
  // sweep coverage. The two levers a bad hint could pull are the
  // per-sample watchdog cap (too tight → healthy query killed; too
  // loose → one sample starves the sweep) and the hint persistence
  // (a contended run's medians poisoning the next ordering).

  test("sweepCapS bounds the watchdog cap for ANY hint value") {
    val budget = 480.0
    // a healthy query always gets at least 10 s regardless of the hint
    assert(GateRunner.sweepCapS(0.0, budget) === 10.0)
    assert(GateRunner.sweepCapS(-5.0, budget) === 10.0)
    assert(GateRunner.sweepCapS(Double.NaN, budget) === 10.0)
    assert(GateRunner.sweepCapS(1e-9, budget) === 10.0)
    // a poisoned-HIGH hint can never take more than budget/4
    assert(GateRunner.sweepCapS(1e9, budget) === budget / 4)
    assert(GateRunner.sweepCapS(58.4, budget) === budget / 4) // r6's poisoned a02
    // in the healthy range the cap tracks 5× the hint
    assert(GateRunner.sweepCapS(6.0, budget) === 30.0)
    assert(GateRunner.sweepCapS(2.0, budget) === 10.0) // 5×2 = 10 = the floor
    // exhaustive sweep over pathological values: cap stays in
    // [10, budget/4], so with B/4 ≥ 10 s per sample the sweep always
    // reaches every query before the budget can be eaten by one entry
    for (h <- Seq(Double.NegativeInfinity, -1.0, 0.0, 1e-300, 0.5, 1.0,
        7.3, 100.0, 1e6, Double.PositiveInfinity, Double.NaN)) {
      val cap = GateRunner.sweepCapS(h, budget)
      assert(cap >= 10.0 && cap <= budget / 4, s"hint=$h cap=$cap")
    }
  }

  // r7 run-6 evidence: three quiet probes (ratio 1.41) bracketed a
  // contention burst that inflated d07's median 6.7 s → 24.7 s, and the
  // plain overwrite persisted it. The merge bounds what one run can do.
  test("mergeCostHints caps upward poisoning, takes downward moves as-is") {
    val onFile = Map("d07_simhash_pairs" -> 6.7, "t04_winnowing" -> 6.5,
      "q01_filter_project" -> 0.3)
    // burst-poisoned run: d07 inflated ~4×, q01 measured faster, t04 absent
    val burst = Map("d07_simhash_pairs" -> 24.7, "q01_filter_project" -> 0.25,
      "d12_dedup_near" -> 3.3)
    val merged = GateRunner.mergeCostHints(onFile, burst)
    assert(merged("d07_simhash_pairs") === 6.7 * 1.5) // rise capped, not 24.7
    assert(merged("q01_filter_project") === 0.25) // downward taken directly
    assert(merged("t04_winnowing") === 6.5) // absent (watchdog-killed) retained
    assert(merged("d12_dedup_near") === 3.3) // new query passes through
    // one subsequent quiet run restores the true value instantly
    val restored = GateRunner.mergeCostHints(merged, Map("d07_simhash_pairs" -> 6.7))
    assert(restored("d07_simhash_pairs") === 6.7)
    // and whatever a poisoned merge produces, the watchdog cap stays
    // bounded — coverage cannot be reduced (VERDICT r6 done-criterion)
    for ((_, h) <- merged) {
      val cap = GateRunner.sweepCapS(h, 480.0)
      assert(cap >= 10.0 && cap <= 120.0)
    }
  }

  // VERDICT r17 #2 hint-staleness deadlock: a budget-skipped gate kept
  // its (stale-high) hint verbatim, so every later window skipped it
  // too — skipped gates could never re-measure. The decay breaks that.
  test("mergeCostHints decays a budget-skipped gate's hint so it can " +
      "re-measure, never below 1 s, and never a measured gate's") {
    val onFile = Map("s12_stream_shards_incremental" -> 16.47,
      "s13_stream_shards_ooo_repair" -> 14.81, "q01" -> 0.3, "tiny" -> 1.1)
    val merged = GateRunner.mergeCostHints(onFile, Map("q01" -> 0.28),
      skipped = Set("s12_stream_shards_incremental",
        "s13_stream_shards_ooo_repair", "tiny", "q01", "never_seen"))
    assert(merged("s12_stream_shards_incremental") === 16.47 * 0.8)
    assert(merged("s13_stream_shards_ooo_repair") === 14.81 * 0.8)
    assert(merged("tiny") === 1.0) // floored, not decayed to nothing
    assert(merged("q01") === 0.28) // measured this run: skip-set ignored
    assert(!merged.contains("never_seen")) // no hint to decay
    // repeated skipping converges under any stale hint: ~2 runs undo a
    // rise-cap (1.5×) overstatement
    assert(16.47 * 0.8 * 0.8 < 11.0)
  }

  test("mergeCostHints ignores non-positive existing hints") {
    // a zero/negative entry on file (hand-edited or truncated write)
    // must not clamp a genuine measurement
    val merged = GateRunner.mergeCostHints(Map("a" -> 0.0, "b" -> -2.0),
      Map("a" -> 1.2, "b" -> 0.8))
    assert(merged === Map("a" -> 1.2, "b" -> 0.8))
  }

  // VERDICT r18 #6: fixture build cost must be inspectable in the
  // bench artifact — the emitted line carries a "fixtures" map with
  // the same compact/costliest-first layout as the queries map, so
  // the judge can reconcile elapsed − total against warmup.
  test("fixturesJson renders the per-fixture cost map, costliest first") {
    val json = GateRunner.fixturesJson(Map(
      "bpe_model8" -> 1.2345, "neardup_pairs" -> 4.5,
      "shard_tree_2ep" -> 4.5))
    assert(json ===
      """{"neardup_pairs":4.500,"shard_tree_2ep":4.500,"bpe_model8":1.235}""")
    assert(GateRunner.fixturesJson(Map.empty) === "{}")
  }

  test("Fixtures.buildCosts records a build's wall seconds under its " +
      "short name") {
    Fixtures.resetForTest()
    // countOf routes through the memo like every fixture; its key ends
    // in the short name after the last '#'
    val spark = SparkSpec.session
    val n = Fixtures.countOf(spark, "/tmp/benchspec-fixture-dir",
      "benchspec_probe")(spark.range(5).toDF("doc_id"))
    assert(n === 5L)
    assert(Fixtures.buildCosts.keySet.contains("count_benchspec_probe"))
    assert(Fixtures.buildCosts("count_benchspec_probe") >= 0.0)
  }

  test("hints persist only from a run the co-tenant fraction calls quiet") {
    // the co-tenant fraction decides whenever it was measured, whatever
    // the probe ratio says
    assert(GateRunner.quiet(coFrac = 0.02, probeRatio = 6.24))
    assert(GateRunner.quiet(0.0, 0.0))
    assert(!GateRunner.quiet(0.05, 1.0)) // the bar is exclusive
    assert(!GateRunner.quiet(0.30, 1.0)) // a co-tenant JVM, quiet probes
    // no /proc/stat (fraction -1): the probe ratio, at most 1.5
    assert(GateRunner.quiet(-1.0, 1.0))
    assert(GateRunner.quiet(-1.0, 1.5))
    assert(!GateRunner.quiet(-1.0, 2.24))
    assert(!GateRunner.quiet(-1.0, 0.0)) // probes failed: no signal
  }

  test("co-tenant fraction: absolute, clamped, and readable on this box") {
    // pure math: a 10 s window on 32 cores where the box burned 40 s of
    // CPU and we burned 38 s → others burned 2 s of 320 core-seconds
    val frac = GateRunner.coTenantFraction(busyJiffies = 4000,
      ownNanos = 38000000000L, wallNanos = 10000000000L, cores = 32)
    assert(math.abs(frac - 2.0 / 320.0) < 1e-12, s"frac=$frac")
    // timer-granularity drift (own > busy) clamps to 0, never negative
    assert(GateRunner.coTenantFraction(100, 2000000000L, 1000000000L, 32) == 0.0)
    assert(GateRunner.coTenantFraction(0, 0, 0, 32) == -1.0) // degenerate window
    // the probes exist on this (Linux) box and are monotone over time
    val b0 = GateRunner.totalBusyJiffies()
    val o0 = GateRunner.ownCpuNanos()
    assert(b0.nonEmpty && o0.nonEmpty, "probe sources unavailable")
    var spin = 0L
    (0 until 20000000).foreach(i => spin += i) // burn measurable CPU
    assert(GateRunner.totalBusyJiffies().get >= b0.get && spin != 0)
    assert(GateRunner.ownCpuNanos().get >= o0.get)
  }
}

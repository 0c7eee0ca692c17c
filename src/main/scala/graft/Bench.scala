package graft

/** Entry point for the suite timing: `graft.Bench [gate,gate,…]` is
  * `graft.GateRunner time $SPARK_GRAFT_SF_DIR $SPARK_GRAFT_COST_HINTS
  * [gate,gate,…]` (defaults: the sf0.1 test data and
  * `bench/cost_hints.json`). It prints ONE JSON line; a listed run is a
  * targeted re-measurement and writes no cost hints. GateRunner reads
  * the rest of the settings: `SPARK_GRAFT_CPUS` (4),
  * `SPARK_GRAFT_BENCH_RUNS` (3), `SPARK_GRAFT_BENCH_BUDGET_S` (480). */
object Bench {
  def main(args: Array[String]): Unit = GateRunner.main(Array("time",
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    sys.env.getOrElse("SPARK_GRAFT_COST_HINTS", "bench/cost_hints.json")) ++
    args.headOption)
}

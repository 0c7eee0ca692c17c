"""Helpers shared by run.py and compare.py: percentiles, span self time,
attribution of listener events to spans, and the per-layer metrics of a
traced run."""
import statistics

from workloads import WORKLOADS


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    xs = [x for x in xs if x is not None]
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def iqr_share(xs):
    """Inter-quartile distance as a share of the median."""
    q1, m, q3 = quartiles(xs)
    return (q3 - q1) / m if m else 0.0


def union_length(intervals, lo, hi):
    """Length of the union of [a, b] intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def children(spans):
    out = {}
    for s in spans:
        out.setdefault(s["parent"], []).append(s)
    return out


def self_time(spans):
    """span id -> duration minus the part of it its child spans cover."""
    kids = children(spans)
    return {s["id"]: (s["end_us"] - s["start_us"]) - union_length(
        [(c["start_us"], c["end_us"]) for c in kids.get(s["id"], [])],
        s["start_us"], s["end_us"]) for s in spans}


def attribute(events, spans):
    """span id -> events whose time (ms) falls inside it and inside none
    of its children: each event goes to the innermost enclosing span.
    Events outside every span are returned under None."""
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]
    ordered = sorted(spans, key=d, reverse=True)
    out = {}
    for e in events:
        t = e["t_ms"] * 1000
        home = next((s["id"] for s in ordered
                     if s["start_us"] <= t <= s["end_us"]), None)
        out.setdefault(home, []).append(e)
    return out


def within(events, span):
    return [e for e in events if span["start_us"] <= e["t_ms"] * 1000 <= span["end_us"]]


def descendants(spans, root_id):
    kids = children(spans)
    out, todo = [], [root_id]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c["id"])
    return out


PER_LAYER = (
    ["session.build_s",
     "excel.infer_s", "excel.scan_s", "excel.rows", "excel.bytes", "excel.rows_per_s",
     "pipeline.match_s", "dialect.rewrite_s", "dialect.calls", "sql.analyze_s", "sql.exec_s",
     "combine.plan_s", "combine.pivot_exec_s", "combine.concat_exec_s",
     "combine.single_task_stages",
     "sink.hyper_s", "sink.hyper_binary_s", "sink.xlsx_s", "sink.sql_executions_per_table",
     "sink.rows_written", "sink.bytes_written"]
    + ["gate.%s_s" % g for g in WORKLOADS["gates_hot"]["gates"]]
    + ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s",
       "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
       "spark.driver_gap_s", "spark.core_busy_frac", "jvm.heap_peak_mb",
       "trace.pass_s", "trace.overhead_s"])

def unit(name):
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("frac"):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def self_time_by_name(spans):
    """Span name -> median over traced passes of its summed self time (s):
    where a traced pass spent time that no child span accounts for."""
    st = self_time(spans)
    per_pass = {}
    for s in spans:
        key = (s["name"], s["pass"])
        per_pass[key] = per_pass.get(key, 0) + st[s["id"]] / 1e6
    names = {}
    for (name, _), v in per_pass.items():
        names.setdefault(name, []).append(v)
    return {name: median(v) for name, v in names.items()}


def layer_metrics(trace, result, manifest, cpus):
    """Per-layer metrics of one traced run. Pass-level figures are medians
    over the traced passes; probe figures come from the single probe pass."""
    spans, events = trace["spans"], trace["events"]
    by_kind = {}
    for e in events:
        by_kind.setdefault(e["kind"], []).append(e)
    passes = [s for s in spans if s["name"] == "pass"]
    probes = [s for s in spans if s["name"] == "probes"]
    home = attribute(by_kind.get("stage", []), spans)

    def dur(s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def per_pass(fn):
        return median([fn(p, descendants(spans, p["id"])) for p in passes]) or 0.0

    def named(name):
        return per_pass(lambda p, ds: sum(dur(s) for s in ds if s["name"] == name))

    probe_spans = [s for p in probes for s in descendants(spans, p["id"])]

    def probe(name):
        return sum(dur(s) for s in probe_spans if s["name"] == name)

    m = {k: 0.0 for k in PER_LAYER}
    m["session.build_s"] = result["session_build_s"]
    books = {k: v for k, v in manifest["inputs"].items() if k.endswith(".xlsx")}
    m["excel.rows"] = float(sum(v["rows"] for v in books.values()))
    m["excel.bytes"] = float(sum(v["bytes"] for v in books.values()))
    m["excel.infer_s"] = named("excel.infer")
    m["excel.scan_s"] = named("excel.scan")
    if m["excel.scan_s"]:
        m["excel.rows_per_s"] = m["excel.rows"] / m["excel.scan_s"]
    m["pipeline.match_s"] = named("pipeline.match")
    m["dialect.rewrite_s"] = probe("dialect.rewrite")
    m["dialect.calls"] = float(sum(1 for s in probe_spans if s["name"] == "dialect.rewrite"))
    m["sql.analyze_s"] = probe("sql.analyze")
    m["sql.exec_s"] = probe("sql.exec")
    m["combine.plan_s"] = probe("combine.plan")
    m["combine.pivot_exec_s"] = probe("combine.pivot_exec")
    m["combine.concat_exec_s"] = probe("combine.concat_exec")
    m["combine.single_task_stages"] = float(sum(
        1 for s in probe_spans if s["name"] in ("combine.pivot_exec", "combine.concat_exec")
        for e in home.get(s["id"], []) if e["kind"] == "stage" and e["tasks"] == 1))
    m["sink.hyper_s"] = named("sink.hyper")
    m["sink.hyper_binary_s"] = probe("sink.hyper_binary")
    m["sink.xlsx_s"] = named("sink.xlsx")
    tables = trace["counters"].get("hyper_tables", 0)

    def sink_sql(p, ds):
        sinks = [s for s in ds if s["name"] == "sink.hyper"]
        n = sum(1 for s in sinks for e in within(by_kind.get("sql", []), s))
        return n / tables if tables else 0.0
    if any(s["name"] == "sink.hyper" for s in spans):
        m["sink.sql_executions_per_table"] = per_pass(sink_sql)
    m["sink.rows_written"] = result.get("rows_written", 0.0)
    m["sink.bytes_written"] = result.get("output_bytes", 0.0)
    for g in WORKLOADS["gates_hot"]["gates"]:
        m["gate.%s_s" % g] = named("gate." + g)

    def tasks(p):
        return within(by_kind.get("task", []), p)
    m["spark.jobs"] = per_pass(lambda p, _: float(len(
        [j for j in by_kind.get("job", []) if p["start_us"] <= j["start_ms"] * 1000 <= p["end_us"]])))
    m["spark.stages"] = per_pass(lambda p, _: float(len(within(by_kind.get("stage", []), p))))
    m["spark.tasks"] = per_pass(lambda p, _: float(len(tasks(p))))
    for name, key in [("spark.task_s", "run_ms"), ("spark.gc_s", "gc_ms")]:
        m[name] = per_pass(lambda p, _, key=key: sum(t[key] for t in tasks(p)) / 1000.0)
    for key in ["shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        m["spark." + key] = per_pass(lambda p, _, key=key: float(sum(t[key] for t in tasks(p))))

    def gap(p, _):
        jobs = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in by_kind.get("job", [])]
        return (p["end_us"] - p["start_us"] - union_length(jobs, p["start_us"], p["end_us"])) / 1e6
    m["spark.driver_gap_s"] = per_pass(gap)
    m["spark.core_busy_frac"] = per_pass(lambda p, _: sum(
        t["t_ms"] - t["launch_ms"] for t in tasks(p)) / 1000.0 / (dur(p) * cpus))
    m["jvm.heap_peak_mb"] = median(result["heap_peak_mb"]) or 0.0
    m["trace.pass_s"] = median(result["traced_passes"]) or 0.0
    m["trace.overhead_s"] = m["trace.pass_s"] - (median(result["passes"]) or 0.0)
    return m

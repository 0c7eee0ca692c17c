#!/usr/bin/env python3
"""Benchmark of the engine's Excel -> SQL -> combine -> .hyper pipeline and
of the extension gates ROADMAP names as open performance work.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the driver from
source (sbt, offline), generates the workload's inputs from the seed,
runs the workload in fresh JVMs on local[4], checks the outputs against
DuckDB, and prints one JSON object as the last line of standard output.
It exits 1, after printing, when an output check failed.

--trace 0 reports the end-to-end metrics: set-up time (process start to
a session that has run one job; median over the run's JVMs), the first
pass in a fresh session, the median warm pass, output bytes and the share
of passes that succeeded. --trace 1 runs one JVM whose passes alternate
untraced and traced, plus isolated layer probes, and reports the
per-layer metrics (see stats.PER_LAYER) and the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, books  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4
# JVMs per untraced run, each a set-up sample; the last one runs the passes
SETUP_JVMS = 2
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "project")]:
        for d, dirs, files in sorted(os.walk(top)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + driver with sbt once per source tree; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources at %s/src/main/scala" % ROOT)
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    # one stamp for the one set of compiled classes: any source change,
    # including a revert, rebuilds
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_hash()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built, classpath = f.read().split("\n", 1)
        if built == stamp:
            return classpath.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and driver with sbt")
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=lf, text=True, timeout=800)
    lines = [l for l in res.stdout.splitlines() if l.startswith(os.sep)]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed (exit %d)" % res.returncode)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def write_spec(workload, manifest, run_dir):
    w = WORKLOADS[workload]
    spec = {"kind": w["kind"]}
    if w["kind"] == "pipeline":
        work_dir = os.path.join(run_dir, "books")
        os.makedirs(work_dir)
        for b in books(workload):
            os.link(os.path.join(manifest["dir"], "books", b + ".xlsx"),
                    os.path.join(work_dir, b + ".xlsx"))
        spec.update(work_dir=work_dir,
                    bundles=[dict(b, matches=books(workload)[:b.get("books")])
                             for b in w["bundles"]])
    else:
        spec.update(data_dir=os.path.join(manifest["dir"], "data"), gates=w["gates"])
    path = os.path.join(run_dir, "spec.json")
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)
    return spec, path


def jvm(classpath, spec_path, mode, seconds, out_dir, deadline):
    """Run one driver JVM; returns (setup seconds, result dict or None)."""
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
              "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
              "-Dderby.system.home=" + tmp,
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Main",
              "--spec", spec_path, "--mode", mode, "--seconds", str(seconds),
              "--out", out_dir, "--cpus", str(CPUS)])
    with open(os.path.join(out_dir, "jvm.log"), "w") as lf:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True, cwd=out_dir)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        setup, result = None, None
        try:
            for line in proc.stdout:
                if line.startswith("READY") and setup is None:
                    setup = time.perf_counter() - t0
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or setup is None or (result is None and mode != "setup"):
        raise SystemExit("perfbench: driver JVM (%s) failed with exit %s; see %s"
                         % (mode, proc.returncode, os.path.join(out_dir, "jvm.log")))
    return setup, result


def check(spec, manifest, check_dir, run_dir):
    with open(os.path.join(run_dir, "check.log"), "w") as lf:
        if spec["kind"] == "pipeline":
            problems = oracle.check_pipeline(spec, manifest, check_dir)
        else:
            problems = oracle.check_gates(ROOT, spec["data_dir"], check_dir, lf)
        lf.write("\n".join(problems) + "\n")
    for p in problems:
        log("output check: " + p)
    return not problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    classpath = build()
    deadline = time.monotonic() + DEADLINE_S
    manifest = gen.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"))
    run_dir = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spec, spec_path = write_spec(args.workload, manifest, run_dir)

    setups = []
    n_jvms = 1 if args.trace else SETUP_JVMS
    for i in range(n_jvms):
        mode = "trace" if args.trace else ("full" if i == n_jvms - 1 else "setup")
        setup, res = jvm(classpath, spec_path, mode, args.seconds,
                         os.path.join(run_dir, "jvm%d" % i), deadline)
        setups.append(setup)
    for e in res["errors"]:
        log(e)
    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and check(spec, manifest,
                                    os.path.join(run_dir, "jvm%d" % (n_jvms - 1), "check"),
                                    run_dir)
    if not correct:
        failed += 1
        attempted += 1

    if args.trace:
        with open(os.path.join(run_dir, "jvm0", "trace.json")) as f:
            trace = json.load(f)
        layer = stats.layer_metrics(trace, res, manifest, CPUS)
        for name, v in sorted(stats.self_time_by_name(trace["spans"]).items(),
                              key=lambda kv: -kv[1]):
            log("self time %-28s %.4f s" % (name, v))
        metrics = {k: {"value": v, "unit": stats.unit(k)} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": {"value": stats.median(setups), "unit": "s"},
            "first_pass_s": {"value": res["first_pass_s"], "unit": "s"},
            "pass_s": {"value": stats.median(res["passes"]), "unit": "s"},
            "output_bytes": {"value": res.get("output_bytes", 0.0), "unit": "bytes"},
            "ok_frac": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        }
    log("passes=%s re-measured under load=%s cotenant=%s warm_s=%s setups=%s" % (
        [round(p, 3) for p in res["passes"]], [round(p, 3) for p in res["loaded_passes"]],
        [round(c, 2) for c in res["cotenant"]], res.get("warm_s"),
        [round(s, 2) for s in setups]))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()

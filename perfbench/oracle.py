"""Output check: the tables a pipeline run wrote, read back by the engine
and dumped as parquet, against the same bundles run by DuckDB over the
parquet slices the workbooks were made from. Gate results go through the
repository's own oracle tool, tools/check.py."""
import datetime
import glob
import os
import re
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq

SHEET_REF = re.compile(r"([A-Za-z0-9_]+)\.sheet\b")


def canon(v):
    """Compare numbers to 10 significant digits (Excel and Spark may
    type an integral column as long or double), timestamps as naive UTC."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return float("%.10g" % v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    return repr(v)


def rows_of(table):
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return [tuple(canon(v) for v in r) for r in zip(*cols)]


def expected(con, bundle, query):
    """(columns, rows) the pipeline should produce for one query:
    pivot = per-file results stacked under an `index` column, concat =
    per-file results side by side by position, NULL-padded."""
    per_file = []
    for m in bundle["matches"]:
        sql = SHEET_REF.sub(lambda g: '"%s_%s"' % (m, g.group(1)), query["sql"])
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        per_file.append((m, cols, [tuple(canon(v) for v in r) for r in res.fetchall()]))
    if query["pivot"]:
        cols = ["index"] + per_file[0][1]
        return cols, [(canon(m),) + r for m, _, rs in per_file for r in rs]
    cols = ["%s_%s" % (m, c) for m, cs, _ in per_file for c in cs]
    n = max(len(rs) for _, _, rs in per_file)
    rows = []
    for i in range(n):
        row = ()
        for _, cs, rs in per_file:
            row += rs[i] if i < len(rs) else (None,) * len(cs)
        rows.append(row)
    return cols, rows


def check_pipeline(spec, manifest, check_dir):
    """Returns a list of problems; empty when every table matches."""
    con = duckdb.connect()
    for rel in manifest["inputs"]:
        if rel.endswith(".parquet"):
            name = os.path.basename(rel)[:-len(".parquet")]
            con.execute('CREATE VIEW "%s" AS SELECT * FROM read_parquet(\'%s\')'
                        % (name, os.path.join(manifest["dir"], rel)))
    problems = []
    for b in spec["bundles"]:
        for q in b["queries"]:
            where = "%s/%s" % (b["export"], q["name"])
            path = os.path.join(check_dir, b["export"], q["name"])
            if not glob.glob(os.path.join(path, "*.parquet")):
                problems.append("%s: missing output" % where)
                continue
            got = pq.read_table(path)
            cols, want = expected(con, b, q)
            if got.column_names != cols:
                problems.append("%s: columns %s, expected %s" % (where, got.column_names, cols))
                continue
            have = rows_of(got)
            if not q["pivot"] and have == want:
                continue
            if q["pivot"] and sorted(have, key=repr) == sorted(want, key=repr):
                continue
            problems.append("%s: %d rows differ from the oracle's %d (first: %s vs %s)" % (
                where, len(have), len(want), have[:1], want[:1]))
    return problems


def check_gates(root, data_dir, check_dir, log):
    """Run tools/check.py over the gate dumps; returns a list of problems."""
    tool = os.path.join(root, "tools", "check.py")
    res = subprocess.run([sys.executable, tool, data_dir, check_dir],
                         capture_output=True, text=True, timeout=120)
    log.write(res.stdout + res.stderr)
    problems = [l for l in res.stdout.splitlines() if l.startswith("✗")]
    if res.returncode != 0 and not problems:
        problems.append("tools/check.py exited %d" % res.returncode)
    return problems

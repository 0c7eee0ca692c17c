"""Seeded input generator.

Writes, for one (workload, seed), the TPC-H-shaped slices each workbook
holds as parquet (the oracle's input) and the workbooks themselves as
.xlsx, or for the gate workload the table directory the gates read. The
same seed always yields the same bytes, and a finished input directory
is reused by later runs with that seed.

The workbooks are written here, not by the engine's own XlsxWriter, so
that the inputs do not depend on the program under test.
"""
import datetime
import json
import os
import shutil
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import WORKLOADS, books

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EXCEL_EPOCH = datetime.date(1899, 12, 30)
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("spark batch part line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data join shuffle index vector the of and to in is").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def orders(rng, n, key0):
    return pa.table({
        "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15000, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(
            (EPOCH_1995 + rng.integers(0, 2404, n)).astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
    })


def lineitem(rng, n, orderkeys):
    return pa.table({
        "l_orderkey": pa.array(np.sort(rng.choice(orderkeys, n))),
        "l_partkey": pa.array(rng.integers(0, 20000, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(
            (EPOCH_1995 + 1 + rng.integers(0, 2498, n)).astype("datetime64[us]")),
    })


def documents(rng, n):
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(8, 90, n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array(["src%d" % k for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dims=64):
    vecs = rng.normal(0, 0.125, (n, dims)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def placeholders(rng):
    """The dimension and event tables the oracle tool registers; the
    hot gates never read them, so a few rows of the right schema do."""
    n = 25
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(["R%d" % i for i in range(5)])}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(n, dtype=np.int32)),
                            "n_name": pa.array(["N%d" % i for i in range(n)]),
                            "n_regionkey": pa.array((np.arange(n) % 5).astype(np.int32))}),
        "customer": pa.table({"c_custkey": pa.array(np.arange(n, dtype=np.int64)),
                              "c_name": pa.array(["C%d" % i for i in range(n)]),
                              "c_nationkey": pa.array(np.arange(n, dtype=np.int32)),
                              "c_acctbal": pa.array(np.round(rng.uniform(0, 9999, n), 2)),
                              "c_mktsegment": pa.array(["BUILDING"] * n)}),
        "supplier": pa.table({"s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
                              "s_name": pa.array(["S%d" % i for i in range(n)]),
                              "s_nationkey": pa.array(np.arange(n, dtype=np.int32)),
                              "s_acctbal": pa.array(np.round(rng.uniform(0, 9999, n), 2))}),
        "part": pa.table({"p_partkey": pa.array(np.arange(n, dtype=np.int64)),
                          "p_name": pa.array(["P%d" % i for i in range(n)]),
                          "p_brand": pa.array(["B1"] * n),
                          "p_type": pa.array(["T1"] * n),
                          "p_size": pa.array(np.ones(n, dtype=np.int32)),
                          "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n), 2))}),
        "events": pa.table({"event_id": pa.array(np.arange(n, dtype=np.int64)),
                            "ts": pa.array((np.datetime64("2024-01-01T00:00", "us")
                                            + np.arange(n) * 60_000_000)),
                            "user_id": pa.array(np.arange(n, dtype=np.int64) % 5),
                            "event_type": pa.array(["click"] * n),
                            "value": pa.array(np.ones(n)),
                            "props": pa.array(["{}"] * n)}),
    }


# ---- xlsx ---------------------------------------------------------------

def _col_ref(c):
    s = ""
    c += 1
    while c:
        c, r = divmod(c - 1, 26)
        s = chr(65 + r) + s
    return s


def _sheet_xml(table, sst):
    cols = table.column_names
    refs = [_col_ref(c) for c in range(len(cols))]
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
           '<sheetData><row r="1">']

    def sref(s):
        return sst.setdefault(s, len(sst))
    out += ['<c r="%s1" t="s"><v>%d</v></c>' % (refs[c], sref(n))
            for c, n in enumerate(cols)]
    out.append("</row>")
    kinds, values = [], []
    for name in cols:
        t = table.schema.field(name).type
        v = table.column(name).to_pylist()
        if pa.types.is_timestamp(t):
            kinds.append("d")
            values.append([(x.date() - EXCEL_EPOCH).days for x in v])
        elif pa.types.is_string(t):
            kinds.append("s")
            values.append([sref(x) for x in v])
        else:
            kinds.append("n")
            values.append([repr(x) for x in v])
    for i in range(table.num_rows):
        r = i + 2
        cells = []
        for c, k in enumerate(kinds):
            v = values[c][i]
            if k == "s":
                cells.append('<c r="%s%d" t="s"><v>%d</v></c>' % (refs[c], r, v))
            elif k == "d":
                cells.append('<c r="%s%d" s="1"><v>%d</v></c>' % (refs[c], r, v))
            else:
                cells.append('<c r="%s%d"><v>%s</v></c>' % (refs[c], r, v))
        out.append('<row r="%d">%s</row>' % (r, "".join(cells)))
    out.append("</sheetData></worksheet>")
    return "".join(out)


class _Deterministic:
    """Zip parts with a fixed timestamp, so a seed gives the same bytes."""

    def __init__(self, zf):
        self.zf = zf

    def writestr(self, name, data):
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        self.zf.writestr(info, data)


def write_xlsx(path, sheets):
    """Write `sheets` ([(name, pyarrow.Table)]) as one workbook: shared
    strings, numbers as numbers, dates as serials with a date style."""
    sst = {}
    n = len(sheets)
    ns = "http://schemas.openxmlformats.org/"
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml."
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        z = _Deterministic(zf)
        z.writestr("[Content_Types].xml", head +
                   '<Types xmlns="%spackage/2006/content-types">' % ns +
                   '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/>'
                   '<Override PartName="/xl/workbook.xml" ContentType="%ssheet.main+xml"/>' % ct +
                   '<Override PartName="/xl/styles.xml" ContentType="%sstyles+xml"/>' % ct +
                   '<Override PartName="/xl/sharedStrings.xml" ContentType="%ssharedStrings+xml"/>' % ct +
                   "".join('<Override PartName="/xl/worksheets/sheet%d.xml" ContentType="%sworksheet+xml"/>'
                           % (i + 1, ct) for i in range(n)) + "</Types>")
        z.writestr("_rels/.rels", head +
                   '<Relationships xmlns="%spackage/2006/relationships">' % ns +
                   '<Relationship Id="rId1" Type="%sofficeDocument/2006/relationships/officeDocument" '
                   'Target="xl/workbook.xml"/></Relationships>' % ns)
        z.writestr("xl/workbook.xml", head +
                   '<workbook xmlns="%sspreadsheetml/2006/main" '
                   'xmlns:r="%sofficeDocument/2006/relationships"><sheets>' % (ns, ns) +
                   "".join('<sheet name="%s" sheetId="%d" r:id="rId%d"/>'
                           % (escape(name), i + 1, i + 1)
                           for i, (name, _) in enumerate(sheets)) +
                   "</sheets></workbook>")
        rel = '<Relationship Id="rId%d" Type="%sofficeDocument/2006/relationships/%s" Target="%s"/>'
        z.writestr("xl/_rels/workbook.xml.rels", head +
                   '<Relationships xmlns="%spackage/2006/relationships">' % ns +
                   "".join(rel % (i + 1, ns, "worksheet", "worksheets/sheet%d.xml" % (i + 1))
                           for i in range(n)) +
                   rel % (n + 1, ns, "styles", "styles.xml") +
                   rel % (n + 2, ns, "sharedStrings", "sharedStrings.xml") +
                   "</Relationships>")
        # xf 1 = builtin date format 14, so readers type the serials as dates
        z.writestr("xl/styles.xml", head +
                   '<styleSheet xmlns="%sspreadsheetml/2006/main">' % ns +
                   '<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>'
                   '<fills count="1"><fill><patternFill patternType="none"/></fill></fills>'
                   '<borders count="1"><border/></borders>'
                   '<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>'
                   '<cellXfs count="2"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>'
                   '<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>'
                   "</cellXfs></styleSheet>")
        for i, (_, table) in enumerate(sheets):
            z.writestr("xl/worksheets/sheet%d.xml" % (i + 1), _sheet_xml(table, sst))
        z.writestr("xl/sharedStrings.xml", head +
                   '<sst xmlns="%sspreadsheetml/2006/main" uniqueCount="%d">' % (ns, len(sst)) +
                   "".join('<si><t xml:space="preserve">%s</t></si>' % escape(s) for s in sst) +
                   "</sst>")


# ---- entry --------------------------------------------------------------

def ensure(workload, seed, root):
    """Generate the inputs for (workload, seed) under `root` unless they
    are already there; return the manifest (paths, row and byte counts)."""
    out = os.path.join(root, "%s-s%d" % (workload, seed))
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    w = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    manifest = {"workload": workload, "seed": seed, "dir": out, "inputs": {}}
    if w["kind"] == "pipeline":
        os.makedirs(os.path.join(tmp, "books"))
        os.makedirs(os.path.join(tmp, "slices"))
        for b, name in enumerate(books(workload)):
            n = w["lineitem_rows"]
            # the orders only supply the lineitem rows' order keys
            o = orders(rng, max(1, n // 4), b * 1_000_000)
            sheets = [("lineitem", lineitem(rng, n, o.column("o_orderkey").to_numpy()))]
            for s, t in sheets:
                rel = "slices/%s_%s.parquet" % (name, s)
                pq.write_table(t, os.path.join(tmp, rel))
                manifest["inputs"][rel] = {"rows": t.num_rows,
                                           "bytes": os.path.getsize(os.path.join(tmp, rel))}
            rel = "books/%s.xlsx" % name
            write_xlsx(os.path.join(tmp, rel), sheets)
            manifest["inputs"][rel] = {"rows": sum(t.num_rows for _, t in sheets),
                                       "bytes": os.path.getsize(os.path.join(tmp, rel))}
    else:
        sizes = w["tables"]
        o = orders(rng, sizes["orders"], 0)
        tables = {"orders": o,
                  "lineitem": lineitem(rng, sizes["lineitem"],
                                       o.column("o_orderkey").to_numpy()),
                  "documents": documents(rng, sizes["documents"]),
                  "embeddings": embeddings(rng, sizes["embeddings"])}
        tables.update(placeholders(rng))
        os.makedirs(os.path.join(tmp, "data"))
        for name, t in tables.items():
            rel = "data/%s.parquet" % name
            pq.write_table(t, os.path.join(tmp, rel))
            manifest["inputs"][rel] = {"rows": t.num_rows,
                                       "bytes": os.path.getsize(os.path.join(tmp, rel))}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return manifest

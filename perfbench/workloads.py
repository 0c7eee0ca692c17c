"""Workload definitions: input sizes, queries and bundles per workload.

Each pipeline workload is a set of generated workbooks plus the query
bundles `Pipeline.run` executes over them. Queries reference sheets the
way the engine's users write them (`<sheet>.sheet`), so the program sees
only the workbooks; the oracle runs the same SQL over the parquet slices
the workbooks were written from.
"""

WORKLOADS = {
    # Eight single-sheet workbooks of 8000 lineitem rows. A grouped COUNT
    # with WHERE and HAVING (the reference's shape) over all eight goes to
    # .hyper, and a top-10 of two of them goes through the positional
    # concat to .xlsx, both in the SQLite dialect: the Excel scan and the
    # .hyper sink are the largest shares of the pass, and every other
    # pipeline layer (match, dialect, analysis, both combinators) runs on
    # small results.
    "books_scan": {
        "kind": "pipeline",
        "books": 8,
        "lineitem_rows": 8000,
        "bundles": [
            {"export": "scan_counts", "format": "hyper", "sheets": ["lineitem"],
             "queries": [
                 {"name": "returns_by_status", "pivot": True, "sql":
                  'SELECT "l_returnflag", "l_linestatus", COUNT(*) AS "n_lines" '
                  "FROM lineitem.sheet "
                  "WHERE \"l_quantity\" > 10 AND \"l_returnflag\" GLOB '[AN]' "
                  'GROUP BY "l_returnflag", "l_linestatus" HAVING COUNT(*) > 5'},
             ]},
            {"export": "scan_top", "format": "excel", "sheets": ["lineitem"], "books": 2,
             "queries": [
                 {"name": "top_lines", "pivot": False, "sql":
                  "SELECT l_orderkey, l_linenumber, "
                  "strftime('%Y-%m', l_shipdate) AS \"ship_month\", l_extendedprice "
                  "FROM lineitem.sheet ORDER BY l_extendedprice DESC, "
                  "l_orderkey, l_linenumber, l_partkey LIMIT 10"},
             ]},
        ],
    },
    # The extension gates ROADMAP names as open performance work, each
    # written to the noop sink: the only workload that reaches the
    # functions and streaming modules.
    "gates_hot": {
        "kind": "gates",
        "gates": ["d06_embedding_neardup", "s17_stream_web_ingest", "t18_gopher_repetition"],
        "tables": {"orders": 6000, "lineitem": 24000,
                   "documents": 600, "embeddings": 400},
    },
}


def books(workload):
    """Workbook base names; each is also the match string of its bundles."""
    return ["book_%02d" % i for i in range(WORKLOADS[workload]["books"])]

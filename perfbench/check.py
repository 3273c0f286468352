"""Output check: each query's dumped result against its DuckDB oracle from
`SparkEntry.oracleSql`, with the value-exact comparison
`scripts/localcheck.py` makes (that script does its work at import, so the
comparison is restated here). A query without an oracle must give the
same rows in both of its dumps, and as many rows as `NO_ORACLE` says.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row-count oracles for the queries that have no value oracle by design.
NO_ORACLE = {
    "q23_approx_distinct":
        "SELECT COUNT(DISTINCT l_returnflag) AS n FROM lineitem",
}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO %d" % min(4, os.cpu_count() or 1))
    for t in TABLES:
        path = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, path))
    return con


def read_dump(con, check_dir, name):
    files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
    if not files:
        raise RuntimeError("no result parquet")
    return con.execute("SELECT * FROM read_parquet(%r)" % files).fetchdf()


def compare(got, want):
    """None when equal, else a one-line reason."""
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return "columns %s vs %s" % (gc, wc)
    got, want = got[gc], want[wc]
    if len(got) != len(want):
        return "rows %d vs %d" % (len(got), len(want))
    for c in gc:
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    return "first diff %s[%d]: %r vs %r" % (c, i, x, y)
            elif str(x) != str(y):
                return "first diff %s[%d]: %r vs %r" % (c, i, x, y)
    return None


def check(data_dir, check_dir, names, oracle, want=None):
    """{query: None if its output is right, else the reason}. `want` may
    hold oracle results computed earlier."""
    want = want or {}
    con = connect(data_dir)
    out = {}
    for name in names:
        try:
            got = read_dump(con, check_dir, name)
            if name in want:
                out[name] = compare(got, want[name])
            elif name in oracle:
                out[name] = compare(got, con.execute(oracle[name]).fetchdf())
            elif name in NO_ORACLE:
                again = read_dump(con, check_dir, name + "__again")
                rows = con.execute(NO_ORACLE[name]).fetchone()[0]
                out[name] = (compare(got, again) or
                             (None if len(got) == rows else
                              "rows %d vs %d" % (len(got), rows)))
            else:
                out[name] = "no oracle and no row-count check"
        except Exception as e:  # a failed dump or oracle is a wrong result
            out[name] = ("%s: %s" % (type(e).__name__, e)).splitlines()[0]
    con.close()
    return out

"""Untimed correctness check: compare each dumped Spark output with DuckDB
running the engine's oracle SQL (SparkEntry.oracleSql) over the same input
tables -- the comparison tools/check_oracle.py makes.
Queries are compared row by row in order (every oracle query ends in a total
ORDER BY); operator views carry no ORDER BY and compare as sorted multisets."""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(x, y):
    if x == y or (x is None and y is None):
        return True
    if isinstance(x, float) and isinstance(y, float):
        return math.isnan(x) and math.isnan(y)
    if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    if isinstance(x, dict) and isinstance(y, dict):
        return x.keys() == y.keys() and all(_same(x[k], y[k]) for k in x)
    return False


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(r[i] for i in order) for r in cur.fetchall()]


def compare(con, req):
    """Return (ok, detail) for one {name, path, sql, ordered} request."""
    files = glob.glob(os.path.join(req["path"], "*.parquet"))
    if not files:
        return False, "no Spark output"
    try:
        want_cols, want = _rows(con, req["sql"])
    except Exception as e:  # an oracle that cannot run is a failed check, not a skip
        return False, f"oracle error: {e}"
    got_cols, got = _rows(con, f"SELECT * FROM read_parquet({files!r})")
    if got_cols != want_cols:
        return False, f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != oracle {len(want)}"
    if not req["ordered"]:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    for i, (g, w) in enumerate(zip(got, want)):
        for c, a, b in zip(got_cols, w, g):
            if not _same(a, b):
                return False, f"col {c} row {i}: oracle={a!r} spark={b!r}"
    return True, f"{len(got)} rows match"


def check_all(requests):
    out, cons = [], {}
    for req in requests:
        con = cons.get(req["data"])
        if con is None:
            con = cons[req["data"]] = duckdb.connect()
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(req['data'], t)}.parquet'")
        ok, detail = compare(con, req)
        out.append({"name": req["name"], "ok": ok, "detail": detail})
    for con in cons.values():
        con.close()
    return out

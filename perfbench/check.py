"""Reference checks for the graft benchmark, computed by DuckDB over the
same generated inputs and never through graft's code.

- SparkEntry queries: each output is compared with its SparkEntry.oracleSql
  (columns matched by name, rows as a multiset, floats to 1e-9).
- the kernel: BenchKernel.run returns only row counts, so its group count
  is checked against an independent DuckDB digest of the (doc, tile)
  aggregate. The digest's sum of n_pts and sum of sum_val are checked
  against the benchmark's own copy of the kernel's join + tile + aggregate
  steps, which calls SpatialJoin.pip: they test SpatialJoin.pip, not
  BenchKernel's own aggregation. `metric_rows` is not checked: it follows
  the shuffle layout, not the data.
- the commit cycle: snapshot read-back and lineage output against the rows,
  value sum and point-id sum of the source; a no-op resume writes nothing.
"""
import decimal
import math
import os

import duckdb

def _con(in_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{in_dir}/{f}')")
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in sorted(v.items()))
    return v


def _key(v):
    if v is None:
        return ("",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", round(float(v), 6))
    if isinstance(v, tuple):
        return ("t", tuple(_key(x) for x in v))
    return ("s", str(v))


def _same(a, b):
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) or (math.isnan(a) and math.isnan(b))
    return a == b


def _table(con, sql):
    cur = con.execute(sql)
    names = [d[0].lower() for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return [names[i] for i in order], sorted(rows, key=_key)


def compare(con, out_dir, sql):
    """None when the Spark output equals the oracle, else the reason."""
    got_cols, got = _table(con, f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    want_cols, want = _table(con, sql)
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    for g, w in zip(got, want):
        if not _same(g, w):
            return f"row {g} != oracle {w}"
    return None


KERNEL_SQL = """
WITH pts AS (
  SELECT ((l_partkey*7 + l_orderkey*11) % 400) / 4.0 AS x,
         ((l_suppkey*13 + l_orderkey*17) % 400) / 4.0 AS y,
         CAST(CAST(l_quantity AS BIGINT) AS DOUBLE) AS v
  FROM lineitem),
doc AS (SELECT l_orderkey AS d, min(l_partkey) AS pk FROM lineitem GROUP BY 1),
box AS (
  SELECT d, (pk*17) % 90 AS x0, (pk*31) % 90 AS y0,
         (pk*17) % 90 + 4 + pk % 7 AS x1, (pk*31) % 90 + 4 + (pk*11) % 7 AS y1
  FROM doc),
-- every box as its integer unit squares: a point strictly inside a box
-- has its unit square among them
sq AS (
  SELECT d, x0, y0, x1, y1, x0 + i AS ux, y0 + j AS uy
  FROM box, range(0, 10) a(i), range(0, 10) b(j)
  WHERE x0 + i < x1 AND y0 + j < y1),
hit AS (
  SELECT sq.d, least(7, floor((100 - p.y) / 12.5)) AS tr, least(7, floor(p.x / 12.5)) AS tc, p.v
  FROM pts p JOIN sq ON floor(p.x) = sq.ux AND floor(p.y) = sq.uy
  WHERE p.x > sq.x0 AND p.x < sq.x1 AND p.y > sq.y0 AND p.y < sq.y1),
g AS (SELECT d, tr, tc, count(*) AS n, sum(v) AS s FROM hit GROUP BY ALL)
SELECT count(*), sum(n), sum(s) FROM g
"""

COMMIT_SQL = """
SELECT count(*), sum(l_quantity), sum(l_orderkey*10 + l_linenumber),
       count(DISTINCT (floor(((l_partkey*7 + l_orderkey*11) % 400) / 4.0 / 16),
                       floor(((l_suppkey*13 + l_orderkey*17) % 400) / 4.0 / 16)))
FROM lineitem
"""


def check(rec, in_dir):
    """Map of op name -> reason, for every op whose result is wrong."""
    con = _con(in_dir)
    bad = {}
    for c in rec["check"].values():
        _check_part(con, c, bad)
    con.close()
    return bad


def _check_part(con, c, bad):
    if c["kind"] == "kernel":
        groups, n_pts, sum_val = con.execute(KERNEL_SQL).fetchone()
        got = (c["kernel_rows"], c["agg_groups"], c["agg_n_pts"], c["agg_sum_val"])
        if not (got[0] == groups and got[1] == groups and got[2] == n_pts
                and math.isclose(got[3], sum_val, rel_tol=1e-12)):
            bad["kernel"] = f"(kernel_rows, groups, n_pts, sum_val) {got} != duckdb {(groups, n_pts, sum_val)}"
    elif c["kind"] == "queries":
        for name, out in c["outputs"].items():
            if out is None:
                bad[name] = "threw in the first set-up round"
            elif name in c["oracle_sql"]:
                why = compare(con, out, c["oracle_sql"][name])
                if why:
                    bad[name] = why
    elif c["kind"] == "commit":
        rows, qty, pid, parts = con.execute(COMMIT_SQL).fetchone()
        k = c["commits"]
        if (c["read_rows"], c["read_sum_point_id"]) != (k * rows, k * pid) \
                or not math.isclose(c["read_sum_value"], k * qty, rel_tol=1e-12):
            bad["read"] = f"snapshot read {c['read_rows']} rows != {k} x {rows}"
        if (c["lineage_rows"], c["lineage_sum_point_id"], c["lineage_parts"]) != (rows, pid, parts) \
                or not math.isclose(c["lineage_sum_value"], qty, rel_tol=1e-12):
            bad["lineage_fresh"] = (f"lineage {c['lineage_rows']} rows / {c['lineage_parts']} parts"
                                    f" != {rows} / {parts}")
        if c["resume_new_parts"] != 0 or c["rows_written_on_resume"] != 0:
            bad["lineage_resume"] = (f"no-op resume wrote {c['rows_written_on_resume']} rows in"
                                     f" {c['resume_new_parts']} parts")

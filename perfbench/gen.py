"""Seeded input generation for the graft benchmark.

Every table is built by DuckDB from integer hashes of (seed, row, column),
so one seed always yields byte-identical inputs, and no input depends on
any file outside the benchmark's own run directory.

The tables keep the schema the program reads (TPC-H-ish `lineitem`,
`orders`, `part`, plus `documents` and `embeddings`). The geometry follows
graft's own derivations (`GeoTables`): a point is
((l_partkey*7 + l_orderkey*11) % 400 / 4, (l_suppkey*13 + l_orderkey*17) % 400 / 4)
and a zone box is anchored at ((k*17) % 90, (k*31) % 90) for the part key
(or an order's smallest part key). The generator inverts those formulas so
every point it means to place lands inside a square window [0, W)^2, and it
only uses key residues whose boxes fit in that window. A small window keeps
the per-doc join work of the full-size data (the same number of zones over
each point) at a fraction of the row count, so a run stays short while the
join dominates the kernel, as it does at full size.
"""
import os

import duckdb

# Residues of the zone anchor formula: x0 = (17 m) % 90, y0 = (31 m) % 90,
# boxes at most 10 units wide.
def zone_residues(window):
    return [m for m in range(90)
            if (17 * m) % 90 <= window - 10 and (31 * m) % 90 <= window - 10]


# Words of the documents: the same closed vocabulary shape as the shipped
# corpus (short tokens, a few very frequent ones).
VOCAB = ["a", "the", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "value", "vector", "window", "rare"]

# Inverses mod 400 of the point formula's multipliers (7*343 = 13*277 = 1 mod 400).
INV7, INV13 = 343, 277


def gen_geo(out_dir, seed, n_orders, window, n_parts=0, doc_files=0):
    """lineitem + orders (+ part when n_parts > 0) inside [0, window)^2,
    and with doc_files > 0 the kernel's interleaved docs table built from
    them, in that many files."""
    grid = 4 * window
    res = zone_residues(window)
    con = duckdb.connect()
    con.execute(f"""CREATE TABLE orders AS
      SELECT k AS o_orderkey,
             ['F','O','P'][1 + CAST(hash({seed}, k, 1) % 3 AS INT)] AS o_orderstatus,
             ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
               [1 + CAST(hash({seed}, k, 2) % 5 AS INT)] AS o_orderpriority
      FROM (SELECT range AS k FROM range(150000)
            ORDER BY hash({seed}, range, 0) LIMIT {n_orders})""")
    # line 1 of each order carries the order's smallest part key (< 3600),
    # m + 90*j with m one of the window's zone residues: it fixes the doc's
    # polygon, and j (0..39) is picked so its point lands in the window too
    # (630*j mod 400 steps through every multiple of 10). Lines 2.. get part
    # keys >= 3600 solved from the point formula.
    con.execute(f"""CREATE TABLE zone_line AS
      SELECT k, m, (SELECT arg_min(j.range, hash({seed}, k, j.range, 9)) FROM range(40) j
                    WHERE (m * 7 + k * 11 + 630 * j.range) % 400 < {grid}) AS j
      FROM (SELECT o_orderkey AS k,
                   {res}[1 + CAST(hash({seed}, o_orderkey, 8) % {len(res)} AS INT)] AS m
            FROM orders)""")
    con.execute(f"""CREATE TABLE lineitem AS
      WITH l AS (
        SELECT o_orderkey AS k, ln,
               hash({seed}, o_orderkey, ln, 4) % {grid} AS gx,
               hash({seed}, o_orderkey, ln, 6) % {grid} AS gy
        FROM orders, range(1, 8) t(ln)
        WHERE ln <= 1 + hash({seed}, o_orderkey, 3) % 7)
      SELECT l.k AS l_orderkey,
             CASE WHEN ln = 1 THEN z.m + 90 * z.j
               ELSE ((CAST(gx AS BIGINT) - (l.k * 11) % 400 + 400) % 400) * {INV7} % 400
                    + 400 * (9 + CAST(hash({seed}, l.k, ln, 5) % 41 AS BIGINT))
             END AS l_partkey,
             ((CAST(gy AS BIGINT) - (l.k * 17) % 400 + 400) % 400) * {INV13} % 400
               + 400 * CAST(hash({seed}, l.k, ln, 10) % 3 AS BIGINT) AS l_suppkey,
             CAST(ln AS INT) AS l_linenumber,
             CAST(1 + hash({seed}, l.k, ln, 7) % 50 AS DOUBLE) AS l_quantity
      FROM l JOIN zone_line z ON l.k = z.k""")
    tables = ["orders", "lineitem"]
    if n_parts:
        con.execute(f"""CREATE TABLE part AS
          SELECT pk AS p_partkey FROM (
            SELECT r.m + 90 * j.range AS pk
            FROM (SELECT unnest({res}) AS m) r, range(222) j)
          ORDER BY hash({seed}, pk, 11) LIMIT {n_parts}""")
        tables.append("part")
    if doc_files:
        con.execute(DOCS_SQL)
        os.makedirs(f"{out_dir}/docs", exist_ok=True)
        for i in range(doc_files):
            con.execute(f"COPY (SELECT doc_id, spans FROM docs WHERE k % {doc_files} = {i}) "
                        f"TO '{out_dir}/docs/part-{i}.parquet' (FORMAT PARQUET)")
    _write(con, out_dir, tables)


# The interleaved docs table of graft's GeoTables.docs (one doc per order):
# offset 0 a meta span, 1..n the order's points as scaled-int CSV "x4,y4,q"
# (ordered by line, part, supplier, quantity), n+1 the zone polygon of the
# order's smallest part key as WKT, n+2 a raster media_ref.
DOCS_SQL = """CREATE TABLE docs AS
WITH li AS (SELECT l_orderkey AS k, l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln,
                   l_quantity AS q FROM lineitem),
po AS (SELECT k, count(*) AS n, min(pk) AS m FROM li GROUP BY k),
s AS (
  SELECT k, 'point' AS kind,
         CAST((pk*7 + k*11) % 400 AS VARCHAR) || ',' || CAST((sk*13 + k*17) % 400 AS VARCHAR)
           || ',' || CAST(CAST(q AS BIGINT) AS VARCHAR) AS text,
         '' AS media_ref,
         CAST(row_number() OVER (PARTITION BY k ORDER BY ln, pk, sk, q) AS INT) AS "offset"
  FROM li
  UNION ALL
  SELECT k, 'wkt', 'POLYGON((' || x0 || ' ' || y0 || ',' || x1 || ' ' || y0 || ',' || x1 || ' '
         || y1 || ',' || x0 || ' ' || y1 || ',' || x0 || ' ' || y0 || '))', '', CAST(n + 1 AS INT)
  FROM (SELECT k, n, (m*17) % 90 AS x0, (m*31) % 90 AS y0, (m*17) % 90 + 4 + m % 7 AS x1,
               (m*31) % 90 + 4 + (m*11) % 7 AS y1 FROM po)
  UNION ALL
  SELECT k, 'raster', '', 'tile://dem/0/' || (k % 8) || '/' || ((k*3) % 8), CAST(n + 2 AS INT)
  FROM po
  UNION ALL
  SELECT k, 'meta', 'status=' || o_orderstatus || ';prio=' || o_orderpriority, '', 0
  FROM orders JOIN po ON o_orderkey = k)
SELECT k, printf('doc-%09d', k) AS doc_id,
       list({'kind': kind, 'text': text, 'media_ref': media_ref, 'offset': "offset"}
            ORDER BY "offset") AS spans
FROM s GROUP BY k"""


def gen_text(out_dir, seed, n_docs):
    """documents: random word sequences with planted near-duplicates and
    exact copies."""
    v = len(VOCAB)
    con = duckdb.connect()
    # 1 doc in 10 copies an earlier doc, re-drawing 1 word in 8 (near-dup);
    # 1 in 50 copies one verbatim.
    con.execute(f"""CREATE TABLE documents AS
      WITH d AS (
        SELECT range AS doc_id, hash({seed}, range, 20) % 50 AS kind,
               CASE WHEN range > 0 AND hash({seed}, range, 20) % 50 < 6
                    THEN CAST(hash({seed}, range, 21) % range AS BIGINT)
                    ELSE range END AS src
        FROM range({n_docs})),
      w AS (
        SELECT d.doc_id, p.range AS pos,
               CASE WHEN d.src <> d.doc_id AND d.kind >= 1
                         AND hash({seed}, d.doc_id, p.range, 22) % 8 = 0
                    THEN hash({seed}, d.doc_id, p.range, 23) % {v}
                    ELSE hash({seed}, d.src, p.range, 23) % {v} END AS wid
        FROM d, range(100) p
        WHERE p.range < 10 + hash({seed}, d.src, 24) % 91),
      t AS (
        SELECT w.doc_id,
               string_agg({VOCAB}[1 + CAST(wid AS INT)], ' ' ORDER BY pos) AS text,
               ['en','en','en','de','fr','es','zh']
                 [1 + CAST(hash({seed}, w.doc_id, 25) % 7 AS INT)] AS lang,
               'src' || CAST(w.doc_id % 20 AS VARCHAR) AS source
        FROM w GROUP BY w.doc_id)
      SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
      FROM t ORDER BY doc_id""")
    _write(con, out_dir, ["documents"])


def _write(con, out_dir, tables):
    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        con.execute(f"COPY (SELECT * FROM {t}) TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)")
    con.close()


def table_rows(in_dir):
    con = duckdb.connect()
    out = {}
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            out[f[:-8]] = con.execute(f"SELECT count(*) FROM '{in_dir}/{f}'").fetchone()[0]
    con.close()
    return out

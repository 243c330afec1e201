"""DuckDB oracle check for the benchmark's query results.

Expected rows come from DuckDB evaluating `SparkEntry.oracleSql(q)` over
the same generated parquet tables, never from an engine run. Rows are
normalized the way tools/selfcheck.py does (columns by name, floats
rounded to 9 places, temporal values as ISO strings, bytes as hex, rows
sorted) before comparing.
"""
import glob
import os
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [sorted(cols)] + out


def check(data_dir, oracle_sql, results_dir):
    """Return {(query, result index): matches oracle} for every stored
    distinct result under results_dir/<query>/<index>/."""
    con = duckdb.connect()
    con.sql("SET preserve_insertion_order=false")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for q, sql in oracle_sql.items():
        try:
            exp = con.sql(sql)
            want = norm_rows(exp.columns, exp.fetchall())
        except duckdb.Error as e:
            print(f"oraclebench: oracle for {q} failed: {e}", file=sys.stderr)
            want = None
        for d in sorted(glob.glob(os.path.join(results_dir, q, "*"))):
            got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')")
            ok = want is not None and norm_rows(got.columns, got.fetchall()) == want
            verdict[(q, int(os.path.basename(d)))] = ok
            if not ok:
                print(f"oraclebench: {q} result {os.path.basename(d)} differs from the oracle",
                      file=sys.stderr)
    con.close()
    return verdict

"""Correctness check of the relational workload's outputs.

Each query's first (cold) execution wrote its result as parquet. A result
is compared, as an order-independent multiset of rows over name-sorted
columns, with the DuckDB oracle (`SparkEntry.oracleSql`) run on the same
generated tables.
"""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, int)):
        return v
    if isinstance(v, float) or type(v).__name__ == "Decimal":
        return float(f"{float(v):.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _as(cols, rows):
    """(name-sorted columns, sorted normalized rows): equal for equal
    multisets of rows, whatever their order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def _rows(con, sql):
    cur = con.execute(sql)
    return _as([d[0] for d in cur.description], cur.fetchall())


def compare(got, want):
    """None when equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} vs {len(wr)}"
    for g, w in zip(gr, wr):
        if g != w:
            return f"row {g!r} vs {w!r}"
    return None


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}/*.parquet')")
    return con


def spark_rows(con, out_dir, name):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return None
    return _rows(con, f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")


def check_batch(data_dir, out_dir, names, oracle_sql):
    """{query: None | reason} for every query name."""
    con = connect(data_dir)
    result = {}
    for name in names:
        try:
            got = spark_rows(con, out_dir, name)
            if got is None:
                result[name] = "no output"
            elif name in oracle_sql:
                result[name] = compare(got, _rows(con, oracle_sql[name]))
            else:
                result[name] = "no oracle"
        except Exception as e:  # an oracle error is a failed check
            result[name] = f"{type(e).__name__}: {e}"
    con.close()
    return result

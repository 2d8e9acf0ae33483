"""Order-insensitive output fingerprints, shared by the run and the tool
that stores the expected ones.

A fingerprint is `table_fingerprint` from `tools/check_oracle.py` (a hash of
every value, columns sorted by name, rows sorted) together with the sorted
column names and the row count.
"""
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check_oracle import norm_cell, table_fingerprint  # noqa: E402


def of_rows(cols, rows):
    return {"columns": sorted(cols), "rows": len(rows),
            "sha256": table_fingerprint(list(cols), rows)}


def of_spark_output(path):
    """Fingerprint of a sink's output directory (hive partitions included)."""
    tbl = pq.read_table(path)
    cols = list(tbl.schema.names)
    return of_rows(cols, [tuple(r[c] for c in cols) for r in tbl.to_pylist()])


def of_duckdb(con, sql):
    res = con.execute(sql)
    return of_rows([c[0] for c in res.description], res.fetchall())


def first_difference(path, con, sql, limit=3):
    """Up to `limit` differing sorted rows (spark, oracle), for defect notes."""
    def lines(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    tbl = pq.read_table(path)
    s_cols = list(tbl.schema.names)
    s = lines(s_cols, [tuple(r[c] for c in s_cols) for r in tbl.to_pylist()])
    res = con.execute(sql)
    d = lines([c[0] for c in res.description], res.fetchall())
    diffs = [(a, b) for a, b in zip(s, d) if a != b]
    if len(s) != len(d):
        diffs.append((f"{len(s)} rows", f"{len(d)} rows"))
    return diffs[:limit]

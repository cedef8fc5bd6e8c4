"""Row count and value hash of a query result, with the rendering rule
of tools/verify_local.py: columns in name order, NULL and NaN alike,
floats as %.6f, every other value as str(); rows sorted.

This hashes DuckDB results (the expected values). The benchmark client
hashes the rows a query returns with the same rule (Digest in
perfbench/harness/Workloads.scala); record_expected.py checks that the
two agree on every oracle query.
"""
import hashlib
import math


def _render(v):
    if isinstance(v, float):
        return "None" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rendered = sorted("\x1f".join(_render(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(cols)).encode())
    for line in rendered:
        h.update(b"\n")
        h.update(line.encode())
    return len(rows), h.hexdigest()[:16]


def duckdb_digest(con, sql):
    df = con.execute(sql).df()
    return digest(list(df.columns), [tuple(r) for r in df.itertuples(index=False)])

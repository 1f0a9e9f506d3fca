"""Checks each curation key's parquet output against its oracle SQL run
in DuckDB over the same generated tables, with the comparison the
repository's verify gate uses: same column set, same row count, and
equal values once both sides are sorted on every column and compared
as strings.
"""
import os

import duckdb


def check(inputs, outputs, oracle_sql):
    """Returns a list of failure messages, one per key that differs."""
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{inputs}/{table}.parquet')")
    failures = []
    for key, sql in sorted(oracle_sql.items()):
        path = os.path.join(outputs, key)
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a gate failure
            failures.append(f"oracle {key}: {e}")
            continue
        why = compare(got, want)
        if why:
            failures.append(f"oracle {key}: {why}")
    con.close()
    return failures


def compare(got, want):
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True).astype(str)
    w = want[cols].sort_values(cols).reset_index(drop=True).astype(str)
    for c in cols:
        diff = g[c] != w[c]
        if diff.any():
            i = diff[diff].index[0]
            return f"column {c} row {i}: got {g[c][i]!r} want {w[c][i]!r} ({int(diff.sum())} diffs)"
    return None

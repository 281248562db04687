"""Output checks against the DuckDB oracle SQL that ships with the engine.

Each query's Spark rows are compared with its ``oracles.sql`` query run
by DuckDB over the same generated ``events`` table: column names, row
count, and a digest of the sorted rows. Float columns are rounded to 6
decimals on both sides, as in the engine's gate (``__spark_entry__``).
Aggregation order differs between the engines by ~1e-13 relative, which
can flip a value that sits on a rounding boundary; when the digests
differ the rows are compared again allowing one unit of the 6th
decimal, and the result says which comparison matched.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import duckdb

FLOAT_TOL = 1.000001e-6


def _norm(rows) -> list[tuple]:
    out = [
        tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows
    ]
    out.sort(key=lambda r: tuple(str(x) for x in r))
    return out


def _col_key(name: str) -> tuple[bool, str]:
    # the vertex id first: rows then sort by their unique key, so a
    # rounding flip in a value column cannot reorder them
    return (name != "id", name)


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def _close(a: tuple, b: tuple) -> bool:
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if not math.isclose(x, y, rel_tol=0.0, abs_tol=FLOAT_TOL):
                return False
        elif x != y:
            return False
    return True


def compute(events_dir: str, sqls: dict[str, str], threads: int, tmp_dir: str) -> dict:
    """Expected (columns, rows, digest) of each named SQL text over
    `<events_dir>/events.parquet`."""
    con = duckdb.connect(
        config={"threads": threads, "memory_limit": "2GB", "temp_directory": tmp_dir}
    )
    try:
        path = os.path.join(events_dir, "events.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            cols = list(rel.columns)
            order = sorted(range(len(cols)), key=lambda i: _col_key(cols[i]))
            rows = _norm(tuple(r[i] for i in order) for r in rel.fetchall())
            out[name] = ([cols[i] for i in order], rows, _digest(rows))
        return out
    finally:
        con.close()


def check(df, expected: tuple[list[str], list[tuple], str]) -> tuple[bool, str]:
    """Compare a Spark DataFrame with its oracle result; (ok, how)."""
    cols, rows, digest = expected
    got_cols = sorted(df.columns, key=_col_key)
    if got_cols != cols:
        return False, f"schema {got_cols} != {cols}"
    got = _norm(tuple(r[c] for c in cols) for r in df.collect())
    if len(got) != len(rows):
        return False, f"rows {len(got)} != {len(rows)}"
    if _digest(got) == digest:
        return True, "digest"
    bad = sum(1 for a, b in zip(got, rows) if not _close(a, b))
    if bad:
        return False, f"values: {bad} rows differ"
    return True, "tolerance"


def load(path: str) -> dict:
    """Read what ``main`` wrote, rows back as tuples."""
    with open(path) as f:
        raw = json.load(f)
    return {name: (cols, [tuple(r) for r in rows], digest) for name, (cols, rows, digest) in raw.items()}


def main(argv: list[str]) -> None:
    """Child-process entry, started beside the Spark session so that
    DuckDB's time overlaps the JVM start and its memory is not counted
    as the engine's: oracle.py EVENTS_DIR SQLS_JSON OUT_JSON THREADS TMP"""
    events_dir, sqls_path, out_path, threads, tmp_dir = argv
    with open(sqls_path) as f:
        sqls = json.load(f)
    res = compute(events_dir, sqls, int(threads), tmp_dir)
    with open(out_path + ".part", "w") as f:
        json.dump(res, f)
    os.replace(out_path + ".part", out_path)


if __name__ == "__main__":
    main(sys.argv[1:])

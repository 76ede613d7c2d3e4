"""Local mirror of the driver's Spark-vs-DuckDB correctness gate.

Runs a registered query on Spark and its oracle SQL on DuckDB over the
same parquet fixtures, then compares row count + column names +
order-insensitive values (cells canonicalized to strings, rows sorted).
Stricter than a hash: mismatches show the first differing rows.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

from distributed_causal_stream_processing_spark.io import TABLES, table_path


def register_duck_views(con, sf_dir: str) -> None:
    import os

    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.isdir(path):
            # Spark-written tables are DIRECTORIES of part files; the
            # driver's fixtures are single files — read_parquet needs a
            # glob for the former (heavy3 parity runs on Spark-written
            # replicas)
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "0.0"  # collapse -0.0
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def _canon_rows(cols: list[str], rows) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def compare(spark_df, con, oracle: str) -> int:
    """Raises on any mismatch; returns the (matching) row count so
    callers don't re-execute the plan just to record it."""
    return compare_rows(spark_df.columns, spark_df.collect(), con, oracle)


def compare_rows(cols: list[str], rows, con, oracle: str) -> int:
    """``compare`` for rows already collected (a streaming twin's
    memory-sink rows): ``cols`` names the values of each row in order."""
    s_cols = [c.lower() for c in cols]
    s_rows = [tuple(r) for r in rows]
    res = con.execute(oracle)
    d_cols = [d[0].lower() for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"row count differs: {len(s_rows)} vs {len(d_rows)}"

    cs = _canon_rows(s_cols, s_rows)
    cd = _canon_rows(d_cols, d_rows)
    if cs != cd:
        diffs = [(a, b) for a, b in zip(cs, cd) if a != b][:5]
        raise AssertionError(
            f"values differ; first diffs (spark vs duckdb): {diffs}"
        )
    return len(s_rows)

#!/usr/bin/env python
"""Parity-check specific registered queries against their DuckDB
oracles at one or more scale factors — the fast inner loop for the
optimization rounds (a full sweep_parity run costs ~15 min at sf0.1;
an optimization touching one query needs its oracle re-proven at every
graded scale, not the whole registry's).

Usage: python tools/parity_one.py q_a q_b [--sf sf0.001,sf0.01,sf0.1]
Exit 1 on any mismatch, 2 on a name the registry does not hold (checked
before any Spark session starts).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="sf0.001,sf0.01,sf0.1")
    args = ap.parse_args(argv)

    import duckdb

    from distributed_causal_stream_processing_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )
    from distributed_causal_stream_processing_spark.session import get_spark
    from tests.parity import compare, register_duck_views

    _load_all()
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        print("unknown query names:", " ".join(unknown), file=sys.stderr)
        return 2
    spark = get_spark(app_name="dcsp-parity-one")
    fails: list[str] = []
    for sf in args.sf.split(","):
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb.connect()
        register_duck_views(con, sf_dir)
        for name in args.names:
            spec = REGISTRY[name]
            t0 = time.time()
            try:
                df = spec.fn(spark, sf_dir)
                if spec.oracle is None:
                    assert df.count() >= 0
                    status = "rows-only"
                else:
                    compare(df, con, spec.oracle)
                    status = "value-hash OK"
            except Exception as exc:  # noqa: BLE001 — report all, then fail
                fails.append(f"{name}@{sf}")
                status = f"FAIL {type(exc).__name__}: {exc}"[:300]
            print(f"{sf:8s} {name:36s} {time.time() - t0:6.1f}s {status}", flush=True)
        con.close()
    spark.stop()
    if fails:
        print("FAILED:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())

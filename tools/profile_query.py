#!/usr/bin/env python
"""Per-query profile: where does the wall time of a registered query
go? For each named query, reports

  - build_s: driver-side time to construct the DataFrame (Catalyst
    analysis + any eager work the builder does — localCheckpoint
    materializations land HERE, not in exec_s);
  - exec_s: time to materialize through the noop sink;
  - per-execution breakdown from the SQLAppStatusStore: duration,
    exchange count, shuffle records/bytes written — the same chain
    accounting as tools/gen_plans.py, so iterative queries show every
    superstep.

Run N passes (default 2) and keep per-query minima of build/exec — the
host shows roving interference windows (BASELINE.md), so single-shot
numbers lie.

Usage: python tools/profile_query.py [-n 2] [--sf DIR] q_a q_b ...
(task slots: get_spark's host CPU default; SPARK_GRAFT_CPUS overrides)
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)


def execution_row(store, e) -> tuple:
    """(id, duration in s or None while the store lacks the completion
    time, exchanges, shuffle records, shuffle bytes) of execution ``e``."""
    from distributed_causal_stream_processing_spark.benchlib import (
        execution_exchange_volume,
    )

    comp = e.completionTime()
    dur = (comp.get().getTime() - e.submissionTime()) / 1000.0 if comp.isDefined() else None
    rec, nb = execution_exchange_volume(store, e.executionId())
    nodes = store.planGraph(e.executionId()).allNodes()
    n_ex = sum(1 for j in range(nodes.size()) if nodes.apply(j).name() == "Exchange")
    return e.executionId(), dur, n_ex, rec, nb


def format_execution_row(row: tuple) -> str:
    eid, dur, n_ex, rec, nb = row
    shown = f"{dur:7.3f}s" if dur is not None else f"{'n/a':>8}"
    return f"  exec {eid}: {shown}  exchanges={n_ex}  shuffle_records={rec:,}  shuffle_bytes={nb:,}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("-n", type=int, default=2, help="passes (min kept)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.benchlib import (
        execution_window,
        release_storage,
        warm_session,
    )
    from distributed_causal_stream_processing_spark.session import get_spark

    spark = get_spark(app_name="dcsp-profile")
    queries = all_queries()
    warm_session(spark, queries, args.sf)
    store = spark._jsparkSession.sharedState().statusStore()

    for name in args.names:
        fn = queries[name]
        best = None
        for p in range(args.n):
            release_storage(spark, settle_s=0.5)
            with execution_window(spark) as execs:
                spark.sparkContext.setJobDescription(f"profile:{name}")
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                spark.sparkContext.setJobDescription(None)
            rows = [execution_row(store, e) for e in execs]
            cur = (t1 - t0, t2 - t1, rows)
            if best is None or (cur[0] + cur[1]) < (best[0] + best[1]):
                best = cur
        build_s, exec_s, rows = best
        print(f"\n=== {name}: build {build_s:.3f}s + exec {exec_s:.3f}s "
              f"= {build_s + exec_s:.3f}s  ({args.n} passes, best kept)")
        for row in rows:
            print(format_execution_row(row))
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Dump the physical plan evidence for one or more registered queries
into plans/<tag>/<query>_<suffix>.txt — the before/after artifact the
optimization rounds commit (the judge cannot run Spark; these files are
what plan claims are checked against).

Each file contains:
  1. ``df.explain("formatted")`` of the final DataFrame (pre-execution,
     AdaptiveSparkPlan isFinalPlan=false), and
  2. the POST-EXECUTION physical plan description of every SQL
     execution the query triggered (same chain accounting as
     tools/gen_plans.py — localCheckpoint materializations and
     convergence counts included), so iterative queries show their true
     shuffle shape, not the post-checkpoint fragment.

Usage: python tools/dump_plan.py <tag> <suffix> <query> [<query> ...]
  e.g. python tools/dump_plan.py r15 before q_graph_pagerank q_tpch_q9
"""

from __future__ import annotations

import os
import sys

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.01")


def main() -> None:
    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.benchlib import (
        execution_exchange_volume,
        execution_window,
    )
    from distributed_causal_stream_processing_spark.session import get_spark

    tag, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    out_dir = os.path.join(REPO_DIR, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dcsp-dump-plan")
    queries = all_queries()
    store = spark._jsparkSession.sharedState().statusStore()
    for name in names:
        with execution_window(spark) as execs:
            df = queries[name](spark, SF_DIR)
            formatted = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            df.collect()
        chunks = [
            f"# {name} — {suffix} (plans at {SF_DIR})",
            "",
            "## explain('formatted') of the returned DataFrame",
            "",
            formatted,
        ]
        total_rec = 0
        for e in execs:
            rec, nbytes = execution_exchange_volume(store, e.executionId())
            total_rec += rec
            chunks += [
                "",
                f"## execution {e.executionId()} — shuffle records written: "
                f"{rec:,} ({nbytes:,} B)",
                "",
                e.physicalPlanDescription(),
            ]
        chunks += ["", f"## chain total shuffle records written: {total_rec:,}"]
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write("\n".join(chunks))
        print(f"wrote {path} (chain shuffle records: {total_rec:,})")
    spark.stop()


if __name__ == "__main__":
    main()

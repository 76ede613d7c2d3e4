#!/usr/bin/env python
"""Regenerate COVERAGE.md's 'Extensions beyond the §2 contract' section
from the live registry: every registered query outside the 62-id
contract with its oracle mode, module, and first docstring sentence.

``render()`` builds the section without a Spark session, and
tests/test_tools.py checks that the committed section equals it, so a
query added, removed or re-documented without regenerating fails the
suite instead of leaving the inventory stale.

Usage: python tools/gen_extras.py  (rewrites the section in COVERAGE.md)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COVERAGE = os.path.join(REPO, "COVERAGE.md")
START = "## Extensions beyond the §2 contract"
END = "## Driver-green history"

PROSE = [
    START,
    "",
    "Generated from the live registry: every registered query outside the",
    "62-id contract, with its oracle mode and one-line purpose (first",
    "docstring sentence). All are pytest-parity-gated each session",
    "(tests/test_parity.py) regardless of driver-window position.",
    "",
    "ANN serving guidance: START HERE with `q_sim_ivfadc_serving`, the",
    "recommended configuration assembled end to end (trained coarse",
    "cells, probe depth SERVING_PROBE, exact re-rank depth SERVING_R),",
    "one row per query with the served neighbor. Its measured numbers —",
    "the recall ladder from PQ full scan through seeded, trained,",
    "clustered-corpus and incremental-codebook cells to the re-ranked",
    "serving config, the probe and re-rank curves, and the rule for",
    "choosing among them — live in one place, the SERVING RECOMMENDATION",
    "in `q_sim_ivfadc`'s docstring (operators/similarity.py). Re-derive",
    "them on your own corpus with `q_sim_ivfadc_probe_sweep`,",
    "`q_sim_ivfadc_trained_probe_sweep` and the two re-rank sweeps.",
    "",
    "Skewed-key guidance (measured on the 49%-hot instrument in",
    "BENCH_SCALING.json): AQE's runtime skew split heals most of a plain",
    "shuffle join's heavy-hitter degradation once its detection",
    "thresholds register the hot partition (plain SMJ twin 3.33x with the",
    "split off -> 1.65x forced on, vs the manual salt's 1.45x) — so on",
    "Spark 4.x prefer `let AQE split it` for batch equi-joins, and keep",
    "the pre-planned constructions (salting, two-level aggregation) for",
    "what AQE cannot reach: stateful streaming, per-key windows (plain",
    "twins degrade 5.5-5.9x there), and environments with the skew-join",
    "rule disabled.",
    "",
    "Lexical retrieval & layout guidance: `q_text_bm25` is the reference",
    "BM25 semantics; serve it from the persisted postings store",
    "(index_store.bm25_search_saved) — query terms become",
    "driver-computed static partition filters over the",
    "bucket-partitioned postings, and appends maintain every statistic",
    "EXACTLY (counts/sums; append == rebuild bit-for-bit), so unlike",
    "the ANN store there is no retrain cadence to schedule. Put the",
    "count-min sketch (`q_text_countmin`, one-sided error) where an",
    "exact per-token table is unaffordable online, and the bloom",
    "pre-screen (`q_dedup_bloom`) in front of the LSH probe as dedup",
    "rung 0. Before a large write, run `q_layout_zorder`'s span/probe",
    "analysis on candidate sort keys: user-sorted reads 1 file for",
    "user probes but ALL files for hour probes; the Morton interleave",
    "bounds BOTH at 4 of 16 (made physical — real files, real",
    "PartitionFilters — in tests/test_retrieval.py).",
    "",
    "| query id | oracle | implementation | what it proves |",
    "| --- | --- | --- | --- |",
]


def render() -> str:
    """The section as COVERAGE.md must hold it, from START up to END.

    Rows follow the registry's module list, then definition order within
    a module: the registry's own order of extras depends on which
    modules a process happened to import first."""
    from distributed_causal_stream_processing_spark.plans.registry import (
        _QUERY_MODULES,
        CONTRACT_ORDER,
        REGISTRY,
        _load_all,
    )

    _load_all()
    lines = list(PROSE)
    contract = set(CONTRACT_ORDER)
    extras = [(n, s) for n, s in REGISTRY.items() if n not in contract]
    extras.sort(key=lambda ns: _QUERY_MODULES.index(ns[1].fn.__module__))
    for name, spec in extras:
        parts = spec.fn.__module__.split(".")
        mod = parts[-2] + "/" + parts[-1] + ".py"
        doc = " ".join((spec.doc or "").strip().split("\n\n")[0].split())
        first = re.split(r"(?<=[.!?]) ", doc)[0] if doc else ""
        if len(first) > 110:
            first = first[:107] + "..."
        first = first.replace("|", "/")
        oracle = "value-hash" if spec.oracle else "rows-only"
        lines.append(f"| `{name}` | {oracle} | `{mod}` | {first} |")
    return "\n".join(lines) + "\n\n"


def committed(src: str) -> str:
    """The section as ``src`` (COVERAGE.md's text) holds it."""
    return src[src.index(START) : src.index(END)]


def main() -> None:
    section = render()
    with open(COVERAGE) as fh:
        src = fh.read()
    with open(COVERAGE, "w") as fh:
        fh.write(src.replace(committed(src), section, 1))
    print(f"wrote {section.count(chr(10) + '| `')} extras rows")


if __name__ == "__main__":
    main()

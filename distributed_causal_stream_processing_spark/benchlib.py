"""Shared benchmarking primitives for bench.py and the tools/ harness.

One definition of "warm the session" and "time a query" so the bench,
the regression tripwire's re-measurement, and the scaling smoke always
measure the same thing — three hand-rolled copies drifted once
(code-review find, round 7).
"""

from __future__ import annotations

import contextlib
import re
import time

# Per-query regression band, shared by bench.py's in-run retry +
# end-of-suite self-adjudication AND tools/check_bench_regression.py's
# tripwire. One definition (ADVICE round 8): the two adjudication layers
# previously hardcoded 2.0/0.5 separately and could silently drift.
REGRESSION_THRESHOLD = 2.0  # same per-query band the driver applies suite-wide
MIN_DELTA_S = 0.5  # a regression must also cost real wall time, not jitter


def past_band(t: float, base: float, threshold: float = REGRESSION_THRESHOLD) -> bool:
    """True iff ``t`` is a regression candidate vs reference ``base``:
    past the ratio threshold AND past the absolute floor."""
    return base > 0 and t > threshold * base and (t - base) > MIN_DELTA_S


def warm_session(spark, queries, sf_dir: str) -> None:
    """The bench warm-up sequence: JVM + file cache via the flagship,
    the Python-worker pool via a tiny mapInPandas pass, and the ICU
    collation load Spark 4 pays on first upper/lower use."""
    try:
        queries["q_agg_group"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception:  # noqa: BLE001 — warmup is best-effort
        pass
    spark.range(64).mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    spark.sql("SELECT upper('x'), lower('X')").collect()


def release_storage(spark, settle_s: float = 2.0) -> None:
    """Release dead localCheckpoint blocks between heavy repeated runs.

    The iterative queries each pin ~GBs of eagerly-checkpointed blocks;
    the Python references die when the query function returns, but the
    JVM-side RDD objects survive until a JVM GC runs, and a 32 GB heap
    can go a whole bench without one — measured: four 3x-scale pagerank
    runs pinned 20 RDDs / 6.3 GB with zero cleanup, enough to push the
    storage pool into eviction churn over a long scale sweep. One
    Python gc (detaches the Py4J refs) + one explicit JVM System.gc()
    (collects the RDD handles, letting ContextCleaner unpersist) drops
    the pinned set back to the live run's blocks (measured: steady 6
    RDDs / 1.57 GB across repeated runs). Bench-harness tool, not a
    query-path call — queries must not depend on driver-side GC."""
    import gc

    gc.collect()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — remote/stopped session: nothing to free
        return
    time.sleep(settle_s)


def time_query_noop(queries, name: str, spark, sf_dir: str, runs: int = 1):
    """Wall time to build + fully materialize one registered query
    through the noop sink; MIN over ``runs`` executions, or None if the
    query is unknown/raises (callers decide how to report)."""
    if name not in queries:
        return None
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        try:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001
            return None
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def drain_listener_bus(spark) -> None:
    """Block until the async listener bus has delivered every queued
    event — the SQLAppStatusStore is listener-fed, so snapshotting it
    right after an action can miss trailing executions (the ADVICE r14
    undercount). Spark 4's LiveListenerBus has a no-arg
    waitUntilEmpty(); older builds take a timeout — try both."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty()
    except Exception:  # noqa: BLE001 — pre-4.0 signature
        bus.waitUntilEmpty(30_000)


@contextlib.contextmanager
def execution_window(spark):
    """Collect the SQL executions the ``with`` block triggers: drain the
    listener bus (a prior action's trailing events must not count), mark
    the newest execution id in the shared SQLAppStatusStore, run the
    block, drain again (the block's own executions must be stored), and
    fill the yielded list with every execution newer than the mark, once
    each has its completion time (``completed_executions``).
    Robust to the store evicting OLD entries
    (spark.sql.ui.retainedExecutions): new executions are always present
    right after they run."""
    store = spark._jsparkSession.sharedState().statusStore()
    drain_listener_bus(spark)
    lst = store.executionsList()
    mark = lst.apply(lst.size() - 1).executionId() if lst.size() else -1
    execs: list = []
    yield execs
    drain_listener_bus(spark)
    lst = store.executionsList()
    ids = [
        e.executionId() for e in (lst.apply(i) for i in range(lst.size()))
        if e.executionId() > mark
    ]
    execs.extend(completed_executions(store, ids))


# how long completed_executions polls for missing completion times
COMPLETION_WAIT_S = 10.0


def completed_executions(store, ids: list[int]) -> list:
    """The store's record of each execution in ``ids``, polled until every
    record has a completion time or ``COMPLETION_WAIT_S`` runs out. The SQL listener
    writes an ended execution's final record from an async task after it
    aggregates the metrics, so a drained listener bus can still leave
    ``completionTime`` undefined; a record still without one after the
    wait is returned as it is."""
    deadline = time.monotonic() + COMPLETION_WAIT_S
    while True:
        recs = [store.execution(i) for i in ids]
        recs = [r.get() for r in recs if r.isDefined()]
        if all(r.completionTime().isDefined() for r in recs) or time.monotonic() >= deadline:
            return recs
        time.sleep(0.02)


_SIZE_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse_metric_size(s: str) -> int:
    """Bytes from a formatted SQL size metric ('918.0 B', '24.3 MiB',
    or the multi-line 'total (min, med, max)' rendering — the leading
    value is always the total)."""
    m = re.search(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", s)
    return int(float(m.group(1).replace(",", "")) * _SIZE_UNIT[m.group(2)]) if m else 0


def shuffle_volume(queries, name: str, spark, sf_dir: str):
    """DATA volume a query shuffles: ('shuffle records written',
    'shuffle bytes written') summed over every Exchange plan-graph node
    across every SQL execution the query triggers (localCheckpoint
    materializations and convergence counts included — same chain
    accounting as tools/gen_plans.py). One materialization through the
    noop sink; returns (records, bytes) or None if the query raises.

    The point (round 15): wall-time scaling ratios ride on host health
    — every degraded-window adjudication since r08 has been about
    exactly that — but the volume a plan MOVES is a property of plan ×
    data alone. Records are exactly reproducible run-to-run; bytes can
    wiggle within a compression frame or an AQE advisory boundary but
    stay well inside the class bands. A linear-class query must shuffle
    ~3x the records on the 3x-rows replica; a broadcast that silently
    flips to a shuffle join at the bigger scale shows up here as a
    volume blowup no quiet host can hide, and conversely a clean 3.0
    at 3x is scale evidence no noisy host can fake."""
    if name not in queries:
        return None
    store = spark._jsparkSession.sharedState().statusStore()
    try:
        with execution_window(spark) as execs:
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 — callers decide how to report
        return None
    vols = [execution_exchange_volume(store, e.executionId()) for e in execs]
    return sum(r for r, _ in vols), sum(b for _, b in vols)


def execution_exchange_volume(store, execution_id: int):
    """('shuffle records written', 'shuffle bytes written') summed over
    the Exchange plan-graph nodes of ONE SQL execution. ReusedExchange
    re-reads an existing shuffle output — no new write — so counting it
    would double the volume; it is skipped, matching gen_plans'
    exchange accounting."""
    records = nbytes = 0
    metric_values = store.executionMetrics(execution_id)
    nodes = store.planGraph(execution_id).allNodes()
    for j in range(nodes.size()):
        node = nodes.apply(j)
        if node.name() != "Exchange":
            continue
        metrics = node.metrics()
        for k in range(metrics.size()):
            m = metrics.apply(k)
            opt = metric_values.get(m.accumulatorId())
            if not opt.isDefined():
                continue
            if m.name() == "shuffle records written":
                # '6' or '1,234' — with per-task stats the leading
                # token of the first line is still the total
                tok = re.match(r"[\d,]+", opt.get().strip())
                records += int(tok.group().replace(",", "")) if tok else 0
            elif m.name() == "shuffle bytes written":
                nbytes += _parse_metric_size(opt.get())
    return records, nbytes


def adjudicate_against_reference(
    queries, spark, sf_dir: str, timings: dict, warm: dict, ref, sf: float, log=print
) -> dict:
    """End-of-suite self-adjudication (VERDICT r08 item 1): warm-retime
    every query whose effective time (min over final + warm passes) is
    still past the regression band vs BENCH_REFERENCE, and return the
    re-measurements as the ``adjudicated`` map bench.py persists into
    BENCH_DETAIL.json.

    Why at suite end: bench.py's in-run retry can fire INSIDE the same
    multi-minute host-interference window that inflated the first pass
    (round 8: q_agg_ewma 1.306 s committed, 0.83 s one warm re-run
    later), leaving a statically-red detail that needed a manual
    tools/check_bench_regression.py run to heal. Retiming at the END of
    the suite puts minutes between the noisy window and the
    re-measurement, so the detail the driver grades is already
    adjudicated. A GENUINE regression reproduces warm and stays past the
    band — the static gate and the tripwire still fail on it (the map
    records the re-measurement; it never fakes a pass).
    """
    out: dict = {}
    if not ref or ref.get("sf") != sf:
        return out
    base_by_name = ref.get("queries", {})
    for name in sorted(timings):
        base = base_by_name.get(name)
        if base is None:
            continue
        eff = min(timings[name], warm.get(name, timings[name]))
        if not past_band(eff, base):
            continue
        t = time_query_noop(queries, name, spark, sf_dir, runs=2)
        if t is None:
            log(f"warning: end-of-suite warm retime for {name} failed; keeping {eff:.3f}s")
            continue
        out[name] = round(t, 3)
    return out


# The offline index builds the artifact memo (similarity._MEMO) hides
# from the per-query wall (VERDICT r11 item 2): round 11 memoized the
# PQ/IVFADC builds per session — the right serving shape — but
# BENCH_REFERENCE for the family was re-recorded warm, so a build-cost
# regression would heal itself via the warm retry and never trip the
# band. These rows measure the builds themselves, cold.
INDEX_BUILDS = (
    "build_pq_codebook",
    "build_ivfadc_seeded",
    "build_ivfadc_trained",
    "build_lsh_signatures",
    "build_ivfadc_store_write",
    "build_postings_store_write",
    "build_postings_serve_ingest",
)


def time_index_builds(spark, sf_dir: str, names=None, runs: int = 1) -> dict:
    """Cold wall time of each offline index build, MIN over ``runs``.

    Cold means the artifact memo is CLEARED before every run, so each
    build pays its full pipeline — Lloyd rounds, residual encode,
    lineage-cut checkpoints — exactly as a production index refresh
    would. The memo stays ENABLED (we clear, not disable): the
    _MEMO_DISABLED audit seam also strips the mid-pipeline
    localCheckpoints, which would measure an artificial
    never-deployed path. The builders' eager checkpoints double as the
    materialization, so no extra action is needed beyond the call for
    the memoized builds; the (unmemoized) LSH signature frame is
    materialized through the noop sink like every bench row.

    ``build_ivfadc_store_write`` isolates the OTHER half of the
    offline job — persisting the built index as the cell-partitioned
    parquet store (operators/index_store.py): its prepare step primes
    the memo so the timer covers the write alone, not a rebuild.

    Shared by bench.py's index_build block and the regression
    tripwire's re-measurement — one definition, same drift rule as
    time_query_noop."""
    import shutil
    import tempfile

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.operators import (
        retrieval as R,
    )
    from distributed_causal_stream_processing_spark.operators import (
        similarity as S,
    )

    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    store_dir: list = []

    def _store_prepare() -> None:
        S.ivfadc_index(spark, sf_dir)  # prime: the BUILD is its own row
        store_dir.append(tempfile.mkdtemp(prefix="bench_store_"))

    def _postings_prepare() -> None:  # no memo to prime; dir only
        store_dir.append(tempfile.mkdtemp(prefix="bench_store_"))

    def _store_cleanup() -> None:
        shutil.rmtree(store_dir.pop(), ignore_errors=True)

    # name -> (prepare, run, cleanup); prepare/cleanup run OUTSIDE the
    # timer (dir creation/removal and memo priming are not build cost)
    builds = {
        # sub-table checkpoint + PQ_ITERS Lloyd rounds (driver collects
        # run inside the call; cb_df is local data afterwards)
        "build_pq_codebook": (None, lambda: S._pq_raw_parts(spark, sf_dir), None),
        # corpus cut + coarse assign + residual encode + codebook
        # train; the memo path eagerly checkpoints the code table
        "build_ivfadc_seeded": (None, lambda: S.ivfadc_index(spark, sf_dir), None),
        # adds IVF_TRAIN_ITERS Lloyd rounds over the full corpus for
        # the coarse cells before the same residual-PQ pipeline
        "build_ivfadc_trained": (
            None,
            lambda: S.ivfadc_index(spark, sf_dir, trained=True),
            None,
        ),
        # multi-table hyperplane signatures over the corpus (rebuilt
        # per query in the suite — benched cold here for completeness
        # of the build family)
        "build_lsh_signatures": (
            None,
            lambda: _noop(
                S.mt_signature_frame(
                    S.load(spark, sf_dir, "embeddings").select(
                        "vec_id", S.as_double("embedding").alias("emb")
                    )
                )
            ),
            None,
        ),
        # persist the (pre-built) index as the cell-partitioned store:
        # one shuffle-free pass over the code table + constant tables
        "build_ivfadc_store_write": (
            _store_prepare,
            lambda: ix.ivfadc_index_save(spark, sf_dir, store_dir[-1]),
            _store_cleanup,
        ),
        # the retrieval family's offline job: tokenize + (tok, doc_id)
        # aggregation + the bucket-partitioned postings/lexicon/
        # docstats writes (no memo to prime — postings builds are not
        # memoized; the whole pipeline IS the cost being measured)
        "build_postings_store_write": (
            _postings_prepare,
            lambda: ix.postings_store_save(
                spark, load(spark, sf_dir, "documents"), store_dir[-1]
            ),
            _store_cleanup,
        ),
        # q_index_serve_during_ingest's full cold pipeline — base-slice
        # store build, batch append, mid-ingest probe, compact,
        # post-compact probe — which the registered query's k-row
        # result memo otherwise hides from the per-query times (the
        # same blind spot the other build rows close)
        "build_postings_serve_ingest": (
            lambda: R._SERVE_MEMO.clear(),
            lambda: R.q_index_serve_during_ingest(spark, sf_dir).count(),
            None,
        ),
    }
    out: dict = {}
    saved = dict(S._MEMO)
    try:
        for name in names if names is not None else INDEX_BUILDS:
            prepare, run, cleanup = builds[name]
            best = None
            for _ in range(runs):
                S._MEMO.clear()
                if prepare is not None:
                    prepare()
                try:
                    t0 = time.perf_counter()
                    run()
                    dt = time.perf_counter() - t0
                finally:
                    # a raising build must not leak its staged dir
                    if cleanup is not None:
                        cleanup()
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
    finally:
        # the suite's warm artifacts survive the probe: restore the
        # pre-existing entries (identical content — builds are
        # deterministic), drop the probe's own
        S._MEMO.clear()
        S._MEMO.update(saved)
    return out

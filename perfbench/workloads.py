"""The benchmark's workloads.

Each workload drives the engine only through its public entry points and
fixes its own cache state, so that every pass starts the same way:

- ``causal_stream`` (open loop): after one untimed warm-up slice,
  time-ordered event slices land on a fixed schedule in a watched
  directory; ``events_stream`` -> ``causal_sequence_stream`` ->
  ``IdempotentForeachBatchSink`` sequences and commits them under
  ``recommended_streaming_state``, and the query is stopped and
  restarted from its checkpoint once, at the middle slice.
- ``iterative_llm`` (closed loop, one client): driver-loop, pairwise
  and Python-boundary queries, then cold index builds.
- ``sql_contract`` (closed loop, one client): the 62 contract ids, each
  built and materialized through the noop sink.

A workload has a ``prepare`` step (part of set-up) and a ``measure`` step
that returns the end-to-end metrics and adds per-layer numbers to
``run.layer``. Outputs are kept and compared with the DuckDB oracles by
``Run.verify`` once Spark has stopped.
"""

from __future__ import annotations

import functools
import json
import math
import os
import shutil
import statistics
import threading
import time

import pyarrow.parquet as pq

from distributed_causal_stream_processing_spark import benchlib, io
from distributed_causal_stream_processing_spark.operators import retrieval, similarity
from distributed_causal_stream_processing_spark.plans.registry import (
    CONTRACT_ORDER,
    REGISTRY,
)
from distributed_causal_stream_processing_spark.session import recommended_streaming_state
from distributed_causal_stream_processing_spark.streaming import jobs
from distributed_causal_stream_processing_spark.streaming.causal import (
    causal_sequence_stream,
)
from tests import parity

ITERATIVE_QUERIES = (
    "q_graph_pagerank",  # supersteps with a checkpoint per block
    "q_graph_components",  # label propagation to a fixpoint
    "q_sim_ivf_kmeans",  # Lloyd rounds, one collect per round
    "q_sample_diverse_coverage",  # k-center greedy selection
    "q_dedup_embedding_ivf",  # pairwise cosine scoring fold
    "q_udf_cogroup",  # the Python cogroup boundary
)
ITERATIVE_BUILDS = ("build_postings_store_write",)  # index-store write beside reads
# The stream's schedule: slice 0 of the events table warms the query up
# untimed; slices 1..SLICES then land one every run_seconds / SLICES
# seconds, and the query is stopped and restarted from its checkpoint as
# the middle one (RESTART_AT) lands.
SLICES = 5
RESTART_AT = 3
STREAM_QUERY = "q_causal_seq"
WAIT_SLACK_S = 60.0  # how far a stream may lag its schedule before it fails


class Run:
    """State shared by one run's set-up, measurement and checks."""

    def __init__(self, queries, data_dir: str, work_dir: str, seconds: float, tracer):
        self.spark = None
        self.queries = queries
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seconds = seconds
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}
        self.progress: list[dict] = []  # streaming progress reports, if any
        self._outputs: list[tuple] = []  # (query id, columns, rows) to verify
        self._checks: list[tuple] = []  # (what, check returning a bool) to run
        self.timings: list[tuple] = []  # (operation, seconds, steal share)

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def add(self, name: str, value: float) -> None:
        self.layer[name] = self.layer.get(name, 0) + value

    def peak(self, name: str, value: float) -> None:
        self.layer[name] = max(self.layer.get(name, 0), value)

    def keep_output(self, name: str, columns, rows) -> None:
        self._outputs.append((name, columns, rows))

    def keep_check(self, what: str, check) -> None:
        self._checks.append((what, check))

    def verify(self) -> None:
        """Run the kept checks, and compare every kept output with its
        query's DuckDB oracle over the same tables, canonicalized as
        tests/parity.py does; each mismatch is a failed operation."""
        import duckdb

        for what, check in self._checks:
            self.record(check(), what)
        con = duckdb.connect()
        parity.register_duck_views(con, self.data_dir)
        expected: dict[str, tuple] = {}
        for name, columns, rows in self._outputs:
            if name not in expected:
                res = con.execute(REGISTRY[name].oracle)
                cols = [d[0].lower() for d in res.description]
                expected[name] = (sorted(cols), parity._canon_rows(cols, res.fetchall()))
            cols = [c.lower() for c in columns]
            ok = (sorted(cols), parity._canon_rows(cols, rows)) == expected[name]
            self.record(ok, f"{name}: differs from its DuckDB oracle")
        con.close()


def host_ticks() -> tuple[int, int]:
    """(steal, busy) CPU ticks of this machine so far, from /proc/stat:
    steal is time its CPUs had work but the hypervisor ran others' work;
    busy is every tick that was not idle or waiting for I/O."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks) - ticks[3] - ticks[4]


def steal_share(since: tuple[int, int], until: tuple[int, int] | None = None) -> float:
    """Share of the machine's busy CPU time between two host_ticks()
    readings (the second one defaults to now) that the hypervisor
    stole."""
    steal, busy = until or host_ticks()
    return (steal - since[0]) / max(1, busy - since[1])


def steal_free(seconds: float, since: tuple[int, int], until: tuple[int, int] | None = None) -> float:
    """``seconds`` of elapsed time over that interval, less the share the
    hypervisor stole: what the interval would have taken on a machine
    of its own. Every end-to-end time is reported this way."""
    return seconds * (1.0 - steal_share(since, until))


def _median_ms(seconds) -> float:
    return statistics.median(seconds) * 1e3 if seconds else 0.0


def _p(values, q: float) -> float:
    """Nearest-rank percentile ``q`` (0..1) of ``values``."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)] if s else 0.0


def _same_event_ids(batch_dir: str, slice_file: str) -> bool:
    """Whether a committed sink batch holds exactly the events of the
    slice it was read from."""
    got, want = (
        sorted(pq.read_table(p, columns=["event_id"]).column(0).to_pylist())
        for p in (batch_dir, slice_file)
    )
    return got == want


def _collect(df) -> tuple:
    return df.columns, [tuple(r) for r in df.collect()]


def _merge(run: Run, layer: dict) -> None:
    for k, v in layer.items():
        if k == "operators.rdd_blocks_after":
            run.peak(k, v)
        else:
            run.add(k, v)


def run_query(run: Run, name: str, collect: bool):
    """Build, then materialize, one registered query from empty artifact
    memos: by collecting its rows or through the noop sink. Returns
    (seconds, output, layer): output is (columns, rows) or None, layer
    this call's per-layer numbers."""
    _reset_caches()
    tr = run.tracer
    m0 = tr.mark()
    with tr.span("plans.registry.query", query=name):
        with tr.span("operators.build") as b:
            df = run.queries[name](run.spark, run.data_dir)
        m1 = tr.mark()
        with tr.span("operators.exec") as x:
            if collect:
                out = _collect(df)
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
    build_s, exec_s = b["end"] - b["start"], x["end"] - x["start"]
    layer = {"operators.build_s": build_s, "operators.exec_s": exec_s}
    if m0 is not None:
        layer["operators.build_jobs"] = m1.job - m0.job
        layer.update((f"operators.{k}", v) for k, v in tr.delta(m0).items())
        layer["operators.rdd_blocks_after"] = tr.rdd_blocks()
    return build_s + exec_s, out, layer


def index_build(run: Run, name: str):
    """One cold index build through benchlib.time_index_builds, in the
    same (seconds, output, layer) shape."""
    _reset_caches()
    m0 = run.tracer.mark()
    with run.tracer.span("operators.index", build=name):
        t = benchlib.time_index_builds(run.spark, run.data_dir, names=[name])[name]
    layer = {f"operators.index.{name}_s": t, "operators.index_build_s": t}
    if m0 is not None:
        layer.update((f"operators.{k}", v) for k, v in run.tracer.delta(m0).items())
    return t, None, layer


def _reset_caches() -> None:
    """Artifact memos empty, as in a fresh session."""
    similarity._MEMO.clear()
    retrieval._SERVE_MEMO.clear()


def _fill_load_cache(run: Run) -> None:
    """io.load cache holding the ten tables; done before the timed pass."""
    io.invalidate_cache()
    for t in io.TABLES:
        io.load(run.spark, run.data_dir, t)


def _attempt(run: Run, fn, name: str, *args):
    """One operation; a raising one is recorded as failed and gives None.
    Returns (seconds, steal-free seconds, layer)."""
    h0 = host_ticks()
    try:
        t, out, layer = fn(run, name, *args)
    except Exception as exc:  # noqa: BLE001 — a raising operation is a failed one
        run.record(False, f"{name}: {type(exc).__name__}: {exc}"[:300])
        return None
    share = steal_share(h0)
    run.timings.append((name, t, share))
    if out is not None:
        run.keep_output(name, *out)
    return t, t * (1.0 - share), layer


def _batch_loop(run: Run, names, builds, collect: bool) -> dict:
    """Closed loop, one client: one timed pass over the queries and then
    the index builds, from a refilled io.load cache. The pass collects
    each query's rows for the oracle check when ``collect``; otherwise it
    materializes through the noop sink and an untimed pass collects them
    afterwards. A build that returns has no output to check."""
    _fill_load_cache(run)
    wall = raw_wall = 0.0
    lat, raw_lat = [], []
    ops = [(run_query, n, collect) for n in names] + [(index_build, n) for n in builds]
    for fn, name, *args in ops:
        done = _attempt(run, fn, name, *args)
        if done is None:
            continue
        t, t_free, layer = done
        _merge(run, layer)
        raw_wall += t
        wall += t_free
        if fn is run_query:
            raw_lat.append(t)
            lat.append(t_free)
    if not collect:
        for name in names:
            _attempt(run, run_query, name, True)
    run.layer["operators.query_p90_s"] = _p(lat, 0.9)
    run.layer["operators.query_samples"] = len(lat)
    return {
        "wall_s": wall,
        "latency_p50_ms": _median_ms(lat),
        "raw_wall_s": raw_wall,
        "raw_latency_p50_ms": _median_ms(raw_lat),
    }


class SqlContract:
    name = "sql_contract"

    def prepare(self, run: Run) -> None:
        pass

    def measure(self, run: Run) -> dict:
        return _batch_loop(run, CONTRACT_ORDER, (), collect=False)


class IterativeLlm:
    name = "iterative_llm"

    def prepare(self, run: Run) -> None:
        pass

    def measure(self, run: Run) -> dict:
        # results are small: the timed pass collects them
        return _batch_loop(run, ITERATIVE_QUERIES, ITERATIVE_BUILDS, collect=True)


def _quiesce(q, batch_id: int, deadline: float) -> bool:
    """Wait until Spark itself has committed ``batch_id`` and no trigger
    is running, so that stopping the query replays nothing. (A batch the
    sink committed but Spark did not is replayed on restart; the sink
    skips it, and the stateful operator then fails Spark's state-store
    commit validation.)"""
    idle = 0
    while time.perf_counter() < deadline:
        last = q.lastProgress
        if last and last["batchId"] >= batch_id and not q.status["isTriggerActive"]:
            idle += 1
            if idle >= 3:
                return True
        else:
            idle = 0
        time.sleep(0.05)
    return False


class CausalStream:
    name = "causal_stream"

    def _dirs(self, run: Run):
        root = os.path.join(run.work_dir, "stream")
        return root, os.path.join(root, ".staged"), os.path.join(root, "in"), os.path.join(root, "sink")

    def prepare(self, run: Run) -> None:
        root, staged, _, _ = self._dirs(run)
        shutil.rmtree(root, ignore_errors=True)
        with run.tracer.span("io.stage") as sp:
            jobs.stage_events_time_ordered(run.spark, run.data_dir, staged, n_files=SLICES + 1)
        run.layer["io.stage_s"] = sp["end"] - sp["start"]

    def measure(self, run: Run) -> dict:
        _, staged, watched, sink_root = self._dirs(run)
        os.makedirs(watched)
        sink = jobs.IdempotentForeachBatchSink(sink_root)
        checkpoint = os.path.join(sink_root, "_checkpoint")
        period = run.seconds / SLICES
        # batch id -> (rows, sink seconds, return time, host ticks then)
        commits: dict[int, tuple] = {}
        landed: dict[int, tuple] = {}  # slice -> (landing time, host ticks then)
        counts = {"replayed": 0, "backlog": 0}
        cond = threading.Condition(threading.RLock())

        def process(df, batch_id: int) -> None:
            # the foreachBatch body: the sink's own process(), timed
            replay = sink.is_committed(batch_id)
            t0 = time.perf_counter()
            sink.process(df, batch_id)
            t1 = time.perf_counter()
            with open(os.path.join(sink_root, "_commits", str(batch_id))) as fh:
                rows = json.load(fh)["rows"]
            with cond:
                if replay:
                    counts["replayed"] += 1
                else:
                    commits[batch_id] = (rows, t1 - t0, t1, host_ticks())
                cond.notify_all()

        def nonempty() -> list[int]:
            with cond:  # process() adds to commits on Spark's callback thread
                return sorted(b for b, c in commits.items() if c[0] > 0)

        def start():
            with run.tracer.span("operators.build") as sp:
                writer = (
                    causal_sequence_stream(jobs.events_stream(run.spark, watched))
                    .writeStream.foreachBatch(process)
                    .option("checkpointLocation", checkpoint)
                    .outputMode("append")
                )
            run.add("operators.build_s", sp["end"] - sp["start"])
            return writer.start()

        def land(k: int) -> float:
            name = f"slice_{k}.parquet"
            os.replace(os.path.join(staged, name), os.path.join(watched, name))
            now = time.perf_counter()
            with cond:
                landed[k] = (now, host_ticks())
                counts["backlog"] = max(counts["backlog"], len(landed) - len(nonempty()))
                cond.notify_all()
            return now

        def due(k: int) -> float:
            return t0 + (k - 1) * period

        def generator() -> None:
            for k in range(1, SLICES + 1):
                time.sleep(max(0.0, due(k) - time.perf_counter()))
                run.peak("generator.lateness_ms_max", (land(k) - due(k)) * 1e3)

        def wait_for(pred, deadline: float) -> bool:
            with cond:
                return cond.wait_for(pred, timeout=max(0.0, deadline - time.perf_counter()))

        m0 = run.tracer.mark()
        with recommended_streaming_state(run.spark):
            q = start()
            gen = threading.Thread(target=generator, name="slice-generator")
            t_restart = None
            ok = False
            try:
                land(0)
                ok = wait_for(lambda: len(nonempty()) >= 1, time.perf_counter() + WAIT_SLACK_S)
                t0 = time.perf_counter() + 0.5
                deadline = t0 + run.seconds + WAIT_SLACK_S
                gen.start()
                ok = ok and wait_for(lambda: len(nonempty()) >= RESTART_AT, deadline)
                ok = ok and _quiesce(q, nonempty()[-1], deadline)
                run.progress += q.recentProgress
                q.stop()
                # restart once the middle slice is waiting, so that the
                # first post-restart batch has work
                ok = ok and wait_for(lambda: RESTART_AT in landed, deadline)
                t_restart = time.perf_counter()
                q = start()
                ok = ok and wait_for(lambda: len(nonempty()) > SLICES, deadline)
            finally:
                if ok:
                    _quiesce(q, nonempty()[-1], deadline)
                run.progress += q.recentProgress
                q.stop()
                if gen.is_alive():
                    gen.join()
        if m0 is not None:
            _merge(run, {f"operators.{k}": v for k, v in run.tracer.delta(m0).items()})
        batches = nonempty()
        run.record(ok and len(batches) == SLICES + 1, "stream did not commit every slice in time")
        for k, b in enumerate(batches):
            run.keep_check(
                f"batch {b} does not hold exactly the events of slice {k}",
                functools.partial(
                    _same_event_ids,
                    os.path.join(sink.data_dir, f"batch_id={b}"),
                    os.path.join(watched, f"slice_{k}.parquet"),
                ),
            )
        # the first post-restart slice's latency carries the restart: it
        # is recovery_s, not a latency sample
        spans = [  # (elapsed, host ticks at its start, at its end)
            (commits[batches[k]][2] - due(k), landed[k][1], commits[batches[k]][3])
            for k in range(1, min(len(batches), SLICES + 1))
            if k != RESTART_AT
        ]
        post = [commits[b][2] for b in batches if t_restart and commits[b][2] > t_restart]
        self._check(run, sink)
        self._progress_layers(run)
        run.add("operators.exec_s", sum(commits[b][1] for b in batches))
        run.layer["streaming.jobs.backlog_slices_max"] = counts["backlog"]
        run.layer["streaming.jobs.replayed_batches"] = counts["replayed"]
        if batches:
            run.layer["streaming.jobs.sink_ms_p50"] = statistics.median(commits[b][1] for b in batches) * 1e3
        if post:
            run.layer["streaming.jobs.recovery_s"] = post[0] - t_restart
        # wall_s is not steal-corrected: the engine idles, waiting for the
        # schedule, through most of it, and nothing is stolen from an idle
        # CPU, so the busy-time share would over-correct it
        wall = commits[batches[-1]][2] - due(1) if len(batches) > 1 else 0.0
        return {
            "wall_s": wall,
            "latency_p50_ms": _median_ms([steal_free(*sp) for sp in spans]),
            "raw_wall_s": wall,
            "raw_latency_p50_ms": _median_ms([sp[0] for sp in spans]),
        }

    @staticmethod
    def _check(run: Run, sink) -> None:
        """No late row and no event committed twice across the restart;
        the committed rows go to the q_causal_seq oracle check."""
        cols, rows = _collect(sink.read_all(run.spark).select("user_id", "event_id", "ts", "seq", "late"))
        late = sum(1 for r in rows if r[4])
        ids = [r[1] for r in rows]
        run.layer["streaming.causal.late_rows"] = late
        run.record(late == 0, f"{late} late rows")
        run.record(len(ids) == len(set(ids)), "an event_id was committed twice")
        run.keep_output(STREAM_QUERY, cols[:4], [r[:4] for r in rows])

    @staticmethod
    def _progress_layers(run: Run) -> None:
        """Per-batch medians from Spark's progress reports of the
        non-empty batches."""
        rows = [p for p in run.progress if p["numInputRows"] > 0]
        if not rows:
            return

        def dur(p, *keys) -> float:
            return sum(p["durationMs"].get(k, 0) for k in keys)

        def state(p) -> dict:
            return (p["stateOperators"] or [{}])[0]

        def med(f) -> float:
            return statistics.median(f(p) for p in rows)

        busy_s = sum(dur(p, "triggerExecution") for p in rows) / 1e3
        layer = run.layer
        layer["streaming.jobs.rows_per_s"] = sum(p["numInputRows"] for p in rows) / busy_s
        layer["streaming.jobs.source_ms"] = med(lambda p: dur(p, "latestOffset", "getBatch"))
        layer["streaming.planning_ms"] = med(lambda p: dur(p, "queryPlanning"))
        layer["streaming.log_commit_ms"] = med(lambda p: dur(p, "walCommit", "commitOffsets"))
        layer["streaming.batch_ms_p50"] = med(lambda p: dur(p, "triggerExecution"))
        layer["streaming.causal.state_update_ms"] = med(lambda p: state(p).get("allUpdatesTimeMs", 0))
        layer["streaming.causal.state_commit_ms"] = med(lambda p: state(p).get("commitTimeMs", 0))
        last = state(rows[-1])
        layer["streaming.causal.state_partitions"] = last.get("numShufflePartitions", 0)
        layer["streaming.causal.state_rows"] = last.get("numRowsTotal", 0)
        layer["streaming.causal.state_memory_bytes"] = last.get("memoryUsedBytes", 0)
        if len(rows) > RESTART_AT:  # the first batch after the restart
            metrics = state(rows[RESTART_AT]).get("customMetrics", {})
            layer["streaming.causal.state_load_ms"] = metrics.get("rocksdbLoadLatencyMs", 0)


WORKLOADS = {w.name: w for w in (CausalStream(), IterativeLlm(), SqlContract())}

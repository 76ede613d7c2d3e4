"""Tests for the true streaming layer (SURVEY §5.2.4):

- each registered view's streaming twin == its DuckDB oracle, so the
  windowed, session, dedup-under-replay, join and causal views are
  checked on the streaming side too;
- idempotent foreachBatch sink: reprocessing a batch adds no rows;
- watermark drops data later than the bound;
- causal sequencer: per-key monotone, gapless sequences across
  micro-batches.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

pytestmark = pytest.mark.streaming


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path_factory.mktemp("events_stream"))
    jobs.stage_events_as_stream_dir(spark, SF_SMOKE, d, n_files=4)
    return d


@pytest.fixture(scope="module")
def smoke_duck():
    import duckdb

    from tests.parity import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, SF_SMOKE)
    yield con
    con.close()


def _stage_batches(d, frames):
    """Write each frame as one parquet file under ``d``, mtimes
    ascending, so the file source replays them one micro-batch each,
    in order."""
    import glob
    import time

    seen: set[str] = set()
    for i, df in enumerate(frames):
        df.coalesce(1).write.mode("overwrite" if i == 0 else "append").parquet(d)
        new = set(glob.glob(os.path.join(d, "part-*.parquet"))) - seen
        seen |= new
        t = time.time() + 1000 * i
        for f in new:
            os.utime(f, (t, t))


def _twin_rows(name, spark, stream_dir, tmp_path):
    """Collected rows of the streaming twin of registered view ``name``:
    its batch_views transform over ``jobs.events_stream``, or for the
    causal views the keyed sequencer over a time-ordered staging (the
    replay order in which the online sequence equals the batch one)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import batch_views as bv
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    def collect(df, mode="append"):
        return jobs.collect_stream(df, mode)[0]

    def events(d=stream_dir, wm="10 minutes"):
        return jobs.events_stream(spark, d, watermark=wm)

    def replayed():  # staged twice = at-least-once redelivery
        d, e = str(tmp_path / "replayed"), load(spark, SF_SMOKE, "events")
        _stage_batches(d, [e, e])
        return d

    def ordered():
        d = str(tmp_path / "ordered")
        jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=3)
        return d

    def ordered_sources():
        a, b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
        jobs.stage_events_split_sources(spark, SF_SMOKE, a, b, n_files=3, time_ordered=True)
        return a, b

    twins = {
        "q_stream_tumbling": lambda: collect(bv.window_totals(events()), "complete"),
        "q_stream_sliding": lambda: collect(bv.window_totals(events(), "30 minutes"), "complete"),
        "q_stream_session": lambda: collect(bv.session_totals(events(wm="35 days")), "complete"),
        "q_stream_dedup": lambda: collect(bv.dedup_events(events(replayed(), "35 days"))),
        "q_stream_join_enrich": lambda: collect(
            bv.enrich_events(events(), load(spark, SF_SMOKE, "customer"))
        ),
        "q_causal_seq": lambda: collect(
            causal.causal_sequence_stream(events(ordered(), "35 days"))
            .select("user_id", "event_id", "ts", "seq", "late")
        ),
        "q_causal_deps": lambda: collect(
            causal.causal_deps_stream(events(ordered(), "35 days")).filter("event_id >= 0")
        ),
        "q_causal_merge": lambda: jobs.run_multi_source_causal_stream(spark, *ordered_sources()),
    }
    return twins[name]()


@pytest.mark.parametrize(
    "name",
    ["q_stream_tumbling", "q_stream_sliding", "q_stream_session", "q_stream_dedup",
     "q_stream_join_enrich", "q_causal_seq", "q_causal_deps", "q_causal_merge"],
)
def test_stream_twin_matches_oracle(spark, smoke_duck, stream_dir, tmp_path, name):
    """The streaming twin of each registered view returns exactly the
    rows of that view's DuckDB oracle: the windowed sums merged across
    micro-batches, each replayed event once, every event enriched, and
    for the causal views the online sequence (compared on the twin's
    columns), with no row flagged late."""
    _assert_twin_rows_match_oracle(name, _twin_rows(name, spark, stream_dir, tmp_path), smoke_duck)


def _assert_twin_rows_match_oracle(name, rows, duck):
    from distributed_causal_stream_processing_spark import all_oracle_sql
    from tests.parity import compare_rows

    assert rows
    cols, oracle = list(rows[0].asDict()), all_oracle_sql()[name]
    if "late" in cols:
        assert not any(r.late for r in rows)
        cols.remove("late")
        rows = [tuple(r[c] for c in cols) for r in rows]
        oracle = f"SELECT {', '.join(cols)} FROM ({oracle})"
    compare_rows(cols, rows, duck, oracle)


def test_causal_sequence_stream_keys_spanning_arrow_chunks(spark, smoke_duck, tmp_path):
    """Each time-ordered slice is rewritten with its rows in descending
    (ts, event_id) order, and Arrow batches hold 2 rows, so every key
    with more than 2 rows in a micro-batch reaches the sequencer as
    several chunks, each out of order; the sequence still equals
    q_causal_seq's oracle."""
    import glob

    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    d = str(tmp_path / "ordered_desc")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=3)
    for idx, f in enumerate(sorted(glob.glob(os.path.join(d, "slice_*.parquet")))):
        part = spark.read.schema(jobs.EVENT_SCHEMA).parquet(f)
        desc = part.orderBy(F.desc("ts"), F.desc("event_id"))
        jobs._lift_single_file(desc, d, idx, os.stat(f).st_mtime - idx)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        seq = causal.causal_sequence_stream(jobs.events_stream(spark, d, watermark="35 days"))
        rows = jobs.collect_stream(seq.select("user_id", "event_id", "ts", "seq", "late"))[0]
    finally:
        spark.conf.set(conf, old)
    _assert_twin_rows_match_oracle("q_causal_seq", rows, smoke_duck)


@pytest.mark.parametrize(
    "operator, python_input",
    [
        ("causal_sequence_stream", ["user_id", "event_id", "ts"]),
        ("chain_assign_stream", ["user_id", "event_id", "ts"]),
        ("pattern_match_stream", ["user_id", "event_id", "ts", "event_type"]),
        ("causal_deps_stream", ["event_id", "ts", "user_id", "event_type", "pair"]),
    ],
)
def test_stateful_python_operator_reads_only_kernel_columns(
    spark, stream_dir, operator, python_input
):
    """Each applyInPandasWithState operator is handed only the columns
    its kernel reads (plus its grouping key): value and props never
    cross the shuffle or Arrow. Read off the analyzed plan."""
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    events = jobs.events_stream(spark, stream_dir, watermark="1 day")
    args = (10**6,) if operator == "chain_assign_stream" else ()
    node = getattr(causal, operator)(events, *args)._jdf.queryExecution().analyzed()
    while node.nodeName() != "FlatMapGroupsInPandasWithState":
        node = node.children().apply(0)
    out = node.children().apply(0).output()
    assert [out.apply(i).name() for i in range(out.size())] == python_input


def test_effectively_once_sink_idempotent(spark, stream_dir, tmp_path):
    """Re-invoking process() with an already-committed batch id is a no-op
    (the write-then-commit contract)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    sink_root = str(tmp_path / "sink")
    sink = jobs.run_effectively_once_sink(spark, stream_dir, sink_root)

    total = load(spark, SF_SMOKE, "events").count()
    written = sink.read_all(spark)
    assert written.count() == total

    # replay every committed batch: counts must not change
    some_batch = sorted(os.listdir(sink.commits_dir))[0]
    sink.process(load(spark, SF_SMOKE, "events").limit(50), int(some_batch))
    assert sink.read_all(spark).count() == total


def test_sink_read_all_excludes_torn_uncommitted_batch(spark, stream_dir, tmp_path):
    """A crash mid-write leaves data/batch_id=N with NO commit marker;
    read_all must not surface those phantom rows (Structured Streaming
    will replay batch N, so reading them early is the double-exposure
    the write-then-commit protocol exists to prevent — review find,
    round 9)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    sink_root = str(tmp_path / "sink")
    sink = jobs.run_effectively_once_sink(spark, stream_dir, sink_root)
    total = load(spark, SF_SMOKE, "events").count()
    assert sink.read_all(spark).count() == total

    # simulate the torn batch: data written, marker never created
    torn_id = sink._latest_committed() + 7
    torn_dir = os.path.join(sink.data_dir, f"batch_id={torn_id}")
    load(spark, SF_SMOKE, "events").limit(33).write.parquet(torn_dir)
    assert not sink.is_committed(torn_id)
    assert sink.read_all(spark).count() == total  # phantom rows invisible

    # once the batch commits (the replay path), its rows appear exactly once
    sink.process(load(spark, SF_SMOKE, "events").limit(33), torn_id)
    assert sink.read_all(spark).count() == total + 33


def test_sink_read_all_has_no_rows_before_first_commit(spark, tmp_path):
    """A crash during the FIRST batch leaves data/batch_id=0 with no
    marker and nothing committed. read_all must return zero rows with
    the torn batch's schema, not fall back to reading every batch dir;
    a sink that never wrote anything still raises."""
    from pyspark.errors import AnalysisException

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))
    torn = load(spark, SF_SMOKE, "events").limit(33)
    torn.write.parquet(os.path.join(sink.data_dir, "batch_id=0"))
    assert not sink.is_committed(0)
    got = sink.read_all(spark)
    assert got.count() == 0
    assert got.columns == torn.columns

    empty = jobs.IdempotentForeachBatchSink(str(tmp_path / "empty"))
    with pytest.raises(AnalysisException):
        empty.read_all(spark)


def test_index_dedup_read_decisions_skips_uncommitted(spark, tmp_path):
    """Decisions of a batch without a commit marker (a crash between
    the decisions write and the marker) are not returned: only the
    committed batch's decisions are read back."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    sink = jobs.StreamingContentDedup(str(tmp_path / "dedup"))
    sink.process(docs.filter(F.col("doc_id") < 20), 0)
    want = sorted(tuple(r) for r in sink.read_decisions(spark).collect())
    assert len(want) == 20

    torn = sink.read_decisions(spark).drop("batch_id")
    torn.withColumn("doc_id", F.col("doc_id") + 1000).write.parquet(
        os.path.join(sink.decisions_dir, "batch_id=1")
    )
    assert not sink.is_committed(1)
    got = sorted(tuple(r) for r in sink.read_decisions(spark).collect())
    assert got == want


def test_cdc_sink_prunes_superseded_snapshots(spark, stream_dir, tmp_path):
    """Only snapshot_{latest_committed} is ever read back; superseded
    snapshot dirs must be pruned after each commit or storage grows
    O(batches × keys) (review find, round 9). Markers stay — replay
    idempotence needs them."""
    from distributed_causal_stream_processing_spark.streaming.jobs import (
        run_cdc_merge_stream,
    )

    sink = run_cdc_merge_stream(spark, stream_dir, str(tmp_path / "cdc"))
    committed = sink._committed_ids()
    assert len(committed) > 1  # multiple micro-batches ran
    snap_dirs = [
        d for d in os.listdir(sink.root) if d.startswith("snapshot_")
    ]
    assert snap_dirs == [f"snapshot_{sink._latest_committed()}"], snap_dirs
    # the surviving snapshot still reads fine
    assert sink.snapshot(spark).count() > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """An event arriving (in a later file/batch) far behind the watermark
    is excluded from windowed aggregation."""
    from pyspark.sql import Row
    from distributed_causal_stream_processing_spark.streaming import jobs
    import datetime as dt

    d = str(tmp_path / "late_stream")

    def ev(i, ts):
        return Row(
            event_id=i, ts=ts, user_id=1, event_type="click", value=1.0, props="{}"
        )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    batch_a = [ev(i, base + dt.timedelta(minutes=i)) for i in range(60)]
    batch_b = [ev(200 + i, base + dt.timedelta(minutes=60 + i)) for i in range(30)]
    late = [ev(100, base - dt.timedelta(hours=3))]  # 3h behind max seen

    # Three files = three micro-batches, ordered by mtime. The watermark
    # advances one batch behind the data, so the late row goes in batch
    # 3 — by then the watermark (≈12:49) is live and must drop it.
    _stage_batches(
        d, [spark.createDataFrame(b, jobs.EVENT_SCHEMA) for b in (batch_a, batch_b, late)]
    )

    agg = (
        spark.readStream.schema(jobs.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # append mode only emits finalized windows
    finalized, _ = jobs.collect_stream(agg.select(F.col("window.start").alias("s"), "n"))

    # the 09:00 window (where the late row would land) must not contain it
    for r in finalized:
        if r.s.hour == 9:
            pytest.fail("late row past watermark was aggregated")


def test_checkpoint_restart_effectively_once(spark, stream_dir, tmp_path):
    """Kill the stream mid-run, restart from the same checkpoint: the
    idempotent sink ends with each event exactly once — offsets resume
    from the write-ahead log and the replayed batch is a no-op. This is
    the reference's crash-recovery contract end to end."""
    import time as _t

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))
    checkpoint = str(tmp_path / "checkpoint")

    def start():
        return (
            jobs.events_stream(spark, stream_dir)
            .writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start()
        )

    # First run: stop as soon as at least one batch is committed (and
    # before all 4 are — the staged dir feeds 1 file per trigger).
    q = start()
    deadline = _t.time() + 60
    while _t.time() < deadline:
        done = len(os.listdir(sink.commits_dir))
        if done >= 1:
            break
        _t.sleep(0.2)
    q.stop()
    n_first = len(os.listdir(sink.commits_dir))
    assert n_first >= 1

    # Second run, same checkpoint: finishes the remaining batches.
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    total = load(spark, SF_SMOKE, "events").count()
    written = sink.read_all(spark)
    ids = [r.event_id for r in written.select("event_id").collect()]
    assert len(ids) == len(set(ids)) == total  # exactly once, no loss


def test_rate_source_windowed_agg(spark):
    """SURVEY §2.1 streaming-source row: the built-in rate source feeds
    the same windowed-aggregation plan as the file source — proving the
    plan is source-agnostic (swap in Kafka the same way)."""
    agg = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()  # schema: (timestamp, value)
        .withWatermark("timestamp", "1 second")
        .groupBy(F.window("timestamp", "1 second").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("max_v"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("complete")
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 30
        rows = []
        while _t.time() < deadline and len(rows) < 2:
            _t.sleep(1)
            rows = spark.sql("SELECT n, max_v FROM rate_out").collect()
    finally:
        q.stop()
    assert len(rows) >= 2  # at least two windows materialized
    assert sum(r.n for r in rows) >= 500  # rate actually flowed


def test_multi_source_causal_merge(spark, tmp_path):
    """The reference's headline loop: two partitioned input streams,
    causally merged — per-user sequences are gapless across sources and
    ordered by (ts, event_id) for non-late rows."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    a, b = str(tmp_path / "src_a"), str(tmp_path / "src_b")
    jobs.stage_events_split_sources(spark, SF_SMOKE, a, b)
    rows = jobs.run_multi_source_causal_stream(spark, a, b)

    assert len(rows) == load(spark, SF_SMOKE, "events").count()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, rs in by_user.items():
        seqs = sorted(r.seq for r in rs)
        assert seqs == list(range(1, len(rs) + 1)), f"user {user} gap"
        # non-late rows sequenced in happened-before order
        in_order = sorted(rs, key=lambda r: r.seq)
        prev = None
        for r in in_order:
            if getattr(r, "late", False):
                continue
            k = (r.ts, r.event_id)
            if prev is not None:
                assert k > prev, f"user {user}: causal order violated"
            prev = k


def test_multi_source_merge_stream_matches_batch_query(spark):
    """The merge's defining property, on the registered batch merge
    (q_causal_merge): within each key, each source's src_offset
    subsequence ascends in merged-seq order. Its streaming twin
    (run_multi_source_causal_stream) is checked against the same
    query's oracle in test_stream_twin_matches_oracle."""
    from distributed_causal_stream_processing_spark import all_queries

    batch = all_queries()["q_causal_merge"](spark, SF_SMOKE).collect()
    per = {}
    for r in batch:
        per.setdefault((r.user_id, r.source), []).append((r.seq, r.src_offset))
    for (user, src), pairs in per.items():
        offs = [o for _, o in sorted(pairs)]
        assert offs == sorted(offs) == list(range(1, len(offs) + 1)), (user, src)


def test_stream_stream_join_matches_batch(spark, stream_dir):
    """Watermarked stream-stream join produces exactly the batch join's
    (click, purchase) attribution pairs."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    got = {(r.c_id, r.p_id) for r in jobs.run_stream_stream_join(spark, stream_dir)}

    e = load(spark, SF_SMOKE, "events")
    c = e.filter("event_type = 'click'").selectExpr(
        "user_id AS cu", "event_id AS c_id", "ts AS c_ts"
    )
    p = e.filter("event_type = 'purchase'").selectExpr(
        "user_id AS pu", "event_id AS p_id", "ts AS p_ts"
    )
    want = {
        (r.c_id, r.p_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_causal_sequence_stream_late_flags_across_batches(spark, tmp_path):
    """The sequencer's late-flag rules, end to end on a file stream of
    three micro-batches (one file each, maxFilesPerTrigger=1):

    1. rows within a batch are sequenced in (ts, event_id) order, even
       when the file holds them out of order;
    2. ``seq`` continues across batches — the per-key state survives;
    3. a row behind the key's frontier is flagged late and still
       sequenced;
    4. an exact redelivery of the frontier event (same ts AND id) is
       flagged late, never reprocessed as new.

    A key first seen in the last batch starts again at seq 1."""
    import datetime as dt

    from pyspark.sql import Row

    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(event_id, user_id, ms):
        return Row(
            event_id=event_id,
            ts=base + dt.timedelta(milliseconds=ms),
            user_id=user_id,
            event_type="click",
            value=1.0,
            props="{}",
        )

    batches = [
        [ev(11, 7, 2_000), ev(10, 7, 1_000)],  # out of order in the file
        [ev(12, 7, 1_500), ev(13, 7, 3_000)],  # 12 is behind the frontier
        [ev(13, 7, 3_000), ev(20, 8, 5_000)],  # redelivered 13; new key 8
    ]
    d = str(tmp_path / "late_flags")
    _stage_batches(d, [spark.createDataFrame(b, jobs.EVENT_SCHEMA) for b in batches])

    seq = causal.causal_sequence_stream(jobs.events_stream(spark, d, watermark="1 day"))
    rows, q = jobs.collect_stream(seq.select("user_id", "event_id", "seq", "late"))
    n_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)

    assert n_batches == 3
    assert sorted((r.user_id, r.seq, r.event_id, r.late) for r in rows) == [
        (7, 1, 10, False),  # rule 1: (ts, event_id) order within a batch
        (7, 2, 11, False),
        (7, 3, 12, True),  # rules 2 + 3: seq continues; behind → late
        (7, 4, 13, False),
        (7, 5, 13, True),  # rule 4: exact redelivery of the frontier
        (8, 1, 20, False),
    ]


def test_causal_sequence_stream_rocksdb_state(spark, stream_dir):
    """The per-key causal sequencer runs with its state in RocksDB — the
    provider run_stream's state rule ships, the one that makes 100 GB+
    streaming state practical — even when the session names the
    heap-backed provider; the progress metrics prove RocksDB actually
    held the state, the sequences stay gapless, and the session's own
    provider is back in force after the run."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    provider = "spark.sql.streaming.stateStore.providerClass"
    hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    spark.conf.set(provider, hdfs)
    try:
        events = jobs.events_stream(spark, stream_dir, watermark="1 day")
        seq = causal.causal_sequence_stream(events)
        rows, q = jobs.collect_stream(seq.select("user_id", "seq"))
        assert spark.conf.get(provider) == hdfs
    finally:
        spark.conf.unset(provider)

    # RocksDB-specific metrics appear in stateOperators only when the
    # RocksDB provider is the one backing the query's state.
    state_ops = q.lastProgress["stateOperators"]
    assert state_ops, "no stateful operator in progress"
    assert any(
        k.startswith("rocksdb") for k in state_ops[0].get("customMetrics", {})
    ), f"RocksDB metrics absent: {sorted(state_ops[0].get('customMetrics', {}))[:5]}"

    assert len(rows) == load(spark, SF_SMOKE, "events").count()
    by_user: dict[int, list[int]] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.seq)
    for user, seqs in by_user.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), f"user {user} gap"


def test_causal_sequence_stream(spark, stream_dir):
    """Per-key sequences are 1..n, gapless, exactly one per event,
    accumulated correctly across micro-batches."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    events = jobs.events_stream(spark, stream_dir, watermark="1 day")
    seq = causal.causal_sequence_stream(events)
    rows, _ = jobs.collect_stream(seq.select("user_id", "event_id", "seq"))

    n_events = load(spark, SF_SMOKE, "events").count()
    assert len(rows) == n_events  # each event sequenced exactly once

    by_user: dict[int, list[int]] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.seq)
    for user, seqs in by_user.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), f"user {user} gap"


def test_dedup_bounded_state_effectively_once(spark, stream_dir, tmp_path):
    """dropDuplicatesWithinWatermark: replayed input still yields each
    event_id once, with dedup state bounded by the watermark (the
    scale-correct variant of q_stream_dedup's twin — plain
    dropDuplicates state grows forever at sustained ingest)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    replay_dir = str(tmp_path / "replayed_bounded")
    e = load(spark, SF_SMOKE, "events")
    e.repartition(3).write.mode("overwrite").parquet(replay_dir)
    e.repartition(2).write.mode("append").parquet(replay_dir)

    rows, state_rows = jobs.run_dedup_stream_bounded(spark, replay_dir)
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)) == e.count()
    assert 0 < state_rows <= 2 * e.count()  # state tracked, and bounded


def test_cdc_merge_stream_matches_batch(spark, stream_dir, tmp_path):
    """Streaming CDC apply: the per-user snapshot maintained by
    micro-batch MERGE must equal the one-shot batch aggregation over
    all events, and replaying a committed batch must be a no-op —
    the reference's incrementally-maintained materialized view with
    effectively-once output."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming.jobs import (
        run_cdc_merge_stream,
    )

    sink = run_cdc_merge_stream(spark, stream_dir, str(tmp_path / "cdc"))

    got = {
        r["user_id"]: (r["n_events"], r["last"]["us"], r["last"]["event_id"])
        for r in sink.snapshot(spark).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["last"]["us"], r["last"]["event_id"])
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(
                F.struct(F.unix_micros("ts").alias("us"), "event_id", "value")
            ).alias("last"),
        )
        .collect()
    }
    assert got == want

    # replaying the last committed batch is an idempotent no-op
    latest = sink._latest_committed()
    before = sorted(
        (r["user_id"], r["n_events"]) for r in sink.snapshot(spark).collect()
    )
    sink.process(load(spark, SF_SMOKE, "events").limit(50), latest)
    after = sorted(
        (r["user_id"], r["n_events"]) for r in sink.snapshot(spark).collect()
    )
    assert after == before


def test_streaming_quality_filter_matches_batch(spark, tmp_path):
    """The training-data pre-filter (quality score + exact dedup) runs
    unchanged over a document STREAM — stateless column expressions +
    dropDuplicates keyed state — and keeps exactly the same document
    set as the batch formulation."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.text import (
        with_quality_score,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    docs = load(spark, SF_SMOKE, "documents")
    stream_dir = str(tmp_path / "docs_stream")
    # stage twice = at-least-once redelivery; dedup must collapse it
    docs.repartition(3).write.mode("overwrite").parquet(stream_dir)
    docs.repartition(2).write.mode("append").parquet(stream_dir)

    threshold = 0.5
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(stream_dir)
    )
    kept = (
        with_quality_score(stream)
        .filter(F.col("quality_score") >= threshold)
        .withColumn("text_md5", F.md5("text"))
        .dropDuplicates(["text_md5"])
    )
    got = {r.text_md5 for r in jobs.collect_stream(kept.select("text_md5"))[0]}

    want = {
        r.text_md5
        for r in with_quality_score(docs)
        .filter(F.col("quality_score") >= threshold)
        .select(F.md5("text").alias("text_md5"))
        .distinct()
        .collect()
    }
    assert got == want and len(want) > 0


def test_windowed_distinct_stream_matches_batch(spark, stream_dir):
    """Streaming per-window distinct-user sketches equal the batch
    sketch over the same data (HLL registers max-merge, so micro-batch
    boundaries cannot change the estimate), and every estimate is
    within 5% of the exact per-window distinct count."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    got = {
        r.window_start: r.n_users
        for r in jobs.run_windowed_distinct_stream(spark, stream_dir)
    }
    batch = (
        load(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    want = {r.w.start: r.approx for r in batch}
    assert got == want
    for r in batch:
        assert abs(r.approx - r.exact) <= max(1, 0.05 * r.exact)


def test_streaming_ingest_pipeline_to_shards(spark, tmp_path):
    """Capstone: the full training-data ingest — quality filter →
    overlapping chunking → parquet shards — runs as ONE streaming query
    (all transforms stateless) with checkpointing, and the shard
    dataset equals the batch formulation row for row."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.text import (
        chunk_documents,
        with_quality_score,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    docs = load(spark, SF_SMOKE, "documents")
    stream_dir = str(tmp_path / "docs_in")
    docs.repartition(4).write.mode("overwrite").parquet(stream_dir)

    out_dir = str(tmp_path / "shards")
    checkpoint = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    chunks = chunk_documents(
        with_quality_score(stream).filter(F.col("quality_score") >= 0.5)
    )
    jobs.run_stream(
        chunks.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )

    got = sorted(
        map(tuple, spark.read.parquet(out_dir).select(
            "doc_id", "chunk_no", "chunk_text", "n_tokens").collect())
    )
    want = sorted(
        map(tuple, chunk_documents(
            with_quality_score(docs).filter(F.col("quality_score") >= 0.5)
        ).select("doc_id", "chunk_no", "chunk_text", "n_tokens").collect())
    )
    assert got == want and len(want) > 0


def test_pattern_match_stream_matches_batch(spark, tmp_path):
    """Streaming DFA pattern matcher == batch regex (q_event_pattern)
    on a time-ordered replay: per-user match counts are identical, no
    event is late, and every event was consumed. Proves the O(1)-state
    DFA implements exactly the regex's leftmost non-overlapping count
    when input respects causal order."""
    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    d = str(tmp_path / "ordered_events")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=4)

    matches = causal.pattern_match_stream(jobs.events_stream(spark, d, watermark="35 days"))
    emitted, _ = jobs.collect_stream(matches)
    rows = (
        spark.createDataFrame(emitted, matches.schema)
        .groupBy("user_id")
        .agg(*[F.max(c).alias(c) for c in ("n_events", "n_matches", "n_late")])
        .collect()
    )

    got_matches = {r.user_id: r.n_matches for r in rows}
    assert sum(r.n_late for r in rows) == 0  # ordered replay -> nothing late

    from distributed_causal_stream_processing_spark.io import load

    n_events_total = load(spark, SF_SMOKE, "events").count()
    assert sum(r.n_events for r in rows) == n_events_total

    batch = all_queries()["q_event_pattern"](spark, SF_SMOKE).collect()
    want = {r.user_id: r.n_matches for r in batch}  # only users with >=1 match
    assert {u: n for u, n in got_matches.items() if n > 0} == want


def test_stream_stream_outer_join_emits_nulls(spark, tmp_path):
    """LEFT OUTER stream-stream join: clicks with no purchase within
    the hour emit exactly once with NULL purchase id — but only after
    the watermark proves no match can arrive (negative facts need the
    time-ordered staged log + future sentinels to flush). Result must
    equal the batch left join exactly: same matched pairs AND the same
    unmatched-click set, nothing dropped, nothing duplicated."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "ordered_stream")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=4, n_sentinels=2)

    got = [(r.c_id, r.p_id) for r in jobs.run_stream_stream_join_outer(spark, d)]

    e = load(spark, SF_SMOKE, "events")
    c = e.filter("event_type = 'click'").selectExpr(
        "user_id AS cu", "event_id AS c_id", "ts AS c_ts"
    )
    p = e.filter("event_type = 'purchase'").selectExpr(
        "user_id AS pu", "event_id AS p_id", "ts AS p_ts"
    )
    want = [
        (r.c_id, r.p_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
            "left_outer",
        ).collect()
    ]
    assert sorted(got, key=str) == sorted(want, key=str)
    nulls = [g for g in got if g[1] is None]
    assert nulls, "no unmatched clicks emitted — outer semantics untested"


def test_chain_assign_stream_matches_batch_recursion(spark, tmp_path):
    """The streaming chain assigner (keyed state, consume-loop shape)
    and the batch recursive CTE (next-pointer walk) are the same
    operator in the reference's two execution styles — on a causally
    ordered replay they must agree on every (event, root, depth)."""
    from distributed_causal_stream_processing_spark.operators.recursion import (
        GAP_US,
        q_causal_chains,
    )
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    d = str(tmp_path / "ordered_for_chains")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=4)

    chains = causal.chain_assign_stream(
        jobs.events_stream(spark, d, watermark="35 days"), GAP_US
    )
    got = {
        (r.user_id, r.event_id): (r.root_id, r.depth)
        for r in jobs.collect_stream(chains.filter("event_id >= 0"))[0]
    }
    want = {
        (r.user_id, r.event_id): (r.root_id, r.depth)
        for r in q_causal_chains(spark, SF_SMOKE).collect()
    }
    assert got == want and len(want) > 0


def test_available_now_trigger_self_terminates(spark, smoke_duck, stream_dir):
    """trigger(availableNow=True): process everything staged in bounded
    micro-batches, then stop WITHOUT external processAllAvailable — the
    backfill/catch-up mode an operator runs on a schedule. The query
    must terminate on its own and its final aggregate must equal the
    q_stream_tumbling oracle exactly."""
    from distributed_causal_stream_processing_spark import all_oracle_sql
    from distributed_causal_stream_processing_spark.streaming import jobs
    from distributed_causal_stream_processing_spark.streaming.batch_views import window_totals
    from tests.parity import compare_rows

    agg = window_totals(jobs.events_stream(spark, stream_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("available_now_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "availableNow query did not self-terminate"
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()
    rows = spark.table("available_now_out").collect()
    compare_rows(agg.columns, rows, smoke_duck, all_oracle_sql()["q_stream_tumbling"])


def test_update_mode_emits_incremental_group_changes(spark, stream_dir, tmp_path):
    """outputMode('update') on a streaming aggregation emits, per
    micro-batch, only the groups that changed — captured via
    foreachBatch on the driver. Per-user counts must be monotone
    across batches, the LAST update per user must equal the batch
    count, and at least some users must have emitted multiple
    intermediate updates (the incremental contract append mode
    cannot give and complete mode gives wastefully)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    updates: list[tuple[int, int, int]] = []

    def capture(df, batch_id):
        updates.extend((batch_id, r.user_id, r.n) for r in df.collect())

    jobs.run_stream(
        jobs.events_stream(spark, stream_dir, watermark="35 days")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("update")
        .foreachBatch(capture)
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
    )

    last: dict[int, int] = {}
    for _, uid, n in sorted(updates):
        assert n >= last.get(uid, 0), f"user {uid} count went backwards"
        last[uid] = n
    want = {
        r.user_id: r.n
        for r in load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert last == want
    assert len(updates) > len(last), "no incremental updates observed"


def test_append_mode_emits_only_finalized_windows(spark, smoke_duck, tmp_path):
    """outputMode('append') on a watermarked windowed aggregation emits
    a window exactly once, only after the watermark passes its END —
    the finalized-result contract downstream consumers (a parquet
    sink, a report) need. With the time-ordered staged log + future
    sentinels the watermark provably passes every real window, so the
    appended set must equal the q_stream_tumbling oracle exactly
    (sentinel windows, 40+ days past the data, excluded)."""
    from distributed_causal_stream_processing_spark import all_oracle_sql
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs
    from distributed_causal_stream_processing_spark.streaming.batch_views import window_totals
    from tests.parity import compare_rows

    d = str(tmp_path / "ordered_append")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, d, n_files=4, n_sentinels=2)

    # NO pre-aggregation filter: Catalyst pushes it below
    # EventTimeWatermark, hiding the sentinels from the watermark (the
    # stage_events_time_ordered trap) — sentinel WINDOWS are excluded
    # from the comparison instead (they sit 40+ days past real data)
    agg = window_totals(jobs.events_stream(spark, d, watermark="1 hour"))
    rows, _ = jobs.collect_stream(agg)
    keys = [(r.window_start, r.event_type) for r in rows]
    assert len(keys) == len(set(keys)), "a window was emitted twice"
    last_ts = load(spark, SF_SMOKE, "events").agg(F.max("ts")).first()[0]
    real = [r for r in rows if r.window_start <= last_ts]
    compare_rows(agg.columns, real, smoke_duck, all_oracle_sql()["q_stream_tumbling"])


def test_crash_mid_foreachbatch_recovers_exactly_once(spark, stream_dir, tmp_path):
    """Crash-recovery depth (VERDICT r05 item 7): inject crashes
    INSIDE process() — after the data write but before the commit
    marker (a torn batch: data on disk, no marker) — on three separate
    batches across three restarts from one checkpoint. Structured
    Streaming replays each uncommitted batch with the SAME batch_id;
    the sink's overwrite-then-commit contract must absorb every torn
    attempt, ending with each event exactly once and one commit marker
    per batch."""
    import time as _t

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    class TornBatchSink(jobs.IdempotentForeachBatchSink):
        """Crashes after the parquet write, before the marker, the
        first time each batch id in crash_on is processed — the
        worst-case torn write."""

        def __init__(self, root, crash_on):
            super().__init__(root)
            self.crash_on = set(crash_on)

        def process(self, df, batch_id):
            if self.is_committed(batch_id):
                return
            out = os.path.join(self.data_dir, f"batch_id={batch_id}")
            df.write.mode("overwrite").parquet(out)
            if batch_id in self.crash_on:
                self.crash_on.discard(batch_id)  # crash once per batch
                raise RuntimeError(f"injected crash mid-batch {batch_id}")
            import json as _json

            with open(self._marker(batch_id), "w") as fh:
                _json.dump({"batch_id": batch_id, "rows": df.count()}, fh)

    sink = TornBatchSink(str(tmp_path / "sink"), crash_on={0, 1, 2})
    checkpoint = str(tmp_path / "checkpoint")

    def run_until_dead_or_done():
        q = (
            jobs.events_stream(spark, stream_dir)
            .writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            pass  # the injected crash killed the query
        finally:
            try:
                q.stop()
            except Exception:
                pass
        _t.sleep(0.2)

    # 3 crashes -> up to 4 runs finish all batches; torn data dirs
    # exist without markers between runs.
    for _ in range(4):
        run_until_dead_or_done()
        if not sink.crash_on:
            n_data = len(
                [d for d in os.listdir(sink.data_dir) if d.startswith("batch_id=")]
            )
            if len(os.listdir(sink.commits_dir)) == n_data and n_data >= 4:
                break

    total = load(spark, SF_SMOKE, "events").count()
    ids = [r.event_id for r in sink.read_all(spark).select("event_id").collect()]
    assert len(ids) == len(set(ids)) == total  # exactly once after 3 crashes
    # every data dir has its marker (no torn batch survived)
    data_batches = {
        d.split("=")[1]
        for d in os.listdir(sink.data_dir)
        if d.startswith("batch_id=")
    }
    assert data_batches == set(os.listdir(sink.commits_dir))
    assert len(data_batches) >= 4  # the staged dir feeds >= 4 micro-batches


def test_streaming_content_dedup_matches_batch_incremental(spark, tmp_path):
    """The streaming MinHash content-dedup (each micro-batch probed
    against the accumulating band index) must agree EXACTLY with the
    batch daily-ingest query q_dedup_incremental when the stream
    replays the same corpus/ingest split: batch 0 (the corpus) sees an
    empty index — all non-dup; batch 1 (the ingest) probes exactly the
    corpus's bands."""
    from distributed_causal_stream_processing_spark.operators.dedup import (
        q_dedup_incremental,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "docs_stream")
    b = jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_content_dedup(spark, d, str(tmp_path / "dedup"))

    got = {
        r.doc_id: (r.n_hit_bands, r.is_near_dup)
        for r in sink.read_decisions(spark).collect()
    }
    want_batch = {
        r.doc_id: (r.n_hit_bands, r.is_near_dup)
        for r in q_dedup_incremental(spark, SF_SMOKE).collect()
    }
    # ingest docs: exact agreement with the batch probe
    for doc_id, want in want_batch.items():
        assert got[doc_id] == want, (doc_id, got[doc_id], want)
    # corpus docs were batch 0 against an empty index: never flagged
    corpus_ids = set(got) - set(want_batch)
    assert corpus_ids and all(got[i] == (0, False) for i in corpus_ids)
    assert min(want_batch) >= b and max(corpus_ids) < b

    # replaying a committed batch is a no-op (write-then-commit contract)
    committed = int(sorted(os.listdir(sink.commits_dir))[0])
    sink.process(spark.read.schema(jobs.DOC_SCHEMA).parquet(d).limit(5), committed)
    again = {
        r.doc_id: (r.n_hit_bands, r.is_near_dup)
        for r in sink.read_decisions(spark).collect()
    }
    assert again == got


def test_streaming_embedding_dedup_matches_batch_incremental(spark, tmp_path):
    """Semantic twin of the content-dedup equivalence: the streaming
    hyperplane-LSH index probe must agree exactly with
    q_dedup_embedding_incremental on the same corpus/ingest split."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        q_dedup_embedding_incremental,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "emb_stream")
    b = jobs.stage_embeddings_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_embedding_dedup(spark, d, str(tmp_path / "dedup"))

    got = {
        r.vec_id: (r.n_hit_tables, r.is_near_dup)
        for r in sink.read_decisions(spark).collect()
    }
    want_batch = {
        r.vec_id: (r.n_hit_tables, r.is_near_dup)
        for r in q_dedup_embedding_incremental(spark, SF_SMOKE).collect()
    }
    for vec_id, want in want_batch.items():
        assert got[vec_id] == want, (vec_id, got[vec_id], want)
    corpus_ids = set(got) - set(want_batch)
    assert corpus_ids and all(got[i] == (0, False) for i in corpus_ids)
    assert min(want_batch) >= b and max(corpus_ids) < b


def test_available_now_trigger_incremental_batch(spark, tmp_path):
    """Trigger.AvailableNow — the 'incremental batch' production mode:
    one invocation drains everything currently staged and STOPS (no
    long-running driver); the next invocation resumes from the same
    checkpoint and touches ONLY files staged since. This is how a
    scheduled (cron-style) job gets streaming's exactly-once offset
    tracking without a resident cluster."""
    import glob
    import time as _time

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "stream")
    e = load(spark, SF_SMOKE, "events")
    n_total = e.count()
    first = e.filter(F.col("event_id") % 3 != 0)
    second = e.filter(F.col("event_id") % 3 == 0)
    first.coalesce(1).write.mode("overwrite").parquet(d)

    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))
    checkpoint = str(tmp_path / "checkpoint")

    def drain():
        q = (
            spark.readStream.schema(jobs.EVENT_SCHEMA)
            .parquet(d)
            .writeStream.foreachBatch(sink.process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .outputMode("append")
            .start()
        )
        q.awaitTermination(120)  # availableNow self-terminates
        assert not q.isActive

    drain()
    n_first = sink.read_all(spark).count()
    assert n_first == first.count()
    batches_run1 = set(os.listdir(sink.commits_dir))

    # stage more data with a LATER mtime, re-drain from the checkpoint
    seen = set(glob.glob(os.path.join(d, "part-*.parquet")))
    second.coalesce(1).write.mode("append").parquet(d)
    t = _time.time() + 1000
    for f in set(glob.glob(os.path.join(d, "part-*.parquet"))) - seen:
        os.utime(f, (t, t))
    drain()

    assert sink.read_all(spark).count() == n_total
    new_batches = set(os.listdir(sink.commits_dir)) - batches_run1
    assert new_batches  # run 2 produced its own batch(es)...
    new_rows = spark.read.parquet(
        *[os.path.join(sink.data_dir, f"batch_id={b}") for b in new_batches]
    )
    # ...containing exactly the newly staged rows, nothing reprocessed
    assert new_rows.count() == second.count()
    ids = [r.event_id for r in sink.read_all(spark).select("event_id").collect()]
    assert len(ids) == len(set(ids)) == n_total


def test_content_dedup_index_compaction_preserves_decisions(spark, tmp_path):
    """compact_index folds the live index dirs into one manifested
    compacted dir without changing any subsequent probe decision; a
    second compaction after more batches folds compacted + new dirs
    into the next generation."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "docs_stream")
    jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_content_dedup(spark, d, str(tmp_path / "dedup"))
    n_dirs_before = len(
        [x for x in os.listdir(sink.index_dir) if x.startswith("batch_id=")]
    )
    assert n_dirs_before >= 2

    index_before = {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    }
    folded = sink.compact_index(spark)
    assert folded == n_dirs_before
    m = sink._read_manifest()
    assert m["generation"] == 0 and m["compacted_dir"] == "compact-0"
    # every folded batch dir is gone; the one live dir is the manifested one
    assert sink._live_dirs() == [os.path.join(sink.index_dir, "compact-0")]
    index_after = {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    }
    assert index_after == index_before

    # a new batch probed after compaction decides identically to a
    # fresh uncompacted control run over the same replay
    probe_docs = load(spark, SF_SMOKE, "documents").limit(40)
    next_id = max(int(b) for b in os.listdir(sink.commits_dir)) + 1
    sink.process(probe_docs, next_id)
    got = {
        r.doc_id: (r.n_hit_bands, r.is_near_dup)
        for r in spark.read.parquet(
            os.path.join(sink.decisions_dir, f"batch_id={next_id}")
        ).collect()
    }

    d2 = str(tmp_path / "docs_stream2")
    jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d2)
    control = jobs.run_streaming_content_dedup(
        spark, d2, str(tmp_path / "dedup_control")
    )
    nid2 = max(int(b) for b in os.listdir(control.commits_dir)) + 1
    control.process(probe_docs, nid2)
    want = {
        r.doc_id: (r.n_hit_bands, r.is_near_dup)
        for r in spark.read.parquet(
            os.path.join(control.decisions_dir, f"batch_id={nid2}")
        ).collect()
    }
    assert got == want


def test_compaction_crash_recovery_never_loses_index_rows(spark, tmp_path):
    """Manifest-protocol crash matrix (VERDICT r06 item 3): every crash
    point either leaves readers on the previous manifest or on the new
    one, and recovery is pure garbage collection — no rename, no
    adopt-the-tmp decision.

    (a) crash BEFORE the manifest commit: the written compact dir is
        unmanifested garbage, readers still see all batch dirs;
    (b) crash BETWEEN manifest commit and old-dir delete: readers trust
        the manifest + newer batches, surviving covered dirs are inert;
    (c) torn compact dir (no manifest): discarded by the next run."""
    import shutil

    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "docs_stream")
    jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_content_dedup(spark, d, str(tmp_path / "dedup"))
    full_index = {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    }
    dirs = sorted(
        x for x in os.listdir(sink.index_dir) if x.startswith("batch_id=")
    )
    assert len(dirs) >= 2

    # (a) compact dir fully written but crash before manifest commit
    live = [os.path.join(sink.index_dir, x) for x in dirs]
    spark.read.parquet(*live).distinct().coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(sink.index_dir, "compact-0"))
    assert sink._read_manifest() is None
    # readers ignore the unmanifested dir; index is the batch dirs
    assert sink._live_dirs() == live
    assert {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    } == full_index

    # re-running compaction collects the garbage and completes
    folded = sink.compact_index(spark)
    assert folded == len(dirs)
    m = sink._read_manifest()
    assert m is not None

    # (b) crash between manifest commit and old-dir delete: resurrect a
    # covered batch dir next to the manifested compact dir
    covered = os.path.join(sink.index_dir, dirs[0])
    os.makedirs(covered)
    spark.read.parquet(os.path.join(sink.index_dir, m["compacted_dir"])).limit(
        5
    ).write.mode("overwrite").parquet(covered)
    # readers skip it (covered by the manifest) — no duplicates, no loss
    assert covered not in sink._live_dirs()
    assert {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    } == full_index
    # next compaction purges it; a single live dir folds nothing
    assert sink.compact_index(spark) == 0
    assert not os.path.isdir(covered)

    # (c) torn compact dir without a manifest entry: discarded
    torn = os.path.join(sink.index_dir, "compact-99")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")
    sink.compact_index(spark)
    assert not os.path.isdir(torn)
    assert {
        (r.band_no, r.band_key)
        for r in sink._committed_index(spark).distinct().collect()
    } == full_index


def test_union_watermark_gated_by_slowest_source(spark, tmp_path):
    """The causal contract of the multi-source merge: the union's
    global watermark is the MIN over the per-source watermarks, so a
    lagging source gates every downstream eviction — results are never
    finalized past what the slowest log has delivered. Source A spans
    the full fixture time range; source B stops at the 20th
    percentile; the query's event-time watermark must sit at B's
    frontier, far behind A's."""
    import datetime

    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    e = load(spark, SF_SMOKE, "events")
    cut = e.selectExpr(
        "percentile_approx(ts, 0.2) AS c"
    ).head()[0]
    max_a = e.agg(F.max("ts")).head()[0]
    max_b = e.filter(F.col("ts") <= cut).agg(F.max("ts")).head()[0]
    assert max_b < max_a - datetime.timedelta(days=5)

    a, b = str(tmp_path / "full"), str(tmp_path / "lagging")
    e.coalesce(2).write.parquet(a)
    e.filter(F.col("ts") <= cut).coalesce(2).write.parquet(b)

    merged = jobs.events_stream(spark, a, watermark="1 minute").unionByName(
        jobs.events_stream(spark, b, watermark="1 minute")
    )
    agg = merged.groupBy(F.window("ts", "1 hour")).count()
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_gate_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # one more empty-ish trigger so the watermark from the last
        # batch's max event time is committed into progress
        q.processAllAvailable()
        wm = datetime.datetime.fromisoformat(
            q.lastProgress["eventTime"]["watermark"].replace("Z", "+00:00")
        ).replace(tzinfo=None)
    finally:
        q.stop()
    # gated by B's frontier (minus the 1-minute delay), not A's
    assert wm <= max_b
    assert wm >= max_b - datetime.timedelta(hours=1)
    assert wm < max_a - datetime.timedelta(days=5)


def test_missing_manifested_dir_fails_loudly(spark, tmp_path):
    """If the manifest names a compacted dir that is gone (external
    cleanup / partial restore), readers must raise — probing without
    the compacted history would silently mark every known duplicate as
    novel (code-review find, round 7)."""
    import shutil

    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "docs_stream")
    jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_content_dedup(spark, d, str(tmp_path / "dedup"))
    assert sink.compact_index(spark) >= 2
    m = sink._read_manifest()
    shutil.rmtree(os.path.join(sink.index_dir, m["compacted_dir"]))
    with pytest.raises(RuntimeError, match="corrupt"):
        sink._committed_index(spark)


def _stage_eval_query_stream(spark, tmp_path) -> str:
    """Stage the PQ_NQ eval-window query vectors as two mtime-ordered
    parquet files so the file source replays them as two micro-batches
    (the window predicate is the batch query's own — one definition).
    Shared by every streaming-ANN-vs-batch test."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _q_win,
    )

    qdir = str(tmp_path / "queries")
    e = load(spark, SF_SMOKE, "embeddings").filter(_q_win())
    mid = e.approxQuantile("vec_id", [0.5], 0)[0]
    _stage_batches(qdir, [e.filter(F.col("vec_id") < mid), e.filter(F.col("vec_id") >= mid)])
    return qdir


def test_streaming_ivfadc_matches_batch(spark, tmp_path):
    """ANN serving as a stream: IVFADC top-1 results for query vectors
    arriving across TWO micro-batches must be bit-identical to the
    registered batch q_sim_ivfadc over the same query set — the index
    is built once, micro-batches only probe it."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        PQ_NQ,
    )
    from distributed_causal_stream_processing_spark.plans.registry import (
        all_queries,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    qdir = _stage_eval_query_stream(spark, tmp_path)

    out = str(tmp_path / "results")
    sink = jobs.run_streaming_ivfadc(spark, qdir, SF_SMOKE, out, k=1)
    got = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in sink.read_all(spark).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in all_queries()["q_sim_ivfadc"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) == PQ_NQ
    # effectively-once: redelivering an already-committed batch through
    # the sink must be a no-op (write-then-commit marker protocol)
    replay = sink.read_all(spark).filter(F.col("rnk") == 1).drop("rnk")
    sink.process(replay, 0)
    assert sink.read_all(spark).count() == PQ_NQ


def test_streaming_ivfadc_trained_matches_batch(spark, tmp_path):
    """The streaming probe's trained=True path — the RECOMMENDED
    serving configuration (Lloyd-trained coarse cells) — must be
    bit-identical to the batch trained search over the same query
    stream: train once at job start, probe per micro-batch. Built from
    the same IVFADC_TRAINED variant the registered trained rows use, so
    a divergence here means the streaming path re-derived something
    the offline/online split says it must not."""
    from pyspark.sql import Window as W

    from distributed_causal_stream_processing_spark.operators.similarity import (
        IVFADC_TRAINED,
        PQ_NQ,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    qdir = _stage_eval_query_stream(spark, tmp_path)

    sink = jobs.run_streaming_ivfadc(
        spark,
        qdir,
        SF_SMOKE,
        str(tmp_path / "results"),
        k=1,
        trained=True,
    )
    got = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in sink.read_all(spark).collect()
    }
    # batch twin: top-1 of the trained index's adc table
    _, adc, _ = IVFADC_TRAINED.build(spark, SF_SMOKE)
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    want = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "adc_dist")
        .collect()
    }
    assert got == want and len(got) == PQ_NQ


def test_streaming_ivfadc_from_saved_store_matches_batch(spark, tmp_path):
    """The production fleet shape (round 12): the offline job persisted
    the index (operators/index_store.py) and the streaming server only
    OPENS it — no build, no training, per-batch probed-cell partition
    pruning against the cell-partitioned parquet store. Results must
    be bit-identical to the registered batch q_sim_ivfadc (and hence
    to the built-index streaming run) over the same query stream."""
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.operators.similarity import (
        PQ_NQ,
    )
    from distributed_causal_stream_processing_spark.plans.registry import (
        all_queries,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    idx = str(tmp_path / "store")
    ix.ivfadc_index_save(spark, SF_SMOKE, idx)
    qdir = _stage_eval_query_stream(spark, tmp_path)
    sink = jobs.run_streaming_ivfadc(
        spark,
        qdir,
        SF_SMOKE,
        str(tmp_path / "results"),
        k=1,
        index_dir=idx,
    )
    got = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in sink.read_all(spark).collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.adc_dist)
        for r in all_queries()["q_sim_ivfadc"](spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) == PQ_NQ


def test_missing_committed_batch_dir_fails_loudly(spark, tmp_path):
    """Same corruption class, other branch (ADVICE r07): a commit
    marker NEWER than the manifest's coverage whose batch dir is gone
    must raise too — that batch has no other copy, so skipping it
    would silently mark its known duplicates as novel."""
    import shutil

    from distributed_causal_stream_processing_spark.streaming import jobs

    d = str(tmp_path / "docs_stream")
    jobs.stage_documents_as_stream_dir(spark, SF_SMOKE, d)
    sink = jobs.run_streaming_content_dedup(spark, d, str(tmp_path / "dedup"))
    committed = sorted(os.listdir(sink.commits_dir), key=int)
    assert committed, "expected at least one committed batch"
    # no compaction ran, so every committed batch is newer than coverage
    shutil.rmtree(os.path.join(sink.index_dir, f"batch_id={committed[-1]}"))
    with pytest.raises(RuntimeError, match="corrupt"):
        sink._committed_index(spark)


def test_streaming_postings_ingest_matches_offline_build(spark, tmp_path):
    """The postings store grown by the STREAMING ingest job (corpus
    saved offline, the ingest batch streamed in file-per-micro-batch)
    must serve BM25 bit-identically to one offline build over the full
    corpus — postings_store_append maintains every statistic exactly,
    and the marker protocol adds no rows of its own. Then REPLAY the
    whole stream against the same sink (fresh checkpoint, same
    markers): every batch must no-op, and the store must be
    byte-for-byte the same answer — at-least-once delivery +
    idempotent append = effectively-once ingest."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    docs = load(spark, SF_SMOKE, "documents")
    cut = int(docs.agg(F.floor(0.8 * F.max("doc_id"))).collect()[0][0])
    corpus = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)

    store = str(tmp_path / "postings_store")
    ix.postings_store_save(spark, corpus, store)

    sdir = str(tmp_path / "doc_stream")
    jobs._stage_split_as_stream_dir(batch, "doc_id", sdir)
    root = str(tmp_path / "ingest_sink")
    sink = jobs.run_streaming_postings_ingest(spark, sdir, root, store)
    assert len(sink._committed_ids()) >= 2  # file-per-trigger staging

    full_store = str(tmp_path / "postings_full")
    m_full = ix.postings_store_save(spark, docs, full_store)
    m_streamed = ix.postings_store_manifest(store)
    assert m_streamed["n_docs"] == m_full["n_docs"]
    assert m_streamed["total_dl"] == m_full["total_dl"]
    streamed = sorted(map(tuple, ix.bm25_search_saved(spark, store).collect()))
    offline = sorted(map(tuple, ix.bm25_search_saved(spark, full_store).collect()))
    assert streamed == offline

    # full replay: same sink root (markers survive), fresh checkpoint
    import shutil

    shutil.rmtree(os.path.join(root, "_checkpoint"))
    jobs.run_streaming_postings_ingest(spark, sdir, root, store)
    replayed = sorted(map(tuple, ix.bm25_search_saved(spark, store).collect()))
    assert replayed == streamed
    assert ix.postings_store_manifest(store)["n_docs"] == m_full["n_docs"]


def test_postings_ingest_refuses_incompatible_store(spark, tmp_path):
    """A sink pointed at a store built under different constants must
    fail BEFORE the stream starts — silent appends under mismatched
    hashing would poison every later probe."""
    import json as _json

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    store = str(tmp_path / "postings_store")
    ix.postings_store_save(
        spark, load(spark, SF_SMOKE, "documents").limit(50), store
    )
    mpath = os.path.join(store, ix._POSTINGS_MANIFEST)
    m = _json.load(open(mpath))
    m["n_buckets"] *= 2
    _json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="incompatible"):
        jobs.PostingsIngestSink(str(tmp_path / "sink"), store)


def test_causal_deps_stream_matches_batch(spark):
    """The layering's defining properties, on the registered batch
    q_causal_deps: every dep edge runs from a partner user's click to a
    purchase in a strictly higher layer. Its streaming twin
    (causal_deps_stream) is checked against the same query's oracle
    in test_stream_twin_matches_oracle."""
    from distributed_causal_stream_processing_spark import all_queries

    batch = all_queries()["q_causal_deps"](spark, SF_SMOKE).collect()
    ev = {r.event_id: r for r in batch}
    assert any(r.dep_id is not None for r in batch)
    for r in batch:
        if r.dep_id is not None:
            assert ev[r.dep_id].causal_layer < r.causal_layer, (r.event_id, "dep edge")
            assert ev[r.dep_id].event_type == "click"
            assert r.event_type == "purchase"
            # cross-KEY: the dep belongs to the partner user
            assert ev[r.dep_id].user_id == r.user_id ^ 1


def test_causal_deps_stream_flags_late_rows(spark, tmp_path):
    """An arbitrary (non-time-ordered) staging delivers rows behind the
    pair high-water mark; the twin must flag them late (layer -1)
    instead of assigning a wrong online layer — and the non-late rows
    must still carry batch-consistent PER-PAIR monotone layers."""
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    d = str(tmp_path / "deps_stream_unordered")
    jobs.stage_events_as_stream_dir(spark, SF_SMOKE, d, n_files=4)
    deps = causal.causal_deps_stream(jobs.events_stream(spark, d, watermark="35 days"))
    rows = jobs.collect_stream(deps.filter("event_id >= 0"))[0]
    lates = [r for r in rows if r.late]
    assert lates, "arbitrary staging should produce late rows"
    assert all(r.causal_layer == -1 and r.dep_id is None for r in lates)
    assert any(not r.late for r in rows)


def test_kafka_decode_round_trips_events(spark):
    """The broker-free half of the Kafka adapter: a kafka-shaped
    relation (binary key/value, topic/partition/offset/timestamp — the
    connector's fixed schema) decodes back to the exact event rows the
    producer serialized, with source positions riding along and
    malformed payloads surfaced (decode_ok false), never dropped."""
    import datetime
    import json as _json

    from distributed_causal_stream_processing_spark.streaming import jobs

    events = [
        {"event_id": 1, "ts": "2024-01-01T00:00:07.179575", "user_id": 8,
         "event_type": "error", "value": 6.55, "props": '{"k": 69}'},
        {"event_id": 2, "ts": "2024-01-01T00:03:52.824425", "user_id": 46,
         "event_type": "click", "value": 12.31, "props": '{"k": 89}'},
    ]
    rows = [
        (str(e["user_id"]).encode(), _json.dumps(e).encode(), "events", i % 2,
         100 + i, datetime.datetime(2024, 1, 1, 0, 5))
        for i, e in enumerate(events)
    ] + [(b"9", b"{not json", "events", 0, 999,
          datetime.datetime(2024, 1, 1, 0, 6))]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    out = jobs.decode_kafka_events(raw).collect()
    ok = sorted((r for r in out if r.decode_ok), key=lambda r: r.event_id)
    assert [r.event_id for r in ok] == [1, 2]
    assert ok[0].user_id == 8 and ok[0].event_type == "error"
    assert ok[0].ts == datetime.datetime(2024, 1, 1, 0, 0, 7, 179575)
    assert ok[0].value == 6.55 and ok[0].props == '{"k": 69}'
    assert (ok[0].topic, ok[0].partition, ok[0].offset) == ("events", 0, 100)
    bad = [r for r in out if not r.decode_ok]
    assert len(bad) == 1 and bad[0].offset == 999 and bad[0].event_id is None

    # routing seam (ADVICE r13): the watermark goes on the decode_ok
    # branch only — malformed rows (ts NULL) must reach the reject
    # branch intact, never a watermarked stateful operator that would
    # silently drop them
    well_formed, rejects = jobs.route_decoded_events(
        jobs.decode_kafka_events(raw), watermark="10 minutes"
    )
    ok_rows = well_formed.collect()
    assert sorted(r.event_id for r in ok_rows) == [1, 2]
    assert all(r.ts is not None for r in ok_rows)
    rej_rows = rejects.collect()
    assert len(rej_rows) == 1 and rej_rows[0].offset == 999
    assert rej_rows[0].ts is None  # preserved, not dropped


def test_run_merge_stream_matches_independent_fold(spark, tmp_path):
    """Streaming MERGE INTO (the transactional seam driven from
    foreachBatch): the maintained latest-event-per-user table must
    equal an independent Python fold of MERGE semantics over the same
    micro-batches — matched+error deletes (CDC tombstone), matched
    updates, unmatched inserts (even an error from a never-seen user:
    the not-matched clause carries no delete). Re-running the stream
    on the same checkpoint replays nothing and changes nothing."""
    import glob
    import os

    from distributed_causal_stream_processing_spark.streaming import jobs

    stream_dir = str(tmp_path / "stream")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, stream_dir, n_files=4)
    table = jobs.run_merge_stream(spark, stream_dir, str(tmp_path / "tbl"))
    snap = table.snapshot(spark)
    got = {
        r.user_id: (r.event_id, r.event_type) for r in snap.collect()
    }

    # the fold shares nothing with ParquetMergeTable: per staged slice
    # (mtime order == micro-batch order, maxFilesPerTrigger=1), reduce
    # to the per-user latest row, then apply the three MERGE clauses
    state: dict = {}
    files = sorted(
        glob.glob(os.path.join(stream_dir, "*.parquet")), key=os.path.getmtime
    )
    assert len(files) == 4
    for f in files:
        latest: dict = {}
        for r in spark.read.parquet(f).collect():
            k = r.user_id
            if k not in latest or (r.ts, r.event_id) > (
                latest[k].ts,
                latest[k].event_id,
            ):
                latest[k] = r
        for k, r in latest.items():
            if k in state and r.event_type == "error":
                del state[k]  # WHEN MATCHED AND error THEN DELETE
            else:
                state[k] = r  # UPDATE SET * / INSERT *
    want = {k: (r.event_id, r.event_type) for k, r in state.items()}
    assert got == want
    assert len(got) > 0
    # at least one user must have been tombstoned for the delete clause
    # to have been exercised (the fixture has plenty of error events)
    all_users = {
        r.user_id
        for f in files
        for r in spark.read.parquet(f).select("user_id").collect()
    }
    assert len(all_users - set(got)) > 0

    # replay: same checkpoint, no new files -> no versions, same table
    before = table._latest_committed()
    table2 = jobs.run_merge_stream(spark, stream_dir, str(tmp_path / "tbl"))
    assert table2._latest_committed() == before
    got2 = {
        r.user_id: (r.event_id, r.event_type)
        for r in table2.snapshot(spark).collect()
    }
    assert got2 == got


_STATE_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.stateStore.providerClass",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
)


def test_run_stream_propagates_batch_error_and_restores_state(spark, stream_dir, tmp_path):
    """A foreachBatch callback that raises fails run_stream with its
    error, the query is stopped (no active stream is left behind), and
    every conf the state rule set is restored — including a shuffle
    partition count that differs from the rule's."""
    from distributed_causal_stream_processing_spark.streaming import jobs

    def fail(df, batch_id):
        raise RuntimeError(f"batch {batch_id} failed on purpose")

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        before = {k: spark.conf.get(k, None) for k in _STATE_CONFS}
        with pytest.raises(Exception, match="failed on purpose"):
            jobs.run_stream(
                jobs.events_stream(spark, stream_dir)
                .writeStream.foreachBatch(fail)
                .option("checkpointLocation", str(tmp_path / "checkpoint"))
            )
        assert spark.streams.active == []
        assert {k: spark.conf.get(k, None) for k in _STATE_CONFS} == before
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_collect_stream_returns_rows_and_progress(spark, stream_dir):
    """A memory-sink run returns every row its stream held; the stopped
    query's progress is still readable, and the sink's table is gone."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming import jobs

    rows, q = jobs.collect_stream(jobs.events_stream(spark, stream_dir).select("event_id"))
    want = [r.event_id for r in load(spark, SF_SMOKE, "events").select("event_id").collect()]
    assert sorted(r.event_id for r in rows) == sorted(want)
    assert not q.isActive
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(want)
    assert q.lastProgress["name"] == q.name
    assert not spark.catalog.tableExists(q.name)


def test_collect_stream_removes_checkpoint_of_failed_run(
    spark, stream_dir, tmp_path, monkeypatch
):
    """A collect whose batch raises leaves no checkpoint behind: not its
    own under the temp root, and no Spark ``temporary-*`` one under the
    JVM's temp dir (Spark keeps those when the query failed)."""
    import glob
    import tempfile

    from distributed_causal_stream_processing_spark.streaming import jobs

    jvm_tmp = spark.sparkContext._jvm.java.lang.System.getProperty("java.io.tmpdir")

    def spark_checkpoints():
        return set(glob.glob(os.path.join(jvm_tmp, "temporary-*")))

    before = spark_checkpoints()
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    failing = jobs.events_stream(spark, stream_dir).select(
        F.when(F.col("event_id") < 0, F.col("event_id"))
        .otherwise(F.raise_error(F.lit("batch failed on purpose")))
        .alias("event_id")
    )
    with pytest.raises(Exception, match="failed on purpose"):
        jobs.collect_stream(failing)
    assert spark.streams.active == []
    assert list(root.iterdir()) == []
    assert spark_checkpoints() == before


def test_failed_marker_write_leaves_batch_uncommitted(tmp_path, monkeypatch):
    """A marker write that fails halfway through its JSON leaves the
    batch uncommitted, where an in-place write would leave a torn
    marker that counts as committed; the retried write commits it."""
    import json

    from distributed_causal_stream_processing_spark.streaming import jobs

    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))

    def torn_dump(obj, fh):
        fh.write('{"batch_id": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        sink._write_marker(3, rows=5)
    assert not sink.is_committed(3)
    assert sink._committed_ids() == []

    monkeypatch.undo()
    sink._write_marker(3, rows=5)
    assert sink._committed_ids() == [3]
    with open(sink._marker(3)) as fh:
        assert json.load(fh) == {"batch_id": 3, "rows": 5}


def test_recommended_state_sizes_partitions_to_cores(spark, stream_dir):
    """Under recommended_streaming_state the sequencer's stateful
    operator gets one state partition per core, and every conf the
    context manager set is restored afterwards."""
    from distributed_causal_stream_processing_spark.session import (
        recommended_streaming_state,
    )
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    before = {k: spark.conf.get(k, None) for k in _STATE_CONFS}
    with recommended_streaming_state(spark):
        q = (
            causal.causal_sequence_stream(jobs.events_stream(spark, stream_dir))
            .writeStream.format("noop")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
    assert {k: spark.conf.get(k, None) for k in _STATE_CONFS} == before
    op = progress["stateOperators"][0]
    assert op["numShufflePartitions"] == spark.sparkContext.defaultParallelism


def test_idempotent_sink_commits_batch_in_one_job(spark, stream_dir, tmp_path):
    """A non-replayed batch costs exactly one Spark job (the write), so a
    read-back or recount of the batch fails here without any timing; the
    marker's ``rows``, observed on that write, equals the rows of the
    committed parquet."""
    import json

    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))
    sc = spark.sparkContext
    jobs_per_batch = {}

    def process(df, batch_id):
        group = f"idempotent-sink-{tmp_path.name}-{batch_id}"
        sc.setJobGroup(group, "sink.process")
        sink.process(df, batch_id)
        jobs_per_batch[batch_id] = len(sc.statusTracker().getJobIdsForGroup(group))

    jobs.run_stream(
        causal.causal_sequence_stream(jobs.events_stream(spark, stream_dir))
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .outputMode("append")
    )
    assert len(jobs_per_batch) >= 4
    assert set(jobs_per_batch.values()) == {1}, jobs_per_batch
    for b in jobs_per_batch:
        with open(sink._marker(b)) as fh:
            rows = json.load(fh)["rows"]
        data = os.path.join(sink.data_dir, f"batch_id={b}")
        assert rows == spark.read.parquet(data).count(), b


def test_stateful_stream_restarts_after_crash_past_sink_marker(spark, tmp_path):
    """Crash after the sink's marker but before Spark commits the batch:
    the restart replays that batch, which must still run its plan so the
    sequencer's state stores commit. Every event then lands exactly once
    with the batch oracle's seq."""
    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.streaming import causal, jobs

    staged = str(tmp_path / "staged")
    jobs.stage_events_time_ordered(spark, SF_SMOKE, staged, n_files=3)
    sink = jobs.IdempotentForeachBatchSink(str(tmp_path / "sink"))
    crash_on = {1}

    def process(df, batch_id):
        sink.process(df, batch_id)
        if batch_id in crash_on:
            crash_on.discard(batch_id)
            raise RuntimeError(f"injected crash after the marker of batch {batch_id}")

    def run() -> None:
        jobs.run_stream(
            causal.causal_sequence_stream(
                jobs.events_stream(spark, staged, watermark="35 days")
            )
            .writeStream.foreachBatch(process)
            .option("checkpointLocation", str(tmp_path / "checkpoint"))
            .outputMode("append")
        )

    with pytest.raises(Exception, match="injected crash"):
        run()
    assert sink.is_committed(1)
    run()

    got = sink.read_all(spark).select("event_id", "seq", "late").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)), "an event_id was committed twice"
    assert not any(r.late for r in got)
    want = {
        r.event_id: r.seq
        for r in all_queries()["q_causal_seq"](spark, SF_SMOKE).collect()
    }
    assert {r.event_id: r.seq for r in got} == want


# --- One crash matrix over every _CommitMarkers sink ----------------------
#
# Each sink runs through its shipped runner over three one-file
# micro-batches, with one crash injected on batch 1, then restarts on the
# same root and checkpoint. Its reader must then return exactly what an
# uncrashed run returns. The crash points: before the sink's
# process/merge, inside _write_marker (data written, no marker), and
# after process/merge returned (marker written, Spark's offset commit
# not yet).

_CRASH_POINTS = ("before", "write_marker", "after")
_CRASH_SINKS = (
    "idempotent",
    "cdc_merge",
    "parquet_merge",
    "content_dedup",
    "embedding_dedup",
    "postings_ingest",
)


def _crash_case(sink: str):
    """(class, patched method, run, read) for one sink; the method's last
    argument is the batch id, ``run(spark, inputs, root)`` starts the
    shipped runner and returns the sink, ``read(spark, sink)`` returns
    sorted rows."""
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs
    from distributed_causal_stream_processing_spark.transactional import (
        ParquetMergeTable,
    )

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def postings(spark, sink):
        m = ix.postings_store_manifest(sink.store_dir)
        return [(m["n_docs"], m["total_dl"])] + rows(
            ix.bm25_search_saved(spark, sink.store_dir)
        )

    def postings_run(spark, inputs, root):
        # the ingest appends into the store in place: each run owns a copy
        store = os.path.join(root, "store")
        if not os.path.isdir(store):
            import shutil

            shutil.copytree(inputs["postings_store"], store)
        return jobs.run_streaming_postings_ingest(
            spark, inputs["ingest"], os.path.join(root, "sink"), store
        )

    return {
        "idempotent": (
            jobs.IdempotentForeachBatchSink,
            "process",
            lambda spark, i, r: jobs.run_effectively_once_sink(spark, i["events"], r),
            lambda spark, s: rows(s.read_all(spark)),
        ),
        "cdc_merge": (
            jobs.CdcMergeSink,
            "process",
            lambda spark, i, r: jobs.run_cdc_merge_stream(spark, i["events"], r),
            lambda spark, s: rows(s.snapshot(spark)),
        ),
        "parquet_merge": (
            ParquetMergeTable,
            "merge",
            lambda spark, i, r: jobs.run_merge_stream(spark, i["events"], r),
            lambda spark, s: rows(s.snapshot(spark)),
        ),
        "content_dedup": (
            jobs.StreamingContentDedup,
            "process",
            lambda spark, i, r: jobs.run_streaming_content_dedup(spark, i["docs"], r),
            lambda spark, s: rows(s.read_decisions(spark)),
        ),
        "embedding_dedup": (
            jobs.StreamingEmbeddingDedup,
            "process",
            lambda spark, i, r: jobs.run_streaming_embedding_dedup(
                spark, i["embeddings"], r
            ),
            lambda spark, s: rows(s.read_decisions(spark)),
        ),
        "postings_ingest": (
            jobs.PostingsIngestSink,
            "process",
            postings_run,
            postings,
        ),
    }[sink]


def _stage_three_files(df, id_col: str, out_dir: str) -> None:
    """Stage ``df`` as three id-range files with increasing mtimes, so the
    file source replays it as three micro-batches in id order."""
    import time as _t

    from distributed_causal_stream_processing_spark.streaming import jobs

    lo, hi = df.agg(F.min(id_col), F.max(id_col)).first()
    cuts = [lo + (hi - lo + 1) * i // 3 for i in range(4)]
    base = _t.time() - 10
    for i in range(3):
        part = df.filter((F.col(id_col) >= cuts[i]) & (F.col(id_col) < cuts[i + 1]))
        jobs._lift_single_file(part, out_dir, i, base)


@pytest.fixture(scope="module")
def crash_inputs(spark, tmp_path_factory):
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
    )
    from distributed_causal_stream_processing_spark.streaming import jobs

    base = tmp_path_factory.mktemp("crash_inputs")
    inputs = {k: str(base / k) for k in ("events", "docs", "embeddings", "ingest")}
    jobs.stage_events_time_ordered(spark, SF_SMOKE, inputs["events"], n_files=3)
    docs = load(spark, SF_SMOKE, "documents")
    _stage_three_files(docs, "doc_id", inputs["docs"])
    _stage_three_files(load(spark, SF_SMOKE, "embeddings"), "vec_id", inputs["embeddings"])
    # postings: a store over the first 80% of documents, the rest ingested
    cut = int(docs.agg(F.floor(0.8 * F.max("doc_id"))).first()[0])
    inputs["postings_store"] = str(base / "postings_store")
    ix.postings_store_save(
        spark, docs.filter(F.col("doc_id") < cut), inputs["postings_store"]
    )
    _stage_three_files(docs.filter(F.col("doc_id") >= cut), "doc_id", inputs["ingest"])
    return inputs


@pytest.fixture(scope="module")
def uncrashed_output(spark, crash_inputs, tmp_path_factory):
    """Reader output of one uncrashed run per sink, computed on first use."""
    cache: dict = {}

    def get(sink: str):
        if sink not in cache:
            _, _, run, read = _crash_case(sink)
            root = str(tmp_path_factory.mktemp(f"uncrashed_{sink}"))
            cache[sink] = read(spark, run(spark, crash_inputs, root))
        return cache[sink]

    return get


@pytest.mark.parametrize(
    "sink,point",
    [
        pytest.param(
            s,
            p,
            marks=pytest.mark.xfail(
                strict=True,
                reason="PostingsIngestSink appends into the store in place, so "
                "a crash between the append and the marker doubles the batch "
                "on replay (see its docstring)",
            ),
        )
        if (s, p) == ("postings_ingest", "write_marker")
        else (s, p)
        for s in _CRASH_SINKS
        for p in _CRASH_POINTS
    ],
)
def test_sink_crash_matrix_replays_to_uncrashed_output(
    spark, crash_inputs, uncrashed_output, tmp_path, monkeypatch, sink, point
):
    import inspect

    cls, method, run, read = _crash_case(sink)
    pending = {1}

    def crash_once(batch_id: int) -> None:
        if batch_id in pending:
            pending.discard(batch_id)
            raise RuntimeError(f"injected crash {point} on batch {batch_id}")

    if point == "write_marker":
        write_marker = cls._write_marker

        def patched_marker(self, batch_id, **payload):
            crash_once(batch_id)
            return write_marker(self, batch_id, **payload)

        monkeypatch.setattr(cls, "_write_marker", patched_marker)
    else:
        orig = getattr(cls, method)
        sig = inspect.signature(orig)
        id_arg = list(sig.parameters)[-1]

        def patched(self, *args, **kwargs):
            batch_id = sig.bind(self, *args, **kwargs).arguments[id_arg]
            if point == "before":
                crash_once(batch_id)
            out = orig(self, *args, **kwargs)
            if point == "after":
                crash_once(batch_id)
            return out

        monkeypatch.setattr(cls, method, patched)

    root = str(tmp_path / "root")
    with pytest.raises(Exception, match="injected crash"):
        run(spark, crash_inputs, root)
    assert not pending
    restarted = run(spark, crash_inputs, root)
    assert read(spark, restarted) == uncrashed_output(sink)

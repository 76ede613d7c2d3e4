"""Property-based tests (hypothesis): the custom operators whose
semantics are easy to get subtly wrong are checked against brute-force
Python references on generated inputs — complementing the fixture
parity suite, which can only exercise the data distributions the
fixtures happen to contain.

Spark jobs are slow per-example, so example counts are deliberately
small; the generators bias toward the hard cases (equal timestamps,
ties, empty match sets) via tight value ranges.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

pytestmark = pytest.mark.properties

# Tight ranges force collisions: equal ts across sides, ties among
# right rows, keys with no right rows at all.
_KEYS = st.integers(min_value=0, max_value=3)
_TS = st.integers(min_value=0, max_value=12)
_VAL = st.integers(min_value=0, max_value=5)

_LEFT = st.lists(st.tuples(_KEYS, _TS), min_size=0, max_size=12)
_RIGHT = st.lists(st.tuples(_KEYS, _TS, _VAL), min_size=0, max_size=12)


def _brute_asof(left_rows, right_rows):
    """id -> latest right val at/before ts (ties: max val), else None."""
    out = {}
    for rid, (k, ts) in enumerate(left_rows):
        cands = [(rts, v) for (rk, rts, v) in right_rows if rk == k and rts <= ts]
        out[rid] = max(cands)[1] if cands else None
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(left=_LEFT, right=_RIGHT)
def test_asof_join_matches_bruteforce(spark, left, right):
    from distributed_causal_stream_processing_spark.operators.joins import asof_join

    if not left:
        return
    ldf = spark.createDataFrame(
        [(k, ts, rid) for rid, (k, ts) in enumerate(left)], "k int, ts int, rid int"
    )
    rdf = spark.createDataFrame(right or [], "k int, ts int, v int")
    got = {
        r.rid: r.asof_v
        for r in asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_val="v", out_col="asof_v",
        ).collect()
    }
    assert got == _brute_asof(left, right)


def _brute_sequence(events):
    """(user, ts, event_id) -> seq: rank of the event within its user's
    (ts, event_id)-sorted history — the causal ordering contract."""
    out = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for user, ts, eid in events:
        by_user.setdefault(user, []).append((ts, eid))
    for user, evs in by_user.items():
        for i, (ts, eid) in enumerate(sorted(evs), start=1):
            out[eid] = i
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    data=st.lists(st.tuples(_KEYS, _TS), min_size=1, max_size=16, unique=True)
)
def test_causal_sequence_batch_matches_bruteforce(spark, data):
    """The batch causal sequencer assigns each event its happened-before
    rank per user — gapless 1..n, deterministic under ts ties (event_id
    tie-break)."""
    from distributed_causal_stream_processing_spark.streaming.batch_views import (
        causal_sequence_batch,
    )

    events = [(user, ts, eid) for eid, (user, ts) in enumerate(data)]
    df = spark.createDataFrame(events, "user_id int, ts int, event_id int")
    got = {r.event_id: r.seq for r in causal_sequence_batch(df).collect()}
    assert got == _brute_sequence(events)


class _FakeGroupState:
    """GroupState stand-in for calling a stateful kernel without Spark."""

    def __init__(self, value=None):
        self.value = value

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


def _kernel(operator, *args):
    """The closure a streaming.causal operator hands to
    applyInPandasWithState, captured through a stand-in frame.
    ``F.expr`` is stubbed: building a real one needs a SparkContext."""
    from distributed_causal_stream_processing_spark.streaming import causal

    class Frame:
        def select(self, *cols):
            return self

        def withColumn(self, *args):
            return self

        def groupBy(self, *keys):
            return self

        def applyInPandasWithState(self, fn, **kwargs):
            self.fn = fn
            return self

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(causal.F, "expr", str)
        return getattr(causal, operator)(Frame(), *args).fn


def _run_kernel(operator, args, key, carry, chunks):
    """Feed one key's chunks of (ts_us, event_id, user_id, event_type)
    rows to ``operator``'s kernel under a stand-in GroupState holding
    ``carry``; returns the emitted frames and the state after."""
    import numpy as np
    import pandas as pd

    def frame(part):
        ts, eid, user, etype = (list(c) for c in zip(*part)) if part else ([],) * 4
        return pd.DataFrame(
            {
                "event_id": np.array(eid, dtype="int64"),
                "ts": (np.array(ts, dtype="int64") * 1000).astype("datetime64[ns]"),
                "user_id": np.array(user, dtype="int64"),
                "event_type": np.array(etype, dtype=object),
                "pair": np.array(user, dtype="int64") // 2,
            }
        )

    state = _FakeGroupState(carry)
    fn = _kernel(operator, *args)
    return list(fn((key,), iter([frame(c) for c in chunks]), state)), state.value


def _delivered(draw, rows):
    """``rows`` plus exact copies of some of them (redeliveries) in a
    drawn shuffle order, and that order cut into Arrow-like chunks,
    empty ones included."""
    if rows:
        rows = draw(st.permutations(rows + draw(st.lists(st.sampled_from(rows), max_size=4))))
    cuts = sorted(draw(st.lists(st.integers(0, len(rows)), max_size=4)))
    bounds = [0, *cuts, len(rows)]
    return rows, [rows[a:b] for a, b in zip(bounds, bounds[1:])]


def _brute_sequencer(carry, rows):
    """Plain-Python sequencer over one key's micro-batch: sort by (ts,
    event_id), then number each row and flag it late when it is not
    past the running (ts, event_id) frontier. Returns the output rows
    (event_id, ts_us, seq, late) and the state tuple after."""
    max_seq, last_us, last_eid = carry or (0, -(2**62), -1)
    out = []
    for ts_us, eid in sorted(rows):
        max_seq += 1
        late = (ts_us, eid) <= (last_us, last_eid)
        if not late:
            last_us, last_eid = ts_us, eid
        out.append((eid, ts_us, max_seq, late))
    return out, (max_seq, last_us, last_eid)


@st.composite
def _sequencer_batches(draw):
    """(carry-in state or None, rows as (ts_us, event_id), chunks): one
    key's micro-batch in shuffle order, cut into Arrow-like chunks,
    empty ones included. The tight ts range forces ties, some rows are
    exact copies of others (an in-batch redelivery), and the carry-in
    is sometimes a row of the batch itself (a redelivery of the
    frontier event)."""
    rows, chunks = _delivered(
        draw, draw(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 40)), max_size=12))
    )
    carry = draw(
        st.one_of(
            st.none(),
            st.tuples(st.integers(0, 4), st.integers(-1, 6), st.integers(-1, 41)),
        )
    )
    if rows and draw(st.booleans()):
        carry = (draw(st.integers(0, 4)), *draw(st.sampled_from(rows)))
    return carry, rows, chunks


@settings(max_examples=200, deadline=None)
@given(case=_sequencer_batches())
@example(case=(None, [(1, 5), (1, 2), (0, 9)], [[(1, 5)], [], [(1, 2), (0, 9)]]))
@example(case=((3, 1, 5), [(1, 5), (2, 0)], [[(1, 5), (2, 0)]]))
@example(case=((2, 3, 7), [], [[], []]))
@example(case=(None, [(1, 5), (1, 5)], [[(1, 5)], [(1, 5)]]))
def test_causal_sequencer_kernel_matches_bruteforce(case):
    """Spark-free: the streaming sequencer's kernel, fed one key's rows
    as several chunks (empty ones too) under a stand-in GroupState,
    emits exactly the plain-Python sequencer's rows and state, across
    ts ties, a carried-in frontier equal to a row (flagged late), an
    exact duplicate within the batch (the second copy flagged late),
    and keys spanning chunks."""
    carry, rows, chunks = case
    chunks = [[(t, e, 7, "view") for t, e in c] for c in chunks]
    outs, state = _run_kernel("causal_sequence_stream", (), 7, carry, chunks)
    got = []
    for out in outs:
        assert list(out.columns) == ["user_id", "event_id", "ts", "seq", "late"]
        assert (out["user_id"] == 7).all() and out["ts"].dtype == "datetime64[ns]"
        got += zip(
            out["event_id"].tolist(),
            (out["ts"].to_numpy().view("int64") // 1000).tolist(),
            out["seq"].tolist(),
            out["late"].tolist(),
        )
    want_rows, want_state = _brute_sequencer(carry, rows)
    assert got == want_rows
    assert state == want_state


_EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
_CHAIN_GAP_US = 2


def _brute_pattern(carry, rows):
    """signup → (click|view)* → purchase matches over the rows sorted
    by (ts, event_id); a row not past the running frontier only counts
    as late. Output: the one cumulative row of user 7."""
    open_, n_events, n_matches, n_late, *frontier = carry or (0, 0, 0, 0, -(2**62), -1)
    for ts, eid, _, etype in sorted(rows, key=lambda r: r[:2]):
        n_events += 1
        if (ts, eid) <= tuple(frontier):
            n_late += 1
            continue
        frontier = [ts, eid]
        if etype == "purchase":
            n_matches += open_
        open_ = {"signup": 1, "click": open_, "view": open_}.get(etype, 0)
    counts = (n_events, n_matches, n_late)
    return [(7, *counts)] if rows else [], (open_, *counts, *frontier)


def _brute_chain(carry, rows):
    """Chain roots over the rows sorted by (ts, event_id): a row more
    than the gap past the furthest-seen ts roots a new chain, any other
    extends the open one."""
    furthest, root, depth = carry or (None, -1, -1)
    out = []
    for ts, eid, _, _ in sorted(rows, key=lambda r: r[:2]):
        if furthest is None or ts - furthest > _CHAIN_GAP_US:
            root, depth = eid, 0
        else:
            depth += 1
        furthest = ts if furthest is None else max(furthest, ts)
        out.append((7, eid, root, depth))
    return out, (-(2**62) if furthest is None else furthest, root, depth)


def _brute_deps(carry, rows):
    """Online causal layers of the pair (6, 7) over the rows sorted by
    (ts, event_id): a row's layer is one past its user's last layer
    and, for a purchase, one past the partner's latest click (its dep).
    A row not past the pair's frontier is late, layer -1, and leaves
    the state as it was."""
    lle, llo, cle, cee, clo, ceo, *frontier = carry or (-1,) * 6 + (-(2**62), -1)
    last, clicks = {6: lle, 7: llo}, {6: (cle, cee), 7: (clo, ceo)}
    out = []
    for ts, eid, user, etype in sorted(rows, key=lambda r: r[:2]):
        if (ts, eid) <= tuple(frontier):
            out.append((eid, user, etype, None, -1, True))
            continue
        partner_layer, partner_click = clicks[user ^ 1]
        dep = partner_click if etype == "purchase" and partner_click >= 0 else None
        layer = max(last[user], -1 if dep is None else partner_layer) + 1
        if etype == "click":
            clicks[user] = (layer, eid)
        last[user], frontier = layer, [ts, eid]
        out.append((eid, user, etype, dep, layer, False))
    return out, (last[6], last[7], *clicks[6], *clicks[7], *frontier)


_TS_US, _EID, _SMALL = st.integers(-1, 6), st.integers(-1, 16), st.integers(-1, 3)

# operator: (extra args, key, users of the key, carry-in state, reference)
_KERNEL_CASES = {
    "pattern_match_stream": (
        (), 7, (7,),
        st.tuples(st.integers(0, 1), _SMALL, _SMALL, _SMALL, _TS_US, _EID),
        _brute_pattern,
    ),
    "chain_assign_stream": (
        (_CHAIN_GAP_US,), 7, (7,), st.tuples(_TS_US, _EID, _SMALL), _brute_chain
    ),
    "causal_deps_stream": (
        (), 3, (6, 7),
        st.tuples(_SMALL, _SMALL, _SMALL, _EID, _SMALL, _EID, _TS_US, _EID),
        _brute_deps,
    ),
}


@st.composite
def _key_batches(draw, users, carry):
    """(carry-in state or None, rows as (ts_us, event_id, user_id,
    event_type), chunks): one key's micro-batch in shuffle order, cut
    into Arrow-like chunks, empty ones included. Tight ts and id ranges
    force ties with each other and with the carried-in frontier, and
    some rows are exact copies of others."""
    row = st.tuples(
        st.integers(0, 5), st.integers(0, 15), st.sampled_from(users),
        st.sampled_from(_EVENT_TYPES),
    )
    rows, chunks = _delivered(draw, draw(st.lists(row, max_size=12)))
    return draw(st.none() | carry), rows, chunks


@pytest.mark.parametrize("operator", sorted(_KERNEL_CASES))
@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_keyed_state_kernel_matches_bruteforce(operator, data):
    """Spark-free: the pattern, chain and deps kernels, fed one key's
    rows in shuffle order as several chunks (empty ones too) under a
    stand-in GroupState, emit exactly the rows and state of a
    plain-Python reference that sorts by (ts, event_id), then loops."""
    import pandas as pd

    args, key, users, carry_st, brute = _KERNEL_CASES[operator]
    carry, rows, chunks = data.draw(_key_batches(users, carry_st))
    outs, state = _run_kernel(operator, args, key, carry, chunks)
    got = [
        tuple(None if pd.isna(v) else v for v in r)
        for out in outs
        for r in out.itertuples(index=False)
    ]
    assert (got, state) == brute(carry, rows)


def _brute_sessions(rows, gap):
    """[(key, ts)] -> sorted [(key, start, n, duration)] per session."""
    by_key: dict[int, list[int]] = {}
    for k, ts in rows:
        by_key.setdefault(k, []).append(ts)
    out = []
    for k, tss in by_key.items():
        tss.sort()
        cur = [tss[0]]
        for t in tss[1:]:
            if t - cur[-1] > gap:
                out.append((k, cur[0], len(cur), cur[-1] - cur[0]))
                cur = [t]
            else:
                cur.append(t)
        out.append((k, cur[0], len(cur), cur[-1] - cur[0]))
    return sorted(out)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(st.tuples(_KEYS, _TS), min_size=1, max_size=20),
    gap=st.integers(min_value=1, max_value=4),
)
def test_sessionize_matches_bruteforce(spark, rows, gap):
    """Sessions split exactly at gaps > threshold; boundary gaps
    (== threshold) and duplicate timestamps stay in-session."""
    from distributed_causal_stream_processing_spark.operators.windows import sessionize

    df = spark.createDataFrame(rows, "k int, us int")
    got = sorted(
        (r.k, r.session_start_us, r.n_events, r.duration_us)
        for r in sessionize(df, key="k", ts_us="us", gap_us=gap).collect()
    )
    assert got == _brute_sessions(rows, gap)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(st.tuples(_KEYS, _TS), min_size=1, max_size=20),
    gap=st.integers(min_value=1, max_value=4),
)
def test_native_session_window_matches_bruteforce(spark, rows, gap):
    """Spark's native session_window (the q_stream_session engine) must
    agree with gaps-and-islands splitting: gap == threshold stays
    in-session (verified: Spark merges when next_start <= prev_end, the
    oracle's `<= INTERVAL` matches), gap > threshold splits, duplicate
    timestamps stay in-session — the exactly-at-boundary case VERDICT
    r04 item 4 flagged as the trickiest oracle formulation."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k int, tsec int").withColumn(
        "ts", F.timestamp_seconds(F.col("tsec"))
    )
    out = (
        df.groupBy(F.session_window("ts", f"{gap} seconds").alias("w"), "k")
        .agg(
            F.min("tsec").alias("start"),
            F.count(F.lit(1)).alias("n"),
            (F.max("tsec") - F.min("tsec")).alias("dur"),
        )
        .select("k", "start", "n", "dur")
    )
    got = sorted((r.k, r.start, r.n, r.dur) for r in out.collect())
    assert got == _brute_sessions(rows, gap)


def test_asof_join_equal_timestamp_ties(spark):
    """Deterministic as-of tie edges (VERDICT r04 item 4): a right row
    exactly AT the left ts matches (<=, not <); several right rows at
    the same (key, ts) resolve to the max value; several left rows at
    one ts each get the same answer; a left row just before the right
    ts gets the previous value (or none)."""
    from distributed_causal_stream_processing_spark.operators.joins import asof_join

    left = [
        (1, 10, 0),  # exactly at the 3-way right tie at ts=10
        (1, 10, 1),  # duplicate left ts — same answer
        (1, 9, 2),   # strictly before ts=10 → falls back to ts=5
        (1, 4, 3),   # before every right row → NULL
        (2, 10, 4),  # key with no right rows at all → NULL
    ]
    right = [
        (1, 10, 7), (1, 10, 9), (1, 10, 8),  # equal-ts tie → max val 9
        (1, 5, 3),
    ]
    ldf = spark.createDataFrame(left, "k int, ts int, rid int")
    rdf = spark.createDataFrame(right, "k int, ts int, v int")
    got = {
        r.rid: r.asof_v
        for r in asof_join(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_val="v", out_col="asof_v",
        ).collect()
    }
    assert got == {0: 9, 1: 9, 2: 3, 3: None, 4: None}
    assert got == _brute_asof([(k, t) for k, t, _ in left], right)


def _union_find_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=15
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation reaches the exact component minima on
    arbitrary small graphs (self-loops, multi-edges, chains longer than
    one hop — the case one-round propagation gets wrong)."""
    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    nodes = sorted({n for e in edges for n in e})
    assert got == _union_find_components(edges, nodes)


def _brute_band_count(rows, band):
    """rid -> count of same-key rows with ts in (ts, ts+band]."""
    out = {}
    for rid, (k, ts) in enumerate(rows):
        out[rid] = sum(
            1
            for rid2, (k2, ts2) in enumerate(rows)
            if rid2 != rid and k2 == k and ts < ts2 <= ts + band
        )
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    # straddle zero: pre-1970 timestamps have negative epoch seconds,
    # where truncating division would make bin 0 double-wide — the bug
    # ADVICE r04 flagged; F.floor fixed it and this range now proves it
    rows=st.lists(
        st.tuples(_KEYS, st.integers(min_value=-12, max_value=12)),
        min_size=1,
        max_size=14,
    ),
    band=st.integers(min_value=1, max_value=5),
)
def test_banded_range_count_matches_bruteforce(spark, rows, band):
    """The bin-bucketed banded self-join (q_join_range's engine) must
    equal brute-force all-pairs counting — the tight _TS range forces
    rows onto bin boundaries, equal timestamps, adjacent-bin
    crossings, and negative-epoch bins, exactly where the (bin, bin-1)
    expansion could slip.
    Note duplicate (key, ts) pairs are allowed and must each count."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.operators.joins import (
        banded_range_count,
    )

    df = spark.createDataFrame(
        [(k, ts, rid) for rid, (k, ts) in enumerate(rows)],
        "k int, tsec int, rid int",
    ).withColumn("ts", F.timestamp_seconds(F.col("tsec")))
    got = {
        r.rid: r.n_in_band
        for r in banded_range_count(
            df, key="k", ts="ts", id_col="rid", band_seconds=band
        ).collect()
    }
    assert got == _brute_band_count(rows, band)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(st.tuples(_KEYS, _TS), min_size=1, max_size=16),
    gap=st.integers(min_value=1, max_value=4),
)
def test_causal_chains_matches_bruteforce(spark, rows, gap):
    """The recursive happened-before walk must assign every event the
    root and depth a sequential per-key scan assigns — including equal
    timestamps (tie-broken by event_id, gap 0 chains them), duplicate
    (key, ts) rows, and singleton chains."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.operators.recursion import (
        causal_chains_frame,
    )

    df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(rows)],
        "event_id long, user_id long, t long",
    )
    df.select(
        "user_id", "event_id", F.col("t").cast("timestamp").alias("ts")
    ).createOrReplaceTempView("events")
    # ADVICE r15: run the SHIPPED materialize-then-recurse builder, not
    # a parallel SQL-text seam that can drift from it
    got = {
        (r.user_id, r.event_id): (r.root_id, r.depth)
        for r in causal_chains_frame(spark, gap * 1_000_000).collect()
    }

    by_key: dict[int, list] = {}
    for i, (k, t) in enumerate(rows):
        by_key.setdefault(k, []).append((t, i))
    exp = {}
    for k, evs in by_key.items():
        evs.sort()
        root, depth, prev = None, 0, None
        for t, i in evs:
            if prev is None or t - prev > gap:
                root, depth = i, 0
            else:
                depth += 1
            exp[(k, i)] = (root, depth)
            prev = t
    assert got == exp


def _brute_nearest(left_rows, right_rows):
    """id -> (val, direction): right row with min |Δts| per key; equal
    distance → backward; backward ties take max (ts, val), forward
    ties min (ts, val); no right rows → (None, None)."""
    out = {}
    for rid, (k, ts) in enumerate(left_rows):
        bwd = [(rts, v) for (rk, rts, v) in right_rows if rk == k and rts <= ts]
        fwd = [(rts, v) for (rk, rts, v) in right_rows if rk == k and rts > ts]
        b = max(bwd) if bwd else None
        f = min(fwd) if fwd else None
        if b is None and f is None:
            out[rid] = (None, None)
        elif f is None or (b is not None and ts - b[0] <= f[0] - ts):
            out[rid] = (b[1], "b")
        else:
            out[rid] = (f[1], "f")
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(left=_LEFT, right=_RIGHT)
def test_asof_nearest_matches_bruteforce(spark, left, right):
    from distributed_causal_stream_processing_spark.operators.joins import (
        asof_join_nearest,
    )

    if not left:
        return
    ldf = spark.createDataFrame(
        [(k, ts, rid) for rid, (k, ts) in enumerate(left)], "k int, ts int, rid int"
    )
    rdf = spark.createDataFrame(right or [], "k int, ts int, v int")
    got = {
        r.rid: (r.nearest_v, r.direction)
        for r in asof_join_nearest(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts",
            right_val="v", out_col="nearest_v",
        ).collect()
    }
    assert got == _brute_nearest(left, right)


def _brute_edit_pairs(names, tau):
    """All ordered (a, b) pairs with Levenshtein distance <= tau."""
    def ed(a, b):
        if abs(len(a) - len(b)) > tau:
            return tau + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    uniq = sorted(set(names))
    return sorted(
        (a, b, d)
        for a in uniq
        for b in uniq
        if (d := ed(a, b)) <= tau
    )


# Tiny alphabet + short lengths force degenerate segmentations (len <
# tau+1 → zero-length segments, including the EMPTY string — a
# code-review find: the probe once filtered out length-0 partners),
# duplicate-prefix collisions, and many true positives — the PassJoin
# edge cases.
_NAMES = st.lists(
    st.text(alphabet="ab", min_size=0, max_size=7), min_size=1, max_size=10
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(names=_NAMES, tau=st.sampled_from([1, 2, 3]))
def test_fuzzy_name_pairs_matches_bruteforce(spark, names, tau):
    """PassJoin segment blocking must have NO false negatives (the
    pigeonhole lemma, for every threshold: tau+1 segments, ±tau shift
    window) and the levenshtein verify no false positives — so against
    brute-force edit distance it must match exactly."""
    from distributed_causal_stream_processing_spark.operators.dedup import (
        _fuzzy_name_pairs,
    )

    ndf = spark.createDataFrame([(n,) for n in set(names)], "p_name string")
    got = sorted(
        (r.name_a, r.name_b, r.edit_dist)
        for r in _fuzzy_name_pairs(ndf, tau=tau).collect()
    )
    assert got == _brute_edit_pairs(names, tau)


def _brute_ewma(rows):
    """user -> plain sequential EWMA over (us, event_id)-ordered values."""
    out = {}
    byuser = {}
    for u, us, eid, v in rows:
        byuser.setdefault(u, []).append((us, eid, v))
    for u, evs in byuser.items():
        vals = [v for (_, _, v) in sorted(evs)]
        y = vals[0]
        for v in vals[1:]:
            y = 0.8 * y + 0.2 * v
        out[u] = (len(vals), y)
    return out


# Timestamps straddle several tiny buckets AND collide within buckets;
# duplicate (us) rows force the event_id tie-break.
_EWMA_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # user
        st.integers(min_value=0, max_value=40),   # us
        st.integers(min_value=0, max_value=99),   # event_id
        st.floats(min_value=-8, max_value=8, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda r: (r[0], r[1], r[2]),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=_EWMA_ROWS)
def test_ewma_two_level_matches_sequential(spark, rows):
    """The bucketed affine recombination must equal the plain
    sequential fold (same math, different association — so compare to
    float tolerance, not bit-exactly) for every key, with bucket
    boundaries falling mid-stream (width 7 over us in [0, 40])."""
    from distributed_causal_stream_processing_spark.operators.aggregates import (
        ewma_two_level,
    )

    df = spark.createDataFrame(
        [(u, us, eid, float(v)) for (u, us, eid, v) in rows],
        "user_id int, us long, event_id int, value double",
    )
    got = {
        r.user_id: (r.n_events, r.ewma)
        for r in ewma_two_level(df, bucket_us=7).collect()
    }
    want = _brute_ewma(rows)
    assert set(got) == set(want)
    for u, (n, y) in want.items():
        assert got[u][0] == n
        assert abs(got[u][1] - round(y, 4)) <= 1e-4, (u, got[u], y)


def test_sampled_embedding_dedup_is_exact_subset_of_full(spark):
    """The default (hash-sampled) q_dedup_embedding reports exactly the
    full-corpus pairs whose BOTH endpoints fall in the scale-aware
    sample — same cos_sim values, nothing invented, nothing rescored
    (VERDICT r07 item 5: sampling restricts which pairs are reported,
    never their values). Runs at sf0.1, where n=2000 > _YARDSTICK_M so
    the cutoff selects a proper subset (at n <= m the sample is the
    full corpus by design)."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _yardstick_cutoff,
        q_dedup_embedding,
    )
    import hashlib

    sf = "/root/testdata/sf0.1"
    sampled = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in q_dedup_embedding(spark, sf).collect()
    }
    full = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in q_dedup_embedding(spark, sf, full_exact=True).collect()
    }
    cutoff = _yardstick_cutoff(2000)

    def in_sample(vid: int) -> bool:
        return "0" + hashlib.md5(str(vid).encode()).hexdigest()[:8] < cutoff

    want = {p: s for p, s in full.items() if in_sample(p[0]) and in_sample(p[1])}
    assert sampled == want
    assert 0 < len(sampled) < len(full)


def test_yardstick_sample_is_full_corpus_below_budget(spark):
    """At n <= _YARDSTICK_M the scale-aware cutoff degrades to the full
    corpus — small fixtures get the exact all-pairs answer, the pair
    budget only bites when it must."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _yardstick_cutoff,
        q_dedup_embedding,
    )

    assert _yardstick_cutoff(500) == "100000000"  # every '0'+8-hex < this
    sf = "/root/testdata/sf0.001"
    sampled = q_dedup_embedding(spark, sf).count()
    full = q_dedup_embedding(spark, sf, full_exact=True).count()
    assert sampled == full


def test_yardstick_fraction_stays_m_over_n_at_huge_n():
    """ADVICE r08: the 16-bit cutoff floored the fraction at 2^-16, so
    the sample (and the pair budget) grew linearly again past n ≈ 33M.
    With 32-bit slots the expected sample size k·n/2³² stays ≈ m out to
    n ≈ 2×10¹² — the budget really is O(1) in n."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _YARDSTICK_M,
        _yardstick_cutoff,
    )

    for n in (10**6, 10**8, 10**10, 10**11):
        k = int(_yardstick_cutoff(n), 16)
        expected_sample = k * n / (1 << 32)
        assert _YARDSTICK_M * 0.9 <= expected_sample <= _YARDSTICK_M, (n, expected_sample)


def test_connected_components_raises_on_round_exhaustion(spark):
    """Exiting the loop with labels still moving must raise, never
    return silently wrong components (review find, round 9): even with
    pointer doubling, a 2-round budget cannot cover a 200-hop chain."""
    import pytest as _pytest

    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=2)


def test_connected_components_rejects_non_numeric_labels(spark):
    """The convergence certificate sums labels as decimal(38,0); a label
    that cannot cast is skipped by the sum, so non-numeric labels could
    keep moving while the sum stands still and the loop would stop with
    wrong components. The observed certificate must raise its TypeError
    instead (under ANSI casts too) — when every id is non-numeric, and
    when numeric ids give the sum a value: a 10-node chain 'a'..'j'
    needs more than one block, and the edge '1'-'2' keeps the sum
    constant from the first block on."""
    import pytest as _pytest

    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    all_strings = [("a", "b"), ("b", "c"), ("x", "y")]
    chain = [(chr(ord("a") + i), chr(ord("a") + i + 1)) for i in range(9)]
    mixed = chain + [("1", "2")]
    for rows in (all_strings, mixed):
        edges = spark.createDataFrame(rows, "src string, dst string")
        with _pytest.raises(TypeError, match="numeric"):
            connected_components(edges)


def test_connected_components_runs_exactly_max_rounds(spark):
    """``max_rounds`` is the number of fused rounds that run: the loop
    chains rounds in blocks of two and clamps the last block to the
    remaining budget. On the 200-hop chain every budget below 5 runs
    out, so each extra round of budget must shuffle more records — an
    unclamped last block would run budgets 1 and 2 (and 3 and 4) as
    the same two (four) rounds."""
    import pytest as _pytest

    from distributed_causal_stream_processing_spark.benchlib import shuffle_volume
    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )

    def records(max_rounds: int) -> int:
        def run(spark, _sf):
            with _pytest.raises(RuntimeError, match="did not converge"):
                connected_components(edges, max_rounds=max_rounds)
            return spark.range(1)

        return shuffle_volume({"cc": run}, "cc", spark, None)[0]

    per_budget = [records(r) for r in (1, 2, 3, 4)]
    assert all(a < b for a, b in zip(per_budget, per_budget[1:])), per_budget


def _plain_propagation_components(edges, max_rounds: int):
    """Plain O(diameter) min-label propagation: each round every node
    takes the minimum of its own and its neighbors' labels. The
    contrast baseline for connected_components' pointer doubling;
    raises like it when the budget runs out."""
    from pyspark.sql import functions as F

    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        neigh_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        cand = labels.join(neigh_min, labels.node == neigh_min.src, "left").select(
            "node", "label", F.coalesce("nmin", "label").alias("cand")
        )
        merged = cand.select(
            "node",
            F.least("label", "cand").alias("new_label"),
            (F.col("cand") < F.col("label")).alias("shrunk"),
        ).localCheckpoint()
        labels = merged.select("node", F.col("new_label").alias("label"))
        if merged.filter("shrunk").limit(1).count() == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"plain propagation did not converge within {max_rounds} rounds"
    )


def test_pointer_doubling_converges_where_plain_propagation_raises(spark):
    """VERDICT r12 item 3, the contrast pin: on a chain whose diameter
    (200) far exceeds the round budget (20), plain min-label
    propagation exhausts the budget and raises, while the
    pointer-doubling loop converges — O(log diameter) rounds — and
    returns the exact components."""
    import pytest as _pytest

    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        _plain_propagation_components(edges, max_rounds=20)
    comp = {
        r.node: r.component
        for r in connected_components(edges, max_rounds=20).collect()
    }
    assert set(comp.values()) == {0} and len(comp) == 201


def test_misra_gries_survives_adversarial_batching():
    """The round-9 counterexample, pinned: a true heavy hitter arriving
    interleaved with k persistent high-count tokens. The round-8 prune
    ("drop <= cut, keep survivors unchanged") re-added and re-dropped
    'x' every batch — the sketch's candidate set missed it entirely;
    the correct decrement-all prune must keep it."""
    import pandas as pd

    from distributed_causal_stream_processing_spark.operators.text import mg_merge

    k = 2
    counters = pd.Series(dtype="int64")
    batches = [["x", "x"], ["a"] * 3 + ["b"] * 3, ["x", "x"], ["x", "x"]]
    for b in batches:
        counters = mg_merge(counters, pd.Series(b).value_counts(), k)
    # x holds 6/12 = 50% of the stream — it MUST survive the sketch
    assert "x" in counters.index, dict(counters)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    stream=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=120),
    cuts=st.lists(st.integers(min_value=1, max_value=8), min_size=0, max_size=6),
    k=st.integers(min_value=2, max_value=5),
)
def test_misra_gries_never_misses_heavy_hitter(stream, cuts, k):
    """MG(k) over ANY batching must retain every item with share >
    1/(k+1) of the stream (the deletion bound) — checked against a
    plain Counter. Batch boundaries come from the generated cut
    points, so hypothesis explores adversarial batchings."""
    from collections import Counter

    import pandas as pd

    from distributed_causal_stream_processing_spark.operators.text import mg_merge

    bounds = sorted({min(c * len(stream) // 8, len(stream)) for c in cuts})
    pieces, lo = [], 0
    for b in bounds + [len(stream)]:
        if b > lo:
            pieces.append(stream[lo:b])
            lo = b
    counters = pd.Series(dtype="int64")
    for piece in pieces:
        counters = mg_merge(counters, pd.Series(piece).value_counts(), k)
    exact = Counter(stream)
    for tok, n in exact.items():
        if n * (k + 1) > len(stream):  # share strictly above 1/(k+1)
            assert tok in counters.index, (tok, n, len(stream), k, pieces)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=90), min_size=1, max_size=14),
    capacity=st.integers(min_value=8, max_value=64),
)
def test_pack_greedy_matches_bruteforce_fold(spark, sizes, capacity):
    """pack_greedy vs the plain sequential fold (the docstring's
    claimed property test, made real in round 9): rows in order
    accumulate until the capacity would overflow, then a new pack
    opens; oversized rows get their own pack."""
    from distributed_causal_stream_processing_spark.operators.text import pack_greedy

    rows = [("g", i, s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, "lang string, doc_id long, n_tok long")
    got = {
        r.doc_id: r.pack_id
        for r in pack_greedy(df, "lang", "doc_id", "n_tok", capacity).collect()
    }
    want, pack_id, acc = {}, 0, capacity + 1
    for i, s in enumerate(sizes):
        if acc + s > capacity:
            pack_id, acc = pack_id + 1, s
        else:
            acc += s
        want[i] = pack_id
    assert got == want


def test_ivfadc_codebook_not_degenerate(spark):
    """Round-9 regression pin: the residual-PQ codebook must keep all
    PQ_K codes alive in every subspace, and the corpus codes must
    actually use more than one code. Round 8 seeded the codebook from
    vec_id < PQ_K — exactly the N_CELLS cell-centroid vectors, whose
    residuals are identically zero — so Lloyd collapsed every subspace
    to a single code and ADC 'search' silently degenerated to
    lowest-neighbor_id-in-nearest-cell. Both engines shared the bug, so
    oracle parity stayed green; only a structural check catches this
    class."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.operators.similarity import (
        PQ_K,
        PQ_M,
        ivfadc_index,
    )

    _, cb_df, codes = ivfadc_index(spark, "/root/testdata/sf0.01")
    per_sub = {
        r.sub_no: r.n
        for r in cb_df.groupBy("sub_no")
        .agg(F.countDistinct("code").alias("n"))
        .collect()
    }
    assert len(per_sub) == PQ_M
    assert all(n == PQ_K for n in per_sub.values()), per_sub
    used = codes.select("code").distinct().count()
    assert used > PQ_K // 2, f"only {used} codes used — near-degenerate"


def test_skewsafe_sequence_matches_plain_on_hot_key(spark):
    """One user holding 95% of a multi-day history: the two-level
    (bucketed) sequencer equals the plain per-key window exactly, at a
    1-hour bucket width that splits the hot key across many level-1
    partitions."""
    import datetime

    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.streaming.batch_views import (
        causal_sequence_skewsafe,
    )

    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for i in range(1900):  # hot key: ~80 events/hour over 24 hours
        rows.append((7, eid, base + datetime.timedelta(seconds=45 * i)))
        eid += 1
    for u in (1, 2, 3):  # cold keys
        for i in range(30):
            rows.append((u, eid, base + datetime.timedelta(minutes=13 * i)))
            eid += 1
    # concurrent events on the hot key (equal ts, tie-broken by id)
    rows += [(7, eid, base), (7, eid + 1, base)]
    e = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")

    got = {
        (r.user_id, r.event_id): r.seq
        for r in causal_sequence_skewsafe(e, bucket_us=3_600_000_000).collect()
    }
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.event_id): r.seq
        for r in e.select(
            "user_id", "event_id", F.row_number().over(w).cast("long").alias("seq")
        ).collect()
    }
    assert got == want


def test_skewsafe_running_state_matches_plain_on_hot_key(spark):
    """The running-SUM member of the skew-safe family: one user holding
    ~95% of a multi-day history, at a 1-hour bucket width that splits
    the hot key across many level-1 partitions, must equal the plain
    per-key running count/sum window EXACTLY (integer cents make the
    two-level regrouping associative)."""
    import datetime

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.streaming.batch_views import (
        running_state_skewsafe,
    )

    base = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for i in range(1900):  # hot key
        rows.append((7, eid, base + datetime.timedelta(seconds=45 * i), eid * 13 % 997))
        eid += 1
    for u in (1, 2, 3):  # cold keys
        for i in range(30):
            rows.append((u, eid, base + datetime.timedelta(minutes=13 * i), eid % 50))
            eid += 1
    # concurrent events on the hot key (equal ts, tie-broken by id)
    rows += [(7, eid, base, 5), (7, eid + 1, base, 6)]
    eid += 2
    # NULL cents (review find, round 9): the running sum is NULL until
    # the first non-null value and must STAY non-null after it, even
    # when a later day-bucket's prefix is entirely null — user 9's
    # day-2 starts with nulls after a non-null day-1; user 8 is
    # all-null (running_cents NULL throughout)
    rows += [
        (9, eid, base, None),
        (9, eid + 1, base + datetime.timedelta(minutes=1), 7),
        (9, eid + 2, base + datetime.timedelta(days=1), None),
        (9, eid + 3, base + datetime.timedelta(days=1, minutes=1), 4),
        (8, eid + 4, base, None),
        (8, eid + 5, base + datetime.timedelta(days=1), None),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, cents long"
    )

    got = {
        (r.user_id, r.event_id): (r.running_count, r.running_cents)
        for r in running_state_skewsafe(e, bucket_us=3_600_000_000).collect()
    }
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {
        (r.user_id, r.event_id): (r.rc, r.rs)
        for r in e.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).cast("long").alias("rc"),
            F.sum("cents").over(w).cast("long").alias("rs"),
        ).collect()
    }
    assert got == want


def _stage_orders(spark, tmp_path, rows):
    """Write a minimal orders table (o_orderkey, o_totalprice) that
    q_win_dist / q_sort_multi can load from a tmp sf_dir."""
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/orders.parquet")
    return d


def test_banded_win_dist_matches_brute_force_on_ties(spark, tmp_path):
    """The two-level band construction behind q_win_dist must agree
    with the textbook ntile/percent_rank/cume_dist formulas on a
    distribution the fixture never shows: heavy ties (many rows share
    a price, so whole bands collapse to one value), negative prices
    (negative band ids — floor must stay monotone), and n % k != 0
    (uneven ntile split)."""
    import math

    from distributed_causal_stream_processing_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    prices = [100.0, 100.0, 100.0, -50.25, -50.25, 0.0, 26_000.0, 26_000.0,
              51_234.5, 100.0, -50.25, 77_777.77, 100.0]  # n=13, k=4 -> 13%4=1
    rows = [(i, "O", p) for i, p in enumerate(prices)]
    d = _stage_orders(spark, tmp_path, rows)

    got = {
        r.o_orderkey: (r.quartile, r.pct_rank, r.cume)
        for r in REGISTRY["q_win_dist"].fn(spark, d).collect()
    }

    order = sorted(range(len(prices)), key=lambda i: (prices[i], i))
    n, k = len(prices), 4
    q, rem = divmod(n, k)
    want = {}
    for rank0, key in enumerate(order):
        rn = rank0 + 1
        big = rem * (q + 1)
        tile = (
            (rn - 1) // (q + 1) + 1
            if rn <= big
            else rem + (rn - big - 1) // q + 1
        )
        want[key] = (
            tile,
            round((rn - 1) / (n - 1), 6),
            round(rn / n, 6),
        )
    assert len(got) == n
    for key in want:
        assert got[key][0] == want[key][0], (key, got[key], want[key])
        assert math.isclose(got[key][1], want[key][1], abs_tol=1e-9)
        assert math.isclose(got[key][2], want[key][2], abs_tol=1e-9)


def test_banded_sort_rank_matches_brute_force_on_ties(spark, tmp_path):
    """q_sort_multi's banded global rank must equal the brute-force
    (status ASC, price DESC, key ASC) ordering under ties across band
    boundaries and a status with a single row."""
    from distributed_causal_stream_processing_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    rows = [
        (1, "F", 500_000.0), (2, "F", 500_000.0), (3, "F", 410_000.0),
        (4, "O", 999_999.99), (5, "O", 410_000.0), (6, "O", 410_000.0),
        (7, "P", 650_000.0),
        (8, "F", 404_040.4), (9, "O", 500_000.0), (10, "F", 999_999.99),
        # below the query's o_totalprice > 400000 filter — must not rank
        (11, "F", 123.45), (12, "O", 399_999.99),
    ]
    d = _stage_orders(spark, tmp_path, rows)
    got = {
        r.o_orderkey: r.sort_rank
        for r in REGISTRY["q_sort_multi"].fn(spark, d).collect()
    }
    kept = [(k, s, p) for k, s, p in rows if p > 400_000]
    order = sorted(kept, key=lambda t: (t[1], -t[2], t[0]))
    want = {t[0]: i + 1 for i, t in enumerate(order)}
    assert got == want


# --- Round-10 structural-pin sweep (VERDICT r09 item 8) -------------------
# Hash-parity cannot catch a bug BOTH engines share by design (round 9's
# degenerate PQ codebook proved the class). Each sketch/index family
# therefore gets a structural invariant pinned on the real fixture, and
# each test carries a MUTATION check: the same predicate evaluated on a
# deliberately-broken construction must fail, proving the pin has teeth.


def test_minhash_permutation_family_diversity(spark):
    """The 32 MinHash permutations must produce DIVERSE per-doc minima
    on the real corpus: every column mh_j needs >=2 distinct values
    across docs (a constant column contributes nothing to the
    signature) and must disagree with mh_0 on at least one doc (a
    duplicated permutation silently halves the effective signature —
    both engines share the constants, so parity would stay green).
    Mutation: collapsing the (a_j, b_j) families to a single
    permutation must fail the same predicate."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        N_MINHASH,
        md5_u32_sql,
    )
    from distributed_causal_stream_processing_spark.io import load

    toks = (
        load(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .select("doc_id", F.expr(md5_u32_sql("tok")).alias("x"))
    )

    def diversity(a, b):
        sig = toks.groupBy("doc_id").agg(
            *[
                F.min(F.expr(f"(CAST({a[j]} AS BIGINT) * x + {b[j]}) % {MINHASH_P}"))
                .alias(f"mh{j}")
                for j in range(N_MINHASH)
            ]
        )
        row = sig.agg(
            *[F.countDistinct(f"mh{j}").alias(f"d{j}") for j in range(N_MINHASH)],
            *[
                F.sum((F.col(f"mh{j}") != F.col("mh0")).cast("int")).alias(f"n{j}")
                for j in range(1, N_MINHASH)
            ],
        ).head()
        per_col_diverse = all(row[f"d{j}"] >= 2 for j in range(N_MINHASH))
        pairwise_distinct = all(row[f"n{j}"] >= 1 for j in range(1, N_MINHASH))
        return per_col_diverse and pairwise_distinct

    assert diversity(MINHASH_A, MINHASH_B), "healthy permutation family degenerate"
    # mutation: one permutation copied 32 times — every column identical
    assert not diversity([MINHASH_A[0]] * N_MINHASH, [MINHASH_B[0]] * N_MINHASH)


def test_hyperplane_lsh_buckets_nondegenerate(spark):
    """Every LSH table's bucket distribution over the real embedding
    corpus must be non-degenerate: no bucket holds more than half the
    corpus, and every individual hyperplane splits the corpus with a
    minority side of >=10% (a plane that never flips sign contributes
    zero selectivity to its table — the exact shape a zeroed/misscaled
    plane literal would produce, invisible to parity because the oracle
    unrolls the same plane constants). Mutation: zero planes hash the
    whole corpus into one bucket and must fail the same predicates."""
    from unittest import mock

    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators import similarity as sim

    e = load(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", sim.as_double("embedding").alias("emb")
    )
    n = e.count()

    def shape(sig):
        # one checkpoint + two aggregations, not one Spark action per
        # plane/table: mt_signature_frame's docstring warns repeated
        # branching re-derives the full plane expression per branch
        sig = sig.localCheckpoint(eager=True)
        bucket_tops = (
            sig.select(
                F.posexplode(
                    F.array(*[F.col(f"b{t}") for t in range(sim.N_TABLES)])
                ).alias("t", "bucket")
            )
            .groupBy("t", "bucket")
            .count()
            .agg(F.max("count"))
            .head()[0]
        )
        ones = sig.agg(
            *[
                F.avg(F.substring(f"b{t}", p, 1).cast("int")).alias(f"o{t}_{p}")
                for t in range(sim.N_TABLES)
                for p in range(1, sim.PLANES_PER_TABLE + 1)
            ]
        ).head()
        worst_minority = min(min(o, 1.0 - o) for o in ones)
        return bucket_tops / n, worst_minority

    biggest, worst_minority = shape(sim.mt_signature_frame(e))
    assert biggest <= 0.5, f"a bucket holds {biggest:.0%} of the corpus"
    assert worst_minority >= 0.10, f"a plane's minority side is {worst_minority:.0%}"

    with mock.patch.object(
        sim, "_mt_planes", lambda k: [[0.0] * sim.DIM for _ in range(k)]
    ):
        biggest0, minority0 = shape(sim.mt_signature_frame(e))
    assert biggest0 == 1.0 and minority0 == 0.0  # mutation detected


def test_session_count_is_gap_count_plus_one(spark):
    """Session-window structural pin on the real fixture: per user, the
    number of sessions q_stream_session emits must equal 1 + the number
    of inactivity gaps > 15 minutes in that user's ordered event stream
    — derived here independently via lag(), not session_window, so a
    shared over/under-merge in both engines' session constructions
    cannot hide behind green parity. Mutation: the same identity
    evaluated at half the gap must diverge on this fixture (proving the
    fixture actually exercises the 7.5-15 minute band the pin relies
    on)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    sf = "/root/testdata/sf0.001"
    sessions_per_user = (
        REGISTRY["q_stream_session"].fn(spark, sf)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        load(spark, sf, "events")
        .withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "gap_s",
            F.col("ts").cast("double") - F.col("prev").cast("double"),
        )
    )

    def mismatches(gap_seconds):
        per_user = gaps.groupBy("user_id").agg(
            F.sum(
                F.when(F.col("gap_s") > gap_seconds, 1).otherwise(0)
            ).alias("n_gaps")
        )
        return (
            sessions_per_user.join(per_user, "user_id")
            .filter(F.col("n_sessions") != F.col("n_gaps") + 1)
            .count()
        )

    assert mismatches(15 * 60) == 0
    assert mismatches(int(7.5 * 60)) > 0  # mutation: wrong gap must diverge


def test_misra_gries_candidate_budget_never_exceeded():
    """The MG sketch's whole scale story is its O(k) state bound: after
    EVERY merge the candidate set must hold <= k counters, whatever the
    batching (an unbounded candidate set is a per-partition memory leak
    that still returns correct heavy hitters on small data — parity
    green, OOM at 100 TB). Mutation: a prune-free merge on the same
    stream must blow the bound, proving the stream actually pressures
    it."""
    import pandas as pd

    from distributed_causal_stream_processing_spark.operators.text import mg_merge

    k = 5
    batches = [
        [f"t{i}_{j}" for j in range(12)] + ["hot"] * 3 for i in range(20)
    ]  # 12 fresh distinct tokens per batch + one persistent heavy hitter
    counters = pd.Series(dtype="int64")
    naive = pd.Series(dtype="int64")
    naive_peak = 0
    for b in batches:
        vc = pd.Series(b).value_counts()
        counters = mg_merge(counters, vc, k)
        assert len(counters) <= k, f"budget blown: {len(counters)} > {k}"
        naive = naive.add(vc, fill_value=0)  # mutation: merge without prune
        naive_peak = max(naive_peak, len(naive))
    assert naive_peak > k  # the stream genuinely pressures the bound
    assert "hot" in counters.index  # and the bound costs no recall here


def test_ivfadc_memo_serves_identical_rows_and_invalidates(spark):
    """The round-11 artifact memo must be SEMANTICALLY INVISIBLE: a
    cache hit returns the same materialized artifact, a cleared cache
    rebuilds bit-identical rows (the memo can only ever change cost,
    never results), and the key carries the fixture fingerprint so a
    rewritten-in-place parquet misses instead of serving a stale
    index — the same invalidation contract io.load() has."""
    from distributed_causal_stream_processing_spark.operators import (
        similarity as S,
    )

    sf = "/root/testdata/sf0.001"
    _, _, codes = S.ivfadc_index(spark, sf)
    _, _, codes2 = S.ivfadc_index(spark, sf)
    assert codes2 is codes  # cache hit: the same checkpointed frame
    memo_rows = sorted(map(tuple, codes.collect()))
    saved = dict(S._MEMO)
    try:
        S._MEMO.clear()
        _, _, codes3 = S.ivfadc_index(spark, sf)
        assert codes3 is not codes
        assert sorted(map(tuple, codes3.collect())) == memo_rows
    finally:
        S._MEMO.clear()
        S._MEMO.update(saved)
    # fingerprint invalidation: same (session, dir, tag) but a changed
    # file fingerprint must produce a DIFFERENT key
    k1 = S._memo_key(spark, sf, "t")
    orig = S._fingerprint
    try:
        S._fingerprint = lambda path: ("mutated", 0)
        k2 = S._memo_key(spark, sf, "t")
    finally:
        S._fingerprint = orig
    assert k1 is not None and k2 is not None and k1 != k2


def test_ivfadc_family_builds_each_artifact_once(spark, monkeypatch):
    """The PQ/IVFADC eval family shares its builds: one row per variant
    trains every Lloyd artifact exactly once and derives the clustered
    corpus once, and a second pass over all of the family's registered
    rows trains nothing and memoizes nothing new."""
    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.operators import (
        similarity as S,
    )

    sf = "/root/testdata/sf0.001"
    qs = all_queries()
    family = [n for n in qs if n.startswith(("q_sim_pq", "q_sim_ivfadc"))]
    assert len(family) == 15
    one_per_variant = (
        "q_sim_pq_recall",  # raw PQ codebook + full-scan ADC + raw yardstick
        "q_sim_ivfadc",  # seeded
        "q_sim_ivfadc_probe_sweep",
        "q_sim_ivfadc_clustered_recall",
        "q_sim_ivfadc_trained_recall",
        "q_sim_ivfadc_trained_probe_sweep",
        "q_sim_ivfadc_serving",
        "q_sim_ivfadc_serving_clustered",
        "q_sim_ivfadc_incremental_recall",
    )
    calls = {"lloyd": 0, "clustered_corpus": 0}
    lloyd, clustered_corpus = S.lloyd, S._clustered_corpus

    def counted_lloyd(*a, **k):
        calls["lloyd"] += 1
        return lloyd(*a, **k)

    def counted_clustered_corpus(*a, **k):
        calls["clustered_corpus"] += 1
        return clustered_corpus(*a, **k)

    monkeypatch.setattr(S, "lloyd", counted_lloyd)
    monkeypatch.setattr(S, "_clustered_corpus", counted_clustered_corpus)
    saved = dict(S._MEMO)
    try:
        S._MEMO.clear()
        for name in one_per_variant:
            qs[name](spark, sf)
        # raw PQ, then the seeded, clustered and incremental residual
        # codebooks, then cells + codebook for trained and clustered
        # trained: 1 + 3 + 2 * 2
        assert calls == {"lloyd": 8, "clustered_corpus": 1}, calls
        n_memo = len(S._MEMO)
        for name in family:
            qs[name](spark, sf)
        assert calls == {"lloyd": 8, "clustered_corpus": 1}, calls
        assert len(S._MEMO) == n_memo
    finally:
        S._MEMO.clear()
        S._MEMO.update(saved)


def test_ann_eval_window_excludes_construction_seeds(spark):
    """Round 10's flagship bug, generalized into a standing guard
    (VERDICT r10 item 8): the ANN eval window must not contain any
    vector the index geometry is BUILT FROM — coarse cells, codebook
    seeds, cluster centers, Lloyd seeds. The original window
    (vec_id < 20) was 80% zero-residual construction vectors; both
    engines shared the bias, so hash parity stayed green while every
    published recall number read 3-6x high. The seed sets are DERIVED
    from the same constants the constructions use
    (similarity.eval_window_seed_violations), so a new eval or a moved
    seed range is re-checked automatically; the mutation cases prove
    the guard actually fires when a window lands on a seed family."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        N_CELLS,
        PQ_K,
        PQ_Q_HI,
        PQ_Q_LO,
        _emb,
        eval_window_seed_violations,
    )

    # the live window is clean
    assert eval_window_seed_violations() == {}
    # and POPULATED on every fixture (a window past the corpus would
    # silently shrink the eval): the smallest fixture must cover it
    n = _emb(spark, "/root/testdata/sf0.001").count()
    assert n >= PQ_Q_HI, (n, PQ_Q_HI)
    # mutation checks: shift the window onto each seed family and the
    # guard must fire for exactly the families it lands on
    v = eval_window_seed_violations(lo=0, hi=PQ_Q_HI)
    assert set(v) == {
        "ivfadc_cells",
        "ivfadc_residual_codebook",
        "pq_raw_codebook",
        "clustered_centers",
        "trained_cent_lloyd_seeds",
    }, v
    # round 10's actual bug: a window starting at 0 of width 20
    v20 = eval_window_seed_violations(lo=0, hi=20)
    assert "ivfadc_cells" in v20 and len(v20["ivfadc_cells"]) == N_CELLS
    # a window clipping just the codebook seeds flags only seed
    # families living there
    vcb = eval_window_seed_violations(lo=N_CELLS + PQ_K - 1, hi=PQ_Q_HI)
    assert set(vcb) == {"ivfadc_residual_codebook"}, vcb
    # one id past the seeds is clean again — the boundary is exact
    assert eval_window_seed_violations(lo=N_CELLS + PQ_K) == {}
    assert PQ_Q_LO == N_CELLS + PQ_K


def test_ivfadc_family_cross_query_consistency(spark):
    """The IVFADC eval rows are independent implementations over the
    same index — where they overlap they must agree exactly, or one of
    them is lying (the degenerate-codebook lesson again, but caught by
    cross-checking our own rows instead of the oracle): (a) the rerank
    sweep must be monotone non-decreasing in shortlist depth (a deeper
    shortlist can only add candidates to the exact re-rank); (b) its
    R=1 level IS the ADC top-1 by construction, so it must equal
    q_sim_ivfadc_recall's recall@1; (c) its R=PQ_RERANK level must
    equal q_sim_ivfadc_rerank_recall (the sweep derives levels by
    filtering ADC rank; the dedicated row re-ranks directly); (d) no
    recall row may exceed the probe hit-rate ceiling.

    Since the VERDICT r10 item 1 fold, q_sim_ivfadc_recall /
    q_sim_ivfadc_rerank_recall / q_sim_ivfadc_ceiling are UNREGISTERED
    helpers whose numbers the registered sweeps publish as curve
    points — (b'), (c'), (e) pin that the fold preserved them: the
    probe sweep's n_probe=N_PROBE row must carry exactly the helper's
    recall/cand_frac, its ceiling_at_probe column exactly the ceiling
    helper's number, and the TRAINED sweep's R=PQ_RERANK level exactly
    q_sim_ivfadc_trained_rerank_recall (VERDICT r10 item 3)."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        N_PROBE,
        PQ_NQ,
        PQ_RERANK,
        RERANK_LEVELS,
        q_sim_ivfadc_ceiling,
        q_sim_ivfadc_probe_sweep,
        q_sim_ivfadc_recall,
        q_sim_ivfadc_rerank_recall,
        q_sim_ivfadc_rerank_sweep,
        q_sim_ivfadc_trained_rerank_recall,
        q_sim_ivfadc_trained_rerank_sweep,
    )

    sf = "/root/testdata/sf0.001"
    sweep = {
        r["r_depth"]: r["recall_at_1"]
        for r in q_sim_ivfadc_rerank_sweep(spark, sf).collect()
    }
    assert sorted(sweep) == sorted(RERANK_LEVELS)
    levels = sorted(sweep)
    # Monotonicity holds up to rounded ties: l2_dist is rounded to 4 dp,
    # so a deeper shortlist can admit a candidate that TIES the true
    # NN's rounded distance and wins the neighbor_id tie-break,
    # legitimately costing one query (ADVICE r10). Allow one
    # query's worth of slack per step; a real regression loses more.
    tol = 1.0 / PQ_NQ + 1e-9
    assert all(
        sweep[b] >= sweep[a] - tol for a, b in zip(levels, levels[1:])
    ), sweep
    recall_row = q_sim_ivfadc_recall(spark, sf).head()
    adc1 = recall_row["recall_at_1"]
    assert sweep[1] == adc1, (sweep[1], adc1)
    rr = q_sim_ivfadc_rerank_recall(spark, sf).head()["recall_at_1"]
    assert sweep[PQ_RERANK] == rr, (sweep[PQ_RERANK], rr)
    ceiling = q_sim_ivfadc_ceiling(spark, sf).head()["ceiling_at_probe"]
    assert max(sweep.values()) <= ceiling + 1e-9, (sweep, ceiling)
    assert adc1 <= ceiling + 1e-9
    # (b')/(e): the registered probe sweep's n_probe=N_PROBE row carries
    # the folded helpers' numbers exactly
    probe = {
        r["n_probe"]: r for r in q_sim_ivfadc_probe_sweep(spark, sf).collect()
    }
    assert probe[N_PROBE]["recall_at_1"] == adc1, (probe[N_PROBE], adc1)
    assert probe[N_PROBE]["cand_frac"] == recall_row["cand_frac"]
    assert probe[N_PROBE]["ceiling_at_probe"] == ceiling, (
        probe[N_PROBE],
        ceiling,
    )
    # and per level, recall never exceeds that level's own ceiling
    for r in probe.values():
        assert r["recall_at_1"] <= r["ceiling_at_probe"] + 1e-9, r
    # (c') on the TRAINED index: registered sweep vs dedicated row
    tsweep = {
        r["r_depth"]: r["recall_at_1"]
        for r in q_sim_ivfadc_trained_rerank_sweep(spark, sf).collect()
    }
    assert sorted(tsweep) == sorted(RERANK_LEVELS)
    trr = q_sim_ivfadc_trained_rerank_recall(spark, sf).head()["recall_at_1"]
    assert tsweep[PQ_RERANK] == trr, (tsweep[PQ_RERANK], trr)
    tlv = sorted(tsweep)
    assert all(
        tsweep[b] >= tsweep[a] - tol for a, b in zip(tlv, tlv[1:])
    ), tsweep
    # (b'') trained probe sweep @ N_PROBE must carry exactly
    # q_sim_ivfadc_trained_recall's recall/cand_frac (independent
    # implementations over the same trained index)
    from distributed_causal_stream_processing_spark.operators.similarity import (
        q_sim_ivfadc_trained_probe_sweep,
        q_sim_ivfadc_trained_recall,
    )

    tprobe = {
        r["n_probe"]: r
        for r in q_sim_ivfadc_trained_probe_sweep(spark, sf).collect()
    }
    tr = q_sim_ivfadc_trained_recall(spark, sf).head()
    assert tprobe[N_PROBE]["recall_at_1"] == tr["recall_at_1"]
    assert tprobe[N_PROBE]["cand_frac"] == tr["cand_frac"]
    for r in tprobe.values():
        assert r["recall_at_1"] <= r["ceiling_at_probe"] + 1e-9, r
    # and the trained re-rank ladder is bounded by the trained ceiling
    assert max(tsweep.values()) <= tprobe[N_PROBE]["ceiling_at_probe"] + 1e-9
    # (f) the RECOMMENDED serving row (VERDICT r11 item 4) agrees with
    # the curves it was read off: its candidate set IS the trained
    # index probed at SERVING_PROBE, so cand_frac must equal the
    # trained probe sweep's row exactly; a hit requires the exact NN
    # among the candidates, so recall is bounded by that row's ceiling;
    # and re-ranking an R-deep shortlist can't do worse than the
    # code-only top-1 beyond rounded-tie slack (R=1 re-rank IS the
    # code-only answer; each deeper level risks one tie per step).
    from distributed_causal_stream_processing_spark.operators.similarity import (
        RERANK_LEVELS as _RL,
        SERVING_PROBE,
        q_sim_ivfadc_serving,
    )

    srows = q_sim_ivfadc_serving(spark, sf).collect()
    assert len(srows) == PQ_NQ
    srecall = {r["recall_at_1"] for r in srows}
    scand = {r["cand_frac"] for r in srows}
    assert len(srecall) == 1 and len(scand) == 1  # constant stat columns
    srecall, scand = srecall.pop(), scand.pop()
    assert scand == tprobe[SERVING_PROBE]["cand_frac"], (
        scand,
        tprobe[SERVING_PROBE],
    )
    assert srecall <= tprobe[SERVING_PROBE]["ceiling_at_probe"] + 1e-9
    # the stat column is the mean of the per-row hit flags, rounded
    assert srecall == round(sum(r["hit"] for r in srows) / len(srows), 4)
    assert srecall >= tprobe[SERVING_PROBE]["recall_at_1"] - (len(_RL) - 1) * tol


def test_kcenter_selection_guard_and_coverage_scoring_set(spark):
    """The seed-exclusion guard extended to the k-center family
    (VERDICT r11 item 7): the greedy selection's structural invariants
    are audited by similarity.kcenter_selection_violations (clean on
    the live selection, and the mutation cases prove each check
    fires), and the coverage eval's scoring set is pinned to what the
    docstring claims — "max over the corpus", i.e. ALL vectors
    INCLUDING the selected exemplars: the registered row's numbers
    must equal a full-corpus recomputation, and EXCLUDING the
    exemplars must move the mean (they contribute exact zeros) while
    leaving the max invariant — so the assertion has teeth in both
    directions."""
    import pyspark.sql.functions as F

    from distributed_causal_stream_processing_spark.operators import (
        similarity as S,
    )

    sf = "/root/testdata/sf0.001"
    rows, sel_vecs = S._kcenter_selection(spark, sf)
    e = S._emb(spark, sf)
    min_id = e.agg(F.min("vec_id")).head()[0]
    assert S.kcenter_selection_violations(rows, corpus_min_id=min_id) == {}
    assert len(rows) == S.KC_K

    # mutation checks: each doctored selection trips exactly its check
    dup = [rows[0], rows[1], (3, rows[1][1], rows[1][2])]
    assert "duplicate_exemplar" in S.kcenter_selection_violations(dup)
    seeded = [(1, rows[0][1], 0.5)] + rows[1:]
    assert "seed_has_distance" in S.kcenter_selection_violations(seeded)
    assert "seed_not_min_vec_id" in S.kcenter_selection_violations(
        rows, corpus_min_id=min_id + 1
    )
    riser = [rows[0], (2, rows[1][1], 1.0), (3, rows[2][1], 2.0)]
    assert "ladder_not_monotone" in S.kcenter_selection_violations(riser)
    # degenerate shapes are VIOLATIONS, not crashes (review r12)
    assert S.kcenter_selection_violations([]) == {"empty_selection": True}
    holey = [rows[0], (2, rows[1][1], None), rows[2]]
    assert "missing_distance" in S.kcenter_selection_violations(holey)

    # scoring-set pin: registered row == full-corpus recomputation
    def cov_stats(frame):
        c = frame.select(
            F.round(S._kcenter_min_d2(sel_vecs) * 10000)
            .cast("bigint")
            .alias("dg")
        )
        return c.agg(
            F.round(F.max("dg") / F.lit(10000.0), 4).alias("mx"),
            F.round(
                F.sum("dg") / (F.count(F.lit(1)) * F.lit(10000.0)), 4
            ).alias("mean"),
        ).head()

    reg = S.q_sample_diverse_coverage(spark, sf).head()
    full = cov_stats(e)
    assert reg["max_d2_greedy"] == full["mx"]
    assert reg["mean_d2_greedy"] == full["mean"]
    # the exemplars really are IN the scoring set: dropping them moves
    # the mean (12 exact zeros leave) but never the covering radius
    sel_ids = [r[1] for r in rows]
    excl = cov_stats(e.filter(~F.col("vec_id").isin(sel_ids)))
    assert excl["mean"] != full["mean"], (excl, full)
    assert excl["mx"] == full["mx"]


def _brute_dep_layers(rows):
    """Brute-force longest-path layers for the q_causal_deps DAG.

    rows: list of (user_id, us, event_type); event_id = list index.
    Returns {event_id: (dep_id, layer)} computed by literal DP in
    global (us, event_id) order — the semantic spec, shared with
    nothing in the engine."""
    order = sorted(range(len(rows)), key=lambda i: (rows[i][1], i))
    last = {}  # user -> layer of last event
    click = {}  # user -> (layer, event_id) of latest click
    out = {}
    for i in order:
        user, _us, etype = rows[i]
        layer = last.get(user, -1) + 1
        dep = None
        partner = user ^ 1
        if etype == "purchase" and partner in click:
            c_layer, c_id = click[partner]
            dep = c_id
            layer = max(layer, c_layer + 1)
        if etype == "click":
            click[user] = (layer, i)
        last[user] = layer
        out[i] = (dep, layer)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(
            # user_id spans NEGATIVE ids too (ADVICE r13): pair(u) must
            # be floor(u/2) so users -2 and -1 share a pair and the
            # XOR-partner model (_brute_dep_layers' `user ^ 1`, exact
            # for two's complement negatives) stays the spec — a
            # truncating div would cram -1, 0, 1 into one pair
            st.integers(-4, 5),  # user_id: 5 pairs, 2 negative
            st.integers(0, 30),  # us (ties exercised via event_id break)
            st.sampled_from(["click", "purchase", "view"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_causal_dep_layers_match_brute_force(spark, rows):
    """The block-unrolled pair-window relaxation computes EXACT
    longest-path layers and dep edges on arbitrary small event sets —
    alternating cross-dependencies, timestamp ties, purchase-before-
    any-click, single-member pairs, negative user ids (the cases a
    closed-form shortcut or a truncating pair division could silently
    get wrong)."""
    from distributed_causal_stream_processing_spark.operators.recursion import (
        causal_dep_layers,
    )

    df = spark.createDataFrame(
        [(i, u, t, us) for i, (u, us, t) in enumerate(rows)],
        "event_id long, user_id long, event_type string, us long",
    )
    got = {
        r.event_id: (r.dep_id, r.causal_layer)
        for r in causal_dep_layers(df).collect()
    }
    assert got == _brute_dep_layers(rows)


def test_deps_relaxation_oracle_matches_path_recursion():
    """The SHIPPED q_causal_deps oracle (unrolled window relaxation,
    VERDICT r13 item 5 — 34.8 s → 1.5 s at sf0.01) must stay pinned to
    the ORIGINAL path-recursion formulation, which shares no algorithm
    with either it or the Spark plan. DuckDB-only: both oracles on the
    sf0.001 events fixture, row-for-row."""
    import duckdb

    from distributed_causal_stream_processing_spark.operators.recursion import (
        DEPS_PATH_RECURSION_ORACLE,
        _deps_relaxation_oracle,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    shipped = sorted(con.execute(_deps_relaxation_oracle()).fetchall())
    recursive = sorted(con.execute(DEPS_PATH_RECURSION_ORACLE).fetchall())
    assert len(shipped) == 1000
    assert shipped == recursive


def test_deps_relaxation_oracle_raises_when_not_converged():
    """The relaxation oracle VERIFIES convergence instead of trusting
    the unroll margin: a dependency chain deeper than the round budget
    must error(), never hash an understated layer. Synthetic ping-pong
    pair (each purchase depends on the partner's climbing click layer)
    needs ~8 cross hops; a 2-round oracle must refuse it and the full
    budget must accept it."""
    import duckdb

    from distributed_causal_stream_processing_spark.operators.recursion import (
        _deps_relaxation_oracle,
    )

    rows = []
    for i in range(8):
        u = i % 2
        # click then purchase per step: the purchase's dep layer rises
        # with every alternation, so layers propagate one hop per round
        rows.append((4 * i, u, "click"))
        rows.append((4 * i + 1, 1 - u, "purchase"))
    values = ", ".join(
        f"({eid}, {uid}, '{et}', TIMESTAMP '2024-01-01 00:00:00' "
        f"+ INTERVAL ({eid}) SECOND)"
        for eid, uid, et in rows
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM (VALUES "
        + values
        + ") t(event_id, user_id, event_type, ts)"
    )
    ok = con.execute(_deps_relaxation_oracle()).fetchall()
    assert len(ok) == len(rows)
    with pytest.raises(duckdb.Error, match="not .*converged"):
        con.execute(_deps_relaxation_oracle(rounds=2)).fetchall()

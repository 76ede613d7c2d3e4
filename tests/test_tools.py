"""Bench-regression tripwire behavior (VERDICT r06 item 2): a healthy
run must exit 0 without re-timing anything; host jitter must be cleared
by the warm re-run; a genuine 2x slowdown must survive it and trip."""

from __future__ import annotations

import json
import os

from tests.conftest import REPO_DIR
from tools import check_bench_regression as cbr


def _detail(queries: dict[str, float], sf: float = 0.1) -> dict:
    return {"sf": sf, "queries": queries, "iterative": {"warm": {}}}


def _ref(queries: dict[str, float], sf: float = 0.1) -> dict:
    return {"sf": sf, "queries": queries}


def test_healthy_run_flags_nothing():
    ref = _ref({"q_a": 1.0, "q_b": 0.3})
    det = _detail({"q_a": 1.4, "q_b": 0.4})
    flagged, new, n = cbr.candidates(ref, det, 2.0)
    assert flagged == [] and new == [] and n == 2


def test_subsecond_jitter_below_floor_not_flagged():
    # the r06 false positive shape: 0.25 -> 0.88s is >2x but <0.5s floor
    # would still flag at 0.75s delta... the floor covers <=0.5s deltas
    ref = _ref({"q_text_stats": 0.25})
    det = _detail({"q_text_stats": 0.74})
    flagged, _, _ = cbr.candidates(ref, det, 2.0)
    assert flagged == []


def _write_pair(tmp_path, ref: dict, det: dict) -> None:
    (tmp_path / "BENCH_REFERENCE.json").write_text(json.dumps(ref))
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(det))


def test_warm_rerun_clears_host_jitter(tmp_path, monkeypatch, capsys):
    """0.25s ref, 0.88s recorded (the literal r06 case): the warm re-run
    measures 0.36s -> cleared, rc 0, no REGRESSION line — and the
    re-measurement is persisted so a later static read stays clear."""
    _write_pair(tmp_path, _ref({"q_text_stats": 0.25}), _detail({"q_text_stats": 0.88}))
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(cbr, "retime", lambda names, sf, runs=2: {"q_text_stats": 0.36})
    rc = cbr.main([])
    out = capsys.readouterr().out
    assert rc == 0
    assert "cleared by warm re-run" in out
    assert "REGRESSION" not in out
    # VERDICT r07 item 1: adjudication persisted; static re-read is clean
    healed = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert healed["adjudicated"] == {"q_text_stats": 0.36}
    flagged, _, _ = cbr.candidates(_ref({"q_text_stats": 0.25}), healed, 2.0)
    assert flagged == []


def test_genuine_regression_survives_warm_rerun(tmp_path, monkeypatch, capsys):
    """A real 2x+ slowdown reproduces warm, still exits 1, and the
    persisted adjudication does NOT heal the static view either."""
    _write_pair(tmp_path, _ref({"q_join_inner": 1.2}), _detail({"q_join_inner": 3.9}))
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(cbr, "retime", lambda names, sf, runs=2: {"q_join_inner": 3.7})
    rc = cbr.main([])
    out = capsys.readouterr().out
    assert rc == 1
    assert "REGRESSION q_join_inner" in out and "warm-confirmed" in out
    healed = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    flagged, _, _ = cbr.candidates(_ref({"q_join_inner": 1.2}), healed, 2.0)
    assert [f[0] for f in flagged] == ["q_join_inner"]


def test_adjudicated_map_honored_statically():
    """candidates() takes the min over final, warm, and adjudicated
    timings — a persisted warm re-measurement inside the band clears the
    raw noisy-window number without any Spark session."""
    ref = _ref({"q_a": 0.3})
    det = _detail({"q_a": 1.1})
    det["adjudicated"] = {"q_a": 0.35}
    flagged, _, _ = cbr.candidates(ref, det, 2.0)
    assert flagged == []


def test_healthy_run_never_spins_up_spark(tmp_path, monkeypatch):
    """No candidates -> retime must not be called (no Spark session).
    Hermetic via tmp_path + ROOT (round 15): the previous json.load
    patch still open()ed the real BENCH_DETAIL.json, so the test only
    passed when a stale uncommitted detail file happened to exist."""
    _write_pair(tmp_path, _ref({"q_a": 1.0}), _detail({"q_a": 1.1}))
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))

    def boom(*a, **k):
        raise AssertionError("retime called on a healthy run")

    monkeypatch.setattr(cbr, "retime", boom)
    assert cbr.main([]) == 0


def test_sf_mismatch_skips(tmp_path, monkeypatch, capsys):
    _write_pair(tmp_path, _ref({"q_a": 1.0}, sf=0.1), _detail({"q_a": 9.0}, sf=0.01))
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    assert cbr.main([]) == 0
    assert "sf mismatch" in capsys.readouterr().out


def test_cpus_mismatch_skips(tmp_path, monkeypatch, capsys):
    """ADVICE r15: a low-core scaling run (the driver benches at cpus=8
    too) writes a detail whose timings are legitimately ~2x the 32-core
    reference; the tripwire must skip, not flag."""
    ref = _ref({"q_a": 1.0})
    ref["cpus"] = 32
    det = _detail({"q_a": 9.0})
    det["cpus"] = 8
    _write_pair(tmp_path, ref, det)
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(
        cbr, "retime", lambda *a, **k: (_ for _ in ()).throw(AssertionError)
    )
    assert cbr.main([]) == 0
    assert "cpus mismatch" in capsys.readouterr().out


def test_bench_self_adjudication_clears_noisy_window(monkeypatch):
    """VERDICT r08 item 1: bench.py's end-of-suite pass warm-retimes any
    query still past the band and the resulting adjudicated map makes
    the detail statically green — no manual tool run needed."""
    from distributed_causal_stream_processing_spark import benchlib

    monkeypatch.setattr(
        benchlib, "time_query_noop", lambda q, n, s, d, runs=1: 0.83
    )
    ref = _ref({"q_agg_ewma": 0.614})
    # the literal r08 shape: committed 1.306s (2.13x), warm pass absent
    adj = benchlib.adjudicate_against_reference(
        {}, None, "", {"q_agg_ewma": 1.306}, {}, ref, 0.1, log=lambda m: None
    )
    assert adj == {"q_agg_ewma": 0.83}
    det = _detail({"q_agg_ewma": 1.306})
    det["adjudicated"] = adj
    flagged, _, _ = cbr.candidates(ref, det, 2.0)
    assert flagged == []


def test_bench_self_adjudication_cannot_heal_genuine_regression(monkeypatch):
    """An injected genuine 2x slowdown re-measures slow: the map records
    the honest warm number and the static gate still flags it."""
    from distributed_causal_stream_processing_spark import benchlib

    monkeypatch.setattr(
        benchlib, "time_query_noop", lambda q, n, s, d, runs=1: 3.7
    )
    ref = _ref({"q_join_inner": 1.2})
    adj = benchlib.adjudicate_against_reference(
        {}, None, "", {"q_join_inner": 3.9}, {}, ref, 0.1, log=lambda m: None
    )
    assert adj == {"q_join_inner": 3.7}
    det = _detail({"q_join_inner": 3.9})
    det["adjudicated"] = adj
    flagged, _, _ = cbr.candidates(ref, det, 2.0)
    assert [f[0] for f in flagged] == ["q_join_inner"]


def test_bench_self_adjudication_skips_inband_and_warm_cleared(monkeypatch):
    """Queries inside the band — including those already cleared by the
    quartet warm pass — must not be retimed (no wasted suite tail), and
    a failed retime is reported, never silently swallowed."""
    from distributed_causal_stream_processing_spark import benchlib

    def boom(q, n, s, d, runs=1):
        raise AssertionError("retimed an in-band query")

    monkeypatch.setattr(benchlib, "time_query_noop", boom)
    ref = _ref({"q_ok": 1.0, "q_warm_ok": 0.6})
    adj = benchlib.adjudicate_against_reference(
        {},
        None,
        "",
        {"q_ok": 1.3, "q_warm_ok": 1.9},  # q_warm_ok raw is past band...
        {"q_warm_ok": 0.7},  # ...but its warm pass already cleared it
        ref,
        0.1,
        log=lambda m: None,
    )
    assert adj == {}
    # sf mismatch -> no-op even with past-band timings
    adj = benchlib.adjudicate_against_reference(
        {}, None, "", {"q_ok": 99.0}, {}, ref, 0.01, log=lambda m: None
    )
    assert adj == {}
    # retime failure -> warning logged, query left out of the map
    logged = []
    monkeypatch.setattr(benchlib, "time_query_noop", lambda q, n, s, d, runs=1: None)
    adj = benchlib.adjudicate_against_reference(
        {}, None, "", {"q_ok": 9.0}, {}, ref, 0.1, log=logged.append
    )
    assert adj == {} and any("retime for q_ok failed" in m for m in logged)


def test_band_constants_shared():
    """The tripwire's band is literally benchlib's (ADVICE r08): tuning
    one cannot silently diverge from the other."""
    from distributed_causal_stream_processing_spark import benchlib

    assert cbr.DEFAULT_THRESHOLD is benchlib.REGRESSION_THRESHOLD
    assert cbr.MIN_DELTA_S is benchlib.MIN_DELTA_S


def test_committed_detail_is_healthy_against_reference():
    """The repo's own BENCH_DETAIL vs BENCH_REFERENCE produces no
    flags once warm adjudications are honored (VERDICT r07 item 1).
    bench.py now re-runs per-reference outliers itself and the tripwire
    persists warm re-measurements, so any surviving flag here is a
    warm-confirmed regression — a genuine failure, not host jitter.
    If a noisy-window detail does land unadjudicated, run
    ``python tools/check_bench_regression.py`` once: rc 0 heals the
    artifact, rc 1 means the engine really regressed."""
    import pytest

    ref = json.load(open(os.path.join(REPO_DIR, "BENCH_REFERENCE.json")))
    try:
        det = json.load(open(os.path.join(REPO_DIR, "BENCH_DETAIL.json")))
    except FileNotFoundError:
        # BENCH_DETAIL.json is a per-run artifact (gitignored): on a
        # fresh checkout there is nothing to adjudicate yet — that is
        # "no bench has run", not "the bench regressed" (round 15)
        pytest.skip("no local BENCH_DETAIL.json — run bench.py first")
    if det.get("sf") != ref.get("sf"):
        return  # comparison skipped by design
    if det.get("cpus") != ref.get("cpus"):
        # ADVICE r15: a scaling run (e.g. the driver's cpus=8 pass) or a
        # pre-stamp detail is not comparable to the 32-core reference
        pytest.skip(
            f"detail ran at cpus={det.get('cpus')}, reference is "
            f"cpus={ref.get('cpus')} — not comparable"
        )
    flagged, _, n = cbr.candidates(ref, det, 2.0)
    assert n > 100
    assert flagged == []


def test_index_build_regression_trips_and_heals(tmp_path, monkeypatch, capsys):
    """Mutation proof for VERDICT r11 item 2: a slowed cold index build
    IS caught by the tripwire's band (previously invisible — the memo
    meant no bench row measured builds, and query references recorded
    warm healed themselves via the retry). A build at 3x its reference
    with a warm re-measurement still slow must exit 1 with a REGRESSION
    line; the same detail with a healthy build flags nothing and never
    spins up Spark."""
    ref = _ref({"q_a": 1.0})
    ref["index_build"] = {"build_pq_codebook": 3.0}
    # healthy: inside the band -> no candidates, no retime
    det = _detail({"q_a": 1.1})
    det["index_build"] = {"build_pq_codebook": 3.4}
    flagged, new, n = cbr.candidates(ref, det, 2.0)
    assert flagged == [] and new == [] and n == 2
    # mutation: the build runs 3x slow and reproduces on the re-measure
    det_bad = _detail({"q_a": 1.1})
    det_bad["index_build"] = {"build_pq_codebook": 9.0}
    flagged, _, _ = cbr.candidates(ref, det_bad, 2.0)
    assert [f[0] for f in flagged] == ["build_pq_codebook"]
    _write_pair(tmp_path, ref, det_bad)
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(cbr, "persist_adjudication", lambda *a, **k: None)
    monkeypatch.setattr(
        cbr, "retime", lambda names, sf, runs=2: {"build_pq_codebook": 8.8}
    )
    assert cbr.main([]) == 1
    assert "REGRESSION build_pq_codebook" in capsys.readouterr().out


def test_index_build_host_jitter_cleared_by_retime(tmp_path, monkeypatch, capsys):
    """The flip side: a build inflated by a host window clears on the
    warm cold-rebuild re-measurement (same false-positive policy as
    queries) and exits 0."""
    ref = _ref({"q_a": 1.0})
    ref["index_build"] = {"build_ivfadc_trained": 8.0}
    det = _detail({"q_a": 1.1})
    det["index_build"] = {"build_ivfadc_trained": 25.0}
    _write_pair(tmp_path, ref, det)
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(cbr, "persist_adjudication", lambda *a, **k: None)
    monkeypatch.setattr(
        cbr, "retime", lambda names, sf, runs=2: {"build_ivfadc_trained": 8.6}
    )
    assert cbr.main([]) == 0
    out = capsys.readouterr().out
    assert "cleared by warm re-run" in out and "REGRESSION" not in out


def test_index_build_reference_rows_exist():
    """BENCH_REFERENCE must carry a reference for every build the bench
    times — a build missing from the reference is only ever listed as
    'new', i.e. unprotected, which is exactly the blind spot this block
    closes."""
    from distributed_causal_stream_processing_spark.benchlib import INDEX_BUILDS

    ref = json.load(open(os.path.join(REPO_DIR, "BENCH_REFERENCE.json")))
    assert set(ref.get("index_build", {})) == set(INDEX_BUILDS)


def test_dead_build_probe_fails_loudly(tmp_path, monkeypatch, capsys):
    """A bench whose index_build probe errored (or silently vanished)
    must NOT read as healthy (review r12): the reference carries build
    rows, the detail doesn't — that is the build family UNVERIFIED,
    the very blind spot the block closes — so main() exits 1 and says
    so. No Spark spin-up: the queries themselves are in-band."""
    ref = _ref({"q_a": 1.0})
    ref["index_build"] = {"build_pq_codebook": 3.0}
    det = _detail({"q_a": 1.1})
    det["index_build"] = {"error": "RuntimeError: boom"}
    _write_pair(tmp_path, ref, det)
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(
        cbr, "retime", lambda *a, **k: (_ for _ in ()).throw(AssertionError("retime"))
    )
    assert cbr.main([]) == 1
    assert "UNVERIFIED" in capsys.readouterr().out


def test_reanchored_rows_printed_every_run(tmp_path, monkeypatch, capsys):
    """BASELINE.md's re-anchor policy: every upward reference re-anchor
    recorded in BENCH_REFERENCE's ``reanchored`` map is printed with its
    old/new values on EVERY run (healthy or not), so no future verdict
    needs archaeology to see a reference that moved up."""
    ref = _ref({"q_a": 1.0, "q_cube": 1.5})
    ref["reanchored"] = {
        "q_cube": {
            "old": 0.6,
            "new": 1.5,
            "round": 12,
            "evidence": "prior-tree A/B + two-window confirm",
        }
    }
    det = _detail({"q_a": 1.1, "q_cube": 1.6})
    _write_pair(tmp_path, ref, det)
    monkeypatch.setattr(cbr, "ROOT", str(tmp_path))
    monkeypatch.setattr(
        cbr, "retime", lambda *a, **k: (_ for _ in ()).throw(AssertionError("retime"))
    )
    assert cbr.main([]) == 0
    out = capsys.readouterr().out
    assert "re-anchored (r12): q_cube 0.600s -> 1.500s" in out
    assert "prior-tree A/B" in out


def test_committed_reference_reanchor_map_is_seeded():
    """The two round-12 re-anchors must live in the committed map —
    the lifetime record the policy's condition 3 requires."""
    ref = json.load(
        open(os.path.join(os.path.dirname(cbr.__file__), "..", "BENCH_REFERENCE.json"))
    )
    m = ref["reanchored"]
    assert m["q_agg_cube"]["old"] == 0.603 and m["q_agg_cube"]["new"] == 1.466
    assert m["q_view_maintain"]["old"] == 0.403 and m["q_view_maintain"]["new"] == 0.654
    for row in m.values():
        assert row["new"] > row["old"] and row["evidence"]


def test_release_storage_frees_dead_checkpoint_blocks(spark):
    """benchlib.release_storage: blocks pinned by a dead (unreferenced)
    localCheckpoint are freed by the python-gc + JVM-gc sequence —
    without it a 32 GB heap can hold them for the whole session
    (BASELINE.md round-13 notes). Live checkpoints must survive."""
    from distributed_causal_stream_processing_spark.benchlib import release_storage

    sc = spark.sparkContext

    def n_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    # baseline-relative: in the shared test session other fixtures'
    # memoized artifacts legitimately pin blocks — settle them first,
    # then assert only about the two checkpoints THIS test creates
    release_storage(spark, settle_s=2.0)
    baseline = n_rdds()
    live = spark.range(100000).localCheckpoint(eager=True)
    dead = spark.range(200000).localCheckpoint(eager=True)
    assert n_rdds() >= baseline + 2
    del dead
    # the dead block set shrinks back; the live checkpoint still answers
    for _ in range(6):  # ContextCleaner is async — allow a few settles
        if n_rdds() <= baseline + 1:
            break
        release_storage(spark, settle_s=2.0)
    assert n_rdds() <= baseline + 1
    assert live.count() == 100000


def test_gen_plans_chain_accounting_sees_checkpoint_shuffles(spark):
    """VERDICT r13 item 4: the plan audit must report the TRUE shuffle
    cost of checkpoint-cut iterative queries. q_causal_deps' final
    frame plans zero exchanges (lineage cut at each block boundary),
    but the chain — base window pass + one pair-hash exchange per
    unrolled block — shuffles at every checkpoint; the
    statusStore-based accounting must see them all. The convergence
    count is observed on each block's checkpoint, so it adds neither
    an execution nor an exchange. A single-pass query stays a single
    execution under the same counter."""
    from tools.gen_plans import chain_plan_stats

    from distributed_causal_stream_processing_spark import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"

    deps = chain_plan_stats(spark, qs["q_causal_deps"], sf)
    # base localCheckpoint + the one relaxation block sf0.001 needs +
    # final collect
    assert deps["executions"] == 3
    # the old per-frame regex said 0; the chain truth is the base
    # window's exchange plus the block's pair-hash exchange
    assert deps["exchanges"] == 2
    assert deps["window"]  # pair windows live in checkpointed fragments

    single = chain_plan_stats(spark, qs["q_agg_group"], sf)
    assert single["executions"] == 1
    assert single["exchanges"] >= 1  # the group-by shuffle still counts
    assert not single["python"]
    # volume column (round 15): the chain sum must see the per-block
    # shuffle rows too, and a single-pass agg moves its group rows
    assert deps["shuffle_records"] > single["shuffle_records"] > 0


def test_shuffle_volume_deterministic_and_chain_aware(spark):
    """benchlib.shuffle_volume (round 15): the scaling instrument's
    host-noise-immune axis. Records written must be EXACTLY
    reproducible run-to-run (that is the whole point — wall ratios
    needed a degraded-host adjudication nearly every round since r08),
    must sum over the full execution chain for checkpoint-cut
    iteratives, and must read 0 for a pure mapInPandas kernel path so
    the ratio is skipped, not divided by zero."""
    from distributed_causal_stream_processing_spark import all_queries
    from distributed_causal_stream_processing_spark.benchlib import shuffle_volume

    qs = all_queries()
    sf = "/root/testdata/sf0.001"

    r1, b1 = shuffle_volume(qs, "q_agg_group", spark, sf)
    r2, _ = shuffle_volume(qs, "q_agg_group", spark, sf)
    assert r1 == r2 and r1 > 0 and b1 > 0

    # iterative chain: per-round exchanges live in checkpointed
    # fragments the final frame's plan never shows; the chain sum must
    # dwarf the single-pass group-by's volume
    rc, _ = shuffle_volume(qs, "q_graph_components", spark, sf)
    assert rc > 100 * r1

    # unknown query -> None, kernel-only plan -> (0, 0)
    assert shuffle_volume(qs, "no_such_query", spark, sf) is None
    assert shuffle_volume(qs, "q_multimodal_decode", spark, sf) == (0, 0)


def test_volume_drift_annotation_pure():
    """scale_bench.annotate_volume_drift: >10% base-volume movement vs
    the prior committed sweep is marked and reported; within-band
    wiggle, new rows, and no-volume rows stay silent."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_bench_drift", os.path.join(REPO_DIR, "tools", "scale_bench.py")
    )
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)

    rows = {
        "moved": {"shuffle_mrec_base": 1.5},       # +50% vs prior
        "steady": {"shuffle_mrec_base": 1.02},     # +2% — in band
        "tiny": {"shuffle_mrec_base": 0.005},      # abs floor holds it
        "new": {"shuffle_mrec_base": 9.0},         # no prior row
        "novolume": {},                            # kernel-only path
    }
    prior = {
        "moved": {"shuffle_mrec_base": 1.0},
        "steady": {"shuffle_mrec_base": 1.0},
        "tiny": {"shuffle_mrec_base": 0.0},
        "novolume": {},
    }
    lines = sb.annotate_volume_drift(rows, prior)
    assert len(lines) == 1 and "moved" in lines[0]
    assert rows["moved"]["volume_drift_from_prior"] == {
        "prior_mrec": 1.0, "now_mrec": 1.5,
    }
    for k in ("steady", "tiny", "new", "novolume"):
        assert "volume_drift_from_prior" not in rows[k]


def test_parity_one_rejects_unknown_names_before_spark(monkeypatch, capsys):
    """A misspelled query name fails the run up front (exit 2, the
    unknown names on stderr) instead of raising KeyError after every
    earlier query has run; no Spark session is started for it."""
    from distributed_causal_stream_processing_spark import session
    from tools import parity_one

    def boom(*a, **k):
        raise AssertionError("get_spark called for an unknown query name")

    monkeypatch.setattr(session, "get_spark", boom)
    assert parity_one.main(["q_sim_pq", "q_no_such_query"]) == 2
    err = capsys.readouterr().err
    assert "q_no_such_query" in err and "q_sim_pq " not in err


def test_coverage_extras_section_matches_registry():
    """COVERAGE.md's extensions inventory is exactly what
    tools/gen_extras.py renders from the live registry: a query added,
    removed or re-documented without regenerating the table fails here.
    No Spark session is started."""
    from tools import gen_extras

    with open(gen_extras.COVERAGE) as fh:
        assert gen_extras.committed(fh.read()) == gen_extras.render()


class _Opt:
    def __init__(self, value=None):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _Exec:
    def __init__(self, eid, polls_until_complete):
        self.eid, self.polls = eid, polls_until_complete

    def executionId(self):
        return self.eid

    def completionTime(self):
        self.polls -= 1
        return _Opt(object() if self.polls < 0 else None)


class _Store:
    def __init__(self, execs):
        self.execs = {e.eid: e for e in execs}

    def execution(self, eid):
        return _Opt(self.execs.get(eid))


def test_completed_executions_waits_for_completion_times(monkeypatch):
    """No Spark: an execution whose completion time the status store
    has not written yet is polled until it has one; a record that never
    completes is returned as it is once the wait runs out, and an
    evicted id is left out."""
    from distributed_causal_stream_processing_spark import benchlib

    late = _Exec(1, polls_until_complete=3)
    recs = benchlib.completed_executions(_Store([_Exec(0, 0), late]), [0, 1, 2])
    assert [r.executionId() for r in recs] == [0, 1]
    assert late.polls < 0  # polled past its undefined completion time

    monkeypatch.setattr(benchlib, "COMPLETION_WAIT_S", 0.05)
    never = _Exec(3, polls_until_complete=10**9)
    recs = benchlib.completed_executions(_Store([never]), [3])
    assert [r.executionId() for r in recs] == [3]


def test_profile_query_prints_na_for_unfinished_execution():
    """A duration the store cannot give prints as n/a, never nan."""
    from tools.profile_query import format_execution_row

    line = format_execution_row((4, None, 2, 1_000, 2_048))
    assert "n/a" in line and "nan" not in line
    assert "shuffle_records=1,000" in line
    assert "  1.500s" in format_execution_row((4, 1.5, 2, 1_000, 2_048))

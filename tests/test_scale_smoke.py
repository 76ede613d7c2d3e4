"""Scale smoke: the flagship agg and the fact-fact join on a 5×-scaled
lineitem/orders (~3M lineitem rows, disjoint keys per copy).

Not a benchmark — a guard that the plans stay healthy as data grows:
row counts scale exactly, runtimes stay within a generous linearity
envelope (hash agg and sort-merge join are O(n) / O(n log n); a
quadratic regression would blow straight through it).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

SF_BASE = "/root/testdata/sf0.1"
COPIES = 5


@pytest.fixture(scope="module")
def scaled(spark, tmp_path_factory):
    from distributed_causal_stream_processing_spark.io import load

    root = tmp_path_factory.mktemp("scaled")
    li, o = load(spark, SF_BASE, "lineitem"), load(spark, SF_BASE, "orders")
    key_span = 10_000_000  # > max orderkey at sf0.1; keeps copies disjoint
    for name, df, key in (("lineitem", li, "l_orderkey"), ("orders", o, "o_orderkey")):
        copies = None
        for i in range(COPIES):
            c = df.withColumn(key, F.col(key) + F.lit(i * key_span))
            copies = c if copies is None else copies.unionByName(c)
        copies.write.mode("overwrite").parquet(str(root / name))
    return {
        "lineitem": spark.read.parquet(str(root / "lineitem")),
        "orders": spark.read.parquet(str(root / "orders")),
        "n_li": li.count(),
        "n_o": o.count(),
    }


def _flagship(df):
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def test_rowcounts_scale_exactly(spark, scaled):
    assert scaled["lineitem"].count() == COPIES * scaled["n_li"]
    assert scaled["orders"].count() == COPIES * scaled["n_o"]


def test_flagship_agg_scales_linearly(spark, scaled):
    from distributed_causal_stream_processing_spark.io import load

    base = load(spark, SF_BASE, "lineitem")
    _flagship(base).collect()  # warm
    t0 = time.perf_counter()
    small = _flagship(base).collect()
    t_small = time.perf_counter() - t0
    t0 = time.perf_counter()
    big = _flagship(scaled["lineitem"]).collect()
    t_big = time.perf_counter() - t0

    small_counts = {(r.l_returnflag, r.l_linestatus): r.count_order for r in small}
    big_counts = {(r.l_returnflag, r.l_linestatus): r.count_order for r in big}
    assert big_counts == {k: COPIES * v for k, v in small_counts.items()}
    # generous envelope: 5× data must not cost more than 20× time
    assert t_big < max(20 * t_small, 10.0), (t_small, t_big)


def test_fact_fact_join_scales_linearly(spark, scaled):
    joined = scaled["lineitem"].join(
        scaled["orders"],
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    t0 = time.perf_counter()
    n = joined.count()
    t_big = time.perf_counter() - t0
    assert n == COPIES * scaled["n_li"]  # every lineitem matches exactly once
    assert t_big < 60.0, t_big


def test_decontaminate_scales_linearly(spark, tmp_path_factory):
    """5×-scaled documents (disjoint doc_ids, same benchmark subset
    membership rule): contaminated-doc hits scale exactly 5× and the
    broadcast-gram join stays within the linearity envelope — the
    all-pairs alternative would scale 25×."""
    import time

    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.text import (
        q_text_decontaminate,
    )

    d = load(spark, SF_BASE, "documents")
    root = tmp_path_factory.mktemp("docs_scaled")
    span = 10_000_000 * 97  # multiple of 97 keeps doc_id % 97 stable per copy
    copies = None
    for i in range(COPIES):
        c = d.withColumn("doc_id", F.col("doc_id") + F.lit(i * span))
        copies = c if copies is None else copies.unionByName(c)
    out = str(root / "documents.parquet")
    copies.coalesce(4).write.mode("overwrite").parquet(out)

    q_text_decontaminate(spark, SF_BASE).collect()  # warm
    t0 = time.perf_counter()
    small = q_text_decontaminate(spark, SF_BASE).collect()
    t_small = time.perf_counter() - t0
    t0 = time.perf_counter()
    big = q_text_decontaminate(spark, str(root)).collect()
    t_big = time.perf_counter() - t0

    # same corpus 5× with the same benchmark grams → 5× the hits
    assert len(big) == COPIES * len(small)
    assert sum(r.n_shared for r in big) == COPIES * sum(r.n_shared for r in small)
    assert t_big < max(20 * t_small, 10.0), (t_small, t_big)


def test_lsh_candidate_fraction_is_scale_invariant(spark):
    """Pin the HONEST asymptotics of the fixed-bit LSH prune: on
    isotropic data the candidate FRACTION (distinct candidate pairs /
    all n(n-1)/2 pairs) is a property of the signature distribution,
    NOT of corpus size — measured ≈0.26 at both 500 and 2000 vectors.
    The prune is a constant-factor reduction of the quadratic work;
    holding candidates near-linear as n grows requires growing
    signature bits ~log n (the standard LSH scaling, documented in
    q_dedup_embedding_pruned). This test exists so the docstring's
    asymptotic claim can never silently drift from measurement."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _mt_candidates,
    )

    fracs = {}
    for sf_dir in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        n = load(spark, sf_dir, "embeddings").count()
        n_cand = _mt_candidates(spark, sf_dir).count()
        fracs[sf_dir] = n_cand / (n * (n - 1) / 2)
    a, b = fracs.values()
    assert 0.15 < a < 0.4 and 0.15 < b < 0.4, fracs
    assert abs(a - b) < 0.08, fracs


def test_lsh_bit_growth_keeps_candidates_near_linear(spark):
    """Pin the PRODUCTION scaling law (VERDICT r05 item 6), not just
    the fixed-bit constant: growing signature bits by
    ``planes_for_corpus`` (~log2 n) must hold candidate growth
    near-LINEAR in corpus size, while the fixed-bit index grows
    quadratically. Measured here: embeddings 500 → 2000 vectors (4×),
    fixed 8-bit candidates grow ~15.8× (≈(4×)² — the honest quadratic)
    but adaptive 10-bit candidates grow ~5.9× (< 2× linear and < 0.55
    of the fixed growth)."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.operators.similarity import (
        _mt_candidates,
        planes_for_corpus,
    )

    small, big = "/root/testdata/sf0.01", "/root/testdata/sf0.1"
    n1 = load(spark, small, "embeddings").count()
    n2 = load(spark, big, "embeddings").count()
    assert n2 > 2 * n1  # the fixtures must actually scale for this to mean anything
    b1, b2 = planes_for_corpus(n1), planes_for_corpus(n2)
    assert b2 > b1  # the law must engage across this span

    c1 = _mt_candidates(spark, small, planes_per_table=b1).count()
    c2 = _mt_candidates(spark, big, planes_per_table=b2).count()
    c2_fixed = _mt_candidates(spark, big, planes_per_table=b1).count()

    ratio_n = n2 / n1
    growth_adaptive = c2 / c1
    growth_fixed = c2_fixed / c1
    assert growth_fixed > 0.7 * ratio_n**2, (growth_fixed, ratio_n)
    assert growth_adaptive < 2.0 * ratio_n, (growth_adaptive, ratio_n)
    assert growth_adaptive < 0.55 * growth_fixed, (growth_adaptive, growth_fixed)


def test_scale_bench_replicas_preserve_workload_shape(spark, tmp_path):
    """tools/scale_bench.py's 3x fixture must keep the workload shape
    scale-invariant or its ratios measure the fixture, not the engine:
    (a) row counts triple exactly; (b) the exact-dup cluster structure
    triples (token suffixing keeps replicas disjoint — no cross-replica
    text collisions); (c) embedding near-dup pairs stay at the corpus
    background rate (rotation does not manufacture cross-replica
    near-dups)."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    from tests.conftest import REPO_DIR

    spec = importlib.util.spec_from_file_location(
        "scale_bench", os.path.join(REPO_DIR, "tools", "scale_bench.py")
    )
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)
    sb.BASE_SF = "/root/testdata/sf0.001"

    out = str(tmp_path / "x3")
    sb._scale3(spark, out)

    from distributed_causal_stream_processing_spark.io import load

    for t in ("lineitem", "events", "documents", "embeddings",
              "part", "supplier", "orders"):
        base = load(spark, "/root/testdata/sf0.001", t).count()
        big = spark.read.parquet(os.path.join(out, f"{t}.parquet")).count()
        assert big == 3 * base, t
    for t in ("nation", "region"):  # dims copy as-is
        base = load(spark, "/root/testdata/sf0.001", t).count()
        big = spark.read.parquet(os.path.join(out, f"{t}.parquet")).count()
        assert big == base, t

    # the round-12 TPC-H heavy joins 3 disjoint copies of the base
    # graph, so q9's per-(nation, year) profit must TRIPLE EXACTLY
    # (decimal-sum addends; replica pairs carry identical floored
    # derived costs) — group count unchanged, every value 3x
    from distributed_causal_stream_processing_spark.operators.tpch import q_tpch_q9

    base_rows = {
        (r.nation, r.o_year): r.profit
        for r in q_tpch_q9(spark, "/root/testdata/sf0.001").collect()
    }
    big_rows = {
        (r.nation, r.o_year): r.profit for r in q_tpch_q9(spark, out).collect()
    }
    assert set(big_rows) == set(base_rows)
    for k, v in base_rows.items():
        assert abs(big_rows[k] - 3 * v) < 1e-6, (k, v, big_rows[k])

    def dup_clusters(df):
        return (
            df.groupBy(F.md5("text"))
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    d_base = dup_clusters(load(spark, "/root/testdata/sf0.001", "documents"))
    d_big = dup_clusters(spark.read.parquet(os.path.join(out, "documents.parquet")))
    assert d_big == 3 * d_base

    # near-dup PAIR rate (cos >= 0.3 on the 25% hash-sample) should stay
    # within ~2x of the base rate per n^2 — rotation keeps cross-replica
    # cosine at background, so pairs/n^2 is roughly scale-free
    from distributed_causal_stream_processing_spark.operators.similarity import (
        q_dedup_embedding,
    )

    n_base = load(spark, "/root/testdata/sf0.001", "embeddings").count()
    p_base = q_dedup_embedding(spark, "/root/testdata/sf0.001").count()
    p_big = q_dedup_embedding(spark, out).count()
    rate_base = p_base / (n_base * n_base)
    rate_big = p_big / (3 * n_base * 3 * n_base)
    assert rate_big <= 2.5 * rate_base + 1e-6


def test_skew_pair_join_twins_match_every_event(spark, tmp_path):
    """The skewed-key instrument's join pair is only a fair comparison
    if BOTH twins inner-join every event (identical output volume, so
    the skewed/uniform ratio isolates shuffle skew, not match rates):
    the replica customer dim must cover replica-0 keys, the offset key
    ranges, and the hot user. Also pins the hot share near its design
    point (~0.5*(k-1)/k of the skewed twin)."""
    import importlib.util
    import os

    from pyspark.sql import functions as F

    from tests.conftest import REPO_DIR

    spec = importlib.util.spec_from_file_location(
        "scale_bench", os.path.join(REPO_DIR, "tools", "scale_bench.py")
    )
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)

    uni = str(tmp_path / "uni")
    skw = str(tmp_path / "skw")
    # The invariant (both twins inner-match every event) doesn't depend
    # on the replica count, so run at a small factor instead of the
    # bench's 120 (ADVICE r10 — 120 replicas per twin made this test
    # rebuild ~10x more data than the invariant needs).
    hot = sb._skew_pair(
        spark, uni, skw, base_sf="/root/testdata/sf0.001", factor=12
    )
    # design point ~0.5*(k-1)/k; the band is wide because the residue
    # class's share of a tiny fixture wobbles with its user histogram
    assert 0.40 <= hot <= 0.62, hot
    for d in (uni, skw):
        e = spark.read.parquet(os.path.join(d, "events.parquet"))
        c = spark.read.parquet(os.path.join(d, "customer.parquet"))
        n_events = e.count()
        joined = e.join(c, e.user_id == c.c_custkey).count()
        assert joined == n_events, (d, joined, n_events)
        # every event matches exactly once → dim keys are unique too
        assert c.select("c_custkey").distinct().count() == c.count()

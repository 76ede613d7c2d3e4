"""Offline IVFADC index persistence (operators/index_store.py): the
saved cell-partitioned layout must serve bit-identical results to the
in-memory index, refuse incompatible manifests, and — the point of the
layout — prune the code scan to the probed cells' partitions."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from distributed_causal_stream_processing_spark.operators import index_store as ix
from distributed_causal_stream_processing_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def saved_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivfadc_idx"))
    manifest = ix.ivfadc_index_save(spark, SF, d)
    return d, manifest


def _eval_queries(spark):
    return S._emb(spark, SF).filter(S._q_win()).select(
        F.col("vec_id").alias("query_id"), "emb"
    )


def test_saved_layout_and_manifest(saved_index, spark):
    d, manifest = saved_index
    assert manifest["format"] == "ivfadc-parquet-v1"
    assert manifest["trained"] is False
    # one directory per coarse cell — the on-disk inverted file
    cells = sorted(
        p for p in os.listdir(os.path.join(d, "codes")) if p.startswith("cell_id=")
    )
    # every cell that holds at least one vector gets a directory; on
    # this fixture all N_CELLS cells are populated
    assert len(cells) == S.N_CELLS, cells
    cent, cb_df, codes = ix.ivfadc_index_open(spark, d)
    assert cent.count() == S.N_CELLS
    assert cb_df.count() == S.PQ_M * S.PQ_K
    # code table: M rows per vector, every cell non-empty
    n_vec = S._emb(spark, SF).count()
    assert codes.count() == n_vec * S.PQ_M


def test_saved_index_serves_identical_rows(saved_index, spark):
    """Bit-equality: adc candidates served from disk == served from
    the in-memory (memoized) index, on the full eval window."""
    d, _ = saved_index
    q = _eval_queries(spark)
    cent, cb_df, codes = S.ivfadc_index(spark, SF)
    mem = S.ivfadc_score(q, cent, cb_df, codes)
    dcent, dcb, dcodes = ix.ivfadc_index_open(spark, d)
    dsk = S.ivfadc_score(q, dcent, dcb, dcodes)
    mem_rows = sorted(map(tuple, mem.collect()))
    dsk_rows = sorted(map(tuple, dsk.collect()))
    assert mem_rows == dsk_rows
    # and the end-to-end saved-search top-1 equals the registered
    # q_sim_ivfadc row (same index, same tie-break)
    top1 = {
        r.query_id: (r.neighbor_id, r.adc_dist)
        for r in ix.ivfadc_search_saved(spark, d, q, k=1).collect()
    }
    reg = {
        r.query_id: (r.neighbor_id, r.adc_dist)
        for r in S.q_sim_ivfadc(spark, SF).collect()
    }
    assert top1 == reg


def test_saved_search_prunes_partitions(saved_index, spark):
    """The layout's scale claim, enforced: a single query's search must
    push its probed-cell set into the code scan's PartitionFilters and
    read strictly fewer files than the full code table."""
    d, _ = saved_index
    one_q = _eval_queries(spark).limit(1)
    cent, _, codes_all = ix.ivfadc_index_open(spark, d)
    cells = ix.probed_cells(one_q, cent, n_probe=S.N_PROBE)
    assert len(cells) == S.N_PROBE  # one query probes exactly N_PROBE cells
    pruned = codes_all.filter(F.col("cell_id").isin(cells))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    # the filter really prunes at LISTING time, not per-row: the scan's
    # own numFiles metric counts only probed cells' files.
    # inputFiles() would lie here (it reads the unfiltered relation),
    # and the metric must be read after the FIRST collect only — the
    # scan caches its partition listing, so re-executions never re-set
    # numFiles (it reads 0 the second time).
    def scan_num_files(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        return int(leaves.apply(0).metrics().apply("numFiles").value())

    n_pruned = scan_num_files(pruned)
    n_all = scan_num_files(codes_all)
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    # and the fraction matches the layout promise (~n_probe/N_CELLS;
    # one file per cell directory at this scale)
    assert n_pruned <= n_all * S.N_PROBE / S.N_CELLS, (n_pruned, n_all)


def test_incompatible_manifest_refused(saved_index, spark, tmp_path):
    d, _ = saved_index
    import shutil

    d2 = str(tmp_path / "bad_idx")
    shutil.copytree(d, d2)
    mpath = os.path.join(d2, ix._MANIFEST)
    m = json.load(open(mpath))
    m["pq_k"] = m["pq_k"] * 2
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="incompatible"):
        ix.ivfadc_index_open(spark, d2)


def test_trained_variant_round_trips(spark, tmp_path):
    """The trained index (the recommended serving config's coarse
    layer) persists and serves identically too."""
    d = str(tmp_path / "trained_idx")
    manifest = ix.ivfadc_index_save(spark, SF, d, trained=True)
    assert manifest["trained"] is True
    q = _eval_queries(spark)
    cent, cb_df, codes = S.ivfadc_index(spark, SF, trained=True)
    mem = sorted(map(tuple, S.ivfadc_score(q, cent, cb_df, codes).collect()))
    dcent, dcb, dcodes = ix.ivfadc_index_open(spark, d)
    dsk = sorted(map(tuple, S.ivfadc_score(q, dcent, dcb, dcodes).collect()))
    assert mem == dsk


def test_append_matches_incremental_rebuild(spark, tmp_path):
    """The ingest path: an index SAVED from the pre-existing corpus and
    APPENDED with a new batch (stale cells + stale codebook — pure map
    work) must serve bit-identical adc rows to the in-memory
    incremental construction q_sim_ivfadc_incremental_recall measures
    (ivfadc_index_from with the codebook trained on the pre-corpus
    only — identical semantics: the codebook never sees the batch, the
    batch is encoded with it)."""
    pre_pred = (F.col("vec_id") < S.INCR_CUT) | (F.col("vec_id") % 5 > 0)
    e_all = S._emb(spark, SF)
    # stage the pre-corpus as its own fixture dir so the saved index is
    # built from exactly what existed before the batch arrived
    pre_dir = str(tmp_path / "pre_sf")
    os.makedirs(pre_dir)
    from distributed_causal_stream_processing_spark.io import load

    load(spark, SF, "embeddings").filter(pre_pred).write.parquet(
        os.path.join(pre_dir, "embeddings.parquet")
    )
    d = str(tmp_path / "grow_idx")
    ix.ivfadc_index_save(spark, pre_dir, d)
    ix.ivfadc_index_append(spark, d, e_all.filter(~pre_pred))

    q = _eval_queries(spark)
    dcent, dcb, dcodes = ix.ivfadc_index_open(spark, d)
    # the grown store holds every vector exactly once
    assert dcodes.count() == e_all.count() * S.PQ_M
    assert dcodes.select("vec_id").distinct().count() == e_all.count()
    got = sorted(map(tuple, S.ivfadc_score(q, dcent, dcb, dcodes).collect()))
    cent, cb_df, codes = S.ivfadc_index_from(e_all, train_pred=pre_pred)
    want = sorted(map(tuple, S.ivfadc_score(q, cent, cb_df, codes).collect()))
    assert got == want


def _doc_split(spark):
    """The same corpus/batch boundary q_dedup_incremental derives:
    corpus = first 80% of the doc_id range, batch = the rest."""
    from distributed_causal_stream_processing_spark.io import load

    docs = load(spark, SF, "documents").select("doc_id", "text")
    b = docs.agg(
        F.floor(0.8 * F.max("doc_id")).cast("bigint").alias("b")
    ).head()["b"]
    return docs.filter(F.col("doc_id") < b), docs.filter(F.col("doc_id") >= b)


def test_band_store_probe_matches_incremental_query(spark, tmp_path):
    """A batch probed against the SAVED corpus bucket set must produce
    exactly q_dedup_incremental's rows (same signatures via
    band_rows_for, same left-join/count semantics) — the store swaps
    in for the in-memory corpus side without moving a single number."""
    corpus, batch = _doc_split(spark)
    d = str(tmp_path / "bands")
    manifest = ix.band_index_save(spark, corpus, d)
    assert manifest["format"] == "minhash-bands-parquet-v1"
    got = {
        (r.doc_id, r.n_hit_bands, r.is_near_dup)
        for r in ix.band_index_probe(spark, d, batch).collect()
    }
    from distributed_causal_stream_processing_spark.plans.registry import (
        all_queries,
    )

    want = {
        (r.doc_id, r.n_hit_bands, r.is_near_dup)
        for r in all_queries()["q_dedup_incremental"](spark, SF).collect()
    }
    assert got == want and len(got) == batch.count()


def test_band_store_append_and_manifest(spark, tmp_path):
    """Folding the accepted batch into the store makes tomorrow's
    re-probe of the same docs all-hit (their own buckets now exist),
    the anti-join append never duplicates a bucket row, and a store
    written under different MinHash constants is refused."""
    from distributed_causal_stream_processing_spark.functions.hashing import (
        LSH_BANDS,
    )
    from distributed_causal_stream_processing_spark.operators.dedup import (
        band_rows_for,
    )

    corpus, batch = _doc_split(spark)
    d = str(tmp_path / "bands")
    ix.band_index_save(spark, corpus, d)
    n0 = spark.read.parquet(os.path.join(d, "buckets")).count()
    ix.band_index_append(spark, d, batch)
    # physical rows = distinct buckets of the union: no duplicates
    union_buckets = (
        band_rows_for(corpus.unionByName(batch))
        .select("band_no", "band_key")
        .distinct()
        .count()
    )
    n1 = spark.read.parquet(os.path.join(d, "buckets")).count()
    assert n1 == union_buckets >= n0
    rows = ix.band_index_probe(spark, d, batch).collect()
    assert rows and all(r.is_near_dup and r.n_hit_bands == LSH_BANDS for r in rows)
    # manifest refusal
    mpath = os.path.join(d, ix._BAND_MANIFEST)
    m = json.load(open(mpath))
    m["n_minhash"] = 64
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="incompatible"):
        ix.band_index_open(spark, d)


def test_compaction_one_file_per_partition_same_rows(spark, tmp_path):
    """Append-only growth leaves one file per (batch, partition);
    compaction rewrites each store to one file per populated directory
    and must not move a single row — pinned on both stores after a
    save + two appends."""
    from distributed_causal_stream_processing_spark.io import load

    # --- IVFADC store: save from a reduced corpus, append twice ------
    e_all = S._emb(spark, SF)
    pre_dir = str(tmp_path / "pre_sf")
    os.makedirs(pre_dir)
    load(spark, SF, "embeddings").filter(F.col("vec_id") % 5 > 0).write.parquet(
        os.path.join(pre_dir, "embeddings.parquet")
    )
    d = str(tmp_path / "cidx")
    ix.ivfadc_index_save(spark, pre_dir, d)
    batch = e_all.filter(F.col("vec_id") % 5 == 0)
    ix.ivfadc_index_append(spark, d, batch.filter(F.col("vec_id") % 2 == 0))
    ix.ivfadc_index_append(spark, d, batch.filter(F.col("vec_id") % 2 == 1))

    def files_per_dir(root):
        out = {}
        for part in os.listdir(root):
            p = os.path.join(root, part)
            if os.path.isdir(p):
                out[part] = len(
                    [f for f in os.listdir(p) if f.endswith(".parquet")]
                )
        return out

    before = sorted(map(tuple, ix.ivfadc_index_open(spark, d)[2].collect()))
    fpd = files_per_dir(os.path.join(d, "codes"))
    assert max(fpd.values()) > 1  # the appends really did fragment
    ix.ivfadc_index_compact(spark, d)
    fpd2 = files_per_dir(os.path.join(d, "codes"))
    assert set(fpd2) == set(fpd) and max(fpd2.values()) == 1, fpd2
    after = sorted(map(tuple, ix.ivfadc_index_open(spark, d)[2].collect()))
    assert after == before

    # --- band store: same contract ----------------------------------
    corpus, batch_docs = _doc_split(spark)
    bd = str(tmp_path / "bidx")
    ix.band_index_save(spark, corpus, bd)
    ix.band_index_append(spark, bd, batch_docs)
    bb = os.path.join(bd, "buckets")
    bfpd = files_per_dir(bb)
    assert max(bfpd.values()) > 1
    want = sorted(map(tuple, ix.band_index_open(spark, bd).collect()))
    ix.band_index_compact(spark, bd)
    bfpd2 = files_per_dir(bb)
    assert set(bfpd2) == set(bfpd) and max(bfpd2.values()) == 1, bfpd2
    # physical rows now distinct: raw count == logical count
    assert spark.read.parquet(bb).count() == len(want)
    assert sorted(map(tuple, ix.band_index_open(spark, bd).collect())) == want


def test_streaming_refuses_store_variant_mismatch(spark, tmp_path, saved_index):
    """A serving job configured for the trained variant pointed at a
    seeded store must refuse, not silently serve lower-recall answers
    (review r12): the manifest records the variant precisely so this
    mismatch is detectable."""
    from distributed_causal_stream_processing_spark.streaming import jobs

    d, _ = saved_index  # seeded store
    with pytest.raises(ValueError, match="trained"):
        jobs.run_streaming_ivfadc(
            spark,
            str(tmp_path / "unused_q"),
            SF,
            str(tmp_path / "unused_out"),
            trained=True,
            index_dir=d,
        )


# ---------------------------------------------------------------------------
# postings store (BM25 serving)


@pytest.fixture(scope="module")
def saved_postings(spark, tmp_path_factory):
    from distributed_causal_stream_processing_spark.io import load

    d = str(tmp_path_factory.mktemp("postings_idx"))
    manifest = ix.postings_store_save(spark, load(spark, SF, "documents"), d)
    return d, manifest


def test_postings_store_serves_identical_rows(saved_postings, spark):
    """Bit-equality: BM25 served from the store == the live
    q_text_bm25 rows (same tokenizer, exact stored statistics, same
    floor6 + tie-break)."""
    from distributed_causal_stream_processing_spark.plans.registry import (
        all_queries,
    )

    d, manifest = saved_postings
    assert manifest["format"] == "postings-parquet-v1"
    stored = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    live = sorted(map(tuple, all_queries()["q_text_bm25"](spark, SF).collect()))
    assert stored == live


def test_postings_store_prunes_partitions(saved_postings, spark):
    """The layout claim: the query terms' buckets become a static
    partition filter — the scan lists/reads ONLY those directories'
    files (3 distinct buckets of 16 for the default term set)."""
    from distributed_causal_stream_processing_spark.operators.retrieval import (
        BM25_TERMS,
    )

    d, _ = saved_postings
    buckets = sorted({ix.term_bucket(t) for t in BM25_TERMS})
    assert 0 < len(buckets) < ix.POSTINGS_BUCKETS
    path = os.path.join(d, "postings")
    full = spark.read.parquet(path)
    pruned = full.filter(F.col("bucket").isin(buckets))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    def scan_num_files(df):
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        return int(leaves.apply(0).metrics().apply("numFiles").value())

    n_pruned = scan_num_files(pruned)
    n_all = scan_num_files(spark.read.parquet(path))
    assert 0 < n_pruned < n_all, (n_pruned, n_all)
    # the fraction promise, against POPULATED directories (15 of 16
    # buckets hold tokens on this fixture): probing b of p populated
    # buckets reads at most b/p of the files
    populated = sum(1 for s in os.listdir(path) if s.startswith("bucket="))
    assert n_pruned <= -(-n_all * len(buckets) // populated), (n_pruned, n_all)


def test_postings_append_equals_rebuild(spark, tmp_path):
    """EXACT incremental maintenance — the property that separates the
    postings store from the ANN store (whose codebook goes stale):
    save(corpus) + append(batch) must serve bit-identical BM25 rows to
    save(corpus + batch), because every statistic is a count or sum."""
    from distributed_causal_stream_processing_spark.io import load

    docs = load(spark, SF, "documents")
    cut = int(docs.agg(F.floor(0.8 * F.max("doc_id"))).collect()[0][0])
    corpus = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)

    d_inc = str(tmp_path / "pidx_incremental")
    ix.postings_store_save(spark, corpus, d_inc)
    m_inc = ix.postings_store_append(spark, d_inc, batch)

    d_full = str(tmp_path / "pidx_full")
    m_full = ix.postings_store_save(spark, docs, d_full)

    assert m_inc["n_docs"] == m_full["n_docs"]
    assert m_inc["total_dl"] == m_full["total_dl"]
    inc = sorted(map(tuple, ix.bm25_search_saved(spark, d_inc).collect()))
    full = sorted(map(tuple, ix.bm25_search_saved(spark, d_full).collect()))
    assert inc == full
    # and the merged lexicon matches the rebuilt one row-for-row
    lex_inc = sorted(
        map(tuple, spark.read.parquet(os.path.join(d_inc, "lexicon")).collect())
    )
    lex_full = sorted(
        map(tuple, spark.read.parquet(os.path.join(d_full, "lexicon")).collect())
    )
    assert lex_inc == lex_full


def test_postings_manifest_refused(saved_postings, spark, tmp_path):
    import shutil

    d, _ = saved_postings
    d2 = str(tmp_path / "bad_pidx")
    shutil.copytree(d, d2)
    mpath = os.path.join(d2, ix._POSTINGS_MANIFEST)
    m = json.load(open(mpath))
    m["n_buckets"] = m["n_buckets"] * 2
    json.dump(m, open(mpath, "w"))
    with pytest.raises(ValueError, match="incompatible"):
        ix.bm25_search_saved(spark, d2)


def test_postings_compaction_same_rows(spark, tmp_path):
    """After an append fragments the bucket directories, compaction
    rewrites to one file per bucket and serves identical rows."""
    from distributed_causal_stream_processing_spark.io import load

    docs = load(spark, SF, "documents")
    cut = int(docs.agg(F.floor(0.8 * F.max("doc_id"))).collect()[0][0])
    d = str(tmp_path / "pidx_compact")
    ix.postings_store_save(spark, docs.filter(F.col("doc_id") < cut), d)
    ix.postings_store_append(spark, d, docs.filter(F.col("doc_id") >= cut))
    before = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    ix.postings_store_compact(spark, d)
    ppath = os.path.join(d, "postings")
    for sub in os.listdir(ppath):
        if sub.startswith("bucket="):
            files = [f for f in os.listdir(os.path.join(ppath, sub)) if f.endswith(".parquet")]
            assert len(files) == 1, (sub, files)
    after = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    assert before == after


def test_serve_during_ingest_and_crash_recovery(spark, tmp_path, monkeypatch):
    """VERDICT r12 item 4, the pytest half: (1) a probe against the
    base+pending-batch union MID-INGEST returns the same rows as the
    post-compaction probe; (2) a crash between compaction's two swap
    renames fails the next probe CLEANLY (path-not-found, never a
    half-written store), the documented `.old-*` rename-back recovers
    the exact mid-ingest rows, and re-running compaction converges to
    the same rows again."""
    from distributed_causal_stream_processing_spark.io import load

    docs = load(spark, SF, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    d = str(tmp_path / "pidx_serve_ingest")
    ix.postings_store_save(spark, base, d)
    ix.postings_store_append(spark, d, batch)
    mid = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    assert mid, "probe returned no rows"

    # (2) crash INSIDE the swap: live dir renamed away, new dir not in
    real_swap = ix._swap_in
    state: dict = {}

    def crashing_swap(new_dir: str, live_dir: str) -> None:
        trash = f"{live_dir}.old-crash"
        os.rename(live_dir, trash)
        state["trash"], state["new"], state["live"] = trash, new_dir, live_dir
        raise RuntimeError("simulated crash between swap renames")

    monkeypatch.setattr(ix, "_swap_in", crashing_swap)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        ix.postings_store_compact(spark, d)
    # clean failure: the postings path is simply absent — retryable,
    # not a half-written directory
    with _pytest.raises(Exception):
        ix.bm25_search_saved(spark, d).collect()
    # documented recovery: rename the .old-* snapshot back
    os.rename(state["trash"], state["live"])
    import shutil

    shutil.rmtree(state["new"], ignore_errors=True)
    recovered = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    assert recovered == mid

    # (1) + RERUN: compaction completes on retry; rows unchanged
    monkeypatch.setattr(ix, "_swap_in", real_swap)
    ix.postings_store_compact(spark, d)
    post = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
    assert post == mid

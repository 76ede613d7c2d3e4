"""Offline ANN index persistence — the 100 TB serving layout made
physical.

The artifact memo (similarity._MEMO) is the right shape for a bench
session, but its own docstring states the production contract: at
100 TB the index artifacts are built ONCE by an offline job and
PERSISTED TO STORAGE, then every serving query opens them — nobody
holds a corpus-sized code table in block-manager checkpoints across a
fleet. This module is that offline job and its serving-side reader:

- ``ivfadc_index_save``: builds (or reuses the memoized) IVFADC index
  and writes it as parquet — the corpus-sized code table PARTITIONED
  BY cell_id, so the on-disk layout IS the inverted file: one
  directory per coarse cell, 4-bit codes + keys inside. The constant
  artifacts (centroids, codebook) ride along as single-file tables,
  plus a JSON manifest pinning the build constants (a reader joining
  codes against the wrong-K codebook must fail loudly, not rank
  garbage).
- ``ivfadc_index_open``: reopens (cent, cb_df, codes) from a saved
  directory, validating the manifest against this build's constants.
- ``ivfadc_search_saved``: the end-to-end serving call — probe, prune,
  score, top-k — where cell pruning is STATIC partition pruning: the
  probed-cell union of the query batch (bounded by min(NQ*n_probe,
  N_CELLS) ids — model-sized driver state, the q_sim_ivf_kmeans
  contract) lands in the scan's PartitionFilters, so Spark lists and
  reads ONLY the probed cells' files. That is the scan-cost claim
  every IVFADC docstring makes ("a query reads ~N_PROBE/N_CELLS of
  the code table"), enforced by the storage layout instead of a
  shuffle: tests/test_index_store.py asserts both the PartitionFilters
  and that the pruned scan's input files are a strict subset.

Bit-equality contract: a saved-then-reopened index must serve the
IDENTICAL adc table the in-memory index serves (codes and centroids
are exact integers/rounded doubles — parquet round-trips them
losslessly); pinned by test_saved_index_serves_identical_rows.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from distributed_causal_stream_processing_spark.operators.similarity import (
    N_CELLS,
    N_PROBE,
    PQ_DSUB,
    PQ_ITERS,
    PQ_K,
    PQ_M,
    _ivfadc_codes,
    _ivfadc_probes,
    _ivfadc_residuals,
    ivfadc_index,
    ivfadc_score,
)

_MANIFEST = "ivfadc_manifest.json"


def _constants() -> dict:
    return {
        "format": "ivfadc-parquet-v1",
        "n_cells": N_CELLS,
        "pq_m": PQ_M,
        "pq_k": PQ_K,
        "pq_dsub": PQ_DSUB,
        "pq_iters": PQ_ITERS,
    }


def ivfadc_index_save(
    spark: SparkSession, sf_dir: str, out_dir: str, trained: bool = False
) -> dict:
    """The OFFLINE INDEX JOB: build the IVFADC index over the
    embeddings corpus (reusing the session memo when warm — builds are
    deterministic, so memo vs fresh cannot change bytes) and persist
    it under ``out_dir``. Returns the manifest written.

    Layout (= the serving read pattern):
      codes/cell_id=<c>/*.parquet   corpus-sized, the inverted file
      cent/*.parquet                N_CELLS x DIM doubles (constant)
      codebook/*.parquet            M*K x dsub doubles (constant)
      ivfadc_manifest.json          build constants + variant

    Scale: the one corpus-sized write streams through the executors
    (no driver collect); partitionBy(cell_id) makes each cell its own
    directory so a probe lists only probed directories. With far more
    cells than this fixture's 16, the same call distributes the
    directory fan-out across the final write tasks — the layout cost
    is one shuffle-free pass over the code table."""
    cent, cb_df, codes = ivfadc_index(spark, sf_dir, trained=trained)
    codes.write.partitionBy("cell_id").mode("overwrite").parquet(
        os.path.join(out_dir, "codes")
    )
    cent.write.mode("overwrite").parquet(os.path.join(out_dir, "cent"))
    cb_df.write.mode("overwrite").parquet(os.path.join(out_dir, "codebook"))
    manifest = {**_constants(), "trained": trained, "source": sf_dir}
    # control-plane metadata, not data: a small driver-side JSON write
    with open(os.path.join(out_dir, _MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def _validate_manifest(index_dir: str, fname: str, expected: dict, label: str) -> dict:
    """Load a store manifest and fail loudly when any of this build's
    constants disagree — data written under different constants would
    join against the wrong tables and produce garbage while staying
    schema-valid. ONE definition for both stores (review r12: two
    copy-pasted validation blocks must evolve together). Returns the
    manifest so callers can check store-variant fields too."""
    with open(os.path.join(index_dir, fname)) as f:
        manifest = json.load(f)
    mismatches = {
        k: (v, manifest.get(k)) for k, v in expected.items() if manifest.get(k) != v
    }
    if mismatches:
        raise ValueError(f"saved {label} incompatible with this build: {mismatches}")
    return manifest


def _open_constants(spark: SparkSession, index_dir: str):
    """Validate the manifest and open the CONSTANT artifacts only
    (cent, cb_df) — the ingest path needs no codes relation, and
    opening one would pay partition discovery over every cell
    directory, exactly the listing cost the layout exists to avoid."""
    _validate_manifest(index_dir, _MANIFEST, _constants(), "index")
    cent = spark.read.parquet(os.path.join(index_dir, "cent"))
    cb_df = spark.read.parquet(os.path.join(index_dir, "codebook"))
    return cent, cb_df


def ivfadc_store_manifest(index_dir: str) -> dict:
    """The validated manifest of a saved IVFADC store — callers that
    must know the VARIANT (seeded vs trained) read it here instead of
    trusting their own flags (review r12: a fleet configured for the
    trained config pointed at a seeded store must fail loudly, not
    silently serve lower-recall answers)."""
    return _validate_manifest(index_dir, _MANIFEST, _constants(), "index")


def ivfadc_index_open(spark: SparkSession, index_dir: str):
    """Reopen a saved index as (cent, cb_df, codes), manifest-validated."""
    cent, cb_df = _open_constants(spark, index_dir)
    # NOTE: cell_id comes back as the inferred partition-column type;
    # deliberately NOT cast here — wrapping the partition attribute in
    # a cast can keep a downstream filter out of PartitionFilters, and
    # the score join coerces int vs bigint keys itself.
    codes = spark.read.parquet(os.path.join(index_dir, "codes")).select(
        "vec_id", "sub_no", "code", "cell_id"
    )
    return cent, cb_df, codes


def ivfadc_index_append(
    spark: SparkSession, index_dir: str, new_embeddings: DataFrame
) -> None:
    """The PRODUCTION INGEST PATH: encode a new vector batch with the
    saved index's EXISTING cells and codebook and append it to the
    cell-partitioned code table — assignment and encoding are per-row
    map work over broadcast constants (no training, no corpus
    rescan), which is exactly why a 100 TB corpus can grow per batch
    while retraining stays a scheduled offline job. The measured price
    of serving stale-codebook codes is q_sim_ivfadc_incremental_recall
    (zero recall delta vs a full rebuild on this fixture), and
    tests/test_index_store.py pins that an appended store serves
    BIT-IDENTICAL results to that eval's in-memory construction.

    ``new_embeddings`` must be (vec_id, emb array<double>) rows with
    vec_ids not already in the store — the caller's dedup contract
    (an idempotent ingest would route through q_stream_dedup /
    exactly-once sink machinery first; re-appending a vec_id would
    double its rows in every probed scan, same as any append-only
    table).

    Scale: one narrow append of M rows x (key, sub_no, code) per new
    vector, partitioned into the probed layout on write; unchanged
    cells' directories are untouched."""
    cent, cb_df = _open_constants(spark, index_dir)
    best, sub = _ivfadc_residuals(new_embeddings.select("vec_id", "emb"), cent)
    _ivfadc_codes(best, sub, cb_df).write.partitionBy("cell_id").mode("append").parquet(
        os.path.join(index_dir, "codes")
    )


def probed_cells(
    queries_df: DataFrame, cent: DataFrame, n_probe: int = N_PROBE
) -> list[int]:
    """The union of cells the query batch probes — bounded by
    min(n_queries * n_probe, N_CELLS) ids, i.e. model-sized driver
    state (the same contract as collecting k-means centroids), never
    corpus data. This list IS the static partition filter the serving
    scan pushes into the cell-partitioned code table."""
    probes = _ivfadc_probes(queries_df, cent, n_probe)
    return sorted(int(r.cell_id) for r in probes.select("cell_id").distinct().collect())


def ivfadc_search_saved(
    spark: SparkSession,
    index_dir: str,
    queries_df: DataFrame,
    n_probe: int = N_PROBE,
    k: int = 1,
) -> DataFrame:
    """Serve a query batch from a SAVED index: open, compute the
    batch's probed-cell union, statically prune the code scan to those
    partitions, then run the standard ivfadc_score + per-query top-k.
    Results are bit-identical to the in-memory search (the isin filter
    only removes cells no query probes — candidates come exclusively
    from probed cells by the LUT equi-join's construction).

    Scale: the filter is a partition filter on the scan (asserted in
    tests/test_index_store.py) — Spark never lists the unprobed cells'
    directories, so the scan cost is proportional to the probed
    fraction of the corpus, which is the entire point of the IVF
    layout."""
    from pyspark.sql import Window as W

    cent, cb_df, codes = ivfadc_index_open(spark, index_dir)
    # The query batch is executed TWICE (probed_cells' collect, then
    # the score join) — pin it first, or a non-deterministic source
    # (.limit without order, .sample, a fresh stream batch) could be
    # probed as one row set and scored as another, silently pruning
    # cells the scored queries legitimately probe (review r12). The
    # batch is serving-sized, so the checkpoint is small by contract.
    queries_df = queries_df.select("query_id", "emb").localCheckpoint(eager=True)
    cells = probed_cells(queries_df, cent, n_probe)
    codes = codes.filter(F.col("cell_id").isin(cells))
    adc = ivfadc_score(queries_df, cent, cb_df, codes, n_probe=n_probe)
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rn").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash band store — the dedup family's persisted index.
#
# q_dedup_incremental's docstring states the deployment contract this
# module makes physical for dedup: "on a real deployment the corpus
# band table is the persisted output of yesterday's run"; a day's
# ingest batch probes that table, it never re-signatures the corpus.
# The store holds the corpus's DISTINCT (band_no, band_key) bucket set
# — the smallest artifact that answers "does this batch doc collide
# with ANY corpus doc" — partitioned by band_no so each of the
# LSH_BANDS bands is its own directory (a probe restricted to a band
# subset prunes at listing time, the same layout argument as the
# IVFADC code table).

_BAND_MANIFEST = "band_manifest.json"


def _band_constants() -> dict:
    from distributed_causal_stream_processing_spark.functions.hashing import (
        LSH_BANDS,
        MINHASH_P,
        N_MINHASH,
    )

    return {
        "format": "minhash-bands-parquet-v1",
        "n_minhash": N_MINHASH,
        "lsh_bands": LSH_BANDS,
        "minhash_p": MINHASH_P,
    }


def band_index_save(spark: SparkSession, docs: DataFrame, out_dir: str) -> dict:
    """Persist the corpus's band-bucket index from a documents-shaped
    frame (doc_id, text). Signatures run through band_rows_for — the
    ONE pipeline the batch queries and the streaming content-dedup job
    share — so a saved store probes identically to the in-memory
    corpus side of q_dedup_incremental. The manifest pins the MinHash
    constants: buckets built under different permutations would
    compare hash garbage while staying schema-valid."""
    from distributed_causal_stream_processing_spark.operators.dedup import (
        band_rows_for,
    )

    (
        band_rows_for(docs)
        .select("band_no", "band_key")
        .distinct()
        .write.partitionBy("band_no")
        .mode("overwrite")
        .parquet(os.path.join(out_dir, "buckets"))
    )
    manifest = _band_constants()
    with open(os.path.join(out_dir, _BAND_MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def band_index_open(spark: SparkSession, index_dir: str) -> DataFrame:
    """Reopen the bucket set as (band_no, band_key), manifest-validated.
    DISTINCT on read: append-mode growth may leave duplicate bucket
    rows, and a duplicated corpus bucket would MULTIPLY probe rows in
    the hit join instead of flagging once."""
    _validate_manifest(index_dir, _BAND_MANIFEST, _band_constants(), "band index")
    return (
        spark.read.parquet(os.path.join(index_dir, "buckets"))
        .select("band_no", "band_key")
        .distinct()
    )


def band_index_probe(
    spark: SparkSession, index_dir: str, batch_docs: DataFrame
) -> DataFrame:
    """The daily-ingest probe against a SAVED corpus index:
    (doc_id, n_hit_bands, is_near_dup) per batch document — the exact
    output shape of q_dedup_incremental, whose in-memory corpus side
    this store replaces. Cost: O(batch signatures) + one hash-equi
    join against the bucket set; the corpus documents are never read.

    Join shape (review r12): hits come from an INNER join on the
    bucket keys — the bucket set GROWS WITH THE CORPUS, so it must
    never be the broadcast side (LSH_BANDS x corpus buckets at a
    billion docs is not driver-collectable); inner-join hits let
    Catalyst/AQE pick a shuffled hash join on (band_no, band_key) —
    or broadcast the BATCH side when it is the small one — and the
    per-doc left join that restores zero-hit docs runs on two
    batch-doc-sized aggregates."""
    from distributed_causal_stream_processing_spark.operators.dedup import (
        band_rows_for,
    )

    corpus = band_index_open(spark, index_dir)
    batch = band_rows_for(batch_docs)
    hits = (
        batch.join(corpus, ["band_no", "band_key"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_bands"))
    )
    return (
        batch.select("doc_id")
        .distinct()
        .join(hits, ["doc_id"], "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_bands", F.lit(0)).cast("bigint").alias("n_hit_bands"),
            (F.coalesce("n_hit_bands", F.lit(0)) > 0).alias("is_near_dup"),
        )
    )


def band_index_append(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> None:
    """Fold an accepted ingest batch into the store (the batch becomes
    corpus for tomorrow's probe): signature the new docs and append
    only the buckets NOT already present — an anti join against the
    current set keeps the store minimal, and band_index_open's
    DISTINCT guards correctness even if two concurrent appends race
    the same bucket in. (Appends tolerate racing each other — NOT a
    concurrent compaction; see the CONCURRENCY CONTRACT above.)"""
    from distributed_causal_stream_processing_spark.operators.dedup import (
        band_rows_for,
    )

    current = band_index_open(spark, index_dir)
    fresh = (
        band_rows_for(new_docs)
        .select("band_no", "band_key")
        .distinct()
        .join(current, ["band_no", "band_key"], "left_anti")
        # materialize BEFORE the append opens the same directory for
        # writing — Spark refuses (or worse, mis-reads) a scan of the
        # path it is overwriting; the fresh-bucket set is index-sized,
        # not corpus-sized
        .localCheckpoint(eager=True)
    )
    fresh.write.partitionBy("band_no").mode("append").parquet(
        os.path.join(index_dir, "buckets")
    )


# ---------------------------------------------------------------------------
# Store compaction — the maintenance half of an append-only layout.
#
# Every ivfadc_index_append / band_index_append adds one file per
# written partition directory, so a store ingesting B batches reads
# O(B) files per probed cell: listing and footer overhead grows with
# ingest history even though the DATA per cell barely moves. Real
# deployments compact on a schedule; these helpers are that job —
# rewrite each store to one file per populated partition, swap the
# directory in, serve identical rows (pinned in
# tests/test_index_store.py).
#
# CONCURRENCY CONTRACT (review r12): compaction is a SINGLE-WRITER
# maintenance window — an append committing between compaction's read
# and its swap would be deleted with the old directory (its files were
# never in the rewritten frame). Appends may race each other (the
# worst case is a duplicated bucket row, which open()'s DISTINCT
# absorbs), but never a concurrent compaction. _swap_in's docstring
# covers the reader-side caveats and the versioned-prefix design that
# removes them at 100 TB.


def _swap_in(new_dir: str, live_dir: str) -> None:
    """Replace ``live_dir`` with ``new_dir`` via two same-filesystem
    renames. Honest contract (review r12): this is NOT atomic — a
    reader opening in the instant between the renames sees no
    directory at all (path-not-found, a clean retryable error — never
    a half-written store, since the new data is fully written before
    the first rename); a crash between the renames leaves the data
    recoverable under ``<live>.old-*`` but needs a manual rename back;
    and a long-running scan opened BEFORE the swap holds the old
    file listing and will fail once those files are removed.
    Maintenance therefore runs under the same single-writer,
    readers-quiesced window any non-transactional directory store
    requires; a 100 TB deployment writes a new versioned prefix and
    flips a manifest pointer instead, which removes all three caveats
    (old readers keep their prefix until retired)."""
    import shutil
    import uuid

    trash = f"{live_dir}.old-{uuid.uuid4().hex}"
    os.rename(live_dir, trash)
    os.rename(new_dir, live_dir)
    shutil.rmtree(trash, ignore_errors=True)


def _compact_partitioned(
    df: DataFrame, live_dir: str, partition_col: str
) -> None:
    """Rewrite a partitioned parquet store to ONE file per populated
    partition: repartition on the partition column puts each value's
    rows in exactly one task, so each directory gets a single file.
    (With more partition values than shuffle partitions several values
    share a task — still one file per value per task, i.e. ≤1 file per
    directory from each task that holds it; for this engine's stores
    the value counts are small constants.)"""
    import uuid

    new_dir = f"{live_dir}.compact-{uuid.uuid4().hex}"
    df.repartition(F.col(partition_col)).write.partitionBy(
        partition_col
    ).mode("overwrite").parquet(new_dir)
    _swap_in(new_dir, live_dir)


def ivfadc_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Compact the code table to one file per cell directory. Codes
    are read fully and localCheckpointed before the swap (append-only
    rows, index-sized narrow columns) so the rewrite never reads the
    directory it is replacing."""
    _open_constants(spark, index_dir)  # manifest-validate before touching data
    codes_path = os.path.join(index_dir, "codes")
    codes = (
        spark.read.parquet(codes_path)
        .select("vec_id", "sub_no", "code", "cell_id")
        .localCheckpoint(eager=True)
    )
    _compact_partitioned(codes, codes_path, "cell_id")


def band_index_compact(spark: SparkSession, index_dir: str) -> None:
    """Compact the bucket set to one file per band directory, folding
    any append-duplicated buckets out of the physical store (open()
    already DISTINCTs on read; after compaction the stored rows ARE
    distinct)."""
    buckets_path = os.path.join(index_dir, "buckets")
    buckets = band_index_open(spark, index_dir).localCheckpoint(eager=True)
    _compact_partitioned(buckets, buckets_path, "band_no")


# ---------------------------------------------------------------------------
# Postings store — the retrieval family's persisted index (BM25 serving).
#
# q_text_bm25 computes corpus statistics inline; a serving deployment
# stores them. The layout mirrors the other two stores: the one
# corpus-sized relation (postings: tok, doc_id, tf) PARTITIONED BY a
# token hash bucket so a query's terms list only their buckets'
# directories (static partition pruning — the inverted-index access
# path realized as storage layout); the vocabulary-sized lexicon
# (tok, df, total_tf) and the narrow per-doc length table ride along;
# the two corpus SCALARS (doc count, total token count) live in the
# manifest as exact integers. Unlike the ANN store — whose codebook
# goes stale on append and defers retraining — every BM25 statistic
# is a count or a sum, so appends maintain the index EXACTLY:
# test_postings_append_equals_rebuild pins bit-equality between an
# appended store and a full rebuild.

_POSTINGS_MANIFEST = "postings_manifest.json"
POSTINGS_BUCKETS = 16


def _postings_constants() -> dict:
    from distributed_causal_stream_processing_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
    )

    return {
        "format": "postings-parquet-v1",
        "n_buckets": POSTINGS_BUCKETS,
        "bm25_k1": BM25_K1,
        "bm25_b": BM25_B,
    }


def _tok_bucket_sql() -> str:
    # Spark-only expression (the store build); conv() fast path —
    # term_bucket() is the python twin it must stay equal to
    from distributed_causal_stream_processing_spark.functions.hashing import (
        hex_u32_spark_sql,
    )

    return f"({hex_u32_spark_sql('md5(tok)')} % {POSTINGS_BUCKETS})"


def term_bucket(term: str) -> int:
    """The partition bucket of one term, computed DRIVER-SIDE (python
    md5 == SQL md5 on utf-8 text) — this is how a query's terms become
    a static partition filter without touching the cluster."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % (
        POSTINGS_BUCKETS
    )


def _postings_rows(docs: DataFrame) -> DataFrame:
    """(tok, doc_id, tf, bucket) rows — the store's corpus relation,
    derived through the same tokenizer as the live queries."""
    from distributed_causal_stream_processing_spark.operators.retrieval import (
        _toks,
    )

    return (
        _toks(docs)
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("bucket", F.expr(_tok_bucket_sql()))
    )


def _docstats_rows(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("dl")
    )


def _corpus_scalars(docstats: DataFrame) -> tuple[int, int]:
    row = docstats.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total_dl")
    ).collect()[0]
    # sum over zero rows is NULL — an empty frame (a streaming ingest
    # can legitimately deliver an empty micro-batch) contributes (0, 0)
    return int(row.n), int(row.total_dl or 0)


def postings_store_save(spark: SparkSession, docs: DataFrame, out_dir: str) -> dict:
    """Persist the BM25 index of a documents-shaped frame (doc_id,
    text): bucket-partitioned postings, lexicon, doc lengths, and the
    exact corpus scalars in the manifest. One tokenize pass feeds all
    three relations; the only corpus-sized write is the postings
    table, one shuffle-free pass after its (tok, doc_id) aggregation."""
    postings = _postings_rows(docs)
    postings.write.partitionBy("bucket").mode("overwrite").parquet(
        os.path.join(out_dir, "postings")
    )
    # lexicon derives from the WRITTEN postings (not a second tokenize
    # pass): read-back guarantees lexicon and postings can never skew
    lex = (
        spark.read.parquet(os.path.join(out_dir, "postings"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
    )
    lex.write.mode("overwrite").parquet(os.path.join(out_dir, "lexicon"))
    docstats = _docstats_rows(docs)
    docstats.write.mode("overwrite").parquet(os.path.join(out_dir, "docstats"))
    n, total_dl = _corpus_scalars(
        spark.read.parquet(os.path.join(out_dir, "docstats"))
    )
    manifest = {**_postings_constants(), "n_docs": n, "total_dl": total_dl}
    with open(os.path.join(out_dir, _POSTINGS_MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def postings_store_manifest(index_dir: str) -> dict:
    return _validate_manifest(
        index_dir, _POSTINGS_MANIFEST, _postings_constants(), "postings store"
    )


def postings_store_append(
    spark: SparkSession, index_dir: str, new_docs: DataFrame
) -> dict:
    """Fold an ingest batch into the store EXACTLY: postings rows
    append into their bucket directories; the lexicon merges by
    addition (df and total_tf are counts/sums — unlike the ANN store's
    codebook there is NO stale-model debt); the manifest's corpus
    scalars add the batch's. ``new_docs`` must hold doc_ids not
    already stored (the ivfadc_index_append contract). Same
    single-writer window as every append here; open()-side DISTINCT
    is not needed because doc_ids are caller-unique."""
    manifest = postings_store_manifest(index_dir)
    new_postings = _postings_rows(new_docs).localCheckpoint(eager=True)
    new_postings.write.partitionBy("bucket").mode("append").parquet(
        os.path.join(index_dir, "postings")
    )
    lex_path = os.path.join(index_dir, "lexicon")
    delta = new_postings.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_d"),
        F.sum("tf").cast("bigint").alias("tf_d"),
    )
    merged = (
        spark.read.parquet(lex_path)
        .join(delta, ["tok"], "full")
        .select(
            "tok",
            (F.coalesce("df", F.lit(0)) + F.coalesce("df_d", F.lit(0)))
            .cast("bigint")
            .alias("df"),
            (F.coalesce("total_tf", F.lit(0)) + F.coalesce("tf_d", F.lit(0)))
            .cast("bigint")
            .alias("total_tf"),
        )
        # materialize BEFORE overwriting the directory being read
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(lex_path)
    new_stats = _docstats_rows(new_docs).localCheckpoint(eager=True)
    new_stats.write.mode("append").parquet(os.path.join(index_dir, "docstats"))
    dn, ddl = _corpus_scalars(new_stats)
    manifest["n_docs"] += dn
    manifest["total_dl"] += ddl
    with open(os.path.join(index_dir, _POSTINGS_MANIFEST), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def bm25_search_saved(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...] | None = None,
    k: int | None = None,
) -> DataFrame:
    """Serve a BM25 query from a SAVED postings store — bit-identical
    rows to q_text_bm25 when store and fixture agree (pinned in
    tests/test_index_store.py). The terms' buckets are computed
    driver-side (term_bucket) and pushed as a static partition filter,
    so the postings scan lists only |distinct term buckets| of the
    POSTINGS_BUCKETS directories; the lexicon slice broadcasts
    (|terms| rows) and the only corpus-keyed work is the doc-length
    equi join plus the top-k TakeOrdered."""
    from pyspark.sql import Window as W

    from distributed_causal_stream_processing_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
        BM25_TOPK,
    )
    from distributed_causal_stream_processing_spark.operators.text import floor6

    terms = BM25_TERMS if terms is None else terms
    k = BM25_TOPK if k is None else k
    manifest = postings_store_manifest(index_dir)
    if manifest["n_docs"] == 0:
        # _corpus_scalars supports (0, 0) manifests (empty micro-batch),
        # so an empty store is constructible; avgdl is undefined on it —
        # name the store instead of raising ZeroDivisionError.
        raise ValueError(f"postings store at {index_dir!r} is empty (n_docs=0)")
    n, avgdl = manifest["n_docs"], manifest["total_dl"] / manifest["n_docs"]
    buckets = sorted({term_bucket(t) for t in terms})
    postings = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("tok").isin(*terms))
        .select("tok", "doc_id", "tf")
    )
    idf = (
        spark.read.parquet(os.path.join(index_dir, "lexicon"))
        .filter(F.col("tok").isin(*terms))
        .select(
            "tok",
            F.log(
                F.lit(1.0) + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    dl = spark.read.parquet(os.path.join(index_dir, "docstats"))
    contrib = (
        postings.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
                )
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("doc_id").agg(floor6(F.sum("c")).alias("bm25"))
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "bm25", F.row_number().over(w).cast("bigint").alias("rnk"))
    )


def postings_store_compact(spark: SparkSession, index_dir: str) -> None:
    """Compact the postings table to one file per bucket directory —
    the same maintenance job as the other two stores."""
    postings_store_manifest(index_dir)  # validate before touching data
    path = os.path.join(index_dir, "postings")
    rows = (
        spark.read.parquet(path)
        .select("tok", "doc_id", "tf", "bucket")
        .localCheckpoint(eager=True)
    )
    _compact_partitioned(rows, path, "bucket")

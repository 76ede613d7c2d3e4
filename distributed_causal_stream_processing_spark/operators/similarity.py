"""Embedding-similarity operators (SURVEY §2.10 + brief extras:
brute-force cosine top-k baseline, kNN-label vote, LSH-bucketed ANN
scale path, embedding-cosine near-dup).

Cosine is computed with higher-order functions (`zip_with` +
`aggregate`) — stays inside whole-stage codegen, no Python. Vectors
are cast float→double before arithmetic so Spark and the DuckDB oracle
(`list_cosine_similarity` on DOUBLE[]) agree to rounding precision.

Scale notes (100 TB of embeddings): the brute-force pair product is the
*baseline* (bounded here by vec_id caps); the scale path is
`q_sim_ann_lsh` — deterministic random-hyperplane signatures bucket the
join, so only same-bucket pairs are scored. Swapping bucketing for IVF
(k-means cells) keeps the same plan shape.

Float-comparison risk note (review, round 9): the blocked-GEMM queries
rank and threshold on sims computed by DIFFERENT float algorithms per
engine (numpy normalize-then-BLAS-GEMM vs DuckDB's sequential
dot/sqrt-product) — two pairs whose true sims differ by less than the
~1e-15 algorithmic delta could rank oppositely, and a pair within an
ULP of the 0.3 threshold could be emitted by one engine only. Kept
as-is deliberately: the outputs compare on 4-dp-ROUNDED sims, nine
rounds of three-scale parity have never produced a flip (the fixture's
sim spectrum keeps pair gaps far above 1e-15), and quantizing before
rank cannot fully close the class either (the two sides' doubles
differ, so any grid has the same boundary exposure). If a fixture
generation ever lands a flip, the fix is ranking on floor-scaled sims
computed at a coarser grid than the algorithmic delta.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_causal_stream_processing_spark.io import (
    _fingerprint,
    load,
    table_path,
)
from distributed_causal_stream_processing_spark.operators.loops import (
    checkpoint_observed,
)
from distributed_causal_stream_processing_spark.plans.registry import query

DIM = 64

# Blocked all-pairs: vectors are packed into N_BLOCKS matrices, the
# B(B+1)/2 block pairs are joined, and each pair is scored with one
# float64 GEMM. At 100 TB, B scales with corpus size so a block fits an
# executor; tasks are independent, and no per-pair array ever crosses a
# shuffle — only the packed block (one row per block) and the surviving
# (id, id, sim) triples do.
N_BLOCKS = 8

_PACK_SCHEMA = "blk int, ids array<bigint>, mat binary"
_PAIR_SCHEMA = "vec_a bigint, vec_b bigint, sim double"


def _pack_block(pdf):
    """One block of (vec_id, emb) → a single packed row: sorted ids +
    the row-normalized float64 matrix as raw bytes (Arrow-friendly)."""
    import numpy as np
    import pandas as pd

    ids = pdf["vec_id"].to_numpy(dtype="int64")
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    np.divide(mat, norms, out=mat, where=norms != 0)
    return pd.DataFrame(
        {"blk": [int(pdf["blk"].iloc[0])], "ids": [ids.tolist()], "mat": [mat.tobytes()]}
    )


def _blocked_cosine_pairs(
    spark: SparkSession,
    sf_dir: str,
    thresh: float | None = None,
    local_topk: int | None = None,
    pred: Column | None = None,
) -> DataFrame:
    """All unordered pairs (vec_a < vec_b, cosine sim) via blocked GEMM.

    thresh: keep only sim >= thresh (pushed into the kernel, so the
    quadratic candidate set dies before leaving the task).
    local_topk: keep each block-pair's top-k by sim (ties kept), which
    upper-bounds a later global top-k — turns O(n²) output into O(B²·k).
    pred: optional row filter on the vector table (e.g. a deterministic
    hash-sample) applied BEFORE pair enumeration, so the quadratic
    shrinks by the sample fraction squared.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    if pred is not None:
        e = e.filter(pred)
    blk = e.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(N_BLOCKS)).cast("int"))
    packed = blk.groupBy("blk").applyInPandas(_pack_block, _PACK_SCHEMA)
    a = packed.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("mat").alias("mat_a")
    )
    b = packed.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("mat").alias("mat_b")
    )
    joined = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    def gemm(iterator):
        import numpy as np
        import pandas as pd

        for pdf in iterator:
            out = []
            for row in pdf.itertuples(index=False):
                ia = np.asarray(row.ids_a, dtype=np.int64)
                ib = np.asarray(row.ids_b, dtype=np.int64)
                A = np.frombuffer(row.mat_a, dtype=np.float64).reshape(len(ia), -1)
                Bm = np.frombuffer(row.mat_b, dtype=np.float64).reshape(len(ib), -1)
                S = A @ Bm.T
                if row.blk_a == row.blk_b:
                    iu, ju = np.triu_indices(len(ia), k=1)
                else:
                    iu, ju = np.meshgrid(
                        np.arange(len(ia)), np.arange(len(ib)), indexing="ij"
                    )
                    iu, ju = iu.ravel(), ju.ravel()
                va, vb, s = ia[iu], ib[ju], S[iu, ju]
                lo = np.minimum(va, vb)
                hi = np.maximum(va, vb)
                if thresh is not None:
                    keep = s >= thresh
                    lo, hi, s = lo[keep], hi[keep], s[keep]
                if local_topk is not None and len(s) > local_topk:
                    kth = np.partition(s, len(s) - local_topk)[len(s) - local_topk]
                    keep = s >= kth  # >= keeps ties for the id tie-break
                    lo, hi, s = lo[keep], hi[keep], s[keep]
                out.append(pd.DataFrame({"vec_a": lo, "vec_b": hi, "sim": s}))
            if out:
                yield pd.concat(out, ignore_index=True)

    return joined.mapInPandas(gemm, _PAIR_SCHEMA)


# The vector kernels below are each ONE SQL expression over column
# names, handed to the JVM as text rather than built node by node from
# Python lambdas (build cost in ``dot``'s docstring). A driver loop
# that builds a kernel every round (k-center, the Lloyd trainers) pays
# that cost per round. The ``_sql`` builders return the text for
# callers that embed a kernel inside a larger expression (the plane
# signatures, the k-center cover).


def _dot_sql(a: str, b: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _sq_l2_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), 0D, "
        "(acc, x) -> acc + x)"
    )


def as_double(a: str) -> Column:
    """Array column ``a`` with its elements cast to double."""
    return F.expr(f"transform({a}, v -> CAST(v AS DOUBLE))")


def dot(a: str, b: str) -> Column:
    """Dot product of array columns ``a`` and ``b``: a left fold over the
    element products.

    A/B'd in optimization round 15 (guide §1.2 "per-task work"): an
    unrolled ``a[0]*b[0] + ... + a[63]*b[63]`` getItem sum — fully
    codegen-able where this higher-order fold is CodegenFallback —
    MEASURED SLOWER on the heavy pair scorers and was reverted
    (q_dedup_embedding_ivf 4.8 → 7.2 s, q_dedup_embedding_pruned
    4.4 → 9.5 s at sf0.1, min-of-2: the 127-node expression tree per
    sim column blows generated-method size past JIT limits, and the
    scorers evaluate sim twice via filter + select). Same conclusion
    as the round-14 vectorization A/B: the fold stays.

    Its BUILD cost is a separate matter. Built from Python lambdas
    through F.aggregate/F.zip_with, a kernel cost a py4j call per
    expression node and lambda variable: 123 calls and ~31 ms of
    driver time per ``sq_l2``, against 3 calls and ~0.5 ms as one SQL
    text (median of 20 builds, Spark 4.1.2, 4-core host). The analyzed
    tree is identical, down to the generated column name, so values
    are bit-equal."""
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    """Euclidean norm of array column ``a``."""
    return F.expr(f"sqrt({_dot_sql(a, a)})")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of array columns ``a`` and ``b``."""
    return F.expr(
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def sq_l2(a: str, b: str) -> Column:
    """Squared L2 distance as a left fold over the per-dimension squared
    differences — bit-equal to the DuckDB oracles' ``list_sum([(a[j] -
    b[j]) ** 2 for j in range(...)])``, so an argmin or a rounded
    distance ranks identically on both engines. The one squared-L2
    fold: k-means, PQ, IVFADC cells and LUTs, k-center and the exact
    L2 yardsticks all call it. Squared, not sqrt'd: sqrt can collapse
    two distinct near-tied sums into one double and flip a tie-break
    (see _kmeans_duck). Built as one SQL text like ``dot`` (py4j build
    cost before/after there)."""
    return F.expr(_sq_l2_sql(a, b))


def scored(na: str, nb: str) -> Column:
    """Pairwise cosine as dot(ea, eb) / (na · nb), with the two norms
    precomputed as scalar columns on each side BEFORE the join — one
    higher-order aggregate per pair instead of three (dot + both
    norms). Norm stays a plain column (never recomputed inside a
    lambda), and joins materialize their inputs, so each row's norm is
    evaluated exactly once."""
    return F.expr(f"{_dot_sql('ea', 'eb')} / ({na} * {nb})")


@query(
    "q_sim_cosine_topk",
    oracle="""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(sim, 4) AS cos_sim,
           CAST(row_number() OVER (ORDER BY sim DESC, vec_a, vec_b) AS BIGINT) AS rnk
    FROM pairs
    ORDER BY sim DESC, vec_a, vec_b
    LIMIT 20
    """,
)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-20 most-similar pairs via blocked GEMM.

    Each block-pair task keeps only its local top-20 (ties included),
    which provably contains the global top-20; the final window ranks
    ~B²·k survivors, not n² pairs.
    """
    pairs = _blocked_cosine_pairs(spark, sf_dir, local_topk=20)
    # global top-20 via TakeOrderedAndProject FIRST (k rows per
    # partition over the block-survivor set, which grows with corpus
    # size), THEN rank the bounded 20 — never an unpartitioned window
    # over all survivors
    w = W.orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b"))
    return (
        pairs.orderBy(F.desc("sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(20)
        .select(
            "vec_a",
            "vec_b",
            F.round("sim", 4).alias("cos_sim"),
            F.row_number().over(w).cast("bigint").alias("rnk"),
        )
    )


@query(
    "q_sim_knn_label",
    oracle="""
    WITH sims AS (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, n.label,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(n.embedding AS DOUBLE[])) AS sim
        FROM embeddings q
        JOIN embeddings n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < 20
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        FROM sims
    ),
    votes AS (
        SELECT query_id, label, CAST(count(*) AS BIGINT) AS n_votes
        FROM ranked WHERE rn <= 5
        GROUP BY query_id, label
    )
    SELECT query_id, label AS knn_label, n_votes
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY n_votes DESC, label ASC) AS vr
        FROM votes
    )
    WHERE vr = 1
    """,
)
def q_sim_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=5 nearest-neighbor majority label for query vectors vec_id<20,
    ties broken by (votes desc, label asc)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    ).withColumn("nrm", norm("emb"))
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("ea"), F.col("nrm").alias("na")
    )
    n = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    sims = q.join(n, F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", "label", scored("na", "nb").alias("sim")
    )
    wk = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    votes = (
        sims.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 5)
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    wv = W.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("knn_label"), "n_votes")
    )


def hamming1_variants(sig: Column, nbits: int) -> Column:
    """Array of a bit-string signature plus its ``nbits`` one-bit flips
    — the Hamming≤1 multiprobe key set. Exploding this on the PROBE
    side and equi-joining the build side's exact signature yields all
    Hamming≤1 collisions without ever comparing signatures pairwise;
    probing one side suffices (flipping the differing bit of a
    Hamming-1 pair on either member reaches the other)."""
    variants = [sig]
    for j in range(1, nbits + 1):
        flipped = F.when(F.substring(sig, j, 1) == "1", F.lit("0")).otherwise("1")
        variants.append(
            F.concat(F.substring(sig, 1, j - 1), flipped, F.substring(sig, j + 1, nbits))
        )
    return F.array(*variants)


def _probe_eq_sql(left_sig: str, right_sig: str) -> str:
    """DuckDB predicate: ``left_sig`` probed at Hamming≤1 equals
    ``right_sig``; caller adds ``CROSS JOIN range(0, nbits+1) f(f)``."""
    flip = (
        f"substr({left_sig}, 1, f.f - 1) || "
        f"(CASE WHEN substr({left_sig}, f.f, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr({left_sig}, f.f + 1)"
    )
    return f"(CASE WHEN f.f = 0 THEN {left_sig} ELSE {flip} END) = {right_sig}"


# Deterministic integer hyperplanes for LSH: h[i][d] = ((97*(i+1) + 31*d) % 13) - 6.
# Integer weights → float×int products are exact in double on both engines.
N_PLANES = 8
_PLANES = [
    [((97 * (i + 1) + 31 * d) % 13) - 6 for d in range(DIM)] for i in range(N_PLANES)
]


def _plane_literal_sql(i: int) -> str:
    return "[" + ", ".join(f"{v}.0" for v in _PLANES[i]) + "]"


def _single_table_sig() -> Column:
    """The 8-bit LSH bucket signature of ``emb`` — all plane dots via
    one higher-order transform over the SQL-parsed plane matrix (see
    ``_nested_double_literal_sql`` for why not per-plane ``F.lit``)."""
    bits = _plane_bits_sql([[float(v) for v in p] for p in _PLANES])
    return F.concat_ws("", F.expr(bits))


_DUCK_SIG = " || ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
    f"CAST({_plane_literal_sql(i)} AS DOUBLE[])) > 0 THEN '1' ELSE '0' END)"
    for i in range(N_PLANES)
)


@query(
    "q_sim_ann_lsh",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, label, embedding, {_DUCK_SIG} AS bucket
        FROM embeddings
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(n.embedding AS DOUBLE[])) AS sim
        FROM sigs q
        CROSS JOIN range(0, {N_PLANES + 1}) f(f)
        JOIN sigs n ON {_probe_eq_sql("q.bucket", "n.bucket")} AND n.vec_id <> q.vec_id
        WHERE q.vec_id < 50
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cos_sim
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn = 1
    """,
)
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane LSH bucketing with Hamming≤1
    multiprobe, exact cosine only within probed buckets, best probed
    neighbor per query (vec_id<50).

    The hyperplanes are fixed integer vectors, so the bucket signature
    is bit-identical in the oracle. At 100 TB the bucket join replaces
    the quadratic product with a shuffle on the 8-bit signature; the
    probe side explodes each query signature into itself plus its 8
    one-bit flips (9× on the tiny query side only — the corpus keeps
    one row per vector). Measured on the fixture: multiprobe lifts
    recall@5 from 0.052 to 0.224 while scanning ~8% of the corpus per
    query (q_sim_recall_eval recomputes this live); Hamming≤2 would
    reach 0.372 at ~21% — the recall/latency dial every ANN index
    exposes. Queries whose probed buckets have no other member return
    no row.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("emb")
    ).withColumn("nrm", norm("emb"))
    sig = _single_table_sig()
    sigs = e.select("vec_id", "emb", "nrm", sig.alias("bucket"))
    # NARROW bucket join, vectors joined back by id afterwards (the
    # _mt_candidates shape — review find, round 9): the old form carried
    # the 64-double arrays and norms through the bucket shuffle on BOTH
    # sides (9x-exploded on the probe side), which _mt_candidates
    # measured 2x slower at sf0.1; heavy buckets amplify it further.
    q = sigs.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.explode(hamming1_variants(F.col("bucket"), N_PLANES)).alias("bucket"),
    )
    n = sigs.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    pairs = (
        q.join(n, ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair met in several probed buckets scores once
    )
    qv = sigs.select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    nv = sigs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cand = (
        pairs.join(qv, ["query_id"])
        .join(nv, ["neighbor_id"])
        .select("query_id", "neighbor_id", scored("na", "nb").alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cos_sim"))
    )


N_CELLS = 16  # IVF cells; centroids = vectors vec_id < N_CELLS (deterministic seed)
N_PROBE = 2  # cells probed per query


@query(
    "q_sim_ann_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cell_id, embedding AS cemb
        FROM embeddings WHERE vec_id < {N_CELLS}
    ),
    assign AS (
        SELECT vec_id, cell_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   CAST(c.cemb AS DOUBLE[])) DESC,
                            cell_id) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    cells AS (SELECT vec_id, cell_id FROM assign WHERE crn = 1),
    probes AS (
        SELECT vec_id AS query_id, cell_id
        FROM assign WHERE vec_id < 50 AND crn <= {N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, m.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(n.embedding AS DOUBLE[])) AS sim
        FROM probes p
        JOIN cells m ON m.cell_id = p.cell_id AND m.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings n ON n.vec_id = m.vec_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS cos_sim
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn = 1
    """,
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantize to the nearest of 16 deterministic
    centroids (the vectors vec_id<16 — a real deployment k-means-trains
    them offline; the *search* plan is identical), probe each query's 2
    nearest cells, exact cosine only inside probed cells, best neighbor
    per query (vec_id<50).

    Scale: assignment is a broadcast of the centroid table (tiny even
    at 100 TB corpus — centroid count grows with sqrt(n), not n), one
    narrow (vec_id, cell_id) shuffle to co-locate cells, and exact
    scoring touches ~n_probe/n_cells of the corpus per query. Same
    plan as q_sim_ann_lsh with the hash buckets swapped for learned
    cells; recall tunes via N_PROBE.
    """
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .withColumn("nrm", norm("emb"))
    )
    cent = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    wc = W.partitionBy("vec_id").orderBy(
        F.desc("sim_c"), F.asc("cell_id")
    )
    assign = (
        e.select("vec_id", F.col("emb").alias("ea"), F.col("nrm").alias("na"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cell_id", scored("na", "nb").alias("sim_c"))
        .withColumn("crn", F.row_number().over(wc))
    )
    cells = assign.filter(F.col("crn") == 1).select("vec_id", "cell_id")
    probes = assign.filter((F.col("vec_id") < 50) & (F.col("crn") <= N_PROBE)).select(
        F.col("vec_id").alias("query_id"), "cell_id"
    )
    qv = e.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("ea"), F.col("nrm").alias("na")
    )
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("eb"), F.col("nrm").alias("nb")
    )
    cand = (
        probes.join(cells, ["cell_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .join(qv, ["query_id"])
        .join(nv, ["neighbor_id"])
        .select("query_id", "neighbor_id", scored("na", "nb").alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("cos_sim"))
    )


# Deterministic cross-engine hash-sample for the exact-baseline paths:
# first hex digit of md5(vec_id) in 0-3 → an exact, engine-agnostic
# 4/16 expected fraction (md5 of the decimal string renders identically
# in Spark and DuckDB, unlike their incompatible builtin hash()).
_EVAL_SAMPLE_HEX = ("0", "1", "2", "3")
_EVAL_SAMPLE_SQL = (
    "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) IN ('"
    + "', '".join(_EVAL_SAMPLE_HEX)
    + "')"
)


def _eval_sample_pred() -> Column:
    return F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
        *_EVAL_SAMPLE_HEX
    )


# Scale-aware sample for the exact all-pairs yardstick (VERDICT r07
# item 5): a FIXED fraction keeps the yardstick O(f²n²), which still
# explodes at 100× corpus. Instead, target a constant PAIR BUDGET:
# sample m ≈ _YARDSTICK_M vectors regardless of corpus size, so the
# enumerated pairs stay ~m²/2 (125k at m=500) in every input regime.
# The cutoff is pure integer arithmetic — k = clamp((2³²·m)//n) 32-bit
# slots of the md5(vec_id) prefix — computed from a metadata-cheap
# count(*) on BOTH engines, so the Spark predicate and the oracle's
# WHERE select the identical deterministic subset at any n. The 9-char
# zero-padded hex compare ('0'||8-hex-prefix < %09x-of-k) makes k=2³²
# (full sample, n ≤ m) order correctly as lowercase-hex strings.
# 32-bit, not 16-bit (ADVICE r08): with 16-bit slots the fraction
# floors at 2⁻¹⁶, so beyond n ≈ 65536·m the sample grows LINEARLY with
# n again; 2³² slots keep the fraction ≈ m/n (and the budget constant)
# out to n ≈ 2³²·m ≈ 2×10¹² vectors.
_YARDSTICK_M = 500  # sampled vectors ≈ m → pair budget ≈ m²/2
_YARDSTICK_SLOTS = 1 << 32


def _yardstick_cutoff(n: int) -> str:
    return format(
        max(1, min(_YARDSTICK_SLOTS, (_YARDSTICK_SLOTS * _YARDSTICK_M) // max(n, 1))),
        "09x",
    )


@query(
    "q_dedup_embedding",
    oracle=f"""
    WITH k AS (
        SELECT printf('%09x',
               greatest(1, least(4294967296,
                        (4294967296 * {_YARDSTICK_M}) // count(*)))
        ) AS cutoff FROM embeddings
    ),
    se AS (
        SELECT e.* FROM embeddings e, k
        WHERE '0' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8) < k.cutoff
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM se a JOIN se b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def q_dedup_embedding(
    spark: SparkSession,
    sf_dir: str,
    pred: Column | None = None,
    full_exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.3) — the EXACT
    baseline (blocked-GEMM all-pairs, threshold applied inside the
    kernel) that the recall of the scale path,
    ``q_dedup_embedding_pruned`` (LSH-bucketed candidates, nothing
    quadratic), is measured against.

    The registered form runs on a SCALE-AWARE deterministic hash-sample
    (VERDICT r07 item 5): ~_YARDSTICK_M vectors regardless of corpus
    size, i.e. a constant ~125k-pair budget — the sampled yardstick is
    O(1) in n, not O(f²n²), so no registered query is quadratic in any
    input regime. The md5-prefix cutoff is integer arithmetic over a
    metadata-cheap count, and the oracle computes the identical cutoff
    from count(*), so both engines select the same subset. Cosine
    similarity of a pair depends only on that pair's vectors, so every
    sampled pair's score is exactly its full-corpus score — the sample
    restricts WHICH pairs are reported, never their values. Pass
    ``full_exact=True`` for the unsampled all-pairs run (the recall
    yardstick at small sf), or ``pred`` to substitute a caller's own
    restriction (the recall eval's path)."""
    if pred is None and not full_exact:
        # the registered yardstick form is also the pair source for
        # q_dedup_semantic_clusters — memoize it so the constant
        # ~125k-pair exact scan runs once per session, not per consumer
        def build() -> DataFrame:
            n = load(spark, sf_dir, "embeddings").count()
            p = F.concat(
                F.lit("0"),
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
            ) < F.lit(_yardstick_cutoff(n))
            return _blocked_cosine_pairs(spark, sf_dir, thresh=0.3, pred=p).select(
                "vec_a", "vec_b", F.round("sim", 4).alias("cos_sim")
            )

        return _memo(spark, sf_dir, "dedup_embedding:yardstick_pairs", build)
    return _blocked_cosine_pairs(spark, sf_dir, thresh=0.3, pred=pred).select(
        "vec_a", "vec_b", F.round("sim", 4).alias("cos_sim")
    )


# Multi-table multiprobe LSH for the pruned dedup path: the AND-OR
# construction plus Hamming-1 probing. Within a table, ALL planes must
# agree (AND — controls candidate volume); a pair is a candidate if it
# collides in ANY table (OR — recovers recall); probing additionally
# accepts same-table signatures differing in AT MOST ONE bit, which
# multiplies per-table recall ~5× for a bounded candidate increase —
# the two knobs every production LSH index exposes.
#
# Plane construction: i.i.d. ±1 signs derived from md5 in PYTHON at
# import, embedded as literals in both engines' query texts — the
# buckets stay bit-identical in DuckDB, so the query is value-hash
# checked, not rows-only. (The previous modular family
# ((97(i+1)+31d) % 13) - 6 was silently rank-deficient: as d varies the
# pattern has period 13, so every "plane" was a cyclic shift of one
# base vector and only 13 distinct hyperplanes existed across all
# tables — correlated tables cap the OR-construction's recall gain.)
#
# Measured on the sf0.01 fixture (990 true pairs at cos≥0.3 out of
# 124 750 — a 2.4σ tail of near-random vectors, the WORST regime for
# hyperplane LSH; real near-dup corpora sit at cos≥0.85 where the same
# index recalls >0.99): recall 0.6323 at candidate fraction 0.2641
# (2.4× lift over random), vs 0.236 @ 0.111 for the old correlated
# 4×6-plane exact-collision index. q_dedup_embedding_recall recomputes
# both numbers as a registered query.
N_TABLES = 8
PLANES_PER_TABLE = 8


def _mt_planes(n_planes: int) -> list[list[float]]:
    """Deterministic i.i.d. ±1 sign planes (md5-derived): one global
    plane sequence that per-table layouts slice contiguously, so any
    (n_tables, bits) configuration is reproducible from the seed
    formula alone."""
    return [
        [
            1.0
            if int(hashlib.md5(f"plane:{i}:{d}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for d in range(DIM)
        ]
        for i in range(n_planes)
    ]


_PLANES_MT = _mt_planes(N_TABLES * PLANES_PER_TABLE)


def planes_for_corpus(n: int, ref_n: int = 500, ref_bits: int = PLANES_PER_TABLE) -> int:
    """The production LSH bit-growth law: signature bits per table grow
    ~log2(n) so the per-bucket occupancy n/2^bits — and with it the
    candidate count — stays near-LINEAR in corpus size instead of the
    fixed-bit constant-fraction-of-n² (see q_dedup_embedding_pruned's
    asymptotics note). Anchored at the fixture-tuned (ref_n, ref_bits)
    recall point; floor of 4 keeps tiny corpora from degenerating to
    everything-in-one-bucket."""
    import math

    return max(4, ref_bits + round(math.log2(max(n, 2) / ref_n)))


def _mt_plane_literal_sql(i: int) -> str:
    return "[" + ", ".join(f"{v}" for v in _PLANES_MT[i]) + "]"


def _mt_sig_sql(t: int) -> str:
    return " || ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST({_mt_plane_literal_sql(t * PLANES_PER_TABLE + j)} AS DOUBLE[])) > 0 "
        f"THEN '1' ELSE '0' END)"
        for j in range(PLANES_PER_TABLE)
    )


_MT_SIG_COLS = ", ".join(f"{_mt_sig_sql(t)} AS b{t}" for t in range(N_TABLES))


def _mt_probe_join_sql(t: int) -> str:
    """One table's Hamming≤1 candidate join, built on the shared
    _probe_eq_sql predicate: the probe side expands each signature to
    itself (f=0) plus its PLANES_PER_TABLE one-bit flips, equi-joined
    against the build side's exact signature. Probing from one side
    suffices — flipping the single differing bit on either member of a
    Hamming-1 pair reaches the other's signature."""
    return f"""        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                      CAST(b.embedding AS DOUBLE[])) AS sim
        FROM sigs a
        CROSS JOIN range(0, {PLANES_PER_TABLE + 1}) f(f)
        JOIN sigs b
          ON {_probe_eq_sql(f"a.b{t}", f"b.b{t}")}
         AND a.vec_id < b.vec_id"""


_MT_CAND_UNION = "\n        UNION ALL\n".join(
    _mt_probe_join_sql(t) for t in range(N_TABLES)
)


@query(
    "q_dedup_embedding_pruned",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {_MT_SIG_COLS}
        FROM embeddings
    ),
    cand AS (
{_MT_CAND_UNION}
    )
    SELECT DISTINCT vec_a, vec_b, round(sim, 4) AS cos_sim
    FROM cand
    WHERE sim >= 0.3
    """,
)
def q_dedup_embedding_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, LSH-pruned — the 100 TB path that
    retires ``q_dedup_embedding``'s quadratic plan (VERDICT r04 item 2).

    Candidate generation is multi-table multiprobe random-hyperplane
    LSH (see the N_TABLES block comment for the AND/OR/probe math and
    the measured recall 0.6323 @ candidate fraction 0.2641 — recomputed
    live by q_dedup_embedding_recall). Candidates are scored EXACTLY
    with the codegen ``zip_with``+``aggregate`` dot and thresholded at
    cos ≥ 0.3 — no Python anywhere: the blocked-GEMM kernel exists for
    the dense all-pairs baseline, but on an already sparse candidate
    set per-pair codegen scoring is cheaper than packing matrices. A
    pair colliding in several tables is deduped by DISTINCT (sim is a
    function of the pair, so distinct-on-all-columns is exact).

    Semantics: output ⊆ the exact baseline (a true pair colliding in
    no probed bucket is missed — the recall trade every LSH index
    makes). Both engines derive identical buckets, so this is
    value-hash-checked, not rows-only. Scale shape: one shuffle per
    table on the 8-bit signature, probe side expanded 9× by a
    narrow-row explode (expansion is linear in n with constant
    PLANES_PER_TABLE+1); heavy buckets shard via AQE skew-join. Be
    precise about the asymptotics: with FIXED signature bits the
    candidate set is p·n²/2 with constant p ≈ cand_frac (≈0.26 on this
    isotropic corpus at BOTH fixture scales —
    tests/test_scale_smoke.py pins that invariance) — a constant-
    factor prune, not a lower exponent. Production holds candidates
    near-linear by growing signature bits ~log n (more planes per
    table as the corpus grows), the standard LSH scaling; here the
    bits are fixture-tuned for the recall target instead.

    tests/test_plans.py asserts the plan has no cartesian/nested-loop
    join and no Python stage."""
    return (
        _mt_candidates(spark, sf_dir)
        .filter(F.col("sim") >= 0.3)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("cos_sim"))
    )


def _nested_double_literal_sql(rows: list[list[float]]) -> str:
    """A constant ``array<array<double>>`` as SQL text, for ONE
    SQL-parsed expression. Building it element-wise with ``F.lit``
    costs a py4j round-trip per element — measured ~5 s of pure driver
    time for the 64×64 plane matrix at every query BUILD (before any
    job ran); one text hands the JVM a single string to parse
    instead."""
    return (
        "array("
        + ", ".join("array(" + ", ".join(f"{v}D" for v in r) + ")" for r in rows)
        + ")"
    )


def _plane_bits_sql(planes: list[list[float]]) -> str:
    """The '1'/'0' sign of ``emb``'s dot with each plane, as one
    higher-order transform over the SQL-parsed plane matrix."""
    return (
        f"transform({_nested_double_literal_sql(planes)}, "
        f"p -> CASE WHEN {_dot_sql('emb', 'p')} > 0 THEN '1' ELSE '0' END)"
    )


def mt_signature_frame(
    e: DataFrame, planes_per_table: int = PLANES_PER_TABLE
) -> DataFrame:
    """(vec_id, b0..b{N_TABLES-1}) — the multi-table hyperplane LSH
    signatures of a frame with columns (vec_id, emb array<double>).

    All plane dots run in ONE higher-order transform over the
    SQL-parsed plane matrix (same left-fold dot, so buckets stay
    bit-identical with the oracle's unrolled CASE chain), then the
    per-table signature strings are sliced out of the bit array.
    Callers that branch over the result repeatedly should
    localCheckpoint it: without the lineage cut Catalyst re-derives
    the plane expression in every branch — the pruned-dedup query was
    driver-bound (plan/py4j, ~7 s at ANY sf), not data-bound."""
    bits = F.expr(_plane_bits_sql(_mt_planes(N_TABLES * planes_per_table)))
    return e.select("vec_id", bits.alias("bits")).select(
        "vec_id",
        *[
            F.concat_ws(
                "", F.slice("bits", t * planes_per_table + 1, planes_per_table)
            ).alias(f"b{t}")
            for t in range(N_TABLES)
        ],
    )


def _mt_candidates(
    spark: SparkSession,
    sf_dir: str,
    pred: Column | None = None,
    planes_per_table: int = PLANES_PER_TABLE,
) -> DataFrame:
    """Multiprobe LSH candidate pairs (vec_a < vec_b, exact cosine
    sim), ONE ROW PER DISTINCT PAIR — cross-table repeats are deduped
    internally before scoring, so callers may count/filter directly.
    The probe side explodes each signature into itself plus its
    one-bit flips and equi-joins the build side's exact signature
    (Hamming≤1 without ever comparing signatures pairwise). ``pred``
    optionally restricts the vector table first (a vector's buckets
    depend only on that vector, so a pair of sampled vectors is a
    candidate iff it is a candidate in the full corpus — sampling
    commutes with the index)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .withColumn("nrm", norm("emb"))
    )
    if pred is not None:
        e = e.filter(pred)

    sigs = _build_ckpt(mt_signature_frame(e, planes_per_table))

    # Candidate generation stays NARROW — (vec_id, bucket) rows only —
    # and pairs are made DISTINCT before any vector is touched: a pair
    # colliding in k of the 8 tables would otherwise be scored k times
    # with the 64-dim arrays dragged through every bucket shuffle
    # (measured 2× slower at sf0.1). The embeddings join back on ids
    # against the (distinct) pair list, so each surviving pair is
    # scored exactly once.
    per_table = []
    for t in range(N_TABLES):
        a = sigs.select(
            F.col("vec_id").alias("vec_a"),
            F.explode(
                hamming1_variants(F.col(f"b{t}"), planes_per_table)
            ).alias("bucket"),
        )
        b = sigs.select(F.col("vec_id").alias("vec_b"), F.col(f"b{t}").alias("bucket"))
        per_table.append(
            a.join(b, ["bucket"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b")
        )
    pairs = per_table[0]
    for t_df in per_table[1:]:
        pairs = pairs.unionAll(t_df)
    pairs = pairs.distinct()
    ea = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
    )
    eb = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    return pairs.join(ea, ["vec_a"]).join(eb, ["vec_b"]).select(
        "vec_a", "vec_b", scored("na", "nb").alias("sim")
    )


@query(
    "q_dedup_embedding_recall",
    oracle=f"""
    WITH se AS (
        SELECT * FROM embeddings WHERE {_EVAL_SAMPLE_SQL}
    ),
    sigs AS (
        SELECT vec_id, embedding, {_MT_SIG_COLS}
        FROM se
    ),
    exact_pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM se a JOIN se b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.3
    ),
    cand AS (
{_MT_CAND_UNION}
    ),
    cand_pairs AS (SELECT DISTINCT vec_a, vec_b FROM cand),
    pruned_pairs AS (
        SELECT DISTINCT vec_a, vec_b FROM cand WHERE sim >= 0.3
    ),
    npairs AS (
        SELECT count(*) * (count(*) - 1) / 2 AS n FROM se
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM exact_pairs) AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM pruned_pairs) AS n_pruned,
           round(CAST((SELECT count(*) FROM pruned_pairs) AS DOUBLE)
                 / (SELECT count(*) FROM exact_pairs), 4) AS recall,
           (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs) AS n_cand,
           round(CAST((SELECT count(*) FROM cand_pairs) AS DOUBLE)
                 / (SELECT n FROM npairs), 4) AS cand_frac
    """,
)
def q_dedup_embedding_recall(
    spark: SparkSession, sf_dir: str, full_exact: bool = False
) -> DataFrame:
    """Recall AND cost of the LSH-pruned embedding dedup against the
    exact baseline — the two numbers that justify shipping the pruned
    path at 100 TB (sibling of q_sim_recall_eval, which scores the ANN
    side). Pruned pairs are a subset of exact pairs by construction
    (same threshold, candidates only restricted), so recall = n_pruned
    / n_exact; cand_frac = distinct candidate pairs / all n(n-1)/2
    pairs is the fraction of the quadratic work the index actually
    performs — recall without its cost column is how LSH evals lie.

    The eval runs on a DETERMINISTIC HASH-SAMPLE of the vectors
    (md5 first hex digit, expected 25% — VERDICT r05 item 3), applied
    identically to BOTH sides: a pair's candidate status depends only
    on its two vectors' signatures, so restricting the corpus to the
    sample leaves per-pair collision behavior untouched and the
    sampled recall/cand_frac are unbiased estimates of the full-corpus
    numbers — while the exact side's quadratic shrinks 16×. Pass
    ``full_exact=True`` for the unsampled eval (the pre-r06 behavior;
    measured full-corpus: recall 0.6323 @ cand_frac 0.2641 at
    sf0.01)."""
    pred = None if full_exact else _eval_sample_pred()
    exact = q_dedup_embedding(spark, sf_dir, pred=pred, full_exact=full_exact).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact")
    )
    # one pass over the candidate pipeline yields BOTH counters (a
    # separate agg per counter re-derived the whole LSH pipeline —
    # 13.3 s → ~9 s at sf0.1); pairs are already distinct
    cand_stats = _mt_candidates(spark, sf_dir, pred=pred).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.count(F.when(F.col("sim") >= 0.3, 1)).cast("bigint").alias("n_pruned"),
    )
    base = load(spark, sf_dir, "embeddings")
    if pred is not None:
        base = base.filter(pred)
    npairs = base.agg(F.count(F.lit(1)).alias("n")).select(
        (F.col("n") * (F.col("n") - 1) / 2).alias("npairs")
    )
    # four 1-row aggregates crossed — the standard scalar-broadcast shape
    return (
        exact.crossJoin(cand_stats)
        .crossJoin(npairs)
        .select(
            "n_exact",
            "n_pruned",
            F.round(F.col("n_pruned") / F.col("n_exact"), 4).alias("recall"),
            "n_cand",
            F.round(F.col("n_cand") / F.col("npairs"), 4).alias("cand_frac"),
        )
    )


# --- Vector quantizer: nearest codeword + Lloyd trainer ------------------
#
# One implementation behind k-means (q_sim_ivf_kmeans), the PQ
# codebooks (_pq_codebook), the IVFADC coarse cells (_trained_cent) and
# every IVFADC encode (the offline build and the index store's append).
# Each has its own unrolled DuckDB oracle; these are the Spark sides.

KM_K = 8  # cells
KM_ITERS = 3  # fixed Lloyd rounds (deterministic, oracle-unrollable)

# Lloyd rounds chained LAZILY per collect (optimization round 16,
# VERDICT r15 item 5): a round's centroid update feeds the next round's
# broadcast side as a computed subtree instead of a collected literal,
# so a whole block of assign+update rounds runs as ONE job with one
# driver round-trip at the end. Measured A/B on the kmeans trainer
# (sf0.1, warm min-of-2, centroids verified identical per round depth):
# one-round-per-collect 1.91 s, two 1.79 s, three 1.68 s — and no
# analyzer cliff at 3 chained rounds (the r14 blowup was 16 stacked
# WINDOW rounds, a different analyzer profile; Lloyd rounds stack one
# join+two aggs each). Capped at 4 per block as the guard against
# re-finding that cliff on a future deeper trainer; every current
# trainer (KM_ITERS=3, IVF_TRAIN_ITERS=2, PQ_ITERS=2) chains fully.
_LLOYD_CHAIN_MAX = 4


def nearest_code(
    vecs: DataFrame,
    book: DataFrame,
    v: str,
    c: str,
    code: str,
    keys: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest codeword per (vec_id, *keys) → (vec_id, *keys, *carry,
    code, d2): vector column ``v`` of ``vecs`` against the (*keys, code,
    c) codewords of ``book``.

    The codebook is model-sized and broadcast: an equi join on ``keys``
    (PQ's per-subspace codebooks), or a cross join when there are none
    (k-means and coarse cells — PySpark's ``join(on=[])`` raises). The
    argmin is min(struct(d2, code)): a hash aggregation with map-side
    partial combine, NOT a window — no sort, no per-vec_id exchange of
    the fanned-out rows — and the struct order ties-break on ``code``
    exactly like the oracles' row_number() ORDER BY d2, code.
    ``carry`` names vector-side columns kept through the aggregation
    (constant per vec_id, so first() is exact); callers that need the
    vector back either carry it or join it back, their choice."""
    book = F.broadcast(book)
    pairs = vecs.join(book, list(keys)) if keys else vecs.crossJoin(book)
    ids = ["vec_id", *keys]
    return (
        pairs.select(*ids, *carry, F.struct(sq_l2(v, c).alias("d2"), F.col(code)).alias("dc"))
        .groupBy(*ids)
        .agg(F.min("dc").alias("best"), *[F.first(x).alias(x) for x in carry])
        .select(*ids, *carry, F.col(f"best.{code}").alias(code), F.col("best.d2").alias("d2"))
    )


def lloyd(
    vecs: DataFrame, schema: str, v: str, seed_lo: int, k: int, iters: int
) -> list[tuple]:
    """Train a codebook with ``iters`` fixed Lloyd rounds over vector
    column ``v`` of ``vecs``; returns it collected and sorted as
    (*keys, code, codeword) tuples.

    ``schema`` is the codebook's DDL: the group keys shared with
    ``vecs`` (PQ's sub_no; none for k-means cells), the code, then the
    codeword array. Seeds are the vectors seed_lo <= vec_id < seed_lo
    + k, with code = vec_id - seed_lo. A round assigns every vector
    (nearest_code) and re-averages each (key, code, dim) rounded to
    6 dp, so both engines quantize identically between rounds. The
    collected state is k x dim doubles per key — constant in the
    corpus, the MLlib trainer pattern. Rounds chain lazily in blocks
    of _LLOYD_CHAIN_MAX: one job and one collect per block."""
    *keys, code, c = [f.split()[0] for f in schema.split(",")]

    def update(book: DataFrame) -> DataFrame:
        return (
            nearest_code(vecs, book, v, c, code, tuple(keys), carry=(v,))
            .select(*keys, code, F.posexplode(v).alias("i", "v"))
            .groupBy(*keys, code, "i")
            .agg(F.round(F.avg("v"), 6).alias("v"))
            .groupBy(*keys, code)
            .agg(F.array_sort(F.collect_list(F.struct("i", "v"))).alias("cv"))
            .select(*keys, code, F.col("cv.v").alias(c))
        )

    seeds = vecs.filter(
        (F.col("vec_id") >= seed_lo) & (F.col("vec_id") < seed_lo + k)
    ).collect()
    book = sorted(
        (*(r[x] for x in keys), int(r.vec_id) - seed_lo, list(r[v])) for r in seeds
    )
    for done in range(0, iters, _LLOYD_CHAIN_MAX):
        cur = vecs.sparkSession.createDataFrame(book, schema)
        for _ in range(min(_LLOYD_CHAIN_MAX, iters - done)):
            cur = update(cur)
        book = sorted(tuple(r) for r in cur.collect())
    return book


def _kmeans_d2(dim: int) -> str:
    # squared-L2 ordering, NOT list_distance: sqrt halves the spacing
    # between near-tied distances, so two squared distances that are
    # distinct doubles can collapse to one double under sqrt — DuckDB
    # would fall to the cell_id tie-break while Spark (which orders by
    # the raw squared sum) keeps the strict order, and one diverged
    # assignment cascades through every Lloyd round (same rationale as
    # the PQ oracle's comment).
    return f"list_sum([ (CAST(e.embedding[j] AS DOUBLE) - c.c[j]) ** 2 for j in range(1, {dim + 1}) ])"


def _lloyd_duck(k: int, iters: int, dim: int, p: str = "") -> list[str]:
    """``lloyd`` over the ``embeddings`` vectors unrolled as DuckDB CTEs:
    ``{p}c0`` seeds cell_id = vec_id < k; ``{p}a{t}`` assigns every
    vector to its argmin squared distance to ``{p}c{t-1}``; ``{p}c{t}``
    is the per-dimension member average rounded to 6 dp (the rounding
    pins both engines to the same centroids despite differing
    float-summation orders). The last CTE, ``{p}c{iters}``, holds
    (cell_id, c). The prefix keeps a chain clear of the PQ unroll's
    c*/a* names when both sit in one query."""
    d2 = _kmeans_d2(dim)
    ctes = [
        f"""{p}c0 AS (
        SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS c
        FROM embeddings WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""{p}a{t} AS (
        SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {d2},
                                c.cell_id) AS rn
            FROM embeddings e CROSS JOIN {p}c{t - 1} c)
        WHERE rn = 1)""")
        ctes.append(f"""{p}c{t} AS (
        SELECT cell_id, list(v ORDER BY i) AS c FROM (
            SELECT a.cell_id, t.i,
                   round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS v
            FROM {p}a{t} a
            JOIN embeddings e USING (vec_id)
            CROSS JOIN range(1, {dim + 1}) t(i)
            GROUP BY a.cell_id, t.i)
        GROUP BY cell_id)""")
    return ctes


def _kmeans_duck(k: int, iters: int, dim: int) -> str:
    """q_sim_ivf_kmeans' oracle: the unrolled Lloyd chain, then each
    vector's final cell and distance, summarized per cell."""
    d2 = _kmeans_d2(dim)
    return (
        "WITH "
        + ",\n    ".join(_lloyd_duck(k, iters, dim))
        + f""",
    fin AS (
        SELECT vec_id, cell_id, d2 FROM (
            SELECT e.vec_id, c.cell_id,
                   {d2} AS d2,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {d2},
                                c.cell_id) AS rn
            FROM embeddings e CROSS JOIN c{iters} c)
        WHERE rn = 1)
    SELECT f.cell_id, CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(f.d2), 2) AS inertia,
           round(any_value(list_sum(c.c)), 3) AS centroid_sum
    FROM fin f JOIN c{iters} c USING (cell_id)
    GROUP BY f.cell_id
    """
    )


@query("q_sim_ivf_kmeans", oracle=_kmeans_duck(KM_K, KM_ITERS, DIM))
def q_sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid TRAINER: k-means (Lloyd's), k=8, 3 fixed rounds,
    seeded from vectors vec_id<8 — closes q_sim_ann_ivf's "centroids
    are seeded, not trained" gap. Returns per-cell size, inertia and a
    centroid checksum, value-hash-checked against the same three rounds
    unrolled as recursive-free DuckDB SQL.

    Spark plan per round — the MLlib pattern:
      1. assignment: broadcast the k x dim centroid table (tiny; grows
         with sqrt(corpus), never with corpus) against the cached
         vector table, argmin of squared L2 inside codegen
         (zip_with + aggregate — no Python in the hot path);
      2. update: posexplode members to (cell, dim, val), one hash-agg
         avg per (cell, dim) with map-side partial aggregation, k*dim
         rows collected to the driver for the next broadcast.
    Per round: one broadcast join + one shuffle of k*dim*n_part partial
    sums. Vectors are localCheckpoint-cached once; centroids rounded to
    6 dp so both engines quantize identically between rounds.
    """
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .localCheckpoint()
    )
    schema = "cell_id bigint, c array<double>"
    cent = lloyd(e, schema, "emb", 0, KM_K, KM_ITERS)
    cent_df = spark.createDataFrame(cent, schema)
    sum_df = spark.createDataFrame(
        [(cid, sum(c)) for cid, c in cent], "cell_id bigint, csum double"
    )
    return (
        nearest_code(e, cent_df, "emb", "c", "cell_id")
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.round(F.sum("d2"), 2).alias("inertia"))
        .join(F.broadcast(sum_df), "cell_id")
        .select("cell_id", "n_vecs", "inertia", F.round("csum", 3).alias("centroid_sum"))
    )


@query(
    "q_embed_normalize",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        WHERE vec_id < 200
    ),
    n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS l2 FROM v
    )
    SELECT vec_id, round(l2, 6) AS l2,
           list_transform(e, x -> round(x / l2, 6)) AS unit
    FROM n
    """,
)
def q_embed_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize embeddings (the prep step before any cosine work —
    normalized vectors turn cosine into a plain dot product).

    Pure per-row higher-order expressions (zip-free: transform +
    aggregate), no shuffle, no Python; the array-valued output is
    value-hash-checked element-wise against DuckDB."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200).select(
        "vec_id", as_double("embedding").alias("e")
    )
    l2 = F.sqrt(
        F.aggregate(
            F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return e.select(
        "vec_id",
        F.round(l2, 6).alias("l2"),
        F.transform("e", lambda x: F.round(x / l2, 6)).alias("unit"),
    )


@query(
    "q_dedup_semantic_clusters",
    oracle=f"""
    WITH RECURSIVE k AS (
        SELECT printf('%09x',
               greatest(1, least(4294967296,
                        (4294967296 * {_YARDSTICK_M}) // count(*)))
        ) AS cutoff FROM embeddings
    ),
    se AS (
        SELECT e.* FROM embeddings e, k
        WHERE '0' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 8) < k.cutoff
    ),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst
        FROM se a JOIN se b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.3
    ),
    sym AS (
        SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
    ),
    reach AS (
        SELECT src AS node, src AS r FROM sym
        UNION
        SELECT s.src AS node, reach.r
        FROM sym s JOIN reach ON s.dst = reach.node
        WHERE reach.r <= s.src
    )
    SELECT node AS vec_id, CAST(min(r) AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY min(r)) AS BIGINT) AS cluster_size
    FROM reach GROUP BY node
    """,
)
def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup CLUSTERS: embedding near-dup pairs (cos >= 0.3,
    blocked GEMM) closed into connected components — the grouping a
    pipeline needs to keep one representative per meaning, composing
    two primitives that are each independently oracle-checked.

    The registered form clusters the SAME scale-aware yardstick sample
    as q_dedup_embedding (review find, round 9: the previous unsampled
    form was the one remaining registered query quadratic in corpus
    size, contradicting the repo invariant the yardstick sample was
    added to establish). Pair discovery over the constant ~_YARDSTICK_M
    vectors keeps the pair budget O(1) in n; callers wanting the full
    corpus compose q_dedup_embedding(pred=...) or the LSH-pruned pair
    source with connected_components directly — the closure is
    min-label propagation with O(|pairs|) state per round either way."""
    from distributed_causal_stream_processing_spark.operators.graph import (
        connected_components,
    )

    pairs = q_dedup_embedding(spark, sf_dir).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    )
    comp = connected_components(pairs, max_rounds=200)
    w = W.partitionBy("component")
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("cluster_size"),
    )


# --- diversity sampling: k-center greedy (farthest-first traversal) -----
#
# The standard coreset/diversity-selection primitive for curating
# training data (Gonzalez 1985 farthest-point traversal; the k-center
# coreset construction of Sener & Savarese, ICLR 2018): pick a seed,
# then repeatedly select the vector FARTHEST from everything selected
# so far — a 2-approximation of the optimal k-center cover, i.e. the K
# exemplars that best spread over the corpus. Deterministic end to end
# (seed = min vec_id, ties by vec_id), so the full selection is
# value-hash-checked against the greedy loop unrolled in DuckDB.
KC_K = 12  # exemplars selected


def _kc_d2(a: str, b: str) -> str:
    """Rounded squared-L2 between two ``e`` list columns, DuckDB side —
    shared by the k-center greedy unroll and its coverage eval."""
    return (
        f"round(list_sum([({a}.e[j] - {b}.e[j]) ** 2 "
        f"for j in range(1, {DIM + 1})]), 4)"
    )


def _kcenter_duck_ctes(k: int) -> list[str]:
    """The greedy loop unrolled as recursion-free DuckDB CTEs: m{t}
    maintains each remaining vector's rounded min-distance to the
    selected set, p{t} takes the argmax (farthest) with vec_id
    tie-break — the _kmeans_duck/_pq_duck unroll pattern. Returned as
    a CTE list so the selection row and the coverage eval share one
    definition."""
    d2 = _kc_d2
    # every m{t} is referenced twice (by p{t+1} and m{t+1}); left to its
    # inlining heuristic DuckDB re-expands the chain and the oracle goes
    # exponential in k (measured 417 s for 500 vectors) — MATERIALIZED
    # pins each round to run once
    ctes = [
        f"""v AS MATERIALIZED (
        SELECT vec_id,
               [CAST(embedding[j] AS DOUBLE) for j in range(1, {DIM + 1})] AS e
        FROM embeddings)""",
        """s1 AS MATERIALIZED (
        SELECT vec_id, e FROM v WHERE vec_id = (SELECT min(vec_id) FROM v))""",
        f"""m1 AS MATERIALIZED (
        SELECT v.vec_id, v.e, {d2('v', 's')} AS dmin
        FROM v, s1 s WHERE v.vec_id <> s.vec_id)""",
    ]
    for t in range(2, k + 1):
        ctes.append(
            f"""p{t} AS MATERIALIZED (
        SELECT vec_id, e, dmin FROM m{t - 1} ORDER BY dmin DESC, vec_id LIMIT 1)"""
        )
        if t < k:
            ctes.append(
                f"""m{t} AS MATERIALIZED (
        SELECT m.vec_id, m.e, least(m.dmin, {d2('m', 'p')}) AS dmin
        FROM m{t - 1} m, p{t} p WHERE m.vec_id <> p.vec_id)"""
            )
    return ctes


def _kcenter_duck(k: int) -> str:
    """The registered selection row's oracle: the greedy unroll's
    (rank, vec_id, cover-distance) ladder."""
    sel = [
        "SELECT CAST(1 AS BIGINT) AS rnk, vec_id,"
        " CAST(NULL AS DOUBLE) AS d2_to_selected FROM s1"
    ]
    sel += [
        f"SELECT CAST({t} AS BIGINT), vec_id, dmin FROM p{t}"
        for t in range(2, k + 1)
    ]
    return (
        "WITH "
        + ",\n    ".join(_kcenter_duck_ctes(k))
        + "\n"
        + "\nUNION ALL\n".join(sel)
    )


def _kcenter_coverage_duck(k: int) -> str:
    """Coverage-eval oracle: the same greedy unroll, its selected set
    and a deterministic hash-'random' K-sample each scored as covers of
    the whole corpus. Per-vector cover distances are 4-dp-rounded then
    scaled to exact BIGINT tenths-of-milli units before summing, so the
    mean is integer arithmetic on both engines — no float-sum order
    exposure (the module docstring's half-grid risk class)."""
    ctes = list(_kcenter_duck_ctes(k))
    sel_union = " UNION ALL ".join(
        ["SELECT e FROM s1"] + [f"SELECT e FROM p{t}" for t in range(2, k + 1)]
    )
    ctes += [
        f"gsel AS MATERIALIZED ({sel_union})",
        f"""rsel AS MATERIALIZED (
        SELECT e FROM (
            SELECT e, md5(CAST(vec_id AS VARCHAR)) AS h, vec_id FROM v
            ORDER BY h, vec_id LIMIT {k}))""",
        f"""gcov AS (
        SELECT v.vec_id,
               CAST(round(min({_kc_d2('v', 's')}) * 10000) AS BIGINT) AS d
        FROM v, gsel s GROUP BY v.vec_id)""",
        f"""rcov AS (
        SELECT v.vec_id,
               CAST(round(min({_kc_d2('v', 's')}) * 10000) AS BIGINT) AS d
        FROM v, rsel s GROUP BY v.vec_id)""",
    ]
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST({k} AS BIGINT) AS k,
           round((SELECT max(d) FROM gcov) / 10000.0, 4) AS max_d2_greedy,
           round((SELECT sum(d) FROM gcov)
                 / ((SELECT count(*) FROM gcov) * 10000.0), 4) AS mean_d2_greedy,
           round((SELECT max(d) FROM rcov) / 10000.0, 4) AS max_d2_random,
           round((SELECT sum(d) FROM rcov)
                 / ((SELECT count(*) FROM rcov) * 10000.0), 4) AS mean_d2_random
    """
    )


@query("q_sample_diverse_kcenter", oracle=_kcenter_duck(KC_K))
def q_sample_diverse_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERSITY SAMPLING: the KC_K most mutually-distant exemplars of
    the embedding corpus by greedy farthest-first traversal — the
    k-center coreset selection a curation pipeline uses to pick
    maximally-diverse training examples (or dedup down to spread-out
    representatives), the diversity-aware complement of the similarity
    family's near-DUP removal. d2_to_selected is each exemplar's
    distance to the set already selected when it was picked — i.e. the
    k-center covering radius ladder, monotone non-increasing, NULL for
    the seed.

    Plan shape per round (K-1 rounds, optimization round 16): a
    RUNNING ``dmin`` column carries each vector's min rounded distance
    to everything selected so far (localCheckpointed per round), so a
    round folds exactly ONE new constant center — d2(new_center) as a
    dim-length expression, `least`ed into dmin (no Python, no shuffle
    of vectors, O(K·dim) total work instead of the previous O(K²·dim)
    full-set recompute) — and the argmax, min(struct(-dmin, vec_id,
    emb)), is observed on that round's checkpoint, so a round is one
    Spark job; the driver pulls exactly ONE (id, vector) row per
    round, so driver state is O(K*dim) — the q_sim_ivf_kmeans
    trainer contract. At 100 TB: K linear passes over a
    broadcast-constant — embarrassingly parallel, nothing quadratic;
    K passes is inherent to the greedy algorithm (each pick depends on
    the last), and K is a small constant by the method's purpose."""
    out, _ = _kcenter_selection(spark, sf_dir)
    return spark.createDataFrame(
        out, "rnk bigint, vec_id bigint, d2_to_selected double"
    )


def _kcenter_min_d2(vecs: list[list[float]]) -> Column:
    """Min rounded squared-L2 from column ``emb`` to a constant vector
    set — the k-center cover distance, shared by the greedy loop and
    the coverage eval."""
    return F.expr(
        f"array_min(transform({_nested_double_literal_sql(vecs)}, "
        f"s -> round({_sq_l2_sql('emb', 's')}, 4)))"
    )


def _kcenter_selection(spark: SparkSession, sf_dir: str):
    """The greedy selection itself — ((rnk, vec_id, d2) rows, selected
    vectors), memoized per (session, fixture): the selection row and
    the coverage eval share one run of the K-pass loop.

    Farthest-first only ever needs each vector's min distance to the
    NEWEST center, so each pass carries a ``dmin`` column, cuts it with
    a localCheckpoint, and updates ``dmin = least(dmin,
    d2(new_center))``: one constant vector folded per pass, O(K·dim)
    scan work in total, and a literal tree that does not grow with the
    pass number. The values equal ``_kcenter_min_d2`` over all selected
    centers: that is array_min over per-center round(d2, 4) terms, and
    iterated least() over the same rounded doubles (d2 ≥ 0, never NULL
    or NaN) is the same min; the winner struct, exclusion set and
    tie-breaks are those of the full recompute."""

    def build():
        e = _emb(spark, sf_dir)
        seed = e.orderBy("vec_id").select("vec_id", "emb").head()
        out = [(1, int(seed.vec_id), None)]
        sel_vecs = [list(seed.emb)]
        # the argmax rides on each pass's checkpoint as an observation,
        # so a pass is ONE job: checkpoint the updated dmin frame and
        # read the farthest remaining vector from that same job
        farthest = F.min(
            F.struct(
                (-F.col("dmin")).alias("nd"),
                F.col("vec_id").alias("vec_id"),
                F.col("emb").alias("emb"),
            )
        ).alias("w")
        cur, probe = checkpoint_observed(
            e.filter(F.col("vec_id") != int(seed.vec_id)).select(
                "vec_id", "emb", _kcenter_min_d2(sel_vecs).alias("dmin")
            ),
            farthest,
        )
        for t in range(2, KC_K + 1):
            win = probe.w
            out.append((t, int(win.vec_id), -float(win.nd)))
            sel_vecs.append(list(win.emb))
            if t < KC_K:
                cur, probe = checkpoint_observed(
                    cur.filter(F.col("vec_id") != int(win.vec_id)).select(
                        "vec_id",
                        "emb",
                        F.least(
                            F.col("dmin"), _kcenter_min_d2([list(win.emb)])
                        ).alias("dmin"),
                    ),
                    farthest,
                )
        return out, sel_vecs

    return _memo(spark, sf_dir, "kcenter:selection", build)


def kcenter_selection_violations(
    rows: list[tuple], corpus_min_id: int | None = None
) -> dict:
    """Structural audit of a k-center greedy selection — the
    seed-exclusion guard extended to this family (VERDICT r11 item 7,
    same discipline as eval_window_seed_violations): returns {} when
    the (rnk, vec_id, d2_to_selected) rows satisfy everything
    q_sample_diverse_kcenter's docstring claims, else a dict naming
    each violated invariant. Checked invariants:

    - ``duplicate_exemplar``: every exemplar distinct — the greedy
      loop's ``~isin(sel_ids)`` exclusion at work (without it a
      corpus of duplicates re-picks the same point forever);
    - ``seed_has_distance`` / ``seed_not_min_vec_id``: the rnk-1 seed
      is the deterministic min-vec_id pick with NULL distance (the
      documented seed rule — a silently changed seed would shift
      every downstream coverage number while staying hash-green,
      the round-9 shared-design-bug class);
    - ``ladder_not_monotone``: d2_to_selected is the covering-radius
      ladder, monotone non-increasing (each pick maximizes distance
      to a GROWING selected set, so the max can only shrink; 4-dp
      rounding makes ties legal, never increases).
    """
    v: dict = {}
    if not rows:
        # an audit that CRASHES on a broken selection defeats its
        # purpose (review r12): degenerate shapes are violations too
        return {"empty_selection": True}
    ids = [r[1] for r in rows]
    dupes = sorted({i for i in ids if ids.count(i) > 1})
    if dupes:
        v["duplicate_exemplar"] = dupes
    if rows[0][2] is not None:
        v["seed_has_distance"] = rows[0][2]
    if corpus_min_id is not None and rows[0][1] != corpus_min_id:
        v["seed_not_min_vec_id"] = (rows[0][1], corpus_min_id)
    ladder = [r[2] for r in rows[1:]]
    if any(d is None for d in ladder):
        v["missing_distance"] = ladder
    elif any(b > a + 1e-12 for a, b in zip(ladder, ladder[1:])):
        v["ladder_not_monotone"] = ladder
    return v


@query("q_sample_diverse_coverage", oracle=_kcenter_coverage_duck(KC_K))
def q_sample_diverse_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-center selection's EVAL row — selection without its
    objective measured is how coreset claims lie (the recall-eval
    discipline every index in this repo ships with, applied to the
    diversity sampler): the k-center objective (max over the corpus of
    distance to the nearest selected exemplar, i.e. the covering
    radius) and the mean cover distance, for the greedy selection AND
    a deterministic hash-'random' K-sample of the same size. Greedy is
    a 2-approximation of the optimal radius; the random columns show
    what that guarantee buys over the baseline a pipeline would
    otherwise use. Measured (sf0.01, K=12): covering radius 1.838
    greedy vs 1.982 random (~7% tighter), means 1.540 vs 1.554 — the
    isotropic near-random fixture is the WORST regime for diversity
    selection (every direction is equally spread already), the same
    honesty note as the ANN family's recall rows; on clustered/
    redundant corpora the greedy gap widens because random sampling
    over-draws dense regions. Per-vector cover distances are
    4-dp-rounded then summed as exact BIGINTs (scaled 1e4) so the
    means carry no float-sum order exposure between engines.

    Plan: both selected sets are constant K x dim literals (greedy from
    the memoized K-pass loop, random from one ORDER BY md5 LIMIT K pull
    — O(K*dim) driver state each); the coverage pass is ONE linear scan
    computing both cover distances in codegen, one hash agg. At 100 TB:
    a single map-side-combining pass over a broadcast constant."""
    e = _emb(spark, sf_dir)
    _, sel_vecs = _kcenter_selection(spark, sf_dir)
    rnd_vecs = [
        list(r.emb)
        for r in e.select(
            "vec_id", "emb", F.md5(F.col("vec_id").cast("string")).alias("h")
        )
        .orderBy("h", "vec_id")
        .limit(KC_K)
        .collect()
    ]
    cov = e.select(
        F.round(_kcenter_min_d2(sel_vecs) * 10000)
        .cast("bigint")
        .alias("dg"),
        F.round(_kcenter_min_d2(rnd_vecs) * 10000)
        .cast("bigint")
        .alias("dr"),
    )
    return cov.agg(
        F.lit(KC_K).cast("bigint").alias("k"),
        F.round(F.max("dg") / F.lit(10000.0), 4).alias("max_d2_greedy"),
        F.round(
            F.sum("dg") / (F.count(F.lit(1)) * F.lit(10000.0)), 4
        ).alias("mean_d2_greedy"),
        F.round(F.max("dr") / F.lit(10000.0), 4).alias("max_d2_random"),
        F.round(
            F.sum("dr") / (F.count(F.lit(1)) * F.lit(10000.0)), 4
        ).alias("mean_d2_random"),
    )


N_QUANT_LEVELS = 256  # int8 codebook: 1 byte/dim vs 4 (float32)


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH el AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, range(1, 65) r(i)
    ),
    stats AS (
        SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
    ),
    coded AS (
        -- mx = mn (a constant dimension) makes step 0 and (v-mn)/step
        -- NaN; both engines would error on the BIGINT cast. Degrade to
        -- code 0 / recon mn — there is no distribution to quantize.
        SELECT vec_id, i, v,
               CASE WHEN mx = mn THEN 0
                    ELSE least({N_QUANT_LEVELS - 1}, CAST(floor(
                        (v - mn) / ((mx - mn) / {N_QUANT_LEVELS})) AS BIGINT))
               END AS code,
               CASE WHEN mx = mn THEN mn
                    ELSE mn + (least({N_QUANT_LEVELS - 1}, CAST(floor(
                        (v - mn) / ((mx - mn) / {N_QUANT_LEVELS})) AS BIGINT)) + 0.5)
                       * ((mx - mn) / {N_QUANT_LEVELS})
               END AS recon
        FROM el JOIN stats USING (i)
    )
    SELECT vec_id,
           md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY i)) AS code_hash,
           round(avg((v - recon) * (v - recon)), 10) AS mse
    FROM coded GROUP BY vec_id
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar quantization of embeddings to int8 codes (the memory-
    compression step ANN indexes apply before IVF/HNSW): per-dimension
    min/max over the corpus define 256 uniform levels; each vector
    becomes 64 one-byte codes (4x smaller), and the per-vector
    reconstruction MSE quantifies the quality loss. The exact code
    assignment is value-checked via an order-preserving md5 of the code
    string, so the quantizer — not just its error stats — is verified
    cross-engine (both sides compute in float64; parquet float32 widens
    exactly, so the arithmetic is bit-identical).

    Scale shape: per-dimension stats are a 64-row aggregate that
    BROADCASTS back to the exploded (vec_id, dim) stream; encoding is
    pure per-row arithmetic, and the per-vector re-pack is one hash-agg
    keyed on vec_id. Nothing quadratic, one corpus-sized shuffle."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(as_double("embedding")).alias("i0", "v")
    )
    el = e.select("vec_id", (F.col("i0") + 1).alias("i"), "v")
    stats = el.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    step = (F.col("mx") - F.col("mn")) / N_QUANT_LEVELS
    # constant-dimension guard (mx == mn): step 0 would make the ratio
    # NaN and the ANSI bigint cast throw on BOTH engines — degrade to
    # code 0 / recon mn, mirroring the oracle (review find, round 9)
    flat = F.col("mx") == F.col("mn")
    code = F.when(flat, F.lit(0)).otherwise(
        F.least(
            F.lit(N_QUANT_LEVELS - 1),
            F.floor((F.col("v") - F.col("mn")) / step).cast("bigint"),
        )
    )
    coded = el.join(F.broadcast(stats), "i").select(
        "vec_id",
        "i",
        "v",
        code.alias("code"),
        F.when(flat, F.col("mn"))
        .otherwise(F.col("mn") + (code + 0.5) * step)
        .alias("recon"),
    )
    err = (F.col("v") - F.col("recon")) * (F.col("v") - F.col("recon"))
    return coded.groupBy("vec_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("i", "code"))
                    ),
                    lambda s: s["code"].cast("string"),
                ),
                ",",
            )
        ).alias("code_hash"),
        F.round(F.avg(err), 10).alias("mse"),
    )


RECALL_K = 5


@query(
    "q_sim_recall_eval",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {{sig}} AS bucket FROM embeddings
    ),
    q AS (SELECT * FROM sigs WHERE vec_id < 50),
    exact AS (
        SELECT * FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]),
                           CAST(n.embedding AS DOUBLE[])) DESC,
                           n.vec_id) AS rn
            FROM q JOIN embeddings n ON n.vec_id <> q.vec_id
        ) WHERE rn <= {RECALL_K}
    ),
    ann AS (
        SELECT * FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(
                           CAST(q.embedding AS DOUBLE[]),
                           CAST(n.embedding AS DOUBLE[])) DESC,
                           n.vec_id) AS rn
            FROM q
            CROSS JOIN range(0, {N_PLANES + 1}) f(f)
            JOIN sigs n
              ON {_probe_eq_sql("q.bucket", "n.bucket")} AND n.vec_id <> q.vec_id
        ) WHERE rn <= {RECALL_K}
    )
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(count(a.neighbor_id) / CAST({RECALL_K} AS DOUBLE), 2) AS recall_at_k
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """.replace("{sig}", _DUCK_SIG),
)
def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measured IN the engine: recall@5 of the LSH bucket
    index against the exact top-5, per query point — the evaluation
    loop every ANN deployment runs before trusting an index, expressed
    as one query so it can ride the same scheduled pipeline as the
    index build.

    Scale shape: the query set is small and BROADCASTS to both
    arms — the exact arm streams the corpus once (never corpus x
    corpus: it is queries x corpus with a per-query top-k), the ANN
    arm joins on the Hamming≤1-probed bucket signature (the probe
    explode lands on the 9-rows-per-query broadcast side); the final
    hit-join is (queries x k) rows against (queries x k) rows. Recall
    gaps surface as n_hits < k — multiprobe lifted this fixture's
    recall@5 from 0.052 (exact-collision) to 0.224 at ~8% of the
    corpus scanned per query, and the eval is the dial for tuning
    planes/probe radius further."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    ).withColumn("nrm", norm("emb"))
    sig = _single_table_sig()
    sigs = e.select("vec_id", "emb", "nrm", sig.alias("bucket"))
    q = sigs.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("ea"),
        F.col("nrm").alias("na"),
        F.col("bucket").alias("qbucket"),
    )
    # probe set: the query's bucket plus its one-bit flips, exploded —
    # 9 rows per query on the tiny broadcast side only
    q_probed = q.select(
        "query_id",
        "ea",
        "na",
        F.explode(hamming1_variants(F.col("qbucket"), N_PLANES)).alias("qbucket"),
    )
    corpus = sigs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
        "bucket",
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))

    exact = (
        F.broadcast(q).join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", scored("na", "nb").alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select("query_id", "neighbor_id")
    )
    ann = (
        F.broadcast(q_probed).join(
            corpus,
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", scored("na", "nb").alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select(
            # unique names: exact and ann share lineage (both derive from
            # sigs), and a join on same-named columns of a self-join pair
            # silently mis-resolves — rename BEFORE joining
            F.col("query_id").alias("ann_query"),
            F.col("neighbor_id").alias("ann_neighbor"),
        )
    )
    return (
        exact.join(
            ann,
            (F.col("query_id") == F.col("ann_query"))
            & (F.col("neighbor_id") == F.col("ann_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("ann_neighbor").cast("bigint").alias("n_hits"),
            F.round(F.count("ann_neighbor") / RECALL_K, 2).alias("recall_at_k"),
        )
    )


# --- PCA: top principal component via fixed-round power iteration --------

N_PCA_ITERS = 3


def _pca_ctes(dim: int, iters: int) -> tuple[list[str], str]:
    """Shared unrolled-power-iteration CTE chain; returns (ctes,
    final_v_name). Determinism pins: the covariance matrix and every
    matvec are rounded to 6 dp, so both engines iterate over
    bit-identical inputs despite differing float-summation orders (the
    kmeans-oracle trick)."""
    ctes = [
        f"""comp AS (
        SELECT vec_id, t.i, CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings CROSS JOIN range(1, {dim + 1}) t(i))""",
        """mu AS (SELECT i, round(avg(x), 6) AS mu FROM comp GROUP BY i)""",
        """cen AS (
        SELECT vec_id, comp.i, x - mu AS xc
        FROM comp JOIN mu USING (i))""",
        """cm AS (
        SELECT a.i, b.i AS j, round(avg(a.xc * b.xc), 6) AS cij
        FROM cen a JOIN cen b USING (vec_id)
        GROUP BY a.i, b.i)""",
        f"""v0 AS (SELECT t.i AS j, 1.0 AS v FROM range(1, {dim + 1}) t(i))""",
    ]
    prev = "v0"
    for t in range(1, iters + 1):
        ctes.append(
            f"""w{t} AS (
        SELECT cm.i, round(sum(cij * v), 6) AS w
        FROM cm JOIN {prev} p ON cm.j = p.j GROUP BY cm.i)"""
        )
        ctes.append(f"""s{t} AS (SELECT sqrt(sum(w * w)) AS s FROM w{t})""")
        ctes.append(
            f"""v{t} AS (
        SELECT i AS j, round(w / s, 6) AS v FROM w{t} CROSS JOIN s{t})"""
        )
        prev = f"v{t}"
    return ctes, prev


def _pca_duck(dim: int, iters: int) -> str:
    ctes, prev = _pca_ctes(dim, iters)
    ctes.append(
        f"""cv AS (
        SELECT cm.i, sum(cij * v) AS wv
        FROM cm JOIN {prev} p ON cm.j = p.j GROUP BY cm.i)"""
    )
    ctes.append(
        f"""lam AS (
        SELECT round(sum(wv * v), 4) AS eigenvalue
        FROM cv JOIN {prev} p ON cv.i = p.j)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(p.j AS BIGINT) AS dim_idx, p.v AS loading, eigenvalue
    FROM {prev} p CROSS JOIN lam"""
    )


def _abtt_duck(dim: int, iters: int) -> str:
    ctes, prev = _pca_ctes(dim, iters)
    ctes.append(
        f"""proj AS (
        SELECT c.vec_id, sum(c.xc * p.v) AS proj
        FROM cen c JOIN {prev} p ON c.i = p.j GROUP BY c.vec_id)"""
    )
    ctes.append(
        f"""resid AS (
        SELECT c.vec_id, sqrt(sum((c.xc - pr.proj * p.v) ** 2)) AS rn
        FROM cen c
        JOIN proj pr ON pr.vec_id = c.vec_id
        JOIN {prev} p ON c.i = p.j
        GROUP BY c.vec_id)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT pr.vec_id, round(pr.proj, 4) AS proj, round(r.rn, 4) AS resid_norm
    FROM proj pr JOIN resid r ON r.vec_id = pr.vec_id"""
    )


@query("q_embed_pca_power", oracle=_pca_duck(DIM, N_PCA_ITERS))
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration — the kernel of embedding postprocessing (whitening /
    all-but-the-top common-direction removal) run entirely in the
    engine, value-hash-checked against an unrolled-CTE oracle.

    Distributed shape, and why it scales to 100 TB of vectors:
    the only pass over the corpus builds the 64×64 covariance matrix —
    posexplode to (vec_id, dim, value), one broadcast of the 64-row
    mean vector, a vec_id-local pair join (64² rows per vector, never
    shuffled raw: partial aggregation collapses each task to ≤4096
    (i,j) cells before the exchange). Everything after — ``iters``
    matvec+normalize rounds and the Rayleigh quotient — touches only
    64×64 doubles and runs on the DRIVER (see _pca_parts; the
    k-means-trainer pattern), independent of corpus size. Both
    engines round the covariance and every matvec to 6 dp HALF_UP,
    so the iteration is bit-stable across summation orders. v₀ is
    all-ones — deliberately: the first matvec is then a sum of
    6 dp-exact cells, itself exactly on the rounding grid, so no
    round-half tie can split the engines (HALF_UP on the
    shortest-decimal expansion vs DuckDB's scale-and-rint disagree
    precisely on ties, which a fractional v₀ like 1/8 would
    manufacture en masse; same reason the final loading ships at the
    iteration's native 6 dp instead of being re-rounded). The
    iteration count is fixed (power iteration converges geometrically
    in the spectral-gap ratio — the eval column to watch is
    `eigenvalue` stabilizing across rounds)."""
    _, cov, v = _pca_parts(spark, sf_dir)
    lam = _round_half_up(float(v @ (cov @ v)), 4)
    return spark.createDataFrame(
        [(j + 1, float(v[j]), lam) for j in range(DIM)],
        "dim_idx bigint, loading double, eigenvalue double",
    )


def _round_half_up(x: float, nd: int) -> float:
    """Replicate Spark's ``F.round`` on doubles — Java
    ``BigDecimal.valueOf(d)`` takes the SHORTEST decimal expansion
    (``Double.toString`` == Python ``repr``), then ``setScale(nd,
    HALF_UP)`` (ties away from zero) — so the driver-side iteration
    below lands on exactly the grid the previous in-engine
    ``F.round`` produced, and the DuckDB oracle hash is unchanged."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP)
    )


def _pca_parts(spark: SparkSession, sf_dir: str):
    """Shared power-iteration pipeline: returns (cen, cov, v) — the
    distributed centered per-dimension components, the collected 64×64
    covariance (numpy, 6 dp grid), and the final 6 dp unit component
    (numpy, index j-1).

    The ONLY pass over the corpus builds the covariance; the power
    iteration itself touches 64×64 = 4096 doubles, so it runs on the
    driver (the k-means-trainer / MLlib pattern — collecting O(dim²)
    model state is legitimate at any corpus size). Before round 7 the
    iteration ran as 3 rounds of broadcast-join + 64-row groupBy —
    ~70 micro-exchanges in the executed plan, i.e. ~70 scheduler
    barriers whose cost on a real cluster is a driver round-trip each,
    spent on data that fits in a cache line (locally the wall time is
    covariance-bound either way: ~2.1 s at sf0.1 before and after).
    Driver math with the same 6 dp HALF_UP rounding is value-identical
    — the matvec sums land off the rounding grid's boundaries by
    design (all-ones v₀, 6 dp inputs), the same argument that made
    Spark-vs-DuckDB summation orders agree; pinned by the sf0.001
    tie gate in tests/test_parity.py."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(as_double("embedding")).alias("p", "x")
    )
    comp = e.select("vec_id", (F.col("p") + 1).alias("i"), "x")
    mu = comp.groupBy("i").agg(F.round(F.avg("x"), 6).alias("mu"))
    cen = comp.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("mu")).alias("xc")
    )
    a = cen.select("vec_id", "i", F.col("xc").alias("xi"))
    b = cen.select("vec_id", F.col("i").alias("j"), F.col("xc").alias("xj"))
    cm = (
        # 64² rows per vector exist only inside each task: partial
        # aggregation collapses every task to ≤4096 (i, j) cells
        # before the single exchange.
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.round(F.avg(F.col("xi") * F.col("xj")), 6).alias("cij"))
    )
    cov = np.zeros((DIM, DIM))
    for r in cm.collect():
        cov[r["i"] - 1, r["j"] - 1] = r["cij"]
    v = np.ones(DIM)
    for _ in range(N_PCA_ITERS):
        w = np.array([_round_half_up(float(cov[i] @ v), 6) for i in range(DIM)])
        s = float(np.sqrt(w @ w))
        v = np.array([_round_half_up(float(wi) / s, 6) for wi in w])
    return cen, cov, v


@query("q_embed_abtt", oracle=_abtt_duck(DIM, N_PCA_ITERS))
def q_embed_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-top common-direction removal: project each centered
    embedding onto the corpus's top principal component (from the same
    power iteration as q_embed_pca_power) and report, per vector, the
    projection coefficient and the residual norm after subtracting it
    — the standard anisotropy correction for embedding similarity.

    The two output columns pin the whole transform without hashing 64
    floats per row: proj is the removed component, resid_norm what
    remains. Scale shape: the component is 64 rows and BROADCASTS to
    both passes; each pass is one groupBy(vec_id) over the exploded
    components (map-side combined), and the proj⋈components join keys
    on vec_id — corpus-linear, nothing quadratic, no Python."""
    cen, _, vec = _pca_parts(spark, sf_dir)
    v = spark.createDataFrame(
        [(j + 1, float(vec[j])) for j in range(DIM)], "j bigint, v double"
    )
    proj = (
        cen.join(F.broadcast(v), cen["i"] == v["j"])
        .groupBy("vec_id")
        .agg(F.sum(F.col("xc") * F.col("v")).alias("proj"))
    )
    resid = (
        cen.join(F.broadcast(v), cen["i"] == v["j"])
        .join(proj, "vec_id")
        .groupBy("vec_id")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("xc") - F.col("proj") * F.col("v"))
                    * (F.col("xc") - F.col("proj") * F.col("v"))
                )
            ).alias("rn")
        )
    )
    return proj.join(resid, "vec_id").select(
        "vec_id",
        F.round("proj", 4).alias("proj"),
        F.round("rn", 4).alias("resid_norm"),
    )


@query(
    "q_dedup_embedding_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cell_id, embedding AS cemb
        FROM embeddings WHERE vec_id < {N_CELLS}
    ),
    assign AS (
        SELECT vec_id, cell_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                                   CAST(c.cemb AS DOUBLE[])) DESC,
                            cell_id) AS crn
        FROM embeddings e CROSS JOIN cent c
    ),
    memb AS (SELECT vec_id, cell_id FROM assign WHERE crn <= {N_PROBE}),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM memb a JOIN memb b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    )
    SELECT p.vec_a, p.vec_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
    FROM pairs p
    JOIN embeddings ea ON ea.vec_id = p.vec_a
    JOIN embeddings eb ON eb.vec_id = p.vec_b
    WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                 CAST(eb.embedding AS DOUBLE[])) >= 0.3
    """,
)
def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with IVF candidate generation — the
    coarse-quantizer alternative to q_dedup_embedding_pruned's
    multi-table LSH: each vector joins its TWO nearest of 16
    deterministic cells (multi-assignment recovers boundary pairs the
    single-cell split loses), same-cell pairs are deduplicated and
    scored exactly at cos ≥ 0.3.

    Measured on the sf0.01 fixture: recall 0.498 of true pairs at
    candidate fraction 0.240 — on this isotropic (clusterless) corpus
    the LSH index is strictly better (0.632 @ 0.264); on genuinely
    clustered embeddings the learned cells track density and the
    ranking flips, which is why a production pipeline keeps BOTH
    candidate generators behind one scorer and lets the recall eval
    choose. Scale shape: assignment is one broadcast of the 16-row
    centroid table + a per-vector top-2 (no corpus² anywhere);
    the pair join shuffles narrow (vec_id, cell) rows on cell_id,
    distincts, and joins vectors back by id — same score-once
    structure as the LSH path."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", as_double("embedding").alias("emb"))
        .withColumn("nrm", norm("emb"))
    )
    cent = e.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"),
        F.col("emb").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    wc = W.partitionBy("vec_id").orderBy(F.desc("sim_c"), F.asc("cell_id"))
    memb = (
        e.select("vec_id", F.col("emb").alias("ea"), F.col("nrm").alias("na"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cell_id", scored("na", "nb").alias("sim_c"))
        .withColumn("crn", F.row_number().over(wc))
        # multi-assignment depth = N_PROBE, not a literal (review find,
        # round 9: tuning N_PROBE silently skipped this path)
        .filter(F.col("crn") <= N_PROBE)
        .select("vec_id", "cell_id")
    )
    a = memb.select(F.col("vec_id").alias("vec_a"), "cell_id")
    b = memb.select(F.col("vec_id").alias("vec_b"), "cell_id")
    pairs = (
        a.join(b, ["cell_id"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("ea"), F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("eb"), F.col("nrm").alias("nb"))
    return (
        pairs.join(ea, ["vec_a"])
        .join(eb, ["vec_b"])
        .select("vec_a", "vec_b", scored("na", "nb").alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("cos_sim"))
    )


# --- Incremental embedding dedup (batch) + streaming twin support --------

_MT_SIG_ROWS_DUCK = "\n        UNION ALL\n".join(
    f"        SELECT vec_id, {t} AS table_no, b{t} AS bucket FROM sigs"
    for t in range(N_TABLES)
)

# The incremental probe runs at 16 bits/table — the bit-growth law
# applied: at 8 bits a 400-vector corpus saturates the 256 buckets and
# EVERY batch vector collides somewhere (measured: 101/101 flagged),
# so the flag carries no signal. 65536 buckets keep random any-of-8
# collisions rare while genuinely close vectors still collide.
PPT_INCR = 16
_PLANES_INCR = _mt_planes(N_TABLES * PPT_INCR)


def _incr_sig_sql(t: int) -> str:
    def plane_lit(i: int) -> str:
        return "[" + ", ".join(f"{v}" for v in _PLANES_INCR[i]) + "]"

    return " || ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"CAST({plane_lit(t * PPT_INCR + j)} AS DOUBLE[])) > 0 "
        f"THEN '1' ELSE '0' END)"
        for j in range(PPT_INCR)
    )


_INCR_SIG_COLS = ", ".join(f"{_incr_sig_sql(t)} AS b{t}" for t in range(N_TABLES))


def mt_sig_rows_for(df: DataFrame) -> DataFrame:
    """(vec_id, table_no, bucket) LSH signature rows for ANY
    embeddings-shaped frame (vec_id, embedding), at the incremental
    probe's 16 bits/table — the one signature pipeline shared by the
    batch incremental query and the streaming embedding-dedup job
    (streaming/jobs.py), so stream and batch probe IDENTICAL
    buckets."""
    e = df.select("vec_id", as_double("embedding").alias("emb"))
    pairs = ", ".join(f"{t}, b{t}" for t in range(N_TABLES))
    return mt_signature_frame(e, PPT_INCR).selectExpr(
        "vec_id", f"stack({N_TABLES}, {pairs}) AS (table_no, bucket)"
    )


@query(
    "q_dedup_embedding_incremental",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, {_INCR_SIG_COLS} FROM embeddings
    ),
    boundary AS (
        -- floor(): same truncation-vs-round cast divergence note as
        -- the MinHash incremental oracle (operators/dedup.py)
        SELECT CAST(floor(0.8 * max(vec_id)) AS BIGINT) AS b FROM embeddings
    ),
    sig_rows AS (
{_MT_SIG_ROWS_DUCK}
    ),
    corpus AS (
        SELECT DISTINCT table_no, bucket FROM sig_rows
        WHERE vec_id < (SELECT b FROM boundary)
    ),
    batch AS (
        SELECT vec_id, table_no, bucket FROM sig_rows
        WHERE vec_id >= (SELECT b FROM boundary)
    )
    SELECT s.vec_id,
           CAST(sum(CASE WHEN c.bucket IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit_tables,
           sum(CASE WHEN c.bucket IS NOT NULL THEN 1 ELSE 0 END) > 0
               AS is_near_dup
    FROM batch s
    LEFT JOIN corpus c
      ON s.table_no = c.table_no AND s.bucket = c.bucket
    GROUP BY s.vec_id
    """,
)
def q_dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EMBEDDING dedup: flag new vectors (vec_id ≥
    0.8·max, the ingest batch) that hyperplane-LSH-collide with the
    existing corpus in ANY of the 8 signature tables — the semantic
    sibling of q_dedup_incremental's lexical MinHash probe, and the
    batch view of streaming/jobs.py:StreamingEmbeddingDedup (a test
    pins their exact agreement on the same corpus/ingest split).

    Signatures run at PPT_INCR=16 bits/table — the bit-growth law in
    action: at the pruned-dedup query's 8 bits this corpus saturates
    all 256 buckets and every batch vector flags (measured 101/101 —
    zero signal); at 16 bits the flag discriminates (9/101 at sf0.01).

    Scale shape: the corpus reduces to its DISTINCT (table, bucket)
    set — an index that stays near-linear in the corpus under the
    log-n bit-growth law (planes_for_corpus) — and a day's batch costs
    O(batch signatures) + one hash-equi probe join, never a pair
    enumeration or a vector move: only 16-bit bucket strings shuffle.
    The boundary is a 1-row broadcast crossed in (the module's
    standard scalar shape), so no driver-side collect sits in the
    data path."""
    emb = load(spark, sf_dir, "embeddings")
    sig_rows = _build_ckpt(mt_sig_rows_for(emb))
    bnd = emb.agg(F.floor(0.8 * F.max("vec_id")).cast("bigint").alias("b"))
    sr = sig_rows.crossJoin(F.broadcast(bnd))
    corpus = (
        sr.filter(F.col("vec_id") < F.col("b"))
        .select("table_no", "bucket")
        .distinct()
        .withColumn("hit", F.lit("y"))
    )
    batch = sr.filter(F.col("vec_id") >= F.col("b")).select(
        "vec_id", "table_no", "bucket"
    )
    return (
        batch.join(corpus, ["table_no", "bucket"], "left")
        .groupBy("vec_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hit_tables"),
            (F.count("hit") > 0).alias("is_near_dup"),
        )
    )


# --- Product quantization (PQ) -------------------------------------------
#
# The third production ANN family beside hyperplane LSH and IVF: split
# each vector into M subvectors, k-means each subspace to K codewords,
# store each vector as M small codes (here 8 x 4 bits = 4 bytes per
# 64-dim vector, a 64x compression), and search with asymmetric
# distance (ADC): per query, ONE M x K lookup table of exact
# query-subvector-to-codeword distances; each candidate's approximate
# distance is then M table lookups — no float vector is ever touched at
# search time. (Jegou, Douze, Schmid: "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011.)

PQ_M = 8  # subspaces
PQ_DSUB = DIM // PQ_M
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 2  # fixed Lloyd rounds per subspace (oracle-unrollable)
# The PQ/IVFADC eval QUERY WINDOW: PQ_NQ queries starting past both
# seed families (cell centroids 0..N_CELLS-1 and codebook seeds up to
# N_CELLS+PQ_K-1). A query that IS a construction vector has a zero
# residual and is trivially easy on both engines, so parity stays
# green while every recall reads high; eval_window_seed_violations
# guards the window. 100 queries give recall a 0.01 resolution; the
# eval cost is the index build, not the PQ_NQ x corpus exact scan.
PQ_NQ = 100
PQ_Q_LO = 32  # = N_CELLS + PQ_K: first eval query id, past both seed families
PQ_Q_HI = PQ_Q_LO + PQ_NQ
_Q_WIN_SQL = f"vec_id >= {PQ_Q_LO} AND vec_id < {PQ_Q_HI}"


def _q_win_sql(alias: str) -> str:
    """The eval query window with both conjuncts qualified by ``alias``
    — required inside joined CTEs where a bare vec_id is ambiguous."""
    return f"{alias}.vec_id >= {PQ_Q_LO} AND {alias}.vec_id < {PQ_Q_HI}"


def _q_win() -> Column:
    """The eval query-window predicate, Spark side — one definition
    with the oracle's _Q_WIN_SQL so the window can never drift."""
    return (F.col("vec_id") >= PQ_Q_LO) & (F.col("vec_id") < PQ_Q_HI)


def eval_window_seed_violations(
    lo: int = PQ_Q_LO, hi: int = PQ_Q_HI
) -> dict[str, set[int]]:
    """Construction-seed ids inside the eval query window [lo, hi), per
    seed family; an empty dict means the window is clean. A window
    holding vectors the index geometry is BUILT FROM biases every
    recall number upward on both engines at once, so hash parity cannot
    catch it. The families derive from the same constants the
    constructions use, so moving a seed range moves the derived set.
    (INCR_CUT is not a seed family: ids below it are ordinary training
    vectors.)"""
    families: dict[str, range] = {
        # IVFADC coarse cells: centroids ARE vectors vec_id < N_CELLS,
        # with identically-zero residuals
        "ivfadc_cells": range(N_CELLS),
        # residual-PQ codebook seeds (seed_lo = N_CELLS, see
        # _pq_codebook): Lloyd starts AT these residuals
        "ivfadc_residual_codebook": range(N_CELLS, N_CELLS + PQ_K),
        # raw-PQ codebook seeds: Lloyd starts AT these vectors
        "pq_raw_codebook": range(PQ_K),
        # clustered-corpus eval: cluster centers are the first
        # N_CLUSTERS vectors (every window vector must be a MEMBER,
        # never a center)
        "clustered_centers": range(N_CLUSTERS),
        # trained-centroid evals: Lloyd seeded from the same
        # vec_id < N_CELLS vectors (converged cells drift from the
        # seeds, but the seeds start exactly ON them)
        "trained_cent_lloyd_seeds": range(N_CELLS),
    }
    out: dict[str, set[int]] = {}
    for name, ids in families.items():
        bad = {i for i in ids if lo <= i < hi}
        if bad:
            out[name] = bad
    return out


# --- per-(session, fixture) artifact memo --------------------------------
#
# Every PQ/IVFADC build is deterministic, so the corpus, codebooks, code
# tables, candidate tables and exact-NN yardsticks are built once per
# (session, fixture, variant) and shared by every eval row — the shape
# an offline index has in production. Keys carry the applicationId (a
# rebuilt session cannot serve stale handles) and the embeddings
# fixture fingerprint (a parquet rewritten in place misses), and each
# DataFrame artifact is lineage-cut with an eager localCheckpoint, so
# reuse replays materialized partitions instead of the build. Sizes:
# codebooks and centroids are constants and the adc/exact tables are
# PQ_NQ-bounded, but the corpus, subvector and code tables are
# corpus-sized DOUBLE or code tables (tens of MB per fixture at sf0.1).
# Entries live in executor storage for the session and cannot be
# recomputed once lineage is cut; a 100 TB deployment persists the
# index instead (operators/index_store.py). The same memo holds the
# k-center selection and the dedup yardstick's pair table.
_MEMO: dict[tuple, object] = {}

# Audit seam: with this flag set, _memo_key returns None and
# _build_ckpt skips its checkpoint, so every build runs uncached and
# uncut and the registry-wide plan audits (no Python, no cartesian) see
# the construction plans, not the ExistingRDD scans a memo hit returns.
_MEMO_DISABLED = False


def _memo_key(spark: SparkSession, sf_dir: str, tag: str) -> tuple | None:
    if _MEMO_DISABLED:
        return None
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # session stopped / remote-only — skip memoization
        return None
    return (app_id, sf_dir, tag, _fingerprint(table_path(sf_dir, "embeddings")))


def _memo_put(key: tuple, value) -> None:
    """Insert a memo entry, evicting prior entries that share
    (app_id, sf_dir, tag) but carry a DIFFERENT fixture fingerprint: a
    parquet regenerated in place creates a new key, and the old entry's
    checkpointed corpus-sized blocks would otherwise stay pinned for
    the session. Dropping the last Python reference releases them:
    Spark's ContextCleaner frees localCheckpoint blocks once the RDD is
    unreachable."""
    for k in [k for k in _MEMO if k[:3] == key[:3] and k != key]:
        del _MEMO[k]
    _MEMO[key] = value


def _build_ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint INSIDE a build pipeline, skipped under the
    _MEMO_DISABLED audit seam so the plan audits see the full
    construction plan. When the memo is merely unavailable (no
    applicationId) the checkpoint still runs: there it is a performance
    cut, not an audit blind spot."""
    return df if _MEMO_DISABLED else df.localCheckpoint(eager=True)


def _memo(spark: SparkSession, sf_dir: str, tag: str, build):
    """The one memo entry point: the artifact stored under (session,
    fixture, ``tag``), else ``build()``'s — lineage-cut with
    _build_ckpt when it is a DataFrame, stored as built when it is a
    tuple (whose builder cuts the corpus-sized members it reuses) or
    driver-side data."""
    key = _memo_key(spark, sf_dir, tag)
    if key is not None and key in _MEMO:
        return _MEMO[key]
    value = build()
    if isinstance(value, DataFrame):
        value = _build_ckpt(value)
    if key is not None:
        _memo_put(key, value)
    return value


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings corpus as (vec_id, emb double[]) — the input
    every PQ/IVFADC artifact derives from."""
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )


def _pq_subvecs(e: DataFrame, ids: tuple[str, ...] = ("vec_id",)) -> DataFrame:
    """(*ids, sub_no, sv): the M per-subspace slices of each ``emb``."""
    return e.select(
        *ids,
        F.posexplode(
            F.array(
                *[F.slice("emb", m * PQ_DSUB + 1, PQ_DSUB) for m in range(PQ_M)]
            )
        ).alias("sub_no", "sv"),
    )


def _pq_codebook(sub: DataFrame, seed_lo: int = 0) -> DataFrame:
    """Train the per-subspace codebooks: seeds = subvectors of
    seed_lo <= vec_id < seed_lo + PQ_K, then PQ_ITERS Lloyd rounds run
    for ALL M subspaces in one DataFrame pass each (assignment keys on
    (vec_id, sub_no), update aggregates per (sub_no, code, dim)). The
    codebook collected per round is M*K*PQ_DSUB doubles — constant,
    never grows with the corpus.

    ``seed_lo`` exists for the residual-PQ (IVFADC) trainer: its input
    subvectors are coarse-cell RESIDUALS, and vectors 0..N_CELLS-1 ARE
    the seeded cell centroids, so their residuals are identically zero;
    seeding from them would hand Lloyd K copies of the zero vector and
    collapse the codebook to a single code. IVFADC seeds from
    seed_lo = N_CELLS, the first K vectors with real residuals."""
    schema = "sub_no int, code bigint, c array<double>"
    return sub.sparkSession.createDataFrame(
        lloyd(sub, schema, "sv", seed_lo, PQ_K, PQ_ITERS), schema
    )


def _pq_duck(
    pre_ctes: tuple[str, ...] = (),
    sub_cte: str | None = None,
    seed_lo: int = 0,
    train_where: str | None = None,
) -> str:
    """The same training + encode unrolled as recursion-free DuckDB SQL
    (the _kmeans_duck pattern, with a sub_no dimension). ``pre_ctes``
    prepends extra CTEs and ``sub_cte`` substitutes the subvector
    source — the IVFADC oracle trains the identical PQ machinery on
    coarse-cell RESIDUALS instead of raw vectors, seeded past the
    zero-residual centroid vectors (``seed_lo`` — see _pq_codebook).
    ``train_where`` restricts which subvectors the Lloyd rounds SEE
    (the incremental-index eval trains on the pre-existing corpus
    only) while ``fin`` still ENCODES every vector with the trained
    codebook — the stale-codebook-encodes-new-batch serving pattern."""
    d2 = (
        f"list_sum([ (s.sv[j] - c.c[j]) ** 2 "
        f"for j in range(1, {PQ_DSUB + 1}) ])"
    )
    if sub_cte is None:
        sub_cte = f"""sub AS (
        SELECT e.vec_id, t.m AS sub_no,
               [CAST(e.embedding[t.m * {PQ_DSUB} + j] AS DOUBLE)
                for j in range(1, {PQ_DSUB + 1})] AS sv
        FROM embeddings e CROSS JOIN range(0, {PQ_M}) t(m))"""
    train_src = "sub"
    ctes = [
        *pre_ctes,
        sub_cte,
    ]
    if train_where is not None:
        train_src = "sub_train"
        ctes.append(
            f"sub_train AS (SELECT * FROM sub WHERE {train_where})"
        )
    ctes.append(
        f"""c0 AS (
        SELECT sub_no, vec_id - {seed_lo} AS code, sv AS c FROM {train_src}
        WHERE vec_id >= {seed_lo} AND vec_id < {seed_lo + PQ_K})"""
    )
    prev = "c0"
    for t in range(1, PQ_ITERS + 1):
        ctes.append(f"""a{t} AS (
        SELECT vec_id, sub_no, code, sv FROM (
            SELECT s.vec_id, s.sub_no, s.sv, c.code,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub_no
                       ORDER BY {d2}, c.code) AS rn
            FROM {train_src} s JOIN {prev} c USING (sub_no))
        WHERE rn = 1)""")
        ctes.append(f"""c{t} AS (
        SELECT sub_no, code, list(v ORDER BY i) AS c FROM (
            SELECT a.sub_no, a.code, t.i, round(avg(a.sv[t.i]), 6) AS v
            FROM a{t} a CROSS JOIN range(1, {PQ_DSUB + 1}) t(i)
            GROUP BY a.sub_no, a.code, t.i)
        GROUP BY sub_no, code)""")
        prev = f"c{t}"
    ctes.append(f"""fin AS (
        SELECT vec_id, sub_no, code, d2 FROM (
            SELECT s.vec_id, s.sub_no, c.code, {d2} AS d2,
                   row_number() OVER (
                       PARTITION BY s.vec_id, s.sub_no
                       ORDER BY {d2}, c.code) AS rn
            FROM sub s JOIN {prev} c USING (sub_no))
        WHERE rn = 1)""")
    return "WITH " + ",\n    ".join(ctes)


# Cross-subspace sums fold in sub_no order on BOTH engines: an
# unordered 8-double SUM can differ from DuckDB's by an ULP, and a sum
# landing within an ULP of a .00005 boundary would flip the 4-dp
# rounding — the same class of flake the PCA grid argument closes.
def _fold_by_sub(val: str) -> Column:
    """Aggregate expression: left-fold sum of ``val`` in sub_no order —
    bit-equal to the oracle's list_sum(list(val ORDER BY sub_no))."""
    arr = F.array_sort(F.collect_list(F.struct("sub_no", F.col(val).alias("v"))))
    return F.aggregate(arr.getField("v"), F.lit(0.0), lambda a, x: a + x)


def _pq_raw_parts(spark: SparkSession, sf_dir: str):
    """(sub, cb_df): the raw-corpus PQ subvector table (cut) and its
    trained codebook, memoized — q_sim_pq, q_sim_pq_adc and
    q_sim_pq_recall share one PQ_ITERS-round training."""

    def build():
        sub = _build_ckpt(_pq_subvecs(_emb(spark, sf_dir)))
        return sub, _pq_codebook(sub)

    return _memo(spark, sf_dir, "pq:raw", build)


@query(
    "q_sim_pq",
    oracle=_pq_duck()
    + """
    SELECT vec_id, list(code ORDER BY sub_no) AS codes,
           round(list_sum(list(d2 ORDER BY sub_no)), 4) AS recon_err
    FROM fin GROUP BY vec_id
    """,
)
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ TRAIN + ENCODE: every vector compressed to its M=8 4-bit
    codes (64x smaller than the float32 array), plus the per-vector
    reconstruction error the codes imply. The oracle unrolls the whole
    training, so the codebooks are pinned too: one diverged centroid
    would flip codes.

    Scale shape: training is PQ_ITERS broadcast joins + hash aggs over
    narrow (vec_id, sub_no) rows, collecting an M*K*dsub-double
    codebook per round (constant); encoding is one broadcast join, and
    its output (4 bytes of codes per vector) is what a 100 TB corpus
    stores and scans at search time."""
    sub, cb_df = _pq_raw_parts(spark, sf_dir)
    return (
        nearest_code(sub, cb_df, "sv", "c", "code", keys=("sub_no",))
        .groupBy("vec_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("sub_no", "code"))).alias("sc"),
            F.round(_fold_by_sub("d2"), 4).alias("recon_err"),
        )
        .select("vec_id", F.col("sc.code").alias("codes"), "recon_err")
    )


# The full-scan PQ search's lut + adc CTEs (after _pq_duck()), shared
# by q_sim_pq_adc and q_sim_pq_recall
_PQ_ADC_CTES = f"""
    , lut AS (
        SELECT s.vec_id AS query_id, c.sub_no, c.code,
               list_sum([ (s.sv[j] - c.c[j]) ** 2
                          for j in range(1, {PQ_DSUB + 1}) ]) AS d2
        FROM sub s JOIN c{PQ_ITERS} c USING (sub_no)
        WHERE {_q_win_sql('s')}),
    adc AS (
        SELECT l.query_id, f.vec_id AS neighbor_id,
               round(list_sum(list(l.d2 ORDER BY l.sub_no)), 4) AS adc_dist
        FROM fin f
        JOIN lut l ON l.sub_no = f.sub_no AND l.code = f.code
        WHERE f.vec_id != l.query_id
        GROUP BY 1, 2)"""


@query(
    "q_sim_pq_adc",
    oracle=_pq_duck()
    + _PQ_ADC_CTES
    + """
    SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc)
    WHERE rn = 1
    """,
)
def q_sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ASYMMETRIC-DISTANCE search: nearest neighbor per eval-window
    query computed purely from CODES — per query one exact M x K
    distance lookup table, each candidate scored by M lookups. The
    only float vector touched is the query's own.

    Scale shape: the code table explodes to narrow (vec_id, sub_no,
    code) rows and equi-joins the BROADCAST lut (NQ*M*K rows —
    constant); one hash agg folds the M partial distances per (query,
    candidate) in sub_no order (_fold_by_sub), so the 4-dp distance and
    the (distance, neighbor_id) ranking are identical on both
    engines."""
    return _pq_adc_top1(spark, sf_dir)


def _adc_top1(adc: DataFrame) -> DataFrame:
    """Each query's (query_id, neighbor_id, adc_dist) ADC winner,
    ties broken on neighbor_id like the oracles' row_number()."""
    w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "adc_dist")
    )


def _pq_adc_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-scan PQ ADC search's per-query top-1 table, memoized —
    q_sim_pq_adc returns it and q_sim_pq_recall judges it, so the
    NQ x corpus code scan runs once per session."""

    def build() -> DataFrame:
        sub, cb_df = _pq_raw_parts(spark, sf_dir)
        codes = nearest_code(sub, cb_df, "sv", "c", "code", keys=("sub_no",)).select(
            "vec_id", "sub_no", "code"
        )
        lut = (
            sub.filter(_q_win())
            .withColumnRenamed("vec_id", "query_id")
            .join(F.broadcast(cb_df), ["sub_no"])
            .select("query_id", "sub_no", "code", sq_l2("sv", "c").alias("d2"))
        )
        adc = (
            codes.join(F.broadcast(lut), ["sub_no", "code"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
            .agg(F.round(_fold_by_sub("d2"), 4).alias("adc_dist"))
        )
        return _adc_top1(adc)

    return _memo(spark, sf_dir, "pq:adc_top1", build)


# The exact-L2-NN yardstick CTE (PQ_NQ-bounded) — ONE definition shared
# by every recall oracle, mirroring the Spark side's _exact_nn1. d2 is
# the same left-fold sum of squared diffs Spark computes: sqrt-then-
# square via list_distance can differ by an ULP and flip the 4-dp
# rounding that orders the candidates.
_EXACT1_CTE = f"""exact1 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY round(list_sum([
                           (CAST(q.embedding[j] AS DOUBLE)
                            - CAST(e.embedding[j] AS DOUBLE)) ** 2
                           for j in range(1, {DIM + 1})]), 4),
                           e.vec_id) AS rn
            FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
            WHERE {_q_win_sql('q')})
        WHERE rn = 1)"""

# each query's ADC top-1 over an ``adc`` CTE
_ADC1_CTE = """adc1 AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
        WHERE rn = 1)"""


@query(
    "q_sim_pq_recall",
    oracle=_pq_duck()
    + _PQ_ADC_CTES
    + f""",
    {_ADC1_CTE},
    {_EXACT1_CTE}
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN a.neighbor_id = x.neighbor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           round(avg(CASE WHEN a.neighbor_id = x.neighbor_id
                          THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1
    FROM adc1 a JOIN exact1 x USING (query_id)
    """,
)
def q_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of PQ's code-only full-scan ADC search against the
    exact L2 nearest neighbor, one summary row. The exact side ranks by
    the same 4-dp-rounded squared distance + id tie-break as the ADC
    side, so both engines select identical winners.

    Scale shape: the ADC side is the serving path and reads the code
    table only; the exact side is PQ_NQ x corpus — an eval, never a
    serving path."""
    return _recall_vs_exact1(_pq_adc_top1(spark, sf_dir), _exact1(spark, sf_dir))


# --- IVFADC: coarse IVF cells + PQ on residuals + in-cell ADC ------------
#
# The composition the IVF and PQ families exist FOR (Jegou, Douze,
# Schmid TPAMI 2011 §IV — "IVFADC"): a coarse quantizer prunes the
# corpus to a few probed cells, PQ encodes each vector's RESIDUAL from
# its cell centroid (residuals have far less energy than raw vectors,
# so the same 4-byte code budget quantizes finer), and ADC scores only
# the probed cells' codes. At 100 TB this is the production serving
# layout: the corpus is stored cell-partitioned as 4-byte codes; a
# query touches ~N_PROBE/N_CELLS of the code table and never reads a
# float vector.

_IVFADC_CD2 = (
    f"list_sum([ (CAST(e.embedding[j] AS DOUBLE) - c.cemb[j]) ** 2 "
    f"for j in range(1, {DIM + 1}) ])"
)

# seeded cells (cent), every vector's cell distances (cd), its nearest
# cell (best) and its residual there (res) — cent is swapped for the
# Lloyd chain on trained variants
_IVFADC_PRE = (
    f"""cent AS (
        SELECT vec_id AS cell_id,
               [CAST(embedding[j] AS DOUBLE) for j in range(1, {DIM + 1})] AS cemb
        FROM embeddings WHERE vec_id < {N_CELLS})""",
    f"""cd AS (
        SELECT e.vec_id, c.cell_id, {_IVFADC_CD2} AS cd2
        FROM embeddings e CROSS JOIN cent c)""",
    """best AS (
        SELECT vec_id, cell_id FROM (
            SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY cd2, cell_id) AS rn
            FROM cd)
        WHERE rn = 1)""",
    f"""res AS (
        SELECT e.vec_id, b.cell_id,
               [CAST(e.embedding[j] AS DOUBLE) - c.cemb[j]
                for j in range(1, {DIM + 1})] AS remb
        FROM embeddings e JOIN best b USING (vec_id) JOIN cent c USING (cell_id))""",
)

_IVFADC_SUB = f"""sub AS (
        SELECT r.vec_id, t.m AS sub_no,
               [r.remb[t.m * {PQ_DSUB} + j]
                for j in range(1, {PQ_DSUB + 1})] AS sv
        FROM res r CROSS JOIN range(0, {PQ_M}) t(m))"""


def _ivfadc_search_sql(n_probe: int = N_PROBE, with_rank: bool = False) -> str:
    """The probe→LUT→ADC search CTE chain, parameterized exactly like
    the Python side's ivfadc_score (one definition — a fix applied to
    the ADC join or tie-break reaches every IVFADC oracle). With
    ``with_rank`` the cell's probe rank rides along as ``crank`` for
    the probe sweep's derive-shallower-levels trick."""
    crank_probe = ", rn AS crank" if with_rank else ""
    crank_q = ", p.crank" if with_rank else ""
    crank_l = ", s.crank" if with_rank else ""
    crank_adc = ",\n               min(l.crank) AS crank" if with_rank else ""
    return f"""
    , probes AS (
        SELECT vec_id AS query_id, cell_id{crank_probe} FROM (
            SELECT vec_id, cell_id, row_number() OVER (
                       PARTITION BY vec_id ORDER BY cd2, cell_id) AS rn
            FROM cd WHERE {_Q_WIN_SQL})
        WHERE rn <= {n_probe}),
    qsub AS (
        SELECT p.query_id, p.cell_id{crank_q}, t.m AS sub_no,
               [CAST(q.embedding[t.m * {PQ_DSUB} + j] AS DOUBLE)
                - c.cemb[t.m * {PQ_DSUB} + j]
                for j in range(1, {PQ_DSUB + 1})] AS sv
        FROM probes p
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN cent c USING (cell_id)
        CROSS JOIN range(0, {PQ_M}) t(m)),
    lut AS (
        SELECT s.query_id, s.cell_id{crank_l}, c.sub_no, c.code,
               list_sum([ (s.sv[j] - c.c[j]) ** 2
                          for j in range(1, {PQ_DSUB + 1}) ]) AS d2
        FROM qsub s JOIN c{PQ_ITERS} c USING (sub_no)),
    codes AS (
        SELECT f.vec_id, b.cell_id, f.sub_no, f.code
        FROM fin f JOIN best b USING (vec_id)),
    adc AS (
        SELECT l.query_id, co.vec_id AS neighbor_id,
               round(list_sum(list(l.d2 ORDER BY l.sub_no)), 4) AS adc_dist{crank_adc}
        FROM codes co
        JOIN lut l ON l.cell_id = co.cell_id
                  AND l.sub_no = co.sub_no AND l.code = co.code
        WHERE co.vec_id <> l.query_id
        GROUP BY 1, 2)"""


# Clustered corpus: the fixture deterministically re-shaped into
# N_CLUSTERS well-separated clusters (member = cluster center + 0.2 ×
# its own vector, centers = the first N_CLUSTERS corpus vectors, so
# inter-center distance ≈ √2·‖v‖ dwarfs the ≈0.28·‖v‖ intra-cluster
# spread). Both engines derive it from the same fixture with the same
# double arithmetic; the oracle's `embeddings` CTE shadows the raw view
# for every downstream CTE (DuckDB resolves `main.embeddings` to the
# view inside the shadowing definition).
N_CLUSTERS = 8
_CLUSTERED_CTES = (
    f"""ctr AS (
        SELECT vec_id AS ctr_id,
               [CAST(embedding[j] AS DOUBLE)
                for j in range(1, {DIM + 1})] AS cemb0
        FROM main.embeddings WHERE vec_id < {N_CLUSTERS})""",
    f"""embeddings AS (
        SELECT e.vec_id,
               [c.cemb0[j] + CAST(0.2 AS DOUBLE) * CAST(e.embedding[j] AS DOUBLE)
                for j in range(1, {DIM + 1})] AS embedding
        FROM main.embeddings e JOIN ctr c ON e.vec_id % {N_CLUSTERS} = c.ctr_id)""",
)


def _clustered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived CLUSTERED corpus (vec_id, emb), mirroring the
    oracle's embeddings-shadowing CTE exactly."""
    raw = _emb(spark, sf_dir)
    ctr = raw.filter(F.col("vec_id") < N_CLUSTERS).select(
        F.col("vec_id").alias("ctr_id"), F.col("emb").alias("cemb0")
    )
    return (
        raw.withColumn("ctr_id", F.col("vec_id") % N_CLUSTERS)
        .join(F.broadcast(ctr), ["ctr_id"])
        .select(
            "vec_id",
            F.zip_with(
                "cemb0", "emb", lambda c, x: c + F.lit(0.2) * x
            ).alias("emb"),
        )
    )


# Trained coarse cells: IVF_TRAIN_ITERS Lloyd rounds seeded from the
# same vec_id < N_CELLS vectors the seeded cells use verbatim. Trained
# cells sit at member means, so residuals shrink and the 4-bit residual
# codes get more signal per bit. The oracle's chain is _lloyd_duck's
# (prefix k, clear of the PQ unroll's names) renamed to cent(cell_id, cemb).
IVF_TRAIN_ITERS = 2
_TRAINED_CENT_DUCK = (
    *_lloyd_duck(N_CELLS, IVF_TRAIN_ITERS, DIM, "k"),
    f"cent AS (SELECT cell_id, c AS cemb FROM kc{IVF_TRAIN_ITERS})",
)


def _trained_cent(e: DataFrame) -> DataFrame:
    """Lloyd-train the N_CELLS coarse centroids over corpus ``e`` as
    the ``cent(cell_id, cemb)`` table."""
    schema = "cell_id bigint, cemb array<double>"
    return e.sparkSession.createDataFrame(
        lloyd(e, schema, "emb", 0, N_CELLS, IVF_TRAIN_ITERS), schema
    )


def ivfadc_index_from(
    e: DataFrame,
    cent: DataFrame | None = None,
    train_pred: Column | None = None,
):
    """The IVFADC build over a (vec_id, emb double[]) corpus: returns
    (cent, cb_df, codes) — the broadcastable centroid table, the
    residual-PQ codebook (M*K*dsub constants), and the cell-tagged
    4-byte code table, the only corpus-sized artifact. ``cent``
    substitutes the coarse centroid table (cell_id, cemb double[]) for
    the default seeded cells (vec_id < N_CELLS). ``train_pred``
    restricts which vectors the CODEBOOK trains on while every vector
    is still assigned and encoded — the production corpus-growth
    pattern: assignment and encoding are per-row map work, retraining
    is the offline step you avoid per batch."""
    if cent is None:
        cent = e.filter(F.col("vec_id") < N_CELLS).select(
            F.col("vec_id").alias("cell_id"), F.col("emb").alias("cemb")
        )
    best, sub = _ivfadc_residuals(e, cent)
    sub = _build_ckpt(sub)
    sub_train = sub.filter(train_pred) if train_pred is not None else sub
    cb_df = _pq_codebook(sub_train, seed_lo=N_CELLS)
    codes = _ivfadc_codes(best, sub, cb_df)
    return cent, cb_df, codes


def _ivfadc_residuals(e: DataFrame, cent: DataFrame):
    """(best, sub): each vector's nearest coarse cell as (vec_id,
    cell_id), and the PQ subvectors of its residual from that cell's
    centroid. With _ivfadc_codes, the one IVFADC residual/encode step:
    the offline build (ivfadc_index_from) and the store's append path
    (index_store.ivfadc_index_append) both run it, so an appended batch
    is encoded exactly like the in-memory index."""
    best = nearest_code(e, cent, "emb", "cemb", "cell_id").select("vec_id", "cell_id")
    res = (
        e.join(best, ["vec_id"])
        .join(F.broadcast(cent), ["cell_id"])
        .select(
            "vec_id",
            F.zip_with(F.col("emb"), F.col("cemb"), lambda x, y: x - y).alias("emb"),
        )
    )
    return best, _pq_subvecs(res)


def _ivfadc_codes(best: DataFrame, sub: DataFrame, cb_df: DataFrame) -> DataFrame:
    """The cell-tagged code table (vec_id, sub_no, code, cell_id): each
    residual subvector's nearest codeword, tagged with its cell."""
    return (
        nearest_code(sub, cb_df, "sv", "c", "code", keys=("sub_no",))
        .select("vec_id", "sub_no", "code")
        .join(best, ["vec_id"])
    )


def _ivfadc_probes(queries_df: DataFrame, cent: DataFrame, n_probe: int) -> DataFrame:
    """(query_id, cell_id, crank, emb, cemb): each query's ``n_probe``
    nearest coarse cells, ranked by (d2, cell_id) like the oracles'
    probes CTE. Shared by ivfadc_score and the saved store's
    partition pruning (index_store.probed_cells)."""
    w = W.partitionBy("query_id").orderBy("cd2", "cell_id")
    return (
        queries_df.select("query_id", "emb")
        .crossJoin(F.broadcast(cent))
        .select("query_id", "cell_id", "emb", "cemb", sq_l2("emb", "cemb").alias("cd2"))
        .withColumn("crank", F.row_number().over(w))
        .filter(F.col("crank") <= n_probe)
    )


def ivfadc_score(
    queries_df: DataFrame,
    cent: DataFrame,
    cb_df: DataFrame,
    codes: DataFrame,
    n_probe: int = N_PROBE,
    with_rank: bool = False,
) -> DataFrame:
    """Score (query_id, emb) rows against an ivfadc_index: probe each
    query's ``n_probe`` nearest cells, build the per-(query, cell)
    residual LUT, and ADC-score the probed cells' codes. Returns the
    per-(query_id, neighbor_id) adc_dist table. Pure DataFrame ops —
    safe inside foreachBatch (the streaming probe calls it per
    micro-batch with the index DataFrames built once).

    ``with_rank=True`` additionally returns ``crank`` — the probe rank
    of the cell each neighbor was found in (a corpus vector lives in
    exactly ONE cell, so the rank is single-valued per pair). The probe
    sweeps score once at the deepest level and derive every shallower
    level by filtering crank."""
    qres = _ivfadc_probes(queries_df, cent, n_probe).select(
        "query_id",
        "cell_id",
        "crank",
        F.zip_with(F.col("emb"), F.col("cemb"), lambda x, y: x - y).alias("emb"),
    )
    qsub = _pq_subvecs(qres, ("query_id", "cell_id", "crank"))
    lut = qsub.join(F.broadcast(cb_df), ["sub_no"]).select(
        "query_id", "cell_id", "crank", "sub_no", "code",
        sq_l2("sv", "c").alias("d2"),
    )
    aggs = [F.round(_fold_by_sub("d2"), 4).alias("adc_dist")]
    if with_rank:
        aggs.append(F.min("crank").alias("crank"))
    return (
        codes.join(F.broadcast(lut), ["cell_id", "sub_no", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(*aggs)
    )


def _exact_nn1(e: DataFrame) -> DataFrame:
    """(query_id, exact_nn) — the exact L2 nearest neighbor of each
    eval-window vector over corpus ``e``: the yardstick every ANN
    recall row is judged against, PQ_NQ-bounded, never a serving path.
    The bounded query side is broadcast explicitly: on a derived corpus
    the planner has no stats and would otherwise plan a
    CartesianProduct."""
    q = e.filter(_q_win()).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")
    )
    d2 = F.round(sq_l2("qe", "emb"), 4)
    w2 = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        F.broadcast(q)
        .crossJoin(e.select(F.col("vec_id").alias("neighbor_id"), "emb"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("exact_nn"))
    )


def _corpus(spark: SparkSession, sf_dir: str, clustered: bool = False) -> DataFrame:
    """The eval corpus (vec_id, emb), memoized per ``clustered``: the
    raw fixture or the derived clustered corpus. Every index build,
    search and yardstick over that corpus reads this one cut."""
    return _memo(
        spark,
        sf_dir,
        f"corpus:clustered={clustered}",
        lambda: _clustered_corpus(spark, sf_dir) if clustered else _emb(spark, sf_dir),
    )


def _exact1(spark: SparkSession, sf_dir: str, clustered: bool = False) -> DataFrame:
    """The exact-NN yardstick over the raw or clustered corpus,
    memoized: every recall eval over one corpus judges against the
    identical PQ_NQ-row table."""
    return _memo(
        spark,
        sf_dir,
        f"exact1:clustered={clustered}",
        lambda: _exact_nn1(_corpus(spark, sf_dir, clustered)),
    )


@dataclass(frozen=True)
class IvfadcEval:
    """One IVFADC eval variant: the corpus (raw or CLUSTERED), the
    coarse cells (seeded from vec_id < N_CELLS, or Lloyd-TRAINED), the
    vectors the residual codebook trains on (``train_where``, SQL over
    vec_id; None = all), the search's probe depth and whether each
    candidate carries its cell's probe rank. It renders both sides of
    its rows: ``duck()`` is the DuckDB oracle prefix (the build and
    search CTEs, ending in ``adc``) and ``build()`` the memoized Spark
    artifacts, so the two sides cannot disagree on the variant."""

    clustered: bool = False
    trained: bool = False
    train_where: str | None = None
    n_probe: int = N_PROBE
    with_rank: bool = False

    def duck(self) -> str:
        cells = _TRAINED_CENT_DUCK if self.trained else _IVFADC_PRE[:1]
        corpus = _CLUSTERED_CTES if self.clustered else ()
        return _pq_duck(
            corpus + cells + _IVFADC_PRE[1:], _IVFADC_SUB, N_CELLS, self.train_where
        ) + _ivfadc_search_sql(self.n_probe, self.with_rank)

    def index(self, spark: SparkSession, sf_dir: str):
        """(cent, cb_df, codes) over this variant's corpus, cells and
        codebook training subset, memoized per those three with the
        code table cut; the search knobs do not enter the key."""

        def build():
            e = _corpus(spark, sf_dir, self.clustered)
            cent = _trained_cent(e) if self.trained else None
            pred = None if self.train_where is None else F.expr(self.train_where)
            cent, cb_df, codes = ivfadc_index_from(e, cent, pred)
            return cent, cb_df, _build_ckpt(codes)

        tag = f"ivfadc:index:{self.clustered}:{self.trained}:{self.train_where}"
        return _memo(spark, sf_dir, tag, build)

    def build(self, spark: SparkSession, sf_dir: str):
        """(e, adc, exact1): the corpus, the eval window's
        per-(query_id, neighbor_id) adc table (memoized per variant)
        and the corpus' exact-NN yardstick."""
        e = _corpus(spark, sf_dir, self.clustered)

        def score() -> DataFrame:
            q = e.filter(_q_win()).select(F.col("vec_id").alias("query_id"), "emb")
            return ivfadc_score(
                q, *self.index(spark, sf_dir), self.n_probe, self.with_rank
            )

        adc = _memo(spark, sf_dir, f"ivfadc:adc:{self}", score)
        return e, adc, _exact1(spark, sf_dir, self.clustered)


def ivfadc_index(spark: SparkSession, sf_dir: str, trained: bool = False):
    """Build the IVFADC index over the embeddings corpus: (cent, cb_df,
    codes) as ivfadc_index_from returns them. ``trained`` Lloyd-trains
    the coarse cells (the recommended serving configuration) instead
    of seeding them. This is the offline half of the serving stack;
    ivfadc_score probes it with any query-vector DataFrame (the
    registered rows, the index store and the streaming probe share it).
    Memoized per (session, fixture, trained) with the code table cut:
    an index is built offline once, not per query."""
    return IvfadcEval(trained=trained).index(spark, sf_dir)


# Eval tunables, read off the measured curves (see q_sim_ivfadc's SERVING
# RECOMMENDATION for the numbers).
PQ_RERANK = 10  # ADC shortlist size handed to the exact re-rank stage
PROBE_LEVELS = (1, 2, 4, 8, 16)  # probe-sweep depths; 16 = N_CELLS = full scan
RERANK_LEVELS = (1, 2, 5, 10, 20)  # re-rank-sweep shortlist depths
# the knee of the trained probe curve: past depth 4, a deeper probe buys
# ceiling slower than scanning the same candidate fraction at random
SERVING_PROBE = 4
SERVING_R = PQ_RERANK  # where the trained re-rank curve flattens
INCR_CUT = 48  # ids below this are always corpus (covers cell + codebook seeds)
_INCR_TRAIN_WHERE = f"vec_id < {INCR_CUT} OR vec_id % 5 > 0"


# --- eval tables over IvfadcEval.build's (e, adc, exact1) ----------------


def _ivfadc_recall_table(e: DataFrame, adc: DataFrame, exact1: DataFrame) -> DataFrame:
    """(n_queries, n_match, recall_at_1, cand_frac): the ADC top-1's
    recall against the exact neighbor, and the fraction of the corpus
    the ADC stage scored per query."""
    w1 = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    adc1 = (
        adc.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("adc_nn"))
    )
    nc = adc.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_cand"))
    ntot = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        adc1.join(exact1, ["query_id"])
        .join(nc, ["query_id"])
        .crossJoin(F.broadcast(ntot))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.when(F.col("adc_nn") == F.col("exact_nn"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
            F.round(
                F.avg(
                    F.when(F.col("adc_nn") == F.col("exact_nn"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("recall_at_1"),
            F.round(
                F.avg(F.col("n_cand").cast("double"))
                / (F.first("n") - F.lit(1)),
                4,
            ).alias("cand_frac"),
        )
    )


def _rerank_l2(e: DataFrame, adc: DataFrame, r: int) -> DataFrame:
    """(query_id, neighbor_id, rn, l2_dist): exact L2 over the ADC
    top-``r`` shortlist with the ADC rank attached — the SINGLE
    definition of the two-stage search's second stage, so the sweeps'
    levels equal the dedicated rows by construction."""
    ws = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    short = (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= r)
        .select("query_id", "neighbor_id", "rn")
    )
    l2 = F.round(sq_l2("qe", "ne"), 4)
    return (
        short.join(
            e.select(F.col("vec_id").alias("query_id"), F.col("emb").alias("qe")),
            ["query_id"],
        )
        .join(
            e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ne")),
            ["neighbor_id"],
        )
        .select("query_id", "neighbor_id", "rn", l2.alias("l2_dist"))
    )


def _rerank_nn1(e: DataFrame, adc: DataFrame, r: int = PQ_RERANK) -> DataFrame:
    """Per-query exact winner of the ADC top-``r`` shortlist."""
    wr = W.partitionBy("query_id").orderBy("l2_dist", "neighbor_id")
    return (
        _rerank_l2(e, adc, r)
        .withColumn("wrn", F.row_number().over(wr))
        .filter(F.col("wrn") == 1)
        .select("query_id", "neighbor_id", "l2_dist")
    )


def _recall_vs_exact1(nn: DataFrame, exact1: DataFrame) -> DataFrame:
    """(n_queries, n_match, recall_at_1) of a per-query (query_id,
    neighbor_id) NN table against the exact yardstick."""
    return (
        nn.select("query_id", F.col("neighbor_id").alias("rr_nn"))
        .join(exact1, ["query_id"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.when(F.col("rr_nn") == F.col("exact_nn"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
            F.round(
                F.avg(
                    F.when(F.col("rr_nn") == F.col("exact_nn"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("recall_at_1"),
        )
    )


def _probe_sweep_table(e: DataFrame, adc: DataFrame, exact1: DataFrame) -> DataFrame:
    """The recall/cost/ceiling-vs-probe-depth curve over PROBE_LEVELS
    for a crank-tagged adc table scored at the deepest level: each
    shallower level is a filter on crank, never another code scan."""
    cand = (
        adc.withColumn(
            "n_probe",
            F.explode(F.array(*[F.lit(p) for p in PROBE_LEVELS])),
        )
        .filter(F.col("crank") <= F.col("n_probe"))
        .join(F.broadcast(exact1), ["query_id"])
    )
    per = (
        cand.groupBy("n_probe", "query_id")
        .agg(
            F.min(F.struct("adc_dist", "neighbor_id")).alias("bn"),
            F.count(F.lit(1)).alias("n_cand"),
            # the probe hit-rate: did the true NN land among this
            # level's candidates at all?
            F.max(
                F.when(F.col("neighbor_id") == F.col("exact_nn"), 1).otherwise(0)
            ).alias("hit"),
            F.first("exact_nn").alias("exact_nn"),
        )
        .select(
            "n_probe",
            "query_id",
            F.col("bn.neighbor_id").alias("adc_nn"),
            "n_cand",
            "hit",
            "exact_nn",
        )
    )
    ntot = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        per.crossJoin(F.broadcast(ntot))
        .groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(
                F.avg(
                    F.when(F.col("adc_nn") == F.col("exact_nn"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("recall_at_1"),
            F.round(
                F.avg(F.col("n_cand").cast("double"))
                / (F.first("n") - F.lit(1)),
                4,
            ).alias("cand_frac"),
            F.round(F.avg(F.col("hit").cast("double")), 4).alias(
                "ceiling_at_probe"
            ),
        )
        .orderBy("n_probe")
    )


def _rerank_sweep_table(e: DataFrame, adc: DataFrame, exact1: DataFrame) -> DataFrame:
    """The recall@1-vs-shortlist-depth curve over RERANK_LEVELS: one
    exact-distance join at the deepest level, each shallower level a
    filter on the ADC rank before the per-level argmin."""
    rl2 = _rerank_l2(e, adc, max(RERANK_LEVELS))
    per = (
        rl2.withColumn(
            "r_depth", F.explode(F.array(*[F.lit(r) for r in RERANK_LEVELS]))
        )
        .filter(F.col("rn") <= F.col("r_depth"))
        .groupBy("r_depth", "query_id")
        .agg(F.min(F.struct("l2_dist", "neighbor_id")).alias("bn"))
        .select("r_depth", "query_id", F.col("bn.neighbor_id").alias("rr_nn"))
    )
    return (
        per.join(exact1, ["query_id"])
        .groupBy("r_depth")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.when(F.col("rr_nn") == F.col("exact_nn"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_match"),
            F.round(
                F.avg(
                    F.when(F.col("rr_nn") == F.col("exact_nn"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("recall_at_1"),
        )
        .orderBy("r_depth")
    )


def _serving_table(e: DataFrame, adc: DataFrame, exact1: DataFrame) -> DataFrame:
    """Per-query served neighbor (the exact winner of the SERVING_R
    shortlist) with its exact distance and hit flag, plus the config's
    aggregate recall@1/cand_frac as constant columns."""
    nn = _rerank_nn1(e, adc, r=SERVING_R)
    per = (
        nn.join(exact1, ["query_id"])
        .select(
            "query_id",
            F.col("neighbor_id").alias("served_nn"),
            "l2_dist",
            F.when(F.col("neighbor_id") == F.col("exact_nn"), 1)
            .otherwise(0)
            .cast("bigint")
            .alias("hit"),
        )
    )
    nc = adc.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_cand"))
    ntot = e.agg(F.count(F.lit(1)).alias("n"))
    stats = (
        per.join(nc, ["query_id"])
        .crossJoin(F.broadcast(ntot))
        .agg(
            F.round(F.avg(F.col("hit").cast("double")), 4).alias("recall_at_1"),
            F.round(
                F.avg(F.col("n_cand").cast("double")) / (F.first("n") - F.lit(1)),
                4,
            ).alias("cand_frac"),
        )
    )
    return per.crossJoin(F.broadcast(stats))


# --- the registered eval rows ---------------------------------------------
#
# The eval variants, each named once; a row's oracle is V.duck() + its
# tail and its Spark side reads V.build().
IVFADC_SEEDED = IvfadcEval()
IVFADC_PROBE_SWEEP = IvfadcEval(n_probe=max(PROBE_LEVELS), with_rank=True)
IVFADC_CLUSTERED = IvfadcEval(clustered=True)
IVFADC_TRAINED = IvfadcEval(trained=True)
IVFADC_TRAINED_PROBE_SWEEP = IvfadcEval(
    trained=True, n_probe=max(PROBE_LEVELS), with_rank=True
)
IVFADC_SERVING = IvfadcEval(trained=True, n_probe=SERVING_PROBE)
IVFADC_SERVING_CLUSTERED = IvfadcEval(
    clustered=True, trained=True, n_probe=SERVING_PROBE
)
IVFADC_INCREMENTAL = IvfadcEval(train_where=_INCR_TRAIN_WHERE)

_IVFADC_RECALL_TAIL = f"""
    , {_ADC1_CTE},
    {_EXACT1_CTE},
    nc AS (SELECT query_id, count(*) AS n_cand FROM adc GROUP BY 1),
    ntot AS (SELECT count(*) AS n FROM embeddings)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN a.neighbor_id = x.neighbor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           round(avg(CASE WHEN a.neighbor_id = x.neighbor_id
                          THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1,
           round(avg(CAST(nc.n_cand AS DOUBLE))
                 / (SELECT n - 1 FROM ntot), 4) AS cand_frac
    FROM adc1 a JOIN exact1 x USING (query_id) JOIN nc USING (query_id)
    """

# shortlist + exact-rerank CTEs
_IVFADC_RERANK_CTES = f"""
    , short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
        WHERE rn <= {PQ_RERANK}),
    rer AS (
        SELECT s.query_id, s.neighbor_id,
               round(list_sum([
                   (CAST(q.embedding[j] AS DOUBLE)
                    - CAST(n.embedding[j] AS DOUBLE)) ** 2
                   for j in range(1, {DIM + 1})]), 4) AS l2_dist
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings n ON n.vec_id = s.neighbor_id),
    rr1 AS (
        SELECT query_id, neighbor_id, l2_dist FROM (
            SELECT query_id, neighbor_id, l2_dist,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY l2_dist, neighbor_id) AS rn
            FROM rer)
        WHERE rn = 1)"""

_PROBE_SWEEP_TAIL = f"""
    , levels AS (SELECT unnest({list(PROBE_LEVELS)}) AS n_probe),
    cand AS (
        SELECT lv.n_probe, a.query_id, a.neighbor_id, a.adc_dist
        FROM adc a JOIN levels lv ON a.crank <= lv.n_probe),
    adc1 AS (
        SELECT n_probe, query_id, neighbor_id AS adc_nn FROM (
            SELECT n_probe, query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY n_probe, query_id
                       ORDER BY adc_dist, neighbor_id) AS rn
            FROM cand)
        WHERE rn = 1),
    nc AS (
        SELECT n_probe, query_id, count(*) AS n_cand
        FROM cand GROUP BY 1, 2),
    {_EXACT1_CTE},
    hits AS (
        SELECT c.n_probe, c.query_id,
               max(CASE WHEN c.neighbor_id = x.neighbor_id
                        THEN 1 ELSE 0 END) AS hit
        FROM cand c JOIN exact1 x USING (query_id)
        GROUP BY 1, 2),
    ntot AS (SELECT count(*) AS n FROM embeddings)
    SELECT a.n_probe,
           CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CASE WHEN a.adc_nn = x.neighbor_id
                          THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1,
           round(avg(CAST(nc.n_cand AS DOUBLE))
                 / (SELECT n - 1 FROM ntot), 4) AS cand_frac,
           round(avg(CAST(h.hit AS DOUBLE)), 4) AS ceiling_at_probe
    FROM adc1 a JOIN exact1 x USING (query_id)
    JOIN nc USING (n_probe, query_id)
    JOIN hits h USING (n_probe, query_id)
    GROUP BY a.n_probe
    """

_RERANK_SWEEP_TAIL = f"""
    , rshort AS (
        SELECT query_id, neighbor_id, rn FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adc_dist, neighbor_id) AS rn
            FROM adc)
        WHERE rn <= {max(RERANK_LEVELS)}),
    rl2 AS (
        SELECT s.query_id, s.neighbor_id, s.rn,
               round(list_sum([
                   (CAST(q.embedding[j] AS DOUBLE)
                    - CAST(n.embedding[j] AS DOUBLE)) ** 2
                   for j in range(1, {DIM + 1})]), 4) AS l2_dist
        FROM rshort s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings n ON n.vec_id = s.neighbor_id),
    rlevels AS (SELECT unnest({list(RERANK_LEVELS)}) AS r_depth),
    rwin AS (
        SELECT r_depth, query_id, neighbor_id AS rr_nn FROM (
            SELECT lv.r_depth, r.query_id, r.neighbor_id,
                   row_number() OVER (
                       PARTITION BY lv.r_depth, r.query_id
                       ORDER BY r.l2_dist, r.neighbor_id) AS wrn
            FROM rl2 r JOIN rlevels lv ON r.rn <= lv.r_depth)
        WHERE wrn = 1),
    {_EXACT1_CTE}
    SELECT w.r_depth,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN w.rr_nn = x.neighbor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           round(avg(CASE WHEN w.rr_nn = x.neighbor_id
                          THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1
    FROM rwin w JOIN exact1 x USING (query_id)
    GROUP BY w.r_depth
    """

_SERVING_TAIL = f"""
    , {_EXACT1_CTE},
    nc AS (SELECT query_id, count(*) AS n_cand FROM adc GROUP BY 1),
    ntot AS (SELECT count(*) AS n FROM embeddings),
    stats AS (
        SELECT round(avg(CASE WHEN r.neighbor_id = x.neighbor_id
                              THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1,
               round(avg(CAST(nc.n_cand AS DOUBLE))
                     / (SELECT n - 1 FROM ntot), 4) AS cand_frac
        FROM rr1 r JOIN exact1 x USING (query_id) JOIN nc USING (query_id))
    SELECT r.query_id, r.neighbor_id AS served_nn, r.l2_dist,
           CAST(CASE WHEN r.neighbor_id = x.neighbor_id
                     THEN 1 ELSE 0 END AS BIGINT) AS hit,
           s.recall_at_1, s.cand_frac
    FROM rr1 r JOIN exact1 x USING (query_id) CROSS JOIN stats s
    """


@query(
    "q_sim_ivfadc",
    oracle=IVFADC_SEEDED.duck()
    + """
    SELECT query_id, neighbor_id, adc_dist FROM (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc)
    WHERE rn = 1
    """,
)
def q_sim_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search: nearest neighbor per eval-window query from
    seeded coarse cells + residual-PQ codes only. The query probes its
    N_PROBE nearest of N_CELLS cells, builds one LUT per probed cell
    from its own residual there (the only float vector touched), and
    scores just the probed cells' candidates by M code lookups.

    Scale shape: assignment and probing broadcast the constant
    centroid table; codes live cell-partitioned (the join key IS the
    cell), so a query reads ~N_PROBE/N_CELLS of a 4-byte-per-vector
    code table; the LUT broadcast is NQ*N_PROBE*M*K rows — constant.

    SERVING RECOMMENDATION — the family's measured ladder (sf0.01, the
    100-query eval window; recall@1 against the exact L2 neighbor):

    ===================================  =========  =========  =======
    configuration                        recall@1   cand_frac  ceiling
    ===================================  =========  =========  =======
    PQ full scan (q_sim_pq_recall)       0.10       1.0
    seeded cells, code-only              0.04       0.126      0.25
    seeded, clustered corpus             0.08       0.1233
    seeded, incremental (stale codebook) 0.04       0.126
    trained cells, code-only             0.08       0.1257     0.32
    seeded + re-rank@10                  0.11                  0.25
    trained + re-rank@10                 0.25                  0.32
    serving: trained, probe 4, R=10      0.34       0.2528     0.54
    serving on the clustered corpus      0.77       0.2485
    ===================================  =========  =========  =======

    Curves: the seeded probe sweep is FLAT (recall 0.03-0.05 at depths
    1-16, i.e. cand_frac 0.06 → 1.00), so on this isotropic corpus the
    4-bit ranking, not the probe, binds code-only serving. Seeded
    re-rank climbs 0.04/0.05/0.06/0.11/0.17 at R = 1/2/5/10/20. The
    trained probe ceiling climbs 0.21/0.32/0.54/0.79/1.00 at depths
    1/2/4/8/16 (code-only recall only 0.04 → 0.12): trained cells give
    probe depth real headroom that only the re-rank stage cashes. Its
    marginal ceiling per marginal cand_frac holds ~1.7 through depth 4
    and falls below 1.0 after it (SERVING_PROBE); the trained re-rank
    curve gains +0.016/step from R=5 to 10 and +0.004/step from 10 to
    20 (SERVING_R). Deferring codebook retraining costs nothing
    measurable here.

    So: run the probe sweep and the recall rows on YOUR corpus; if
    code-only recall@1 is below ~0.8× the PQ full scan and the probe
    curve is flat, train the centroids, then add re-rank depth read
    off the measured sweep; deploy code-only IVFADC alone only where
    its measured recall meets the 0.8× rule."""
    _, adc, _ = IVFADC_SEEDED.build(spark, sf_dir)
    return _adc_top1(adc)


def q_sim_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unregistered: the seeded index's recall@1 and cand_frac at
    N_PROBE — the probe sweep's n_probe=N_PROBE row, which the
    cross-query consistency test pins equal to this."""
    return _ivfadc_recall_table(*IVFADC_SEEDED.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_rerank",
    oracle=IVFADC_SEEDED.duck()
    + _IVFADC_RERANK_CTES
    + """
    SELECT query_id, neighbor_id, l2_dist FROM rr1
    """,
)
def q_sim_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC + exact RE-RANK, the two-stage serving pattern: the
    code-only ADC pass shortlists PQ_RERANK candidates per query, and
    only those NQ*PQ_RERANK float vectors are fetched for an exact L2
    re-rank (FAISS's IVFADC+refine). Quantization error then only costs
    recall when it pushes the true neighbor out of the shortlist.

    Scale shape: the re-rank join touches R rows per query — an equi
    join on vec_id against the corpus, never a second pass over the
    code table."""
    e, adc, _ = IVFADC_SEEDED.build(spark, sf_dir)
    return _rerank_nn1(e, adc)


def q_sim_ivfadc_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unregistered: recall@1 of the seeded two-stage search at
    R=PQ_RERANK — the re-rank sweep's r_depth=PQ_RERANK row, which the
    cross-query consistency test pins equal to this."""
    e, adc, exact1 = IVFADC_SEEDED.build(spark, sf_dir)
    return _recall_vs_exact1(_rerank_nn1(e, adc), exact1)


@query(
    "q_sim_ivfadc_probe_sweep",
    oracle=IVFADC_PROBE_SWEEP.duck() + _PROBE_SWEEP_TAIL,
)
def q_sim_ivfadc_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded index's recall/cost curve: one row per probe depth in
    PROBE_LEVELS with recall@1, the candidate fraction scored, and
    ceiling_at_probe — the fraction of queries whose exact NN landed in
    a probed cell at all, which bounds every recall at that depth. The
    deepest level is the full scan (cand_frac 1.0), so the curve's
    asymptote is measured.

    Scale shape: one scoring pass at the deepest level with each
    candidate's cell probe rank attached; each shallower level is a
    filter on that rank over the small candidate table. The exact side
    is PQ_NQ-bounded."""
    return _probe_sweep_table(*IVFADC_PROBE_SWEEP.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_clustered_recall",
    oracle=IVFADC_CLUSTERED.duck() + _IVFADC_RECALL_TAIL,
)
def q_sim_ivfadc_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seeded index's recall@1 and cand_frac on the CLUSTERED
    corpus: the same build and N_PROBE search where the corpus has
    cell structure to find. Beside the isotropic rows it brackets the
    corpus spectrum a user places their own corpus on.

    Scale shape: q_sim_ivfadc's, plus the PQ_NQ-bounded exact side
    over the derived corpus."""
    return _ivfadc_recall_table(*IVFADC_CLUSTERED.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_rerank_sweep",
    oracle=IVFADC_SEEDED.duck() + _RERANK_SWEEP_TAIL,
)
def q_sim_ivfadc_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of the seeded IVFADC + exact re-rank across shortlist
    depths R in RERANK_LEVELS: what raising R buys on the way to the
    probe ceiling.

    Scale shape: one ADC ranking and one exact-distance join for the
    max(R)-deep shortlist (the only float fetches); each shallower
    level is a filter on the ADC rank. The exact side is
    PQ_NQ-bounded."""
    return _rerank_sweep_table(*IVFADC_SEEDED.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_trained_recall",
    oracle=IVFADC_TRAINED.duck() + _IVFADC_RECALL_TAIL,
)
def q_sim_ivfadc_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 and cand_frac of the index with Lloyd-TRAINED coarse
    cells at N_PROBE. Only the cent table differs from the seeded row,
    so the delta is centroid training's alone.

    Scale shape: training collects N_CELLS*DIM doubles per round
    (constant); the rest is q_sim_ivfadc's."""
    return _ivfadc_recall_table(*IVFADC_TRAINED.build(spark, sf_dir))


def q_sim_ivfadc_ceiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unregistered: the seeded probe's hit-rate ceiling at N_PROBE —
    the fraction of queries whose exact NN is among the ADC candidates
    at all; the probe sweep's ceiling_at_probe at n_probe=N_PROBE,
    which the cross-query consistency test pins equal to this."""
    _, adc, exact1 = IVFADC_SEEDED.build(spark, sf_dir)
    hit = adc.select(
        "query_id", F.col("neighbor_id").alias("exact_nn"), F.lit(1).alias("found")
    )
    return (
        exact1.join(hit, ["query_id", "exact_nn"], "left")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.coalesce(F.col("found"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.avg(F.coalesce(F.col("found"), F.lit(0)).cast("double")), 4
            ).alias("ceiling_at_probe"),
        )
    )


@query(
    "q_sim_ivfadc_trained_rerank_recall",
    oracle=IVFADC_TRAINED.duck()
    + _IVFADC_RERANK_CTES
    + f"""
    , {_EXACT1_CTE}
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN r.neighbor_id = x.neighbor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           round(avg(CASE WHEN r.neighbor_id = x.neighbor_id
                          THEN 1.0 ELSE 0.0 END), 4) AS recall_at_1
    FROM rr1 r JOIN exact1 x USING (query_id)
    """,
)
def q_sim_ivfadc_trained_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 of trained coarse cells AND the exact re-rank at
    R=PQ_RERANK, measured end to end because the two lifts need not
    compose additively.

    Scale shape: q_sim_ivfadc_rerank's; the exact side is
    PQ_NQ-bounded."""
    e, adc, exact1 = IVFADC_TRAINED.build(spark, sf_dir)
    return _recall_vs_exact1(_rerank_nn1(e, adc), exact1)


@query(
    "q_sim_ivfadc_trained_rerank_sweep",
    oracle=IVFADC_TRAINED.duck() + _RERANK_SWEEP_TAIL,
)
def q_sim_ivfadc_trained_rerank_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-rank depth curve on the TRAINED index — the recommended
    deployment's R tuning surface; its R=PQ_RERANK level equals
    q_sim_ivfadc_trained_rerank_recall by construction.

    Scale shape: q_sim_ivfadc_rerank_sweep's."""
    return _rerank_sweep_table(*IVFADC_TRAINED.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_trained_probe_sweep",
    oracle=IVFADC_TRAINED_PROBE_SWEEP.duck() + _PROBE_SWEEP_TAIL,
)
def q_sim_ivfadc_trained_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The probe-depth curve (recall@1, cand_frac, ceiling_at_probe)
    on the TRAINED index, beside the seeded sweep: with both curves
    measured, "raise N_PROBE vs train vs re-rank" is read off curves.

    Scale shape: q_sim_ivfadc_probe_sweep's."""
    return _probe_sweep_table(*IVFADC_TRAINED_PROBE_SWEEP.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_serving",
    oracle=IVFADC_SERVING.duck() + _IVFADC_RERANK_CTES + _SERVING_TAIL,
)
def q_sim_ivfadc_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE RECOMMENDED SERVING CONFIG, end to end: trained coarse
    cells, probe depth SERVING_PROBE, exact re-rank depth SERVING_R.
    One row per eval query: the served neighbor and its exact distance,
    whether it matched the exact NN, and the config's recall@1 and
    cand_frac as constant columns.

    Scale shape: q_sim_ivfadc_rerank's at n_probe=SERVING_PROBE — a
    code scan of ~SERVING_PROBE/N_CELLS of the corpus and R float
    fetches per query. The stats columns and the exact side are the
    PQ_NQ-bounded eval harness (a one-row broadcast join, not a global
    window)."""
    return _serving_table(*IVFADC_SERVING.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_serving_clustered",
    oracle=IVFADC_SERVING_CLUSTERED.duck() + _IVFADC_RERANK_CTES + _SERVING_TAIL,
)
def q_sim_ivfadc_serving_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recommended serving config on the CLUSTERED corpus — the
    other end of the corpus spectrum. The trainer, residual PQ, probe
    and exact side all run on the derived corpus on both engines (the
    oracle's clustered CTE shadows ``embeddings``).

    Scale shape: q_sim_ivfadc_serving's."""
    return _serving_table(*IVFADC_SERVING_CLUSTERED.build(spark, sf_dir))


@query(
    "q_sim_ivfadc_incremental_recall",
    oracle=IVFADC_INCREMENTAL.duck() + _IVFADC_RECALL_TAIL,
)
def q_sim_ivfadc_incremental_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 and cand_frac of an INCREMENTALLY GROWN index: the
    codebook trains only on the pre-existing corpus (_INCR_TRAIN_WHERE,
    ~80% of vectors, always including the cell and codebook seeds); the
    remaining ~20% arrive as a new batch, cell-assigned and encoded
    with the stale codebook. The delta to the full rebuild is the price
    of deferring retraining.

    Scale shape: q_sim_ivfadc's; the training restriction is one filter
    on the subvector table."""
    return _ivfadc_recall_table(*IVFADC_INCREMENTAL.build(spark, sf_dir))

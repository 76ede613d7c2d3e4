"""Keyword-retrieval operators: inverted-index statistics, BM25
ranking, and the count-min frequency sketch — the text-side serving
family next to the embedding-side ANN stack (operators/similarity.py).

A training-data pipeline needs lexical retrieval twice: curation
(find the documents matching an audit/benchmark term set — the lookup
side of q_text_decontaminate) and RAG-style serving experiments. The
queries here are the engine-side kernels: the postings statistics an
inverted index stores, the BM25 scorer that consumes them, and the
count-min sketch that answers frequency queries when the vocabulary
is too large to exact-count.

Everything is built-in-expression only (split / explode / md5 / ln —
JVM-side, codegen'd; no Python UDFs). Cross-engine hashing reuses
functions/hashing.py's md5-hex arithmetic: the SAME SQL text computes
each hash in Spark (via F.expr) and in the DuckDB oracle.

Scale shapes (100 TB):
- Tokenize→aggregate is embarrassingly parallel; the postings build
  shuffles once on (tok, doc_id) with map-side partial aggregation.
- BM25's model state (per-term df, corpus N/avgdl) is vocabulary- and
  scalar-sized — broadcast, never shuffled with the corpus. For a
  BOUNDED query term set the tf table is pre-filtered to the terms
  before its aggregation, so the scored relation is (matching docs ×
  terms), not the corpus.
- The count-min sketch is depth×width COUNTERS regardless of corpus
  size — per-partition partial counts merge by addition (the sketch is
  a linear projection of the count vector), which is why it serves
  frequency estimates at 100 TB where an exact per-token table would
  be another corpus-sized relation. Estimates are ONE-SIDED:
  cm_est >= true count always (pinned in tests/test_retrieval.py).
- The persisted serving artifact (postings partitioned by token hash
  bucket, lexicon, doc lengths) is operators/index_store.py's
  postings store; q_text_bm25 is the reference semantics the stored
  probe must serve bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_causal_stream_processing_spark.functions.hashing import (
    hex_u32_spark_sql,
    hex_u32_sql,
)
from distributed_causal_stream_processing_spark.io import load
from distributed_causal_stream_processing_spark.operators.text import floor6
from distributed_causal_stream_processing_spark.plans.registry import query

# BM25 constants — the Robertson/Sparck-Jones defaults every engine
# ships (Lucene uses the same k1/b).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("spark", "join", "window")
BM25_TOPK = 20

# Inverted-index summary: only tokens seen in >= IDX_DF_MIN documents
# (rarer tokens are long-tail postings a summary row would not serve).
IDX_DF_MIN = 5

# Count-min sketch geometry. Depth 4 × width 512 = 2048 counters total
# — model-sized at ANY corpus scale. The 4 row hashes are 4 disjoint
# 32-bit slices of ONE md5 (md5 gives 128 bits = exactly 4 × 32).
CM_DEPTH = 4
CM_WIDTH = 512
CM_TOPK = 20

_TERMS_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)


def _cm_bucket_sql(
    d: int, hex_col: str = "h", width: int = CM_WIDTH, dialect: str = "shared"
) -> str:
    """Row-``d`` count-min bucket from an md5 hex column: 32-bit slice
    ``d`` of the digest, mod the sketch width. dialect='shared' is the
    instr-arithmetic text valid in BOTH engines (what the oracle
    runs); dialect='spark' swaps in conv() — bit-identical (pinned in
    tests/test_retrieval.py), 2.9x faster, Spark-only. ``width`` is
    overridable so tests can build a deliberately-colliding narrow
    sketch."""
    u32 = hex_u32_spark_sql if dialect == "spark" else hex_u32_sql
    return f"({u32(f'substring({hex_col}, {1 + 8 * d}, 8)')} % {width})"


def _toks(d: DataFrame) -> DataFrame:
    """(doc_id, tok) rows — the repo-standard whitespace tokenizer."""
    return d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))


@query(
    "q_text_inverted_index",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ),
    ranked AS (
        SELECT tok, doc_id, tf,
               row_number() OVER (PARTITION BY tok
                                  ORDER BY tf DESC, doc_id) AS rn
        FROM tf
    ),
    agg AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS total_tf
        FROM tf GROUP BY tok
    )
    SELECT a.tok, a.df, a.total_tf,
           r.doc_id AS top_doc_id, CAST(r.tf AS BIGINT) AS top_tf
    FROM agg a JOIN ranked r ON a.tok = r.tok AND r.rn = 1
    WHERE a.df >= {IDX_DF_MIN}
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index LEXICON build: per token, the postings statistics
    a retrieval index stores — document frequency, total term
    frequency, and the top posting (highest-tf document, ties to the
    smallest doc_id). The full postings LISTS are the persisted store
    (index_store.postings_store_save, partitioned by token hash
    bucket); this query is the lexicon relation both the store and the
    BM25 scorer derive their df statistics from.

    Scale shape: one tokenize pass, one (tok, doc_id) aggregation with
    map-side partials, one vocabulary-sized rollup. The top posting
    comes from min(struct(-tf, doc_id)) INSIDE the rollup — no window
    over the postings, so no per-token sort of corpus-sized data (the
    oracle's row_number formulation is the semantic spec, not the
    plan). Output is vocabulary-sized, bounded by the df floor."""
    tf = (
        _toks(load(spark, sf_dir, "documents"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        tf.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("tf").cast("bigint").alias("total_tf"),
            F.min(
                F.struct(
                    (-F.col("tf")).alias("neg_tf"), F.col("doc_id").alias("doc_id")
                )
            ).alias("top"),
        )
        .filter(F.col("df") >= IDX_DF_MIN)
        .select(
            "tok",
            "df",
            "total_tf",
            F.col("top.doc_id").alias("top_doc_id"),
            (-F.col("top.neg_tf")).cast("bigint").alias("top_tf"),
        )
    )


# The BM25 score pipeline as a reusable oracle CTE chain: `fl` holds
# (doc_id, bm25 floored at 1e-6). Shared by q_text_bm25 and the RRF
# fusion oracle so the two can never drift.
_BM25_FL_SQL = f"""
    dl AS (
        SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok IN ({_TERMS_IN})
        GROUP BY doc_id, tok
    ),
    idf AS (
        SELECT tok,
               ln(1 + ((SELECT n FROM stats) - count(*) + 0.5)
                      / (count(*) + 0.5)) AS idf
        FROM tf GROUP BY tok
    ),
    sc AS (
        SELECT tf.doc_id,
               sum(idf.idf * tf.tf * ({BM25_K1} + 1.0)
                   / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                      + {BM25_B} * dl.dl / (SELECT avgdl FROM stats)))) AS s
        FROM tf
        JOIN idf ON tf.tok = idf.tok
        JOIN dl ON tf.doc_id = dl.doc_id
        GROUP BY tf.doc_id
    ),
    fl AS (SELECT doc_id, floor(s * 1000000) / 1000000 AS bm25 FROM sc)
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every document matching any query term —
    the full floored score relation q_text_bm25 ranks and the RRF
    fusion consumes as its lexical list. One definition on each
    engine side (_BM25_FL_SQL is the oracle twin)."""
    d = load(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split(F.lower("text"), " ")).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        _toks(d)
        .filter(F.col("tok").isin(*BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.log(
                F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
            "avgdl",
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "tok")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                * (BM25_K1 + 1.0)
                / (
                    F.col("tf")
                    + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    return contrib.groupBy("doc_id").agg(floor6(F.sum("c")).alias("bm25"))


@query(
    "q_text_bm25",
    oracle=f"""
    WITH {_BM25_FL_SQL}
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
    FROM fl
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-20 documents for the fixed query
    term set, scored with the standard Robertson formula
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    The fixture vocabulary is small and uniform (idf values are low and
    close), which checks the MECHANISM — statistics, broadcast shapes,
    tie-broken ranking — like q_text_langid does for language-ID.

    Scale shape: the term filter lands BEFORE the tf aggregation, so
    the scored relation is (matching docs × |terms|), never the
    corpus. The model state — per-term idf and the corpus scalars
    (N, avgdl) — is terms+1 rows, broadcast into the score join; the
    doc-length join is the only corpus-keyed equi join. Top-k runs as
    TakeOrderedAndProject (k rows per partition) and the rank window
    sees exactly k survivors (the q_text_wordcount bounded-window
    pattern). Scores floor at 1e-6 and rank on the floored value so
    both engines break ties identically. (Scoring lives in
    _bm25_scored, shared with the q_retrieval_rrf fusion.)"""
    scored = _bm25_scored(spark, sf_dir)
    w = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(BM25_TOPK)
        .select("doc_id", "bm25", F.row_number().over(w).cast("bigint").alias("rnk"))
    )


def _cm_oracle() -> str:
    """DuckDB oracle for q_text_countmin, assembled from the same
    bucket-SQL fragments the Spark side evaluates."""
    pos = "\n        UNION ALL ".join(
        f"SELECT {d} AS d, {_cm_bucket_sql(d)} AS bucket FROM h" for d in range(CM_DEPTH)
    )
    tpos = "\n        UNION ALL ".join(
        f"SELECT tok, n, {d} AS d, {_cm_bucket_sql(d)} AS bucket FROM th"
        for d in range(CM_DEPTH)
    )
    return f"""
    WITH w AS (
        SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
    ),
    h AS (SELECT md5(tok) AS h FROM w),
    pos AS (
        {pos}
    ),
    sketch AS (SELECT d, bucket, count(*) AS c FROM pos GROUP BY d, bucket),
    top AS (
        SELECT tok, count(*) AS n FROM w GROUP BY tok
        ORDER BY n DESC, tok LIMIT {CM_TOPK}
    ),
    th AS (SELECT tok, n, md5(tok) AS h FROM top),
    tpos AS (
        {tpos}
    )
    SELECT t.tok, CAST(t.n AS BIGINT) AS n,
           CAST(min(s.c) AS BIGINT) AS cm_est,
           CAST(min(s.c) - t.n AS BIGINT) AS overest
    FROM tpos t JOIN sketch s ON t.d = s.d AND t.bucket = s.bucket
    GROUP BY t.tok, t.n
    """


@query("q_text_countmin", oracle=_cm_oracle())
def q_text_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, checked against exact
    counts: build the depth×width sketch over ALL token occurrences,
    then read back the estimate for the top-20 exact tokens and emit
    (tok, exact n, cm_est, overest). The sketch's one-sided error
    guarantee — cm_est >= n always, because every counter a token
    hashes to counts at least that token's occurrences — makes a
    sketch query EXACTLY value-checkable: the oracle recomputes the
    same deterministic md5-sliced hashes, so both engines build the
    identical 2048 counters. overest is the measured collision noise
    (min over 4 rows of width 512 on a ~40-token vocabulary is usually
    0 here; wider vocabularies pay ~N/width).

    Scale shape: the sketch is a (depth × width)-cell aggregate —
    per-partition partials merge by ADDITION (count-min is a linear
    sketch), so the shuffle carries at most depth×width rows per
    partition regardless of corpus size; at 100 TB this is the
    frequency structure you CAN afford when the exact per-token table
    (another corpus-scale relation) is not queryable online. The probe
    side broadcasts the counter table (model-sized) into the top-k
    join. Four hashes cost ONE md5: the 128-bit digest splits into
    four disjoint 32-bit row hashes."""
    d = load(spark, sf_dir, "documents")
    toks = _toks(d).select("tok")
    hashed = toks.select(F.expr("md5(tok)").alias("h"))
    pos_structs = F.array(
        *[
            F.struct(
                F.lit(dd).alias("d"),
                F.expr(_cm_bucket_sql(dd, dialect="spark")).alias("bucket"),
            )
            for dd in range(CM_DEPTH)
        ]
    )
    sketch = (
        hashed.select(F.explode(pos_structs).alias("p"))
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(CM_TOPK)
    )
    tpos = top.select("tok", "n", F.expr("md5(tok)").alias("h")).select(
        "tok", "n", F.explode(pos_structs).alias("p")
    )
    return (
        tpos.select("tok", "n", "p.d", "p.bucket")
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("tok", "n")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "tok",
            F.col("n").cast("bigint").alias("n"),
            F.col("cm_est").cast("bigint").alias("cm_est"),
            (F.col("cm_est") - F.col("n")).cast("bigint").alias("overest"),
        )
    )


# Reciprocal-rank fusion constants: the standard k=60 (Cormack et al.),
# fusion over the top-RRF_DEPTH of each list, final top-RRF_TOPK.
RRF_K = 60
RRF_DEPTH = 50
RRF_TOPK = 20
RRF_QUERY_VEC = 0  # vec_id of the dense query vector (excluded from its list)


@query(
    "q_retrieval_rrf",
    oracle=f"""
    WITH {_BM25_FL_SQL},
    lexr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lrank
        FROM fl ORDER BY bm25 DESC, doc_id LIMIT {RRF_DEPTH}
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
           WHERE vec_id = {RRF_QUERY_VEC}),
    sims AS (
        SELECT vec_id AS doc_id,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                                      (SELECT qe FROM qv)) AS sim
        FROM embeddings WHERE vec_id <> {RRF_QUERY_VEC}
    ),
    vecr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS vrank
        FROM sims ORDER BY sim DESC, doc_id LIMIT {RRF_DEPTH}
    ),
    fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               l.lrank AS lrank, v.vrank AS vrank,
               coalesce(1.0 / ({RRF_K} + l.lrank), 0)
                   + coalesce(1.0 / ({RRF_K} + v.vrank), 0) AS rrf
        FROM lexr l FULL JOIN vecr v ON l.doc_id = v.doc_id
    )
    SELECT doc_id,
           floor(rrf * 1000000) / 1000000 AS rrf_score,
           CAST(lrank AS BIGINT) AS lrank, CAST(vrank AS BIGINT) AS vrank,
           CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT {RRF_TOPK}
    """,
)
def q_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL — reciprocal-rank fusion of the engine's two
    serving families: the lexical list (BM25 over the fixed term set,
    the q_text_bm25 pipeline) and the dense list (exact cosine to one
    query embedding) fuse by RRF(d) = Σ_lists 1/(k + rank_d), k=60 —
    the standard score-free fusion that needs NO calibration between
    BM25 points and cosine values, which is exactly why production
    hybrid search uses it. Documents missing from one list contribute
    only the other's term (the fixture pairs doc_id↔vec_id on the
    shared id range; docs without a vector can still fuse from the
    lexical side).

    Scale shape: each list is its own bounded pipeline — BM25's
    broadcast-stats shape, then cosine against ONE broadcast query
    vector (a single zip_with/aggregate pass over the vector corpus,
    no pairs) — and both end in TakeOrderedAndProject + a rank window
    over the RRF_DEPTH survivors; the fusion join is depth-sized
    (≤2·RRF_DEPTH rows). At serving scale the dense list comes from
    the IVFADC store and the lexical list from the postings store;
    this query is the fusion semantics those two paths plug into."""
    from distributed_causal_stream_processing_spark.operators.similarity import (
        as_double,
        cosine,
    )

    wl = W.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(wl).alias("lrank"))
    )
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("emb")
    )
    qv = e.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("emb").alias("qemb")
    )
    sims = (
        e.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine("emb", "qemb").alias("sim"),
        )
    )
    wv = W.orderBy(F.desc("sim"), F.asc("doc_id"))
    vecr = (
        sims.orderBy(F.desc("sim"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
        .select("doc_id", F.row_number().over(wv).alias("vrank"))
    )
    fused = (
        lexr.join(vecr, ["doc_id"], "full")
        .select(
            "doc_id",
            "lrank",
            "vrank",
            (
                F.coalesce(1.0 / (RRF_K + F.col("lrank")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("vrank")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    wf = W.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_TOPK)
        .select(
            "doc_id",
            floor6(F.col("rrf")).alias("rrf_score"),
            F.col("lrank").cast("bigint").alias("lrank"),
            F.col("vrank").cast("bigint").alias("vrank"),
            F.row_number().over(wf).cast("bigint").alias("rnk"),
        )
    )


# Serve-while-ingest result memo: the mid-ingest store state is
# TRANSIENT (compaction destroys it), so repeat calls in one session
# would rebuild the whole store just to re-observe it. Memoize the
# k-row result per (applicationId, fixture dir, documents
# fingerprint) — same keying discipline as similarity.py's artifact
# memo (a rebuilt session or regenerated parquet invalidates), and the
# entry is K rows of (bigint, double, bigint), not a corpus-sized
# checkpoint. similarity._MEMO_DISABLED is honored so the memo-off
# bench seam measures the real build.
_SERVE_MEMO: dict[tuple, list] = {}


@query(
    "q_index_serve_during_ingest",
    oracle=f"""
    WITH {_BM25_FL_SQL}
    SELECT doc_id, bm25,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rnk
    FROM fl
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """,
)
def q_index_serve_during_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-while-ingest on the persisted postings store (VERDICT r12
    item 4): build the store from the BASE corpus (doc_id % 5 != 0),
    APPEND the ingest batch (doc_id % 5 == 0) — postings land as extra
    files in their bucket directories, the lexicon merges by addition —
    and probe MID-INGEST, before any compaction. The returned rows are
    that mid-ingest probe, and the query itself asserts they are
    bit-identical to a post-compaction probe of the same store; the
    DuckDB oracle scores BM25 over the FULL corpus, so the value-hash
    proves the append-before-compact state already serves the complete
    answer. (Crash-replay of the same append is covered by
    tests/test_index_store.py's manifest-recovery harness.)

    Scale shape: identical to bm25_search_saved both times — the probe
    reads |term buckets| partition directories whether a bucket holds
    one compacted file or base+pending files, broadcasts the lexicon
    slice, and TakeOrders k rows; compaction changes file counts, not
    results. The two O(k) collects exist to make the serve-during-
    ingest equality a RAISED invariant rather than prose."""
    import shutil
    import tempfile

    from distributed_causal_stream_processing_spark.io import _fingerprint, table_path
    from distributed_causal_stream_processing_spark.operators import (
        index_store as ix,
        similarity as sim,
    )

    out_schema = "doc_id bigint, bm25 double, rnk bigint"
    key = None
    if not sim._MEMO_DISABLED:
        try:
            key = (
                spark.sparkContext.applicationId,
                sf_dir,
                _fingerprint(table_path(sf_dir, "documents")),
            )
        except Exception:
            key = None
    if key is not None and key in _SERVE_MEMO:
        return spark.createDataFrame(_SERVE_MEMO[key], out_schema)

    docs = load(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    d = tempfile.mkdtemp(prefix="dcsp_serve_ingest_")
    try:
        ix.postings_store_save(spark, base, d)
        ix.postings_store_append(spark, d, batch)
        mid = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
        ix.postings_store_compact(spark, d)
        post = sorted(map(tuple, ix.bm25_search_saved(spark, d).collect()))
        if mid != post:
            raise RuntimeError(
                "serve-during-ingest violated: mid-ingest probe differs "
                f"from post-compaction probe ({len(mid)} vs {len(post)} rows)"
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if key is not None:
        _SERVE_MEMO.clear()
        _SERVE_MEMO[key] = mid
    return spark.createDataFrame(mid, out_schema)

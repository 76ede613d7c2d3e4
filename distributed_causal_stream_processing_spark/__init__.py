"""distributed_causal_stream_processing_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first engine with the query / data-processing
capabilities of ``zapletal-martin/distributed-causal-stream-processing``
(a causal, effectively-once stream-processing PoC), re-expressed on the
Spark DataFrame / SQL / Structured Streaming stack, plus the relational
and LLM-data-pipeline operator surface described in SURVEY.md §2.

Note on citations: the reference checkout at /root/reference is empty in
this environment (see SURVEY.md §0), so reference parity is documented
conceptually (per-key causal order, views, effectively-once sinks)
rather than via file:line citations.

Layout
------
- ``session``    SparkSession builder tuned for local[<cores>] testing but
                 configured the way a 1000-executor cluster job would be
                 (AQE, adaptive skew join, explicit shuffle partitions).
- ``io``         fixture loaders + temp-view registration.
- ``plans``      the query registry: every operator from SURVEY.md §2 is
                 a named query with an optional DuckDB oracle SQL.
- ``operators``  relational operators (scans, joins, aggregates, windows,
                 sorts, sets) and LLM-pipeline operators (dedup,
                 similarity, text analysis, multimodal).
- ``functions``  scalar function families + UDF/UDAF/UDTF surface.
- ``streaming``  causal sequencing, event-time windows, dedup,
                 effectively-once sinks — the reference's home turf.
"""

from distributed_causal_stream_processing_spark.plans.registry import (  # noqa: F401
    REGISTRY,
    all_oracle_sql,
    all_queries,
)


def __getattr__(name):  # pragma: no cover - thin lazy-import shims
    """Lazy re-exports of the engine's standalone building blocks, so
    `from distributed_causal_stream_processing_spark import asof_join`
    works without importing pyspark-heavy modules at package import."""
    lazy = {
        "asof_join": "operators.joins",
        "asof_join_nearest": "operators.joins",
        "hamming1_variants": "operators.similarity",
        "chain_assign_stream": "streaming.causal",
        "causal_chains_frame": "operators.recursion",
        "connected_components": "operators.graph",
        "sessionize": "operators.windows",
        "causal_sequence_batch": "streaming.batch_views",
        "with_quality_score": "operators.text",
        "chunk_documents": "operators.text",
        "get_spark": "session",
        "enable_rocksdb_state": "session",
        "write_partitioned_sorted": "sinks",
        "read_partitioned": "sinks",
        "compact_files": "sinks",
        "write_zordered": "sinks",
        "causal_sequence_skewsafe": "streaming.batch_views",
        "running_state_skewsafe": "streaming.batch_views",
        "ivfadc_index": "operators.similarity",
        "ivfadc_score": "operators.similarity",
        "run_streaming_ivfadc": "streaming.jobs",
        "MergeSpec": "transactional",
        "ParquetMergeTable": "transactional",
    }
    if name in lazy:
        import importlib

        mod = importlib.import_module(f"{__name__}.{lazy[name]}")
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


__all__ = [
    "REGISTRY",
    "all_queries",
    "all_oracle_sql",
    "asof_join",
    "asof_join_nearest",
    "hamming1_variants",
    "chain_assign_stream",
    "causal_chains_frame",
    "connected_components",
    "sessionize",
    "causal_sequence_batch",
    "with_quality_score",
    "chunk_documents",
    "get_spark",
    "enable_rocksdb_state",
    "write_partitioned_sorted",
    "read_partitioned",
    "compact_files",
    "write_zordered",
    "causal_sequence_skewsafe",
    "running_state_skewsafe",
    "ivfadc_index",
    "ivfadc_score",
    "run_streaming_ivfadc",
    "MergeSpec",
    "ParquetMergeTable",
]
__version__ = "0.1.0"

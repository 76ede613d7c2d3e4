"""MERGE INTO on plain parquet under the engine's write-then-commit
protocol.

- ``MergeSpec`` — the MERGE shape: equi-match keys plus an optional
  matched-row delete predicate; matched rows otherwise update, and
  unmatched source rows insert.
- ``ParquetMergeTable`` — executes that spec as one versioned snapshot
  per merge (streaming/jobs.py ``_SnapshotTable``: snapshot_N data
  first, ``_commits/N`` marker after, readers trust markers only), so a
  replayed version runs into ``noop`` and a torn write is invisible and
  rewritten on retry. streaming/jobs.py ``run_merge_stream`` drives it
  from foreachBatch with the batch id as the version.

Scale: ``ParquetMergeTable.merge`` is one full-outer shuffle join on
the merge keys per version and rewrites the whole table; there is no
file skipping, so its cost grows with the table, not with the batch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_causal_stream_processing_spark.streaming.jobs import _SnapshotTable


@dataclass(frozen=True)
class MergeSpec:
    """MERGE INTO shape.

    - ``keys``: equi-match columns (``ON t.k = s.k AND ...``).
    - ``matched_delete_condition``: optional SQL predicate over ``s.``
      / ``t.`` aliases; matched rows satisfying it are DELETED.
    - remaining matched rows are UPDATE SET * (source wins, all
      columns); unmatched source rows are INSERT * — the CDC-upsert
      shape q_merge_upsert and CdcMergeSink implement.
    """

    keys: tuple[str, ...]
    matched_delete_condition: str | None = None

    def __post_init__(self) -> None:
        if not self.keys:
            raise ValueError("MergeSpec needs at least one key column")


class ParquetMergeTable(_SnapshotTable):
    """MERGE INTO semantics on plain parquet with the engine's
    write-then-commit protocol.

    ``merge(source, spec, version)`` is idempotent per version: a
    replayed version whose marker exists runs its plan into ``noop``
    and writes nothing (``_skip_replay``), and a torn write (data
    without marker) is invisible to ``snapshot`` and rewritten
    wholesale on retry — the write-then-commit contract shared with
    IdempotentForeachBatchSink and CdcMergeSink.
    """

    def merge(self, source: DataFrame, spec: MergeSpec, version: int) -> None:
        if self._skip_replay(source, version):
            return
        # MERGE cardinality rule (ADVICE r14): MERGE INTO raises when
        # one target row matches multiple source rows; silently emitting
        # duplicate target rows would hide the bug from callers other
        # than run_merge_stream (which pre-dedupes). Raise the same error.
        dup = (
            source.groupBy(*spec.keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_vals = {k: dup[0][k] for k in spec.keys}
            raise ValueError(
                "MERGE source has multiple rows for key "
                f"{key_vals} — the cardinality violation MERGE INTO "
                "raises; dedupe the source first"
            )
        target = self.snapshot(source.sparkSession)
        if target is None:
            merged = source
        else:
            keys = list(spec.keys)
            # presence markers BEFORE the join: full_outer coalesces the
            # key columns, so side-presence must ride on its own column
            t = target.withColumn("__t", F.lit(True)).alias("t")
            s = source.withColumn("__s", F.lit(True)).alias("s")
            both = t.join(s, on=keys, how="full_outer")
            is_matched = F.col("__t").isNotNull() & F.col("__s").isNotNull()
            keep_target = F.col("__s").isNull()
            if spec.matched_delete_condition:
                # null-safe twice over: ANDing with is_matched keeps
                # half-null (unmatched) rows out, and the coalesce makes
                # a NULL predicate mean "clause does not apply" (update,
                # not delete) — MERGE's three-valued-logic rule
                deleted = F.coalesce(
                    is_matched & F.expr(spec.matched_delete_condition),
                    F.lit(False),
                )
            else:
                deleted = F.lit(False)
            picked = [
                F.col(c)
                if c in keys
                else F.when(keep_target, F.col(f"t.{c}"))
                .otherwise(F.col(f"s.{c}"))
                .alias(c)
                for c in source.columns
            ]
            merged = both.filter(~deleted).select(*picked)
        self._commit_snapshot(merged, version)

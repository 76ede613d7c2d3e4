"""The lineage cut every driver loop pays once per round.

A Pregel-style loop (PageRank supersteps, components blocks, the
k-center passes, the causal-deps relaxation) cuts its lineage with an
eager localCheckpoint each round and then reads one small probe on the
driver: a count, a certificate sum, an argmax. Run as its own
``collect``/``count`` after the checkpoint, that probe is a second
action — one to three more Spark jobs per round, because an aggregate
over a checkpointed frame shuffles its partial results. Observed on
the checkpoint instead, it is computed by the checkpoint's own jobs
and adds none. The checkpoint itself still costs what its plan costs:
one job for a shuffle-free round (a k-center pass), more where AQE
submits each shuffle map stage of the round as its own job (a
components block).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Row


def checkpoint_observed(df: DataFrame, *aggs: Column) -> tuple[DataFrame, Row]:
    """Eagerly localCheckpoint ``df`` and return it with the values of
    ``aggs`` (named aggregate columns) over its rows, computed by the
    checkpoint job through ``DataFrame.observe``.

    The checkpoint always runs here, whatever memo or audit flag is
    set: ``Observation.get`` blocks until an action over the observed
    plan finishes, so a checkpoint that were skipped would hang the
    caller instead of returning its probe."""
    obs = Observation()
    cut = df.observe(obs, *aggs).localCheckpoint(eager=True)
    return cut, Row(**obs.get)

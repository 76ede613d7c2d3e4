"""Layout-sink contract: the written dataset must actually have the
three properties the 100 TB story claims — partition directories,
bounded file sizes, and within-file sort order — verified against the
files on disk, not just the writer options."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_write_partitioned_sorted_layout(spark, tmp_path):
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.sinks import (
        read_partitioned,
        write_partitioned_sorted,
    )

    docs = load(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "shards")
    write_partitioned_sorted(
        docs, out, partition_by=["lang"], sort_by=["doc_id"], max_records_per_file=20
    )

    # (a) partition directories exist and cover every lang value
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(out, "lang=*"))
    }
    assert dirs == langs

    # (b) every file holds at most max_records_per_file rows
    files = glob.glob(os.path.join(out, "lang=*", "*.parquet"))
    assert files
    for f in files:
        n = spark.read.parquet(f).count()
        assert n <= 20, f"{f}: {n} rows"

    # (c) rows are sorted by doc_id within each file
    for f in files:
        ids = [r.doc_id for r in spark.read.parquet(f).select("doc_id").collect()]
        assert ids == sorted(ids), f"{f} not sorted"

    # (d) nothing lost or duplicated, partition column round-trips
    back = read_partitioned(spark, out)
    assert sorted(
        map(tuple, back.select("doc_id", "lang").collect())
    ) == sorted(map(tuple, docs.select("doc_id", "lang").collect()))

    # (e) an equality predicate on the partition column prunes at scan
    pruned = back.filter(F.col("lang") == sorted(langs)[0])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split("PartitionFilters:")[1].splitlines()[0]


def test_compact_files(spark, tmp_path):
    """50-file fragmentation → the computed file count, lossless, with
    every output file close to the target size."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.sinks import compact_files

    docs = load(spark, SF_SMOKE, "documents")
    frag = str(tmp_path / "fragmented")
    docs.repartition(50).write.mode("overwrite").parquet(frag)
    assert len(glob.glob(os.path.join(frag, "part-*.parquet"))) == 50

    out = str(tmp_path / "compacted")
    n_files = compact_files(spark, frag, out, records_per_file=200)
    files = glob.glob(os.path.join(out, "part-*.parquet"))
    assert len(files) == n_files == -(-docs.count() // 200)

    back = spark.read.parquet(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    for f in files:  # round-robin → near-even sizes
        n = spark.read.parquet(f).count()
        assert n <= 200 + 50, f"{f}: {n} rows"


def _scan_output_rows(df) -> int:
    """Sum of numOutputRows across the plan's scan leaves after
    execution — what actually survived row-group/file pruning."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        m = leaf.metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total


def test_zorder_layout_prunes_second_dimension(spark, tmp_path):
    """Z-order vs linear sort, measured: with rows laid out linearly by
    (l_partkey, l_suppkey), a predicate on l_suppkey alone cannot skip
    row groups (every group spans suppkey's full range); Z-ordered on
    the same two columns, the same predicate skips most groups. Scan
    output-row metrics prove it — the 100 TB layout claim made
    physical, same spirit as the partition-pruning test."""
    from tests.conftest import SF_CORRECT
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.sinks import write_zordered

    # sf0.01 (60k rows): 30 row groups at 2000 rows/file — enough groups
    # for the curve to matter (at sf0.001's 3 groups there is nothing to
    # skip)
    li = load(spark, SF_CORRECT, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )

    linear = str(tmp_path / "linear")
    (
        li.repartitionByRange(1, "l_partkey", "l_suppkey")
        .sortWithinPartitions("l_partkey", "l_suppkey")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "2000")
        .parquet(linear)
    )
    zordered = str(tmp_path / "zordered")
    write_zordered(li, zordered, ["l_partkey", "l_suppkey"], max_records_per_file=2000)

    pred = "l_suppkey = 7"
    rows_linear = spark.read.parquet(linear).filter(pred)
    rows_z = spark.read.parquet(zordered).filter(pred)
    # identical answers...
    got_l = sorted(map(tuple, rows_linear.collect()))
    got_z = sorted(map(tuple, rows_z.collect()))
    assert got_l == got_z and len(got_l) > 0
    # ...but the z-layout's scan reads far fewer rows past the filter's
    # row-group pruning than the linear layout
    scanned_linear = _scan_output_rows(rows_linear)
    scanned_z = _scan_output_rows(rows_z)
    assert scanned_z * 2 < scanned_linear, (scanned_z, scanned_linear)


def test_zorder_write_degrades_gracefully_on_empty_and_all_null(spark, tmp_path):
    """ADVICE r08: percentile_approx returns NULL on an empty input or
    an all-null z-column, which used to crash write_zordered with a
    TypeError before any file was written. Both shapes must now write
    successfully (the degenerate column gets a constant z-code — there
    is no distribution to bucket)."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.sinks import write_zordered

    base = spark.range(100).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b")
    )

    empty_path = str(tmp_path / "empty")
    write_zordered(base.filter(F.lit(False)), empty_path, ["a", "b"])
    assert spark.read.parquet(empty_path).count() == 0

    allnull = base.withColumn("b", F.lit(None).cast("long"))
    null_path = str(tmp_path / "allnull")
    write_zordered(allnull, null_path, ["a", "b"])
    back = spark.read.parquet(null_path)
    assert back.count() == 100
    # the healthy column still drives the layout; values survive intact
    assert sorted(r.a for r in back.collect()) == list(range(100))


def _rows_set(df):
    return {tuple(str(v) for v in r) for r in df.collect()}


def test_csv_source_roundtrip_exact(spark, tmp_path):
    """CSV source/sink: events written as CSV and read back with an
    explicit schema must reproduce the parquet fixture EXACTLY —
    microsecond timestamps (timestampFormat with .SSSSSS), full-
    precision doubles (Java shortest-roundtrip repr), and the embedded
    JSON props string surviving quoting/escaping. An engine claiming
    CSV as a source owes bit-fidelity, not approximate parsing."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming.jobs import EVENT_SCHEMA

    e = load(spark, SF_SMOKE, "events")
    d = str(tmp_path / "events_csv")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    (
        e.write.option("header", True)
        .option("timestampFormat", fmt)
        .option("escape", '"')
        .csv(d)
    )
    back = (
        spark.read.schema(EVENT_SCHEMA)
        .option("header", True)
        .option("timestampFormat", fmt)
        .option("escape", '"')
        .csv(d)
    )
    assert back.schema == e.select(*back.columns).schema
    assert _rows_set(back) == _rows_set(e)


def test_json_source_roundtrip_exact(spark, tmp_path):
    """JSON-lines source/sink: same bit-fidelity contract as CSV —
    explicit schema on read (never inference, per the engine's
    fixed-schema data model), µs timestamps, nested-quote props."""
    from distributed_causal_stream_processing_spark.io import load
    from distributed_causal_stream_processing_spark.streaming.jobs import EVENT_SCHEMA

    e = load(spark, SF_SMOKE, "events")
    d = str(tmp_path / "events_json")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    e.write.option("timestampFormat", fmt).json(d)
    back = spark.read.schema(EVENT_SCHEMA).option("timestampFormat", fmt).json(d)
    assert _rows_set(back) == _rows_set(e)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution on the parquet layout: an ingest that ADDS a
    column (the routine evolution on a long-lived 100 TB table) must
    read back as one unified schema with NULLs for pre-evolution rows
    — via mergeSchema on read — while the default read keeps working
    on the unevolved projection. Column pruning still reaches the scan
    for old columns regardless of which footer carried them."""
    from pyspark.sql import functions as F

    from distributed_causal_stream_processing_spark.io import load

    d = str(tmp_path / "evolving")
    e = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    v1 = e.filter(F.col("event_id") % 2 == 0)
    v2 = (
        e.filter(F.col("event_id") % 2 == 1)
        .withColumn("quality_score", (F.col("value") * 2).cast("double"))
    )
    v1.write.mode("overwrite").parquet(d)
    v2.write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert "quality_score" in merged.columns
    assert merged.count() == e.count()
    nulls = merged.filter(F.col("quality_score").isNull()).count()
    assert nulls == v1.count()  # pre-evolution rows read as NULL
    got = {
        r.event_id: r.quality_score
        for r in merged.filter(F.col("quality_score").isNotNull()).collect()
    }
    want = {r.event_id: r.quality_score for r in v2.collect()}
    assert got == want

    # old-projection reads keep working without mergeSchema
    old = spark.read.parquet(d).select("event_id", "value")
    assert old.count() == e.count()
    plan = old._jdf.queryExecution().executedPlan().toString()
    assert "quality_score" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_parquet_merge_table_semantics_and_idempotence(spark, tmp_path):
    """ParquetMergeTable executes MERGE semantics (update-all /
    insert-all / conditional delete) on plain parquet under the shared
    write-then-commit protocol: a replayed version is a no-op, and a
    torn write (data, no marker) is invisible to snapshot(). A spec
    without keys is rejected at construction."""
    import os

    import pytest as _pytest

    from distributed_causal_stream_processing_spark.transactional import (
        MergeSpec,
        ParquetMergeTable,
    )

    with _pytest.raises(ValueError):
        MergeSpec(keys=())

    root = str(tmp_path / "tbl")
    tbl = ParquetMergeTable(root)
    spec = MergeSpec(keys=("user_id",), matched_delete_condition="s.op = 'D'")

    v0 = spark.createDataFrame(
        [(1, 10.0, "U"), (2, 20.0, "U")], "user_id long, value double, op string"
    )
    tbl.merge(v0, spec, version=0)
    assert sorted(
        (r.user_id, r.value) for r in tbl.snapshot(spark).collect()
    ) == [(1, 10.0), (2, 20.0)]

    # v1: update 1, delete 2, insert 3; key 4 untouched-absent
    v1 = spark.createDataFrame(
        [(1, 11.0, "U"), (2, 0.0, "D"), (3, 30.0, "U")],
        "user_id long, value double, op string",
    )
    tbl.merge(v1, spec, version=1)
    want = [(1, 11.0), (3, 30.0)]
    assert sorted(
        (r.user_id, r.value) for r in tbl.snapshot(spark).collect()
    ) == want

    # replayed version: byte-identical no-op (at-least-once delivery)
    tbl.merge(v1, spec, version=1)
    assert sorted(
        (r.user_id, r.value) for r in tbl.snapshot(spark).collect()
    ) == want

    # torn write: snapshot_9 data exists but no marker — invisible
    spark.createDataFrame([(99, 1.0, "U")], v1.schema).write.parquet(
        os.path.join(root, "snapshot_9")
    )
    assert sorted(
        (r.user_id, r.value) for r in tbl.snapshot(spark).collect()
    ) == want


def test_parquet_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """MERGE cardinality rule (ADVICE r14): Delta/Iceberg raise when one
    target row matches multiple source rows. ParquetMergeTable must
    raise the same error instead of silently emitting duplicate target
    rows — and must NOT advance the version (no marker, no snapshot)."""
    import pytest as _pytest

    from distributed_causal_stream_processing_spark.transactional import (
        MergeSpec,
        ParquetMergeTable,
    )

    tbl = ParquetMergeTable(str(tmp_path / "tbl"))
    spec = MergeSpec(keys=("user_id",))
    dup_src = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "user_id long, value double"
    )
    with _pytest.raises(ValueError, match="multiple rows"):
        tbl.merge(dup_src, spec, version=0)
    assert tbl.snapshot(spark) is None  # version 0 never committed

    # a deduped source for the same version then proceeds normally
    ok_src = spark.createDataFrame(
        [(1, 11.0), (2, 20.0)], "user_id long, value double"
    )
    tbl.merge(ok_src, spec, version=0)
    assert sorted(
        (r.user_id, r.value) for r in tbl.snapshot(spark).collect()
    ) == [(1, 11.0), (2, 20.0)]

"""The Python worker daemon's zip-import cache: unchanged archives are
not re-read by ``importlib.invalidate_caches()``, changed ones are."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, monkeypatch):
    """No Spark: an archive on sys.path is read once, then kept across
    ``invalidate_caches()`` while its (mtime, size) stays put. Rewriting
    it in place with the same size but a new mtime, or with a new module
    (new size), makes the next call re-read it, and the new module
    imports."""
    from distributed_causal_stream_processing_spark import worker_daemon

    archive = str(tmp_path / "mods.zip")

    def write(modules: dict[str, str], mtime_ns: int) -> None:
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(f"{name}.py", src)
        os.utime(archive, ns=(mtime_ns, mtime_ns))

    t0 = os.stat(tmp_path).st_mtime_ns
    write({"dcsp_zip_a": "X = 1\n"}, t0)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    reads = _count_directory_reads(monkeypatch)
    try:
        assert importlib.import_module("dcsp_zip_a").X == 1
        importlib.invalidate_caches()  # first call stamps the archive
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        write({"dcsp_zip_a": "X = 2\n"}, t0 + 10**9)  # same size, new mtime
        importlib.invalidate_caches()
        assert reads == [archive]

        write({"dcsp_zip_a": "X = 2\n", "dcsp_zip_b": "Y = 3\n"}, t0 + 10**9)
        importlib.invalidate_caches()
        assert reads == [archive, archive]
        assert importlib.import_module("dcsp_zip_b").Y == 3
        importlib.invalidate_caches()
        assert reads == [archive, archive]
    finally:
        for name in ("dcsp_zip_a", "dcsp_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_session_workers_keep_zip_directories_across_tasks(spark):
    """In a ``get_spark`` session, the ``importlib.invalidate_caches()``
    every task starts with re-reads no zip archive: a mapInPandas task
    that counts ``zipimport._read_directory`` calls around the same call
    sees none. pyspark's stock daemon re-reads every importer's archive
    there (16 reads in a worker of this package's sessions)."""
    from distributed_causal_stream_processing_spark.session import WORKER_DAEMON

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        reads, real = [], zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "importers": [n_importers]})

    rows = spark.range(0, 4, 1, 4).mapInPandas(probe, "reads long, importers long").collect()
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows)  # zip importers were live
    assert [r.reads for r in rows] == [0, 0, 0, 0]

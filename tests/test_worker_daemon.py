"""The engine worker daemon's zipimporter patch: an unchanged archive
is not re-read on invalidation, a changed or missing one takes the
original path, and Spark workers run with the patch while
``addPyFile`` still works."""

from __future__ import annotations

import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from scalablevectorsearch_spark import worker_daemon


def _write_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m.py", f"VALUE = {value}\n")


def _load_value(importer) -> int:
    spec = importer.find_spec("m")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.VALUE


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12 re-reads lazily; the daemon patches nothing"
)
def test_invalidate_rereads_only_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "a.zip"
    _write_zip(archive, 1)
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or read(p)
    )

    for _ in range(5):
        worker_daemon.invalidate_caches(importer)
    assert len(reads) == 1  # the first call has no stamp to compare
    assert _load_value(importer) == 1

    _write_zip(archive, 2)
    # same size; move the mtime so a coarse clock cannot hide the rewrite
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2
    assert _load_value(importer) == 2
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == 2

    archive.unlink()
    worker_daemon.invalidate_caches(importer)
    assert importer._files == {}
    assert str(archive) not in zipimport._zip_directory_cache
    assert importer.find_spec("m") is None


def _daemon_probe():
    # a nested function: cloudpickle ships it by value, so the workers
    # need not import this test module
    def probe(it):
        import sys
        import zipimport

        for _ in it:
            yield pd.DataFrame({
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "minor": [sys.version_info.minor],
            })

    return probe


def test_spark_workers_run_patched_daemon(spark):
    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(_daemon_probe(), "module string, minor int")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        want = "scalablevectorsearch_spark.worker_daemon" if r["minor"] < 12 else "zipimport"
        assert r["module"] == want


def test_add_py_file_importable_after_warm_workers(spark, tmp_path):
    """Why Spark invalidates import caches per task: a module shipped
    after the workers started must still import."""
    spark.range(2, numPartitions=2).mapInPandas(
        _daemon_probe(), "module string, minor int"
    ).collect()
    name = f"svs_late_{os.getpid()}_{tmp_path.name}".replace("-", "_")
    path = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 7\n")
    spark.sparkContext.addPyFile(str(path))

    def probe(it):
        import importlib

        mod = importlib.import_module(name)
        for _ in it:
            yield pd.DataFrame({"v": [mod.VALUE]})

    rows = spark.range(4, numPartitions=2).mapInPandas(probe, "v long").collect()
    assert [r["v"] for r in rows] == [7, 7]

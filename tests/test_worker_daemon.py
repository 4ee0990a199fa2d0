"""The Python worker daemon of ``get_spark`` sessions
(``geoparquet_python_spark._daemon``): ``importlib.invalidate_caches()``,
which PySpark calls before every task, re-reads a zip archive's directory
only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ zipimport drops the directory lazily; the daemon keeps it",
)


def test_task_invalidate_caches_keeps_pyspark_zip_directory(spark):
    def probe(batches):
        import importlib
        import zipimport

        archive = next(
            (a for a in zipimport._zip_directory_cache if a.endswith("pyspark.zip")),
            None,
        )
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(archive)
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist(
            [{"archive": archive, "same": after is before}]
        )

    rows = (
        spark.range(4, numPartitions=2)
        .mapInArrow(probe, "archive string, same boolean")
        .collect()
    )
    if all(r.archive is None for r in rows):
        pytest.skip("Python workers do not import pyspark from pyspark.zip here")
    assert all(r.same for r in rows), rows


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from geoparquet_python_spark import _daemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return stock_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"gpq_zip_mod_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("gpq_zip_mod_a", "gpq_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("gpq_zip_mod_a").VALUE == 1
    importlib.invalidate_caches()  # first read under the daemon's rule
    files = zipimport._zip_directory_cache[archive]
    n = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n, "an unchanged archive was re-read"
    assert zipimport._zip_directory_cache[archive] is files

    _write_zip(archive, {"gpq_zip_mod_a": "VALUE = 1\n", "gpq_zip_mod_b": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads[n:] == [archive]
    assert importlib.import_module("gpq_zip_mod_b").VALUE == 2

"""The Python daemon's per-task import-cache reset (worker_daemon.py).

The Spark-free tests drive ``ZipAwareInvalidate`` directly: an unchanged
zip keeps its parsed directory, while directory finders and rewritten zips
are still reset. The Spark tests check that a ``get_spark`` session's
workers run the wrapper and that ``addPyFile`` still reaches warm workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from duckdb_miint_spark.worker_daemon import ZipAwareInvalidate


def _unique(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:12]}"


def _write_zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)
    return str(path)


@pytest.fixture
def on_path(tmp_path, monkeypatch):
    """Prepend entries to sys.path; drop their finders and modules after."""

    def add(entry: str) -> str:
        monkeypatch.syspath_prepend(entry)
        return entry

    yield add
    for key in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]
    for name in [n for n in sys.modules if n.startswith("miint_wd_")]:
        del sys.modules[name]


def test_unchanged_zip_keeps_its_parsed_directory(tmp_path, on_path):
    mod = _unique("miint_wd_kept")
    archive = on_path(_write_zip(tmp_path / "kept.zip", {mod: "X = 1\n"}))
    assert importlib.import_module(mod).X == 1
    finder = sys.path_importer_cache[archive]
    assert isinstance(finder, zipimport.zipimporter)

    reset = ZipAwareInvalidate()
    reset()  # first sight: read as the stock reset would
    files = zipimport._zip_directory_cache[archive]
    reset()
    assert sys.path_importer_cache[archive] is finder
    assert zipimport._zip_directory_cache[archive] is files
    # The stock reset re-reads the same unchanged archive.
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache.get(archive) is not files


def test_directory_finders_are_still_reset(tmp_path, on_path):
    mod = _unique("miint_wd_dir")
    src = tmp_path / "src"
    src.mkdir()
    on_path(str(src))
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(mod)
    st = os.stat(src)
    (src / f"{mod}.py").write_text("Y = 2\n")
    # Put the directory's mtime back, so only a reset can reveal the file.
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(mod)
    ZipAwareInvalidate()()
    assert importlib.import_module(mod).Y == 2


def test_zip_rewritten_in_place_is_read_again(tmp_path, on_path):
    first, second = _unique("miint_wd_first"), _unique("miint_wd_second")
    path = tmp_path / "rewritten.zip"
    archive = on_path(_write_zip(path, {first: "A = 1\n"}))
    assert importlib.import_module(first).A == 1
    reset = ZipAwareInvalidate()
    reset()
    reset()
    _write_zip(path, {first: "A = 1\n", second: "B = 2\n"})
    with pytest.raises(ModuleNotFoundError):  # the cached directory is stale
        importlib.import_module(second)
    reset()
    assert importlib.import_module(second).B == 2
    # Read once after the rewrite, then kept again.
    files = zipimport._zip_directory_cache[archive]
    reset()
    assert zipimport._zip_directory_cache[archive] is files


def test_workers_run_the_wrapper_and_reset_fast(spark):
    def probe(batches):
        import importlib
        import time

        import pyarrow as pa

        reset = importlib.invalidate_caches
        took = []
        for _ in range(3):
            t = time.perf_counter()
            reset()
            took.append(time.perf_counter() - t)
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"reset": f"{type(reset).__module__}.{type(reset).__qualname__}", "ms": 1e3 * min(took)}]
            )

    rows = spark.range(0, 2, 1, 2).mapInArrow(probe, "reset string, ms double").collect()
    assert {r.reset for r in rows} == {"duckdb_miint_spark.worker_daemon.ZipAwareInvalidate"}
    assert max(r.ms for r in rows) < 5.0, rows


def test_add_py_file_reaches_warm_workers(spark, tmp_path):
    sc = spark.sparkContext
    parts = sc.defaultParallelism
    mod = _unique("miint_wd_added")
    assert spark.range(0, parts, 1, parts).mapInArrow(lambda it: it, "id long").count() == parts

    sc.addPyFile(_write_zip(tmp_path / f"{mod}.zip", {mod: "VALUE = 41 + 1\n"}))

    def load(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(mod).VALUE
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"value": value}])

    rows = spark.range(0, parts, 1, parts).mapInArrow(load, "value long").collect()
    assert [r.value for r in rows] == [42] * parts

"""The Python daemon's per-task import-cache reset (worker_daemon.py).

The Spark-free tests drive ``ZipAwareInvalidate`` directly: an unchanged
zip keeps its parsed directory, while directory finders and rewritten zips
are still reset. The Spark tests check that a ``get_spark`` session's
workers run the wrapper and that ``addPyFile`` still reaches warm workers.
The subprocess tests start a fresh ``get_spark`` session each: its workers
fork with their imports frozen and reach the JVM over Unix domain sockets,
whose directory stays short and is removed when the session's process
exits, however long the temp directory is.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
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


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_session(body: str, env: dict[str, str] | None = None) -> dict:
    """Run ``body`` in a child with ``spark = get_spark(...)`` bound and
    return the JSON object it prints last."""
    script = (
        "import json\n"
        "from duckdb_miint_spark.session import get_spark\n"
        "spark = get_spark('test_worker_daemon', cpus=2)\n" + body
    )
    child_env = {**os.environ, "PYTHONPATH": REPO, **(env or {})}
    proc = subprocess.run(
        [sys.executable, "-c", script], env=child_env, cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_socket_dir_is_short_and_removed_with_a_long_temp_dir(tmp_path):
    long_tmp = tmp_path / ("deep-" + "t" * 40) / ("checkout-" + "w" * 40) / "tmp"
    long_tmp.mkdir(parents=True)
    assert len(str(long_tmp)) > 80
    out = _run_session(
        """
def ident(batches):
    yield from batches

mapped = spark.range(0, 2, 1, 2).mapInArrow(ident, "id long").toArrow()
collected = spark.range(0, 3).toArrow()
print(json.dumps({
    "sock_dir": spark.conf.get("spark.python.unix.domain.socket.dir"),
    "mapped": mapped.column("id").to_pylist(),
    "collected": collected.num_rows,
}))
""",
        env={
            "TMPDIR": str(long_tmp),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options '-Djava.io.tmpdir={long_tmp}' pyspark-shell"
            ),
        },
    )
    assert sorted(out["mapped"]) == [0, 1]
    assert out["collected"] == 3
    sock_dir = out["sock_dir"]
    assert os.path.dirname(sock_dir) == "/tmp"
    assert os.path.basename(sock_dir).startswith("miint-")
    assert not os.path.exists(sock_dir)


def test_workers_fork_frozen_on_unix_sockets(tmp_path):
    fq = tmp_path / "reads.fastq"
    with open(fq, "w") as fh:
        for i in range(400):
            fh.write(f"@r{i}\n{'ACGT' * 15}\n+\n{'I' * 60}\n")
    out = _run_session(
        f"""
from duckdb_miint_spark import sources

reads = sources.read_fastx(spark, {str(fq)!r}, max_split_bytes=4096)
n_splits = reads.rdd.getNumPartitions()
n_reads = reads.count()

def probe(batches):
    import gc
    import os

    import pyarrow as pa

    for _ in batches:
        yield pa.RecordBatch.from_pylist([{{
            "frozen": gc.get_freeze_count(),
            "tracked": len(gc.get_objects()),
            "uds": os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", ""),
        }}])

rows = spark.range(0, 2, 1, 2).mapInArrow(
    probe, "frozen long, tracked long, uds string"
).collect()
print(json.dumps({{"splits": n_splits, "reads": n_reads,
                  "workers": [r.asDict() for r in rows]}}))
"""
    )
    assert out["splits"] > 2 and out["reads"] == 400
    for worker in out["workers"]:
        assert worker["frozen"] > 0, worker
        assert worker["uds"].lower() == "true", worker
        assert worker["tracked"] < 10_000, worker

"""PySpark's Python daemon, with a per-task import-cache reset that skips
zip archives that have not changed.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files added with
``SparkContext.addPyFile`` become importable. On CPython before 3.13 that
call makes every cached ``zipimport.zipimporter`` re-read its archive's
central directory, even when the archive is unchanged. A reused worker
holds about 16 of them (one per pyspark.zip subpackage, the py4j zip and
the spark-core jar that Spark puts on the workers' ``sys.path``): over
20k entries, 0.14-0.24 s per task in a warm worker on a 4-core box.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
It runs ``pyspark.daemon.manager()`` with ``importlib.invalidate_caches``
replaced, before any worker is forked, by :class:`ZipAwareInvalidate`.

Before the fork it also imports what every Arrow task would otherwise
import in each worker (pyarrow, pandas, PySpark's Arrow serializers, the
package's readers and sinks) and freezes them with ``gc.freeze()``. The
daemon runs ``gc.collect()`` in a reused worker after every task; with
those imports in the young generations a collection walks 42k-74k
objects, 13-72 ms per task on a 4-core box. Frozen, it walks the few
hundred a task leaves behind, and the workers share the imported modules
copy-on-write.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_STOCK_RESET = importlib.invalidate_caches


class ZipAwareInvalidate:
    """``importlib.invalidate_caches`` that leaves an unchanged zip alone.

    Each call takes out of ``sys.path_importer_cache`` the zip importers of
    every archive whose ``(st_mtime_ns, st_size)`` is the same as at its
    last read, runs the real reset, and puts them back. Directory finders
    and meta-path finders are reset every time. An archive seen for the
    first time, or rewritten since, is re-read as before; a new zip gets a
    fresh importer on its first import.
    """

    def __init__(self):
        self._read_at: dict[str, tuple[int, int]] = {}

    def _unchanged(self, archive: str) -> bool:
        try:
            st = os.stat(archive)
        except OSError:
            self._read_at.pop(archive, None)
            return False
        signature = (st.st_mtime_ns, st.st_size)
        last, self._read_at[archive] = self._read_at.get(archive), signature
        return last == signature

    def __call__(self) -> None:
        unchanged: dict[str, bool] = {}
        kept = {}
        for path, finder in list(sys.path_importer_cache.items()):
            if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path):
                archive = finder.archive
                if archive not in unchanged:
                    unchanged[archive] = self._unchanged(archive)
                if unchanged[archive]:
                    kept[path] = sys.path_importer_cache.pop(path)
        try:
            _STOCK_RESET()
        finally:
            sys.path_importer_cache.update(kept)


if __name__ == "__main__":
    import gc

    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.sql.pandas.types  # noqa: F401
    from pyspark import daemon

    # The package's worker-side code: the split scans of the readers and
    # the per-partition writers the distributed sinks ship to workers.
    import duckdb_miint_spark.sinks.bam_sink  # noqa: F401
    import duckdb_miint_spark.sources.arrow_batch  # noqa: F401
    import duckdb_miint_spark.sources.fastx  # noqa: F401
    import duckdb_miint_spark.sources.sam  # noqa: F401
    from duckdb_miint_spark.worker_daemon import ZipAwareInvalidate as _Reset

    importlib.invalidate_caches = _Reset()
    # Read every archive the daemon holds once, so that forked workers
    # inherit fresh directories and skip them from their first task on.
    importlib.invalidate_caches()
    # Move everything imported so far out of the collector's generations:
    # the per-task collection in each worker then skips it.
    gc.collect()
    gc.freeze()
    daemon.manager()

"""Measurement plumbing shared by the workloads: hermetic session set-up
and teardown, span tracing, Spark job/task/GC counters, result digests,
statistics and the run record.

Nothing here imports the program at module import time; ``start_session``
does, after ``hermetic_env`` has pointed every scratch directory into the
run's own work area.
"""

from __future__ import annotations

import contextlib
import math
import os
import platform
import resource
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- environment and session --------------------------------------------------


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def hermetic_env(work: str, cores: int) -> dict[str, str]:
    """Point temp, Spark local and warehouse dirs into ``work`` and reset
    the program's tuning variables to its shipped defaults. Inherited
    ``SPARK_GRAFT_*`` variables are dropped except the core count, which
    is capped at ``cores``. Returns the effective ``SPARK_GRAFT_*``
    environment."""
    asked = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = min(int(asked), cores) if asked.isdigit() and int(asked) > 0 else cores
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in (
            "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
        ):
            del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # no JVM perf-data files in /tmp, from the launcher JVM or Spark's own
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}


def start_session(app: str):
    """``session.get_spark`` on the program's defaults; returns (spark, seconds)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from duckdb_miint_spark.session import get_spark

    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def rss_peak_mb() -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm = 0.0
    pid = jvm_pid()
    if pid:
        with contextlib.suppress(OSError), open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
    return py + jvm


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time, from the GC MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) run under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = failed = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
                failed += stage.numFailedTasks
    return jobs, tasks, failed


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# --- tracing ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, op id). Disabled, every
    ``span`` is a no-op, so untraced runs pay nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
        return out


# --- results and statistics -----------------------------------------------------


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, int):
        return float(v) if abs(v) < 2**53 else v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return str(v)


def canonical(rows, cols) -> tuple:
    """Columns sorted by name, values type-normalised, rows sorted — equal
    for two results with the same content in any row or column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return (tuple(sorted(cols)), tuple(out))


def arrow_canonical(table) -> tuple:
    cols = table.column_names
    data = table.to_pydict()
    return canonical(list(zip(*(data[c] for c in cols))), cols)


def median(xs) -> float:
    return statistics.median(xs)


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# --- run record -------------------------------------------------------------------


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def box_fingerprint() -> dict:
    cpuinfo = _read("/proc/cpuinfo")
    model = next((l.split(":", 1)[1].strip() for l in cpuinfo.splitlines()
                  if l.startswith("model name")), platform.processor())
    mem = {l.split(":")[0]: l.split(":")[1].strip() for l in _read("/proc/meminfo").splitlines()
           if l.startswith(("MemTotal", "MemAvailable"))}
    return {"cores_usable": usable_cores(), "cores_host": os.cpu_count(), "cpu_model": model,
            "memory": mem, "loadavg_start": os.getloadavg()}


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), in clock ticks."""
    for line in _read("/proc/stat").splitlines():
        if line.startswith("cpu "):
            return [int(x) for x in line.split()[1:]]
    return []


def steal_share(start: list[int], end: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings; other tenants slow a run without showing in
    its own counters."""
    if len(start) < 8 or len(end) < 8:
        return None
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else None


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def versions(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }

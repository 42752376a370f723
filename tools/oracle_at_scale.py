"""Run the FULL registry oracle gate at an arbitrary scale dir.

The driver's correctness gate runs at sf0.01 (MB-scale inputs); this
runner replays the identical Spark-vs-DuckDB comparison at a larger
scale (default: the bench's sf1x10 replication) to catch scale-dependent
wrongness — fixed-point overflow, skew-cap truncation, AQE plan
divergence, window-tie instability — that small inputs cannot surface.
(Round 6 it caught a real one: the compress_intervals oracle's island
windows were tie-order-unstable at sf1 — see queries_domain.ISLANDS_SQL.)

Usage:
    python tools/oracle_at_scale.py [sf_dir] [out_json]

Differences from tests/test_oracle.py (which stays the authority at
sf0.01):
- results larger than SMALL_ROWS are compared VECTORIZED (Arrow →
  pandas: columns name-sorted, values canonicalized per dtype, rows
  sorted, exact equality) instead of per-tuple — a 23M-row answer is
  minutes of Python tuples but seconds of numpy. The pandas path is
  validated against the tuple path on every query at sf0.01.
- per-query TIMEOUTS on both engines (Spark: cancelAllJobs from a
  watchdog thread; DuckDB: con.interrupt) — recorded as errors, never
  hangs.
- incremental out-file writes; a rerun resumes past clean rows.
"""

from __future__ import annotations

import json
import math
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from duckdb_miint_spark.registry import load_all  # noqa: E402
from duckdb_miint_spark.session import (  # noqa: E402
    TABLES,
    dir_parquet_bytes,
    get_spark,
    size_session_for_input,
)

SPARK_TIMEOUT_SEC = float(os.environ.get("SPARK_TIMEOUT_SEC", "900"))
ORACLE_TIMEOUT_SEC = float(os.environ.get("ORACLE_TIMEOUT_SEC", "900"))
SMALL_ROWS = 500_000  # tuple-normalize threshold


def normalize(rows, colnames):
    """Column-name-sorted, row-sorted, type-normalized tuples (the same
    canonicalization as tests/test_oracle.py)."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    import datetime as _dt

    def norm_val(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, (pd.Timestamp, _dt.datetime)):
            # DATE columns surface as date (Spark) vs midnight datetime64
            # (DuckDB fetch_df) — fold midnight timestamps to the date
            if (
                v.hour == v.minute == v.second == 0
                and getattr(v, "microsecond", 0) == 0
            ):
                return v.date().isoformat()
            return v.isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return float(v)
        if isinstance(v, int):
            return float(v) if abs(v) < 2**53 else v
        if isinstance(v, (list, tuple)):
            return tuple(norm_val(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm_val(x)) for k, x in v.items()))
        return str(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def canonical_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Name-sorted columns, dtype-canonical values, row-sorted frame."""
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_bool_dtype(s):
            out[c] = s.astype("float64")  # align bool vs 0/1 int oracles
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("float64")  # same int->float fold as normalize()
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.map(
                lambda v: "\x00NULL"
                if pd.isna(v)
                else (
                    v.date().isoformat()
                    if v.hour == v.minute == v.second == 0 and v.microsecond == 0
                    else v.isoformat()
                )
            )
        else:
            import datetime as _dt

            def _obj(v):
                if v is None or v is pd.NaT:
                    return "\x00NULL"
                if isinstance(v, (pd.Timestamp, _dt.datetime)):
                    if (
                        v.hour == v.minute == v.second == 0
                        and getattr(v, "microsecond", 0) == 0
                    ):
                        return v.date().isoformat()
                    return v.isoformat()
                if isinstance(v, _dt.date):
                    return v.isoformat()
                return str(v)

            out[c] = s.map(_obj)
    cf = pd.DataFrame(out)
    cf = cf.sort_values(by=list(cf.columns), kind="mergesort").reset_index(drop=True)
    return cf


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" and y.dtype.kind == "f":
            if not np.array_equal(x, y, equal_nan=True):
                return False
        elif not np.array_equal(x, y):
            return False
    return True


def run_spark_with_timeout(spark, fn, timeout: float):
    """fn() under a watchdog that cancels all Spark jobs on expiry."""
    expired = threading.Event()

    def _cancel():
        expired.set()
        try:
            spark.sparkContext.cancelAllJobs()
        except Exception:
            pass

    timer = threading.Timer(timeout, _cancel)
    timer.start()
    try:
        return fn(), expired.is_set()
    finally:
        timer.cancel()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "sf1x10")
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "CORRECTNESS_sf1.json")
    if not os.path.isdir(sf_dir):
        from tools.make_scaled_sf import ensure_scaled

        sf_dir = ensure_scaled("/root/testdata/sf0.1", sf_dir, 10)

    results: dict[str, dict] = {}
    if os.path.exists(out_path):
        try:
            prior = json.load(open(out_path))
            # normalize both sides: records written via a relative path
            # (refresh_records) must still resume a run invoked with the
            # absolute one — a silent mismatch here discards hours of
            # clean sweep rows and reruns the whole registry
            if os.path.abspath(prior.get("sf_dir", "")) == os.path.abspath(sf_dir):
                results = {
                    n: r
                    for n, r in prior.get("results", {}).items()
                    if not r.get("err")
                    and r.get("rows_match") is not False
                    and r.get("schema_match") is not False
                    and r.get("hash_match") is not False
                }
                print(f"resuming: {len(results)} clean rows carried over", flush=True)
        except (OSError, ValueError):
            pass

    spark = get_spark("oracle-at-scale", aqe=True)
    size_session_for_input(spark, dir_parquet_bytes(sf_dir))

    con = duckdb.connect()
    # DuckDB sizes its default memory_limit to 80% of PHYSICAL RAM with
    # no awareness of the co-resident Spark driver JVM — at sf10 the PQ
    # oracles then malloc past what the OS actually has left and die
    # with bad_alloc (round-12 failure: ann_pq_adc/shortlist, small
    # allocations failing with 120 GB "available" at process start but a
    # 30+ GB JVM RSS mid-sweep). Cap the oracle at a ceiling that always
    # leaves the JVM its share, and give DuckDB a spill directory so
    # capped queries complete instead of erroring.
    duck_mem = os.environ.get("DUCK_MEM_LIMIT", "40GiB")
    duck_tmp = os.path.join(REPO, ".bench", "duck_tmp")
    os.makedirs(duck_tmp, exist_ok=True)
    con.execute(f"SET memory_limit='{duck_mem}'")
    con.execute(f"SET temp_directory='{duck_tmp}'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    reg = load_all()

    def flush():
        with open(out_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "results": results}, fh, indent=1)

    only = {n for n in os.environ.get("ORACLE_ONLY", "").split(",") if n}
    for name in sorted(reg):
        if only and name not in only:
            continue
        if name in results:
            continue
        qd = reg[name]
        row: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "spark_sec": None,
            "oracle_sec": None,
            "err": None,
        }
        results[name] = row
        try:
            t0 = time.perf_counter()
            sdf = qd.spark_fn(spark, sf_dir)
            spark_pdf, expired = run_spark_with_timeout(
                spark, lambda: sdf.toPandas(), SPARK_TIMEOUT_SEC
            )
            row["spark_sec"] = round(time.perf_counter() - t0, 2)
            row["spark_rows"] = len(spark_pdf)
            if not qd.oracle:
                row["rows_match"] = row["schema_match"] = True
                row["hash_match"] = None  # rows-only query
                print(f"{name}: rows-only {len(spark_pdf)} rows", flush=True)
                flush()
                continue
            timer = threading.Timer(ORACLE_TIMEOUT_SEC, con.interrupt)
            timer.start()
            try:
                t0 = time.perf_counter()
                res = con.execute(qd.oracle)
                duck_cols = [d[0] for d in res.description]
                duck_pdf = res.fetch_df()
                row["oracle_sec"] = round(time.perf_counter() - t0, 2)
            finally:
                timer.cancel()
            row["oracle_rows"] = len(duck_pdf)
            row["rows_match"] = len(spark_pdf) == len(duck_pdf)
            row["schema_match"] = sorted(spark_pdf.columns) == sorted(duck_cols)
            if not (row["rows_match"] and row["schema_match"]):
                row["hash_match"] = False
            elif len(spark_pdf) <= SMALL_ROWS:
                s = normalize([tuple(r) for r in map(tuple, spark_pdf.itertuples(index=False))], list(spark_pdf.columns))
                d = normalize([tuple(r) for r in map(tuple, duck_pdf.itertuples(index=False))], duck_cols)
                row["hash_match"] = s == d
            else:
                row["hash_match"] = frames_equal(
                    canonical_frame(spark_pdf), canonical_frame(duck_pdf)
                )
                row["compare"] = "vectorized"
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            print(
                f"{name}: {'OK' if ok else 'MISMATCH'} "
                f"spark={row['spark_rows']}r/{row['spark_sec']}s "
                f"duck={row['oracle_rows']}r/{row['oracle_sec']}s",
                flush=True,
            )
        except KeyboardInterrupt:
            raise
        except Exception as e:  # noqa: BLE001 — record and continue
            msg = str(e).splitlines()[0][:300] if str(e) else type(e).__name__
            up = msg.upper()
            if "INTERRUPT" in up:
                msg = f"oracle timeout after {ORACLE_TIMEOUT_SEC}s"
            elif "CANCELLED" in up or "CANCELED" in up:
                msg = f"spark timeout after {SPARK_TIMEOUT_SEC}s"
            row["err"] = msg
            print(f"{name}: ERR {msg}", flush=True)
        flush()

    bad = [
        n
        for n, r in results.items()
        if r["err"] or r["rows_match"] is False or r["schema_match"] is False or r["hash_match"] is False
    ]
    print(f"done: {len(results) - len(bad)}/{len(results)} clean; issues: {bad}")


if __name__ == "__main__":
    main()

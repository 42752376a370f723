"""A/B: q3/q5 on plain parquet vs the bucketed-table layout, at scale.

The sf10 probes put q3_shipping_priority and q5_local_supplier_volume in
the per-query ratio tail (21×/16× vs DuckDB in BENCH_SCALE_sf10_r6): both
are dominated by the lineitem ⋈ orders shuffle, the one cost a LAYOUT can
remove. This tool measures exactly that trade:

- Phase A (plain): the registered queries on the raw parquet dir — both
  join sides shuffle on o_orderkey/l_orderkey.
- Phase B (bucketed): the graft catalog written once via
  ``storage.build_graft_layout`` (lineitem + orders bucketed AND sorted
  on the order key, same bucket count), then the SAME query code re-run with
  ``spark.graft.bucketedLayout=true`` — ``session.read_table`` serves the
  bucketed catalog tables, and the join plans with no Exchange (and no
  Sort) on either bucketed side.

The bucketing write itself is timed and reported: it is a one-time layout
cost amortized over every subsequent orderkey join, the same argument as
the reference's clustered storage. DuckDB runs the same oracle SQL on the
raw parquet for the ratio denominator (interleaved with the Spark passes,
median per engine).

Usage:
    python tools/bucketed_ab.py [sf_dir] [out_json]
    # default sf_dir: .bench/sf10x100 (generated from sf0.1 if absent)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_GRAFT_PIN_BYTES", str(4 * 1024**3))

QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "having_big_orders",
    "woltka_ogu_per_sample",
    "json_event_props",
    "window_running_user_value",
    "compress_intervals_flat",
    "genome_coverage",
]
# The graft set itself lives in storage.graft_catalog() (public API,
# VERDICT r9 #6): lineitem/orders re-bucketed on the order key, the derived
# aln_read (woltka's per-read dedup), orders_cnat (q3 zero-exchange),
# lineitem_cnat (q5 scan+broadcast-dims), events_parsed (parse-at-ingest),
# aln_ranked (phase-0-reduced island input for compress_intervals/
# genome_coverage — r11; NOT the r8 full-aln reference-bucketed variant,
# which stays a recorded negative: bucketed 5.2-7.1 s vs plain 1.8-3.2 s
# at sf2, the fat-table decode outweighing the removed exchange).
PASSES = 3


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "sf10x100")
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, ".bench", "bucketed_ab.json")
    if not os.path.isdir(sf_dir):
        from tools.make_scaled_sf import ensure_scaled

        sf_dir = ensure_scaled("/root/testdata/sf0.1", sf_dir, 100)

    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.session import (
        dir_parquet_bytes,
        get_spark,
        read_table,
        size_session_for_input,
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    dir_bytes = dir_parquet_bytes(sf_dir)
    heap_gb = max(24, min(64, dir_bytes // (10 << 20)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_gb}g")
    target_parts = max(cpus, min(4 * cpus, dir_bytes // (32 << 20)))
    os.environ.setdefault("SPARK_GRAFT_INITIAL_PARTS", str(target_parts))
    spark = get_spark("bucketed-ab", cpus=cpus, aqe=True, shuffle_partitions=target_parts)
    size_session_for_input(spark, dir_bytes)
    reg = load_all()

    try:
        import duckdb

        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    except ImportError:
        con = None

    n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", str(cpus)))

    phase_frames: dict[str, dict] = {}

    def run_phase(phase: str) -> dict:
        res: dict = {}
        phase_frames[phase] = {}
        for name in QUERIES:
            qd = reg[name]
            phase_frames[phase][name] = qd.spark_fn(spark, sf_dir).toPandas()  # warm-up
            if con is not None and qd.oracle:
                con.execute(qd.oracle).fetchall()
            s_passes, d_passes = [], []
            for _ in range(PASSES):
                df = qd.spark_fn(spark, sf_dir)
                t0 = time.perf_counter()
                df.toPandas()
                s_passes.append(round(time.perf_counter() - t0, 3))
                if con is not None and qd.oracle:
                    t0 = time.perf_counter()
                    con.execute(qd.oracle).fetchall()
                    d_passes.append(round(time.perf_counter() - t0, 3))
            plan = (
                qd.spark_fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            res[name] = {
                "spark_sec": median(s_passes),
                "spark_passes": s_passes,
                "duckdb_sec": median(d_passes) if d_passes else None,
                "duckdb_passes": d_passes,
                "n_exchanges": plan.count("Exchange hashpartitioning"),
            }
            print(f"{phase} {name}: spark={res[name]['spark_sec']}s "
                  f"duck={res[name]['duckdb_sec']}s "
                  f"exchanges={res[name]['n_exchanges']}", flush=True)
        return res

    print(f"sf_dir={sf_dir} buckets={n_buckets} parts={target_parts}", flush=True)
    # Full-set untimed warm pass before ANY timed phase: pins every input
    # table and absorbs the JVM/JIT cold start, so phase A (measured first)
    # is not penalized relative to phase B — the same reason bench.py pins
    # tables and builds every plan before its first timed pass.
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            read_table(spark, sf_dir, t).count()
    for name in QUERIES:
        reg[name].spark_fn(spark, sf_dir).toPandas()
    plain = run_phase("plain")

    from duckdb_miint_spark.storage import build_graft_layout

    t0 = time.perf_counter()
    build_graft_layout(spark, sf_dir, n_buckets)
    bucket_write_sec = round(time.perf_counter() - t0, 2)
    print(f"bucketed write: {bucket_write_sec}s", flush=True)

    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        bucketed = run_phase("bucketed")
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")

    # parity: the layout must not change the answer
    for name in QUERIES:
        a, b = phase_frames["plain"][name], phase_frames["bucketed"][name]
        assert a.equals(b), f"bucketed layout changed {name}'s result"

    out = {
        "sf_dir": sf_dir,
        "n_buckets": n_buckets,
        "bucket_write_sec": bucket_write_sec,
        "plain": plain,
        "bucketed": bucketed,
    }
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

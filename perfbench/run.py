"""Benchmark entry point: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload domain_io --seed 1 --seconds 6 --trace 0

Prints a run record (box, versions, seed, effective SPARK_GRAFT_*
environment and per-op detail) as one JSON line, then, as the last line,
the result: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the spans are written to
``perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness as H  # noqa: E402
import metrics as M  # noqa: E402

# Scale of the generated inputs per workload (scale factor 1 = 6M
# lineitems). Chosen so that 4 + 22 runs per workload fit in 3,420 s on a
# 4-core box; see README.md.
SCALE = {"domain_io": 0.002, "ingest_refresh": 0.01}
# Spark cores per workload, from the usable cores. ingest_refresh's reads
# are ~0.1 s plans made of many short thread hand-offs; on every core of a
# small shared host they also compete with the JVM's JIT and GC threads,
# and they spread less from run to run on half the cores. domain_io's
# multi-second Python-worker ops spread no less there, only ran slower.
CORES = {"domain_io": lambda n: n, "ingest_refresh": lambda n: max(1, n // 2)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    ap.add_argument("--corrupt-op", default=None,
                    help="alter this op's collected result before its check "
                         "(tests that wrong results are counted)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(H.ROOT, "duckdb_miint_spark", "__init__.py")):
        print("perfbench: the duckdb_miint_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    cpu0 = H.cpu_times()
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "box": H.box_fingerprint(), "git_commit": H.git_commit()}
    spark = None
    try:
        record["spark_graft_env"] = H.hermetic_env(work, CORES[args.workload](H.usable_cores()))
        sys.path.insert(0, H.ROOT)
        import workloads as W

        spark, session_s = H.start_session(f"perfbench-{args.workload}")
        record["versions"] = H.versions(spark)
        ctx = W.Context(spark, work, args.seed, args.seconds, args.trace,
                        args.scale or SCALE[args.workload], args.corrupt_op, PROCESS_START)
        ctx.layer["session.get_spark_s"] = session_s
        ctx.mark("session")
        e2e = W.WORKLOADS[args.workload](ctx)
        e2e["setup_s"] = ctx.loop_start - PROCESS_START
        ctx.layer["session.rss_peak_mb"] = H.rss_peak_mb()
        result, detail = M.summarize(ctx, e2e)
        record.update(ctx.record)
        record.update(detail)
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    record["box"]["loadavg_end"] = os.getloadavg()
    record["box"]["steal_share"] = H.steal_share(cpu0, H.cpu_times())
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out, f"record-{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(out, f"spans-{stem}.json"), "w") as fh:
            json.dump(ctx.tracer.spans, fh)
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Interleaved A/B of query arms on one session, content equality first.

An arm is a target plus optional runtime conf flips::

    --arm TARGET [KEY=VALUE ...]

TARGET is a registry query name (``q3_shipping_priority``) or a
``module:function`` called as ``fn(spark, sf_dir) -> DataFrame``. The
flips are set on the session while the arm's DataFrame is built and run,
and restored afterwards, so every Spark SQL runtime conf and the
``spark.graft.*`` switches can be an arm.

Protocol:

1. The session is sized to the input like bench.py's
   (``size_session_for_input``). ``--build`` grafts (catalog names,
   comma-separated) are built once through ``storage.build_graft_layout``
   and the session then serves the graft layout
   (``spark.graft.bucketedLayout=true``); an arm opts out with
   ``spark.graft.bucketedLayout=false``.
2. Every arm is collected and compared with ``perfbench.harness.canonical``
   (row and column order free). If any arm's content differs from the
   first arm's, the tool says which on stderr and exits 1 without timing.
3. One warm-up per arm, then ``--passes`` rounds of timed noop-sink
   writes, the arm order reversed every other round. Each pass builds a
   fresh DataFrame outside the timer, so no shuffle output is reused.
4. One JSON line on stdout: per-arm samples, median, the median's ratio
   to the first arm and the geomean of the per-round ratios, plus the box
   fingerprint taken before any work.

Example (the woltka dedup-at-ingest record in OPTIMIZATION_r14.md)::

    python tools/ab.py --sf .bench/sf2x20 --build graft_b_woltka_base \\
        --arm woltka_ogu_per_sample \\
        --arm woltka_ogu_per_sample spark.graft.bucketedLayout=false
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import importlib
import json
import os
import sys
import time
from typing import Callable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.harness import box_fingerprint, canonical, geomean, median  # noqa: E402


@dataclasses.dataclass
class Arm:
    label: str
    fn: Callable
    conf: dict[str, str]


def parse_arm(items: list[str], registry: dict) -> Arm:
    target, flips = items[0], items[1:]
    bad = [kv for kv in flips if "=" not in kv]
    if bad:
        raise ValueError(f"conf flips must be KEY=VALUE, got {bad}")
    if ":" in target:
        module, name = target.split(":", 1)
        fn = getattr(importlib.import_module(module), name)
    elif target in registry:
        fn = registry[target].spark_fn
    else:
        raise ValueError(f"{target!r} is neither a registry query nor module:function")
    return Arm(" ".join(items), fn, dict(kv.split("=", 1) for kv in flips))


@contextlib.contextmanager
def flipped(spark, conf: dict[str, str]):
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def content(spark, arm: Arm, sf_dir: str) -> tuple:
    with flipped(spark, arm.conf):
        df = arm.fn(spark, sf_dir)
        return canonical(df.collect(), df.columns)


def noop_seconds(spark, arm: Arm, sf_dir: str) -> float:
    with flipped(spark, arm.conf):
        df = arm.fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=os.path.join(REPO, ".bench", "sf2x20"))
    ap.add_argument("--build", default="", help="comma-separated catalog grafts to build")
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument("--arm", nargs="+", action="append", required=True,
                    metavar="TARGET [KEY=VALUE]")
    args = ap.parse_args(argv)
    if len(args.arm) < 2:
        ap.error("give at least two --arm")
    box = box_fingerprint()

    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.session import dir_parquet_bytes, get_spark, size_session_for_input

    registry = load_all()
    try:
        arms = [parse_arm(items, registry) for items in args.arm]
    except (ValueError, ImportError, AttributeError) as exc:
        ap.error(str(exc))

    spark = get_spark("ab")
    size_session_for_input(spark, dir_parquet_bytes(args.sf))
    grafts = [g for g in args.build.split(",") if g]
    build_s = None
    if grafts:
        from duckdb_miint_spark.storage import build_graft_layout

        t0 = time.perf_counter()
        build_graft_layout(spark, args.sf, tables=grafts)
        build_s = round(time.perf_counter() - t0, 2)
        spark.conf.set("spark.graft.bucketedLayout", "true")

    first = content(spark, arms[0], args.sf)
    for arm in arms[1:]:
        other = content(spark, arm, args.sf)
        if other != first:
            print(f"# content differs: {arms[0].label!r} has {len(first[1])} rows "
                  f"{first[0]}, {arm.label!r} has {len(other[1])} rows {other[0]}; "
                  "nothing timed", file=sys.stderr)
            return 1

    for arm in arms:
        noop_seconds(spark, arm, args.sf)
    samples: list[list[float]] = [[] for _ in arms]
    for i in range(args.passes):
        order = range(len(arms)) if i % 2 == 0 else reversed(range(len(arms)))
        for j in order:
            samples[j].append(noop_seconds(spark, arms[j], args.sf))

    base = median(samples[0])
    record = {
        "sf": os.path.abspath(args.sf),
        "passes": args.passes,
        "rows": len(first[1]),
        "build": grafts,
        "build_s": build_s,
        "arms": [
            {
                "arm": arm.label,
                "samples": xs,
                "median": median(xs),
                "ratio": round(median(xs) / base, 4),
                "pair_ratio_geomean": round(geomean([x / b for x, b in zip(xs, samples[0])]), 4),
            }
            for arm, xs in zip(arms, samples)
        ],
        "box": box,
    }
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

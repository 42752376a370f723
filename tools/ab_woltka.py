"""A/B for woltka_ogu_per_sample's dedup placement (guide §6 / §1.2.1).

CURRENT (r13): collect_set dedup per (read, orientation) over the
read-bucketed aln graft — no exchange, but a data-sized
ObjectHashAggregate of (sample, feature) structs per query.
CANDIDATE (r14): the dedup materialized at layout build
(graft_b_woltka_base, bucketed on read_id + sorted on (read_id,
is_fwd)); the query is a sort-free window COUNT over the bucket order
plus the tiny (sample, feature) fold.

Content equality is asserted before timing; both forms are timed with
the noop sink (guide §1.4), adjacent warm-up + alternating passes
(bench protocol), per-form median.

Usage: python tools/ab_woltka.py [--sf DIR] [--passes N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("SPARK_GRAFT_PIN_BYTES", str(4 * 1024**3))
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from pyspark.sql import DataFrame  # noqa: E402


def noop_time(df: DataFrame, passes: int) -> list[float]:
    out = []
    for _ in range(passes):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 4))
    return out


def content_equal(a: DataFrame, b: DataFrame) -> bool:
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    return ra == rb


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO, ".bench", "sf2x20"))
    ap.add_argument("--passes", type=int, default=5)
    args = ap.parse_args()

    from duckdb_miint_spark.operators.woltka import (
        woltka_ogu_per_sample,
        woltka_ogu_per_sample_from_base,
    )
    from duckdb_miint_spark.queries_domain import _aln
    from duckdb_miint_spark.session import (
        dir_parquet_bytes,
        get_spark,
        size_session_for_input,
    )
    from duckdb_miint_spark.storage import build_graft_layout, serve

    if not os.path.exists(args.sf):
        from tools.make_scaled_sf import ensure_scaled

        ensure_scaled("/root/testdata/sf0.1", args.sf, 20)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark("ab-woltka", cpus=cpus)
    size_session_for_input(spark, dir_parquet_bytes(args.sf))
    build_graft_layout(spark, args.sf, tables=["graft_b_aln_read", "graft_b_woltka_base"])
    spark.conf.set("spark.graft.bucketedLayout", "true")

    def cur_f():
        aln = serve(spark, args.sf, "graft_b_aln_read")
        if aln is None:
            aln = _aln(spark, args.sf)
        return woltka_ogu_per_sample(aln, "sample_id", "read_id", fixed_point=True)

    def new_f():
        base = serve(spark, args.sf, "graft_b_woltka_base")
        assert base is not None, "woltka base graft not served"
        return woltka_ogu_per_sample_from_base(base, fixed_point=True)

    assert content_equal(cur_f(), new_f()), "content mismatch"
    print("# woltka per-sample: content EQUAL", flush=True)
    noop_time(cur_f(), 1), noop_time(new_f(), 1)
    cur_t, new_t = [], []
    for _ in range(args.passes):
        cur_t += noop_time(cur_f(), 1)
        new_t += noop_time(new_f(), 1)
    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    print(
        f"woltka_per_sample: current(collect_set/aln_read)={med(cur_t):.3f}s "
        f"candidate(window/woltka_base)={med(new_t):.3f}s "
        f"(samples cur={cur_t} new={new_t})",
        flush=True,
    )


if __name__ == "__main__":
    main()

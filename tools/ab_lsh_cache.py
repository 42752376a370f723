"""Decompose lsh_near_dup_pairs' wall time by stage and A/B its
intra-query caching (guide §1.1 empirical loop; §5 caching is only worth
it when recompute beats the memory pressure it creates).

Stages timed with the noop sink (guide §1.4), bench session conditions
(AQE per size_session_for_input, pinned inputs):
  shingle   — sh_raw (no distinct)
  bands     — xx_band_stream(sh_raw)
  cand      — candidate pairs incl. the min_band_matches prune
  full      — near_dup_pairs end to end

Cache A/B: the current near_dup_pairs caches sh_raw (consumed 2x:
band stream + the verify semi-join) and cand (consumed 3x). Variants
re-run the FULL query with each cache dropped — recompute vs
materialization cost, content equality asserted first.

Usage: python tools/ab_lsh_cache.py [--sf DIR] [--passes N]
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

from pyspark.sql import DataFrame, functions as F  # noqa: E402


def noop_time(df: DataFrame, passes: int) -> list[float]:
    out = []
    for _ in range(passes):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 4))
    return out


def near_dup_pairs_caches(
    docs: DataFrame,
    cache_sh: bool,
    cache_cand: bool,
    threshold: float = 0.9,
    num_perm: int = 16,
) -> DataFrame:
    """pipeline.dedup.near_dup_pairs with the two .cache() calls made
    optional — the variant body, kept line-for-line otherwise."""
    from duckdb_miint_spark.pipeline.dedup import (
        lsh_candidate_pairs_long,
        shingles,
        xx_band_stream,
    )

    sh_raw = shingles(docs, "doc_id", "text", 3, distinct=False)
    if cache_sh:
        sh_raw = sh_raw.cache()
    cand = lsh_candidate_pairs_long(
        xx_band_stream(sh_raw, num_perm),
        min_band_matches=max(1, int(num_perm * threshold / 2)),
    ).select("id1", "id2")
    if cache_cand:
        cand = cand.cache()
    cand_ids = cand.select(F.col("id1").alias("id")).union(
        cand.select(F.col("id2").alias("id"))
    ).distinct()
    sh = sh_raw.join(F.broadcast(cand_ids), "id", "left_semi").distinct()
    counts = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    inter = (
        cand.join(sh.select(F.col("id").alias("id1"), "s"), "id1")
        .join(sh.select(F.col("id").alias("id2"), "s"), ["id2", "s"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("i"))
    )
    return (
        inter.join(counts.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")), "id1")
        .join(counts.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
        .withColumn("jaccard", F.col("i") / (F.col("n1") + F.col("n2") - F.col("i")))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO, ".bench", "sf2x20"))
    ap.add_argument("--passes", type=int, default=5)
    args = ap.parse_args()

    from duckdb_miint_spark.pipeline.dedup import (
        lsh_candidate_pairs_long,
        near_dup_pairs,
        shingles,
        xx_band_stream,
    )
    from duckdb_miint_spark.session import (
        dir_parquet_bytes,
        get_spark,
        read_table,
        size_session_for_input,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark("ab-lsh-cache", cpus=cpus)
    size_session_for_input(spark, dir_parquet_bytes(args.sf))
    docs = read_table(spark, args.sf, "documents")
    docs.count()  # pin

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731

    # --- stage decomposition (fresh plans per pass; uncached) ---
    stages = {
        "shingle": lambda: shingles(docs, distinct=False),
        "bands": lambda: xx_band_stream(shingles(docs, distinct=False)),
        "cand": lambda: lsh_candidate_pairs_long(
            xx_band_stream(shingles(docs, distinct=False)), min_band_matches=7
        ),
    }
    for name, f in stages.items():
        noop_time(f(), 1)  # adjacent warm-up
        ts = noop_time(f(), 1) + noop_time(f(), 1) + noop_time(f(), 1)
        print(f"stage {name}: med={med(ts):.3f}s samples={ts}", flush=True)

    # --- cache A/B on the full query ---
    variants = {
        "cur(sh+cand)": lambda: near_dup_pairs_caches(docs, True, True),
        "nosh(cand only)": lambda: near_dup_pairs_caches(docs, False, True),
        "nocand(sh only)": lambda: near_dup_pairs_caches(docs, True, False),
        "nocache": lambda: near_dup_pairs_caches(docs, False, False),
    }
    if os.environ.get("AB_LSH_INDEX", "0") not in ("0", "false"):
        # r14 index-served candidates: bands from graft_b_lsh_index
        # (bucketed on (band, v) — no re-sign, no bucket exchange)
        from duckdb_miint_spark.storage import build_graft_layout, serve

        build_graft_layout(spark, args.sf, tables=["graft_b_lsh_index"])
        spark.conf.set("spark.graft.bucketedLayout", "true")
        idx = serve(spark, args.sf, "graft_b_lsh_index")
        assert idx is not None, "lsh index graft not served"
        variants["index(nocache)"] = lambda: near_dup_pairs(docs, _bands=idx)
    ref = sorted(map(tuple, near_dup_pairs(docs, threshold=0.9).collect()))
    for name, f in variants.items():
        got = sorted(map(tuple, f().collect()))
        assert got == ref, f"{name}: content mismatch"
        spark.catalog.clearCache()
    print("# all variants content EQUAL", flush=True)
    results = {}
    for name, f in variants.items():
        noop_time(f(), 1)  # warm-up
        spark.catalog.clearCache()
        ts = []
        for _ in range(args.passes):
            ts += noop_time(f(), 1)
            spark.catalog.clearCache()  # a bench pass starts uncached
        results[name] = ts
        print(f"variant {name}: med={med(ts):.3f}s samples={ts}", flush=True)
    best = min(results, key=lambda k: med(results[k]))
    print(f"BEST (cold cache per pass): {best}", flush=True)

    # Bench-protocol mode: passes share the session's CacheManager, so a
    # re-built identical plan MAY pick up the previous pass's
    # InMemoryRelation (plan-canonicalization match). Timing without
    # clearing shows what the interleaved bench actually measures.
    for name, f in variants.items():
        spark.catalog.clearCache()
        noop_time(f(), 1)  # warm-up (materializes any caches)
        ts = []
        for _ in range(args.passes):
            ts += noop_time(f(), 1)
        print(f"warm-variant {name}: med={med(ts):.3f}s samples={ts}", flush=True)
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()

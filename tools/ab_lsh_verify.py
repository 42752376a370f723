"""A/B the verify-side shingle pushdown in near_dup_pairs (r14, round 2).

OLD shape: shingle the FULL corpus, then left-semi-join the exploded
(id, s) stream against the broadcast candidate ids, then distinct.
NEW shape: left-semi-join the DOCUMENTS against the candidate ids, then
shingle only the surviving docs (a doc's shingles depend on that row
alone, so the semi-join commutes with the explode — the engine cannot
push a join below a Generate by itself).

Both the plain form (in-query xx_band_stream candidates) and, when the
graft warehouse serves graft_b_lsh_index, the index-served form are
timed with the noop sink (guide §1.4), alternating passes, content
equality of the pair set asserted before any timing.

Usage: python tools/ab_lsh_verify.py [--sf DIR] [--passes N]
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


def near_dup_pairs_old(
    docs: DataFrame,
    threshold: float = 0.9,
    num_perm: int = 16,
    _bands: DataFrame | None = None,
) -> DataFrame:
    """The pre-change shape: corpus-wide shingle stream semi-joined AFTER
    the explode (kept line-for-line from the r14 commit c5b476c)."""
    from duckdb_miint_spark.pipeline.dedup import (
        lsh_candidate_pairs_long,
        shingles,
        xx_band_stream,
    )

    sh_raw = shingles(docs, "doc_id", "text", 3, distinct=False)
    band_src = _bands if _bands is not None else xx_band_stream(sh_raw, num_perm)
    cand = lsh_candidate_pairs_long(
        band_src, min_band_matches=max(1, int(num_perm * threshold / 2))
    ).select("id1", "id2")
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

    from duckdb_miint_spark.pipeline.dedup import near_dup_pairs
    from duckdb_miint_spark.session import (
        dir_parquet_bytes,
        get_spark,
        read_table,
        size_session_for_input,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    spark = get_spark("ab-lsh-verify", cpus=cpus)
    size_session_for_input(spark, dir_parquet_bytes(args.sf))
    docs = read_table(spark, args.sf, "documents")
    docs.count()  # pin

    # The graft catalog is session-scoped: build the lsh index table in
    # THIS session (same one-time materialization the bench performs),
    # then opt in so storage.serve returns it.
    bands = None
    try:
        from duckdb_miint_spark.storage import build_graft_layout, serve

        t0 = time.perf_counter()
        build_graft_layout(spark, args.sf, tables=["graft_b_lsh_index"])
        spark.conf.set("spark.graft.bucketedLayout", "true")
        print(f"# lsh index built in {time.perf_counter() - t0:.1f}s")
        bands = serve(spark, args.sf, "graft_b_lsh_index")
    except Exception as e:  # pragma: no cover - diagnostics only
        print(f"# no lsh index: {e}")
    print(f"# index served: {bands is not None}")

    variants = {
        "old_plain": lambda: near_dup_pairs_old(docs),
        "new_plain": lambda: near_dup_pairs(docs, threshold=0.9),
    }
    if bands is not None:
        variants["old_index"] = lambda: near_dup_pairs_old(docs, _bands=bands)
        variants["new_index"] = lambda: near_dup_pairs(docs, threshold=0.9, _bands=bands)

    # content equality FIRST (round to kill float-format noise; jaccard is
    # an exact int/int divide so equal inputs give identical doubles)
    def key_set(df: DataFrame):
        return set(
            (r.id1, r.id2, round(r.jaccard, 9)) for r in df.collect()
        )

    ref = None
    for name, mk in variants.items():
        s = key_set(mk())
        if ref is None:
            ref = s
            print(f"# {name}: {len(s)} pairs (reference)")
        else:
            assert s == ref, f"{name} pair set differs: {len(s)} vs {len(ref)}"
            print(f"# {name}: content equal")

    med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
    times: dict[str, list[float]] = {k: [] for k in variants}
    for p in range(args.passes):
        for name, mk in variants.items():
            spark.sparkContext.setJobDescription(f"ab_lsh_verify {name} pass {p}")
            t0 = time.perf_counter()
            mk().write.format("noop").mode("overwrite").save()
            dt = round(time.perf_counter() - t0, 4)
            times[name].append(dt)
            print(f"pass {p} {name}: {dt}s", flush=True)
    for name, xs in times.items():
        print(f"{name}: median {med(xs)}s min {min(xs)}s samples {xs}")


if __name__ == "__main__":
    main()

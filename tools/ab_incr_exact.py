"""A/B the dedup_incremental_exact plan shapes at sf2x20 on the graft
layout (VERDICT r13 #7: the row is 9-13x DuckDB's hash-index probe —
beat the 2-barrier shape or commit the decomposition showing it is the
floor).

Variants (same inputs: graft_b_doc_hashes corpus slice + fresh batch):
  grain  — aggregate the corpus grain (exchange-free on the bucketed
           layout), sort-merge the batch against it (current small-
           corpus plan)
  probe  — semi-probe corpus with broadcast batch hashes, aggregate the
           matched slice, broadcast the canonical map back (current
           huge-corpus plan; 2 broadcast barriers)
  routb  — ONE probe: corpus RIGHT OUTER JOIN broadcast(batch) on
           content_hash, then a batch-keyed min aggregate — the corpus
           is scanned once against a broadcast hash table, never
           aggregated at its own grain, and only batch-sized rows
           shuffle (map-side combined). REJECTED: a BroadcastHashJoin
           cannot preserve its broadcast side, so RightOuter only
           plans as BuildLeft — the hint on the batch is unusable, and
           once the corpus outgrows the size threshold this degrades
           to a SortMergeJoin shuffling the whole corpus. Its sf2 win
           came from size-based BuildLeft/AQE, not from the hint.
  uprobe — ONE probe, plannable at ANY corpus size (the shipped
           huge-corpus plan): corpus INNER JOIN broadcast(batch)
           (Inner+BuildRight is always legal), UNION one
           null-candidate row per batch doc, then the batch-keyed min
           (min skips nulls → fresh docs get NULL canonical_id)

Usage: python tools/ab_incr_exact.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".bench", "sf2x20")

    from pyspark.sql import functions as F

    from duckdb_miint_spark.queries_pipeline import _incremental_batch
    from duckdb_miint_spark.session import dir_parquet_bytes, get_spark, size_session_for_input
    from duckdb_miint_spark.storage import build_graft_layout, serve

    spark = get_spark()
    size_session_for_input(spark, dir_parquet_bytes(sf_dir))
    build_graft_layout(spark, sf_dir, tables=["graft_b_doc_hashes"])
    spark.conf.set("spark.graft.bucketedLayout", "true")

    pre = serve(spark, sf_dir, "graft_b_doc_hashes")
    assert pre is not None, "graft_b_doc_hashes not served"
    corpus = pre.filter(F.col("doc_id") % 10 != 7)

    def out_shape(joined):
        return joined.select(
            "batch_id",
            "content_hash",
            F.col("canonical_id").isNotNull().cast("int").alias("is_dup"),
            "canonical_id",
        )

    def v_grain():
        b = _incremental_batch(spark, sf_dir).select(
            F.col("doc_id").alias("batch_id"), F.md5("text").alias("content_hash")
        )
        canon = corpus.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
        return out_shape(b.join(canon, "content_hash", "left"))

    def v_probe():
        b = _incremental_batch(spark, sf_dir).select(
            F.col("doc_id").alias("batch_id"), F.md5("text").alias("content_hash")
        )
        matched = corpus.join(
            F.broadcast(b.select("content_hash").distinct()), "content_hash", "left_semi"
        )
        canon = matched.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
        return out_shape(b.join(F.broadcast(canon), "content_hash", "left"))

    def v_routb():
        b = _incremental_batch(spark, sf_dir).select(
            F.col("doc_id").alias("batch_id"), F.md5("text").alias("content_hash")
        )
        return (
            corpus.join(F.broadcast(b), "content_hash", "right_outer")
            .groupBy("batch_id", "content_hash")
            .agg(F.min("doc_id").alias("canonical_id"))
            .select(
                "batch_id",
                "content_hash",
                F.col("canonical_id").isNotNull().cast("int").alias("is_dup"),
                "canonical_id",
            )
        )

    def v_uprobe():
        b = _incremental_batch(spark, sf_dir).select(
            F.col("doc_id").alias("batch_id"), F.md5("text").alias("content_hash")
        )
        matched = corpus.join(F.broadcast(b), "content_hash", "inner").select(
            "batch_id", "content_hash", F.col("doc_id").alias("__cand")
        )
        base = b.select(
            "batch_id", "content_hash", F.lit(None).cast("long").alias("__cand")
        )
        joined = (
            base.unionByName(matched)
            .groupBy("batch_id", "content_hash")
            .agg(F.min("__cand").alias("canonical_id"))
        )
        return out_shape(joined)

    variants = {"grain": v_grain, "probe": v_probe, "routb": v_routb, "uprobe": v_uprobe}
    ref = None
    for name, fn in variants.items():
        rows = sorted(map(tuple, fn().collect()))
        if ref is None:
            ref = rows
        assert rows == ref, f"{name} diverged from grain content"
    print(f"# content parity OK across variants ({len(ref)} rows)", flush=True)

    # interleaved min-of-5 per variant
    times: dict[str, list[float]] = {n: [] for n in variants}
    for _pass in range(5):
        for name, fn in variants.items():
            df = fn()
            df._jdf.queryExecution().executedPlan()
            t0 = time.perf_counter()
            df.toPandas()
            times[name].append(time.perf_counter() - t0)
    for name, ts in times.items():
        ts = sorted(ts)
        print(f"{name}: min={ts[0]:.3f}s median={ts[2]:.3f}s all={[round(t,3) for t in ts]}")
    spark.stop()


if __name__ == "__main__":
    main()

"""Genomic interval union (reference ``compress_intervals`` aggregate).

Parity target: src/compress_intervals.cpp:52-163 + src/IntervalCompressor.cpp:5-55.
Semantics: inverted pairs swapped, NULL start/stop skipped, touching intervals
(next.start <= cur.stop) merge, result sorted by start, NULL for empty group.

Spark-first design: the reference buffers up to 1M intervals per group and
sort-merges; at 100 TB a buffering UDAF is the wrong shape. We use the
classic *island* formulation — a window over (group, start) flags a new
island whenever start > max(stop) of everything before it; islands then
group-reduce. Everything stays JVM-side, no Python in the hot path.

Interval union is associative and idempotent, so it runs in THREE STAGES:
phase 0 collapses same-start intervals with a plain ``groupBy(group,
start).max(stop)`` — lossless, map-side combinable, and the only shuffle
the fact-sized data ever pays; phase 1 computes islands within (group,
partition-id) over the deduped rows — parallelism #groups × #partitions
instead of #groups, and no task ever has to hold a whole group (the
single-phase killer at 100 TB, where one contig's alignments can exceed
an executor) — then phase 2 re-runs the identical island pass per group
over phase-1's output, which is at most (#true islands +
#partitions·#groups) rows, i.e. tiny whenever intervals actually overlap.
Degenerate worst case (nothing overlaps or piles) leaves phase 2 with the
distinct-(group,start) row count — but then the *output* is that size
too, and any algorithm pays it.

``compress_intervals`` reproduces the reference's exact output shape
(one array<struct<start,stop>> per group); ``compress_intervals_islands``
returns the flat row form, which is what downstream operators
(genome_coverage) consume and what scales best.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def _island_pass(base: DataFrame, part_cols: list[str]) -> DataFrame:
    """One sort-merge island pass: (*part_cols, __s, __e) → merged islands
    within each part_cols group, columns (*part_cols, __s, __e)."""
    w_order = W.partitionBy(*part_cols).orderBy("__s", "__e")
    # max stop over all *previous* rows in start order; start beyond it ⇒ new island
    prev_max = F.max("__e").over(w_order.rowsBetween(W.unboundedPreceding, -1))
    flagged = base.withColumn(
        "__new_island",
        F.when(prev_max.isNull() | (F.col("__s") > prev_max), F.lit(1)).otherwise(F.lit(0)),
    )
    island_id = F.sum("__new_island").over(w_order.rowsBetween(W.unboundedPreceding, 0))
    return (
        flagged.withColumn("__island", island_id)
        .groupBy(*part_cols, "__island")
        .agg(F.min("__s").alias("__s"), F.max("__e").alias("__e"))
        .drop("__island")
    )


def compress_intervals_islands(
    df: DataFrame,
    start_col: str = "start",
    stop_col: str = "stop",
    group_cols: list[str] | tuple = (),
) -> DataFrame:
    """Merge overlapping/touching intervals per group → one row per island.

    Output columns: *group_cols, start, stop (sorted within group by start).
    Phase 0 (see module docstring) reduces the input to one row per
    (group, start); :func:`islands_from_reduced` then runs the local and
    global island passes. The phase-1 groupBy rides the window's hash
    exchange (its keys are a subset of the aggregation keys), so the big
    data is shuffled once.
    """
    group_cols = list(group_cols)
    s = F.least(F.col(start_col), F.col(stop_col)).alias("__s")
    e = F.greatest(F.col(start_col), F.col(stop_col)).alias("__e")
    base = df.filter(
        F.col(start_col).isNotNull() & F.col(stop_col).isNotNull()
    ).select(*group_cols, s, e)
    # Phase 0: LOSSLESS pre-reduction — intervals with the same (group,
    # start) union to their max stop, so a plain ``groupBy(group, s)
    # .max(e)`` collapses them before anything else touches the data.
    # Real alignment data piles starts (coverage depth); the synthetic
    # sf10 gate is 12x duplicated per (contig, position). This is a hash
    # AGGREGATE, not a distinct: it gets map-side partial combine, and its
    # output makes every later window's ORDER BY (s) a total order per
    # group (the round-6 tie-instability fix, now free). Measured sf10
    # (islands stage only, medians of 3): two-phase window on raw rows
    # 8.0 s -> dedup + two-phase 5.1 s. In the degenerate no-duplicates
    # case the aggregate exchanges the same rows the window form always
    # exchanged — it replaces that shuffle, not adds to it. Because
    # (group, s) is unique here, every phase-1 island has a unique
    # (group, min s), so phase 1 needs no distinct. (A zero-shuffle
    # mapInArrow local merge was measured slower at sf2 and sf10 and
    # removed; PERF.md round 9.)
    dedup = base.groupBy(*group_cols, "__s").agg(F.max("__e").alias("__e"))
    return islands_from_reduced(dedup, group_cols, "__s", "__e")


def islands_from_reduced(
    df: DataFrame,
    group_cols: list[str] | tuple,
    s_col: str = "s",
    e_col: str = "e",
) -> DataFrame:
    """Islands from an ALREADY phase-0-reduced relation — one row per
    (group, start) with ``e`` the max stop for that start. The dominant
    cost of compress_intervals_islands is its phase-0 hash aggregate
    (the data-sized dedup exchange — PERF.md round-10 CPU
    decomposition); when that reduction is a layout-build artifact
    (graft_b_aln_ranked: bucketed on group, per-bucket sorted on
    (group, s)), the remaining work is the island window with zero
    EXCHANGE — the bucketed files already satisfy every required
    distribution below (hashpartitioning(group) clusters any superset
    key), so nothing fact-sized ever crosses the network.

    Like compress_intervals_islands, the pass is SPLIT (ADVICE r11): a
    phase-1 window over (group, partition-id) — partition-local, so no
    task ever holds a whole group; a hot contig with millions of starts
    was otherwise one straggling, spill-heavy window partition, the
    exact single-phase killer the module docstring names — then the
    tiny global per-group pass over the merged remainder. Both phases
    ride the files' group-hash distribution; the split's only added
    cost is partition-local sorts (the phase-1 ordering includes
    __pid, which the files' (group, s) sort doesn't literally provide
    even though __pid is constant per partition — Spark can't know
    that). Measured near-neutral on the graft-served gates (sf0.1
    genome_coverage medians 0.79 s single-pass vs 0.84 s split; scan +
    final agg dominate), so the scale-safe form is unconditional."""
    base = df.select(
        *group_cols, F.col(s_col).alias("__s"), F.col(e_col).alias("__e")
    )
    staged = base.select("*", F.spark_partition_id().alias("__pid"))
    local = _island_pass(staged, list(group_cols) + ["__pid"]).drop("__pid")
    return (
        _island_pass(local, list(group_cols))
        .withColumnRenamed("__s", "start")
        .withColumnRenamed("__e", "stop")
    )


def compress_intervals(
    df: DataFrame,
    start_col: str = "start",
    stop_col: str = "stop",
    group_cols: list[str] | tuple = (),
    out_col: str = "intervals",
    emit_null_groups: bool = False,
) -> DataFrame:
    """Reference-shaped output: array<struct<start,stop>> per group, sorted by
    start. ``emit_null_groups=True`` reproduces the reference exactly for
    groups whose pairs are all NULL (the aggregate's Finalize emits the
    group with a NULL list, compress_intervals.cpp:153-163) via a right
    join back to the distinct group keys; the default drops them, which is
    what the genome_coverage pipeline consumes."""
    group_cols = list(group_cols)
    islands = compress_intervals_islands(df, start_col, stop_col, group_cols)
    agg = islands.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct("start", "stop"))).alias(out_col)
    )
    if not emit_null_groups:
        return agg
    if not group_cols:
        return agg  # global aggregate always yields exactly one row
    keys = df.select(*group_cols).distinct()
    return keys.join(agg, group_cols, "left")


def merge_intervals_py(pairs) -> list[tuple[int, int]]:
    """Driver-side reference merge (swap-inverted, skip-NULL, sort, single pass).
    Shared by unit tests and the Newick/coverage driver paths."""
    clean = []
    for a, b in pairs:
        if a is None or b is None:
            continue
        clean.append((a, b) if a <= b else (b, a))
    if not clean:
        return []
    clean.sort()
    out = [clean[0]]
    for s, e in clean[1:]:
        if s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1] = (out[-1][0], e)
        else:
            out.append((s, e))
    return out

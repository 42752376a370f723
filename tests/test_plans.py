"""Physical-plan assertions: the properties that make these queries scale
(pushdown, broadcast discipline, partition counts) — checked explicitly so
a regression in plan shape fails loudly, not just slowly."""

from __future__ import annotations

from duckdb_miint_spark.registry import load_all
from duckdb_miint_spark.sources.fastx import read_fastx

SF = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"  # the 10x step for growth checks
DATA = "/root/reference/data"
REG = load_all()


def plan_of(spark, name: str) -> str:
    df = REG[name].spark_fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_scan(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q3_q5_no_fact_broadcast_hint(spark):
    """Round-1 regression: customer/supplier scale with SF and must never
    carry a broadcast HINT (the size-based planner may still broadcast
    them at small SF — that's correct adaptive behavior); only the true
    dims nation/region are hinted."""
    for name in ("q3_shipping_priority", "q5_local_supplier_volume"):
        df = REG[name].spark_fn(spark, SF)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        for seg in analyzed.split("ResolvedHint")[1:]:
            hinted = seg.split("Join")[0]
            assert "customer" not in hinted, name
            assert "supplier" not in hinted, name


def test_having_big_orders_preaggregates(spark):
    """lineitem must aggregate BEFORE joining orders (shuffle shrink)."""
    df = REG["having_big_orders"].spark_fn(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    join_pos = plan.find("Join")
    agg_pos = plan.find("Aggregate", join_pos)
    assert join_pos != -1 and agg_pos != -1, plan
    # the aggregate appears below (after, in tree print) the join — i.e. as
    # a join child — rather than consuming the join output
    assert "count(1)" in plan[agg_pos : agg_pos + 400]


def test_dedup_and_ann_no_cartesian(spark):
    for name in ("lsh_near_dup_pairs", "ann_lsh_topk", "embedding_near_dup_pairs"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_fastx_one_partition_per_file(spark):
    df = read_fastx(
        spark,
        [f"{DATA}/fastq/small_a.fq", f"{DATA}/fastq/small_b.fq", f"{DATA}/fastq/small_c.fq"],
    )
    assert df.rdd.getNumPartitions() == 3


def test_rype_classify_broadcast_branches_on_index_size(spark):
    """Small index → posting list carries a broadcast hint; index above the
    size cap → no hint on the inverted side (the join shuffles on the
    minimizer key; a RefSeq-scale posting list must never be forced into
    executor memory)."""
    from pyspark.sql import functions as F

    from duckdb_miint_spark.operators.rype import rype_classify

    reads = spark.createDataFrame(
        [("r1", "ACGTACGTACGTACGTACGTACGTACGTACGT")], ["read_id", "sequence1"]
    )
    ryxdi = "/root/reference/data/rype/test.ryxdi"

    def hinted_relations(df):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        return [seg.split("Join")[0] for seg in analyzed.split("ResolvedHint")[1:]]

    small = rype_classify(spark, ryxdi, reads, threshold=0.0)
    assert any("minimizer" in h for h in hinted_relations(small))

    big = rype_classify(spark, ryxdi, reads, threshold=0.0, broadcast_index_max_bytes=0)
    assert not any("minimizer" in h for h in hinted_relations(big))
    # and the result is identical either way
    cols = ["read_id", "bucket_name", "score"]
    assert sorted(map(tuple, small.select(*cols).collect())) == sorted(
        map(tuple, big.select(*cols).collect())
    )


def test_woltka_exchange_budget(spark):
    """The woltka plan should shuffle at most 3 times (dedup, window,
    final aggregate) — a 4th exchange means a regression."""
    plan = plan_of(spark, "woltka_ogu_per_sample")
    # subtract AQE wrappers; count actual shuffle exchanges
    n_exchanges = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_exchanges <= 4, f"{n_exchanges} exchanges:\n{plan[:2000]}"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed identically on the join key must join with NO
    shuffle on either side — the layout satisfies the distribution."""
    import pyspark.sql.functions as F
    from duckdb_miint_spark.storage import write_bucketed

    left = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 10000, 2).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("b")
    )
    write_bucketed(left, "bt_left", 8, ["k"])
    write_bucketed(right, "bt_right", 8, ["k"])
    try:
        lt, rt = spark.table("bt_left"), spark.table("bt_right")
        # force a real SMJ (no broadcast) so the assertion bites
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = lt.join(rt, "k").select("k", "a", "b")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:2000]
            # parity vs the shuffled join of the original frames
            expect = sorted(map(tuple, left.join(right, "k").select("k", "a", "b").collect()))
            assert sorted(map(tuple, joined.collect())) == expect
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_left")
        spark.sql("DROP TABLE IF EXISTS bt_right")


def test_bucketed_layout_removes_exchanges_domain_queries(spark):
    """The bucketed-layout treatment (PERF.md "bucketed-layout A/B") must remove
    the data-sized exchange from each promoted query — woltka's per-read
    dedup aggregate and both sides of having_big_orders' orderkey join —
    and must not change any answer."""
    from duckdb_miint_spark.storage import build_graft_layout, graft_catalog

    def hash_exchanges(name):
        df = REG[name].spark_fn(spark, SF)
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Exchange hashpartitioning"
        )

    def result(name):
        return [tuple(r) for r in REG[name].spark_fn(spark, SF).collect()]

    queries = (
        "woltka_ogu_per_sample",
        "having_big_orders",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "json_event_props",
        "window_running_user_value",
        "ann_quantized_topk",
        "compress_intervals_flat",
        "genome_coverage",
        "q1_pricing_summary",
        "explode_word_counts",
        "token_stats",
        "dedup_exact_groups",
    )
    plain = {q: (hash_exchanges(q), result(q)) for q in queries}

    build_graft_layout(spark, SF, 8)
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        # ceilings measured at introduction: woltka 2->1, having 2->0,
        # q3 ->0 (zero joins on lineitem_cnat; the agg rides the bucket
        # partitioning into TakeOrdered), q5 ->1 (scan + broadcast dims +
        # the n_name aggregate on the lineitem_cnat graft),
        # json_event_props ->1 (2-column scan of the parsed graft + the
        # event_type aggregate), window_running ->0 (events_parsed's
        # bucket+sort IS the window's required distribution+ordering),
        # ann_quantized ->1 (code scan + broadcast scoring + the top-k
        # window's query_id exchange; the graft's gain is skipping the
        # corpus quantization, not an exchange), compress ->0 (the island
        # window rides aln_ranked's buckets; the only exchange left is
        # the output ORDER BY's range partitioning, which is not a hash
        # exchange), genome ->3 but ZERO on the fact side (the two
        # part-sized dim DISTINCTs + the genome_id rollup; the
        # data-sized dedup exchange is gone), q1/explode/token_stats ->0
        # (r12 ingest-time rollup + tokenize-at-ingest grafts: the
        # re-merge groupBys ride the bucket partitioning; token_stats'
        # final ORDER BY is a range exchange, not hash;
        # dedup_exact_groups ->0 — the hash groupBy rides the
        # content_hash bucketing) — regressions fail loudly.
        # q1 ->1 (r13, ADVICE r12): the pricing graft now buckets on the
        # FULL (flag, status, shipdate) grain — flag alone has 3 values,
        # a parallelism collapse at scale — so the 6-group re-merge pays
        # one exchange of <=6 partial rows per task, deliberately.
        ceilings = dict(zip(queries, (1, 0, 0, 1, 1, 0, 1, 0, 3, 1, 0, 0, 0)))
        for q in queries:
            n = hash_exchanges(q)
            assert n <= ceilings[q], f"{q}: {n} > {ceilings[q]} hash exchanges"
            # never MORE exchanges than the plain layout (strictly fewer
            # isn't guaranteed at sf0.01, where broadcast joins already
            # collapse the plain plan — the ceilings above are the teeth)
            assert n <= plain[q][0], f"{q}: bucketed layout added exchanges"
            assert result(q) == plain[q][1], f"{q}: bucketed layout changed the answer"
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        for t in graft_catalog():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_build_graft_layout_all_fingerprints_serve(spark):
    """storage.build_graft_layout (the public layout API, VERDICT r9 #6)
    builds the FULL graft set from scratch; every table must then be
    served under its reader-side fingerprint, non-empty."""
    from duckdb_miint_spark.storage import (
        build_graft_layout,
        graft_catalog,
        graft_fingerprint,
        serve_bucketed,
    )

    written = build_graft_layout(spark, SF, 4)
    catalog = graft_catalog()
    assert set(written) == set(catalog)
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        for name, g in catalog.items():
            fp = graft_fingerprint(SF, g.identity, g.sources)
            assert written[name] == fp, f"{name}: writer/reader fingerprint drift"
            df = serve_bucketed(spark, name, fp)
            assert df is not None, f"{name} not served"
            assert df.count() > 0, f"{name} is empty"
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        for t in catalog:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_table_stale_fingerprint_not_served(spark, tmp_path):
    """A graft table whose stored fingerprint doesn't match the reader's
    recomputed identity (different source dir / drifted derivation SQL)
    must NOT be served — read_table falls back to the plain parquet scan
    instead of silently answering from the stale snapshot (ADVICE r8).
    Exercised on the catalog's plain-copy graft ``graft_b_orders``."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from duckdb_miint_spark.session import read_table
    from duckdb_miint_spark.storage import graft_fingerprint, serve, write_bucketed

    n_orders = spark.read.parquet(os.path.join(SF, "orders.parquet")).count()
    assert n_orders > 3
    # a deliberately WRONG-content snapshot under the graft name for `orders`
    fake = spark.range(0, 3).select(
        F.col("id").alias("o_orderkey"), F.lit("STALE").alias("o_orderstatus")
    )
    write_bucketed(
        fake, "graft_b_orders", 2, ["o_orderkey"],
        fingerprint=graft_fingerprint("/some/other/sfdir", "orders", []),
    )
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        # mismatched fingerprint: not served
        assert serve(spark, SF, "graft_b_orders") is None
        # read_table falls back to the real parquet, not the 3-row fake
        assert read_table(spark, SF, "orders").count() == n_orders
        # matching fingerprint IS served
        write_bucketed(
            fake, "graft_b_orders", 2, ["o_orderkey"],
            fingerprint=graft_fingerprint(SF, "orders", ["orders"]),
        )
        assert read_table(spark, SF, "orders").count() == 3
        # a table written with NO fingerprint is never served either
        write_bucketed(fake, "graft_b_orders", 2, ["o_orderkey"])
        assert read_table(spark, SF, "orders").count() == n_orders
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        spark.sql("DROP TABLE IF EXISTS graft_b_orders")

    # IN-PLACE REGENERATION (ADVICE r9): the fingerprint folds source file
    # mtime+size, so regenerating the parquet under the SAME path
    # invalidates the snapshot. Use a tmp copy of the sf dir (the real
    # testdata is read-only).
    tmp_sf = str(tmp_path / "sfcopy")
    os.makedirs(tmp_sf)
    shutil.copy(os.path.join(SF, "orders.parquet"), os.path.join(tmp_sf, "orders.parquet"))
    write_bucketed(
        fake, "graft_b_orders", 2, ["o_orderkey"],
        fingerprint=graft_fingerprint(tmp_sf, "orders", ["orders"]),
    )
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        assert read_table(spark, tmp_sf, "orders").count() == 3  # served
        # "regenerate" the source in place: same path, different mtime
        os.utime(os.path.join(tmp_sf, "orders.parquet"), (1_600_000_000, 1_600_000_000))
        assert read_table(spark, tmp_sf, "orders").count() == n_orders  # stale → plain
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        spark.sql("DROP TABLE IF EXISTS graft_b_orders")


def test_islands_dedup_precedes_first_exchange(spark):
    """The interval-union plan's ONE data-sized exchange must be fed by
    the phase-0 (group, start) dedup aggregate with a map-side partial
    combine (r9: this pre-reduction halved the sf10 island pair). Pin the
    shape: a partial_max HashAggregate appears strictly BEFORE the first
    hash exchange in execution order (i.e. after it in the printed tree),
    and the exchange count stays at the introduced ceiling."""
    plan = plan_of(spark, "compress_intervals_flat")
    n = plan.count("Exchange hashpartitioning")
    assert n <= 4, f"{n} exchanges:\n{plan[:2000]}"
    # a readable failure if the plan ever loses its hash exchanges
    # entirely (ADVICE r9) — the positional check below would IndexError
    assert "Exchange hashpartitioning" in plan, plan[:2000]
    # Printed trees list consumers ABOVE producers, so the LAST hash
    # exchange in the text is the FIRST executed — the dedup's shuffle —
    # and the partial_max map-side combine must sit below it (i.e. run
    # before it). This ordering assumption is what the slice encodes; if
    # a Spark version changes the tree print, re-derive it.
    below_first_exec = plan.rsplit("Exchange hashpartitioning", 1)[1]
    assert "partial_max" in below_first_exec, plan[-1500:]


def test_islands_three_hash_exchanges_without_aqe(spark):
    """compress_intervals_islands shuffles three times: the phase-0
    (group, start) aggregate, the phase-1 window over (group,
    partition-id) and the phase-2 window over group. Phase 0 makes
    (group, start) unique, so phase-1 islands need no distinct; the
    distinct's fourth exchange (on every output column) must stay gone."""
    from duckdb_miint_spark.functions.intervals import compress_intervals_islands

    df = spark.createDataFrame(
        [("a", 1, 5), ("a", 4, 9), ("b", 2, 3)], "grp string, start long, stop long"
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        islands = compress_intervals_islands(df, "start", "stop", ["grp"])
        plan = islands._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("Exchange hashpartitioning") == 3, plan


def test_bounded_sort_call_sites_are_bounded(spark):
    """bounded_sort's coalesce(1) is only safe when the output is
    key-bounded — mechanize that contract (VERDICT r8 #3 / ADVICE r8):
    discover every registry query whose builder calls bounded_sort, run
    each at sf0.01 AND sf0.1, and assert the output (a) stays far below
    BOUNDED_SORT_MAX_ROWS and (b) grows sub-linearly across the 10x
    input step. Key-bounded outputs saturate (measured <=1.06x at
    introduction, vs ~10x for a data-sized output); the growth cap of 3x
    leaves room for late saturation while still failing loudly on any
    output that scales with the data."""
    import inspect
    import os

    import pytest

    from duckdb_miint_spark.registry import BOUNDED_SORT_MAX_ROWS

    if not os.path.isdir(SF_BIG):
        pytest.skip(f"{SF_BIG} absent — the 10x growth step needs both scales")

    users = []
    for name, qd in REG.items():
        try:
            src = inspect.getsource(qd.spark_fn)
        except (OSError, TypeError):
            continue
        if "bounded_sort" in src:
            users.append(name)
    assert len(users) >= 5, f"discovery broke: only {users}"
    for name in users:
        n_small = REG[name].spark_fn(spark, SF).count()
        n_big = REG[name].spark_fn(spark, SF_BIG).count()
        assert n_big <= BOUNDED_SORT_MAX_ROWS // 10, (
            f"{name}: {n_big} rows at sf0.1 — too close to the "
            f"bounded_sort ceiling; switch the call site to orderBy"
        )
        assert n_big <= 3 * max(n_small, 100), (
            f"{name}: grew {n_small} -> {n_big} across a 10x input step — "
            f"output scales with the data; bounded_sort is unsafe here"
        )


def test_range_join_is_hash_join_not_nested_loop(spark):
    """The binned range join must plan as an equi-join (hash/SMJ shuffle),
    never BroadcastNestedLoopJoin/CartesianProduct."""
    for q in ("range_join_point_counts", "range_join_overlap_counts"):
        plan = plan_of(spark, q)
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_bm25_zero_shuffle_before_topk(spark):
    """bm25_topk computes tf/dl as per-row expressions and its stats as
    one broadcast aggregate — the only Exchanges allowed are the
    single-row stats exchange and the two top-k windows; there must be
    NO explode (Generate) and no shuffle of the token stream."""
    plan = plan_of(spark, "bm25_topk")
    assert "Generate" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # token stream never shuffles: every hashpartitioning exchange in this
    # plan operates on the tiny post-aggregate relations, never on `text`
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        assert "text#" not in seg.split("Exchange")[0][:200]


def test_packing_single_shuffle(spark):
    """sequence_packing is one groupBy(shard) into applyInPandas — a
    single hashpartitioning Exchange over (id, shard, tokens)."""
    plan = plan_of(spark, "sequence_packing")
    n_exch = plan.count("Exchange hashpartitioning")
    assert n_exch == 1, plan[:2000]
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan


def test_semdedup_no_pair_join(spark):
    """semantic_dedup's pairwise stage is the per-cluster BLAS pandas
    stage, never a row-pair join."""
    plan = plan_of(spark, "semantic_dedup_keep")
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsIn" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_hll_two_aggregates_only(spark):
    """HLL: register MAX then per-lang fold — two aggregate levels, no
    joins, vocabulary-sized shuffles only."""
    plan = plan_of(spark, "hll_distinct_tokens")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:1500]


def test_decontamination_broadcast_probe(spark):
    """The benchmark n-gram set is fixed-size and broadcast: the corpus
    n-gram scan probes it with no shuffle before the join — the only
    hashpartitioning exchange is the per-doc hit aggregate."""
    plan = plan_of(spark, "decontamination_overlap")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan

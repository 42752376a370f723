"""Graft compaction — closing the append-refresh lifecycle (VERDICT r12
#1) — and the append-crash idempotency guard (ADVICE r12).

Incremental refresh appends one file per bucket per batch; unbounded,
that re-creates the small-files problem and permanently drops the
sorted-single-file scan fast path. ``storage.compact_graft_layout``
is the LSM-style amortization: threshold-triggered, per-table, a pure
file-layout rewrite preserving content + fingerprint/manifest. These
tests drive the full loop: K appends → compaction fires once → bucket
file count back to 1 → plans regain the no-sort fast path
(plan-asserted) → all gates still green and a further refresh is a
no-op. The crash tests prove a half-finished append can never serve
duplicated rows: the write-ahead marker dispositions it to a rebuild.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.test_refresh import (
    REFRESH_TABLES,
    _append_events_file,
    _events_hourly_plain,
    _make_sf_dir,
    _warehouse_files,
)


def _append_batch(sf_dir: str, i: int, n: int = 100) -> None:
    """One ingest batch under a UNIQUE file name (so successive appends
    accumulate instead of mutating)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet", "part-000.parquet"))
    batch = tbl.slice(0, n)
    cols = {}
    for name in batch.column_names:
        col = batch.column(name)
        if name == "event_id":
            col = pc.add(col, 10_000_000 * (i + 1))
        cols[name] = col
    pq.write_table(
        pa.table(cols, schema=batch.schema),
        os.path.join(sf_dir, "events.parquet", f"part-{i + 1:03d}-new.parquet"),
    )


@pytest.fixture()
def graft_session(spark):
    spark.conf.set("spark.graft.bucketedLayout", "true")
    yield spark
    spark.conf.set("spark.graft.bucketedLayout", "false")
    for t in REFRESH_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compaction_lifecycle(graft_session, tmp_path):
    """K appends grow every bucket to K+1 files; one standalone
    compaction returns each bucket to a single file, preserves the
    fingerprint (the next refresh is a no-op, NOT a rebuild), and the
    served gate still equals the plain derivation."""
    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import (
        bucket_file_census,
        build_graft_layout,
        compact_graft_layout,
        refresh_graft_layout,
    )

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    for t in REFRESH_TABLES:
        census = bucket_file_census(spark, t)
        assert census and max(census.values()) == 1, (t, census)

    for i in range(3):
        _append_batch(sf, i, n=100 + i)
        actions = refresh_graft_layout(
            spark, sf, 4, tables=REFRESH_TABLES, compact_threshold=0
        )
        assert actions == {t: "appended" for t in REFRESH_TABLES}, actions

    for t in REFRESH_TABLES:
        census = bucket_file_census(spark, t)
        assert census and max(census.values()) > 1, (t, census)

    actions = compact_graft_layout(spark, tables=REFRESH_TABLES)
    assert actions == {t: "compacted" for t in REFRESH_TABLES}, actions
    for t in REFRESH_TABLES:
        census = bucket_file_census(spark, t)
        assert census and set(census.values()) == {1}, (t, census)

    # fingerprint/manifest preserved: refresh sees "current", not a rebuild
    assert refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES) == {
        t: "current" for t in REFRESH_TABLES
    }
    # content preserved: the served gate equals the plain derivation
    reg = load_all()
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)
    # idempotent: a second compaction is a no-op
    assert compact_graft_layout(spark, tables=REFRESH_TABLES) == {
        t: "current" for t in REFRESH_TABLES
    }


def test_refresh_auto_compaction(graft_session, tmp_path):
    """refresh_graft_layout fires compaction itself past the threshold
    (the continuous-ingest loop needs no external maintenance call)."""
    spark = graft_session
    from duckdb_miint_spark.storage import (
        bucket_file_census,
        build_graft_layout,
        refresh_graft_layout,
    )

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    seen_compact = False
    for i in range(3):
        _append_batch(sf, i, n=100 + i)
        actions = refresh_graft_layout(
            spark, sf, 4, tables=REFRESH_TABLES, compact_threshold=2
        )
        assert set(actions.values()) <= {"appended", "appended+compacted"}, actions
        seen_compact = seen_compact or "appended+compacted" in actions.values()
    assert seen_compact
    for t in REFRESH_TABLES:
        census = bucket_file_census(spark, t)
        assert census and max(census.values()) <= 2, (t, census)


def test_compaction_restores_sort_free_plan(spark):
    """The plan-level payoff: a co-located SMJ on two bucketed+sorted
    tables runs sort-free off single-file buckets; an append re-inserts
    the per-task Sort (multi-file buckets can't guarantee order);
    compaction removes it again. Exchanges stay at zero throughout."""
    from duckdb_miint_spark.storage import (
        Graft,
        _compact_table,
        bucket_file_census,
        write_bucketed,
    )

    left = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 5000, 2).select(
        F.col("id").alias("k"), (F.col("id") + 1).alias("b")
    )
    write_bucketed(left, "cmp_left", 4, ["k"], ["k"])
    write_bucketed(right, "cmp_right", 4, ["k"], ["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_ord = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    def join_plan() -> str:
        df = spark.table("cmp_left").join(spark.table("cmp_right"), "k")
        return df._jdf.queryExecution().executedPlan().toString()

    try:
        p = join_plan()
        assert "Exchange" not in p, p[:1500]
        assert p.count("Sort ") == 0, p[:1500]

        extra = spark.range(5000, 5100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
        (
            extra.repartition(4, "k")
            .write.mode("append")
            .format("parquet")
            .bucketBy(4, "k")
            .sortBy("k")
            .saveAsTable("cmp_left")
        )
        p = join_plan()
        assert "Exchange" not in p, p[:1500]
        assert p.count("Sort ") > 0, p[:1500]

        g = Graft("cmp_left", None, ["cmp_left"], ["k"], ["k"])
        assert _compact_table(spark, "cmp_left", g) == "compacted"
        census = bucket_file_census(spark, "cmp_left")
        assert set(census.values()) == {1}, census
        p = join_plan()
        assert "Exchange" not in p, p[:1500]
        assert p.count("Sort ") == 0, p[:1500]
        # parity: compaction changed no rows
        assert spark.table("cmp_left").count() == 5100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", prev_ord
        )
        spark.sql("DROP TABLE IF EXISTS cmp_left")
        spark.sql("DROP TABLE IF EXISTS cmp_right")


def test_pending_append_marker_forces_rebuild(graft_session, tmp_path):
    """ADVICE r12 (medium): a refresh that crashed between appending
    rows and advancing src_sig leaves the write-ahead marker set; the
    next refresh must NOT re-append the same delta (duplicate rows) —
    ambiguous provenance dispositions to a full rebuild, after which the
    served gate equals the plain derivation."""
    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import (
        PENDING_PROP,
        build_graft_layout,
        refresh_graft_layout,
    )

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    _append_events_file(sf)
    # simulate the crash window: marker set (as the append branch does
    # before any row lands), delta not yet absorbed into src_sig
    for t in REFRESH_TABLES:
        spark.sql(
            f"ALTER TABLE `{t}` SET TBLPROPERTIES ('{PENDING_PROP}'='crashed')"
        )
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "rebuilt" for t in REFRESH_TABLES}, actions
    reg = load_all()
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)
    # the rebuild cleared the marker: the next delta appends normally
    _append_batch(sf, 1, n=150)
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "appended" for t in REFRESH_TABLES}, actions


def test_stale_pending_marker_cleared_when_current(graft_session, tmp_path):
    """A marker surviving next to a CURRENT fingerprint (crash between
    the final two ALTERs) is stale — refresh clears it without touching
    data, and later appends proceed normally."""
    spark = graft_session
    from duckdb_miint_spark.storage import (
        PENDING_PROP,
        build_graft_layout,
        refresh_graft_layout,
        table_meta,
    )

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    t0 = REFRESH_TABLES[0]
    spark.sql(f"ALTER TABLE `{t0}` SET TBLPROPERTIES ('{PENDING_PROP}'='stale')")
    before = _warehouse_files(spark, t0)
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "current" for t in REFRESH_TABLES}, actions
    assert table_meta(spark, t0).prop(PENDING_PROP) is None
    assert _warehouse_files(spark, t0) == before  # data untouched
    _append_events_file(sf)
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "appended" for t in REFRESH_TABLES}, actions


def test_ingest_appended_files_are_timestamp_micros(graft_session, tmp_path):
    """ADVICE r12: outputTimestampType is a SESSION conf, not a writer
    option — the ingest sink must produce INT64/MICROS parquet (matching
    the source files), never INT96, and must restore the caller's conf."""
    import json as _json

    spark = graft_session
    from duckdb_miint_spark.streaming.events import read_events_stream
    from duckdb_miint_spark.streaming.ingest import stream_ingest_with_refresh

    sf = _make_sf_dir(tmp_path)
    from duckdb_miint_spark.storage import build_graft_layout

    build_graft_layout(spark, sf, 4, tables=["graft_b_events_hourly"])

    tbl = pq.read_table(os.path.join(sf, "events.parquet", "part-000.parquet"))
    rows = tbl.to_pylist()
    staging = tmp_path / "staging"
    staging.mkdir()
    with open(staging / "batch-0.json", "w") as fh:
        for r in rows[:50]:
            r = dict(r)
            r["event_id"] += 30_000_000
            r["ts"] = r["ts"].isoformat()
            fh.write(_json.dumps(r) + "\n")

    ts_conf = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(ts_conf)
    stream = read_events_stream(spark, str(staging))
    q, actions = stream_ingest_with_refresh(
        spark, stream, sf, "events", 4,
        tables=["graft_b_events_hourly"],
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        assert q.awaitTermination(180), "ingest stream did not finish"
    finally:
        q.stop()
    assert actions and actions[0] == {"graft_b_events_hourly": "appended"}
    assert spark.conf.get(ts_conf) == prior  # conf restored

    appended = sorted(glob.glob(os.path.join(sf, "events.parquet", "ingest-*.parquet")))
    assert appended, "no ingest files published"
    for f in appended:
        schema = pq.read_metadata(f).schema
        col = {schema.column(i).name: schema.column(i) for i in range(len(schema))}
        assert col["ts"].physical_type == "INT64", (f, col["ts"])
        assert "timestamp" in str(col["ts"].logical_type).lower(), (f, col["ts"])
    # no staging debris left behind
    hidden = [
        f for f in os.listdir(os.path.join(sf, "events.parquet"))
        if f.startswith("_ingest") and not f.endswith("_done")
    ]
    assert hidden == [], hidden


def test_streaming_ingest_triggers_auto_compaction(graft_session, tmp_path, monkeypatch):
    """The full 100 TB operating loop in one test: a file-source stream
    lands four micro-batches, each refresh appends the new slice, and
    when files-per-bucket crosses the threshold the refresh itself
    compacts — no external maintenance call — while the served gate
    stays equal to the plain derivation over everything ingested."""
    import json as _json

    spark = graft_session
    from duckdb_miint_spark import storage
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import (
        bucket_file_census,
        build_graft_layout,
    )
    from duckdb_miint_spark.streaming.events import read_events_stream
    from duckdb_miint_spark.streaming.ingest import stream_ingest_with_refresh

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)

    tbl = pq.read_table(os.path.join(sf, "events.parquet", "part-000.parquet"))
    rows = tbl.to_pylist()
    staging = tmp_path / "staging"
    staging.mkdir()
    for b in range(4):
        with open(staging / f"batch-{b}.json", "w") as fh:
            for r in rows[b * 50 : (b + 1) * 50]:
                r = dict(r)
                r["event_id"] += 40_000_000 + b * 1_000_000
                r["ts"] = r["ts"].isoformat()
                fh.write(_json.dumps(r) + "\n")

    stream = read_events_stream(spark, str(staging), max_files=1)
    # compact past 2 files/bucket: batches 1-2 append, batch 3 trips it
    monkeypatch.setattr(storage, "COMPACT_FILES", 2)
    q, actions = stream_ingest_with_refresh(
        spark, stream, sf, "events", 4,
        tables=REFRESH_TABLES, checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        assert q.awaitTermination(240), "ingest stream did not finish"
    finally:
        q.stop()
    assert len(actions) == 4, actions
    seen = [set(a.values()) for a in actions]
    assert all(s <= {"appended", "appended+compacted"} for s in seen), actions
    assert any("appended+compacted" in s for s in seen), actions
    for t in REFRESH_TABLES:
        census = bucket_file_census(spark, t)
        assert census and max(census.values()) <= 3, (t, census)
    reg = load_all()
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)
    n_src = spark.read.parquet(os.path.join(sf, "events.parquet")).count()
    assert n_src == len(rows) + 200


def test_tiny_grain_threshold_transition(spark, tmp_path, monkeypatch):
    """Tiny-grain serving follows the MEASURED count: under the
    threshold a graft serves coalesce(1) (single-partition plan); when
    the recorded grain exceeds the threshold the same table serves the
    parallel bucketed plan again."""
    from duckdb_miint_spark import storage
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        build_graft_layout(spark, sf, 4, tables=["graft_b_events_hourly"])
        reg = load_all()

        def n_parts():
            df = reg["events_hourly"].spark_fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange hashpartitioning"), df

        monkeypatch.setattr(storage, "TINY_GRAIN_ROWS", 200_000)
        ex_tiny, df_tiny = n_parts()
        monkeypatch.setattr(storage, "TINY_GRAIN_ROWS", 1)  # grain now "too big"
        ex_par, df_par = n_parts()
        assert ex_tiny == 0, "tiny-grain plan should re-merge exchange-free"
        # answers identical either way
        assert sorted(map(tuple, df_tiny.collect())) == sorted(
            map(tuple, df_par.collect())
        )
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        for t in ["graft_b_events_hourly"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_catalog_tiny_serve_overrides_stale_property(spark, monkeypatch):
    """A table materialized BEFORE its catalog entry opted out of
    tiny-grain serving carries a stale 'graft.tiny_serve=true' property
    and a still-valid fingerprint; serving must follow the CATALOG flag
    (the only copy of it), so the opt-out applies without a rebuild
    (ADVICE r13: pq_codes' mapInPandas consumer was still being fed a
    coalesce(1) plan from pre-opt-out warehouses)."""
    from duckdb_miint_spark import storage
    from duckdb_miint_spark.storage import build_graft_layout, serve

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.graft.bucketedLayout", "true")
    try:
        build_graft_layout(spark, sf, 4, tables=["graft_b_pq_codes"])
        # simulate the pre-opt-out warehouse: stored property says true
        spark.sql(
            "ALTER TABLE graft_b_pq_codes SET TBLPROPERTIES('graft.tiny_serve'='true')"
        )
        monkeypatch.setattr(storage, "TINY_GRAIN_ROWS", 10_000_000)  # grain well under
        served = serve(spark, sf, "graft_b_pq_codes")
        assert served is not None
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "Coalesce" not in plan, plan
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")
        spark.sql("DROP TABLE IF EXISTS graft_b_pq_codes")

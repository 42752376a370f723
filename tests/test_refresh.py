"""Incremental graft maintenance (storage.refresh_graft_layout).

The 100 TB operating mode is append-only ingest: a batch lands as new
parquet files under the fact table's directory, and the layout must
absorb it WITHOUT rewriting existing buckets (VERDICT r11 #3). These
tests drive the full lifecycle against a throwaway copy of sf0.001:
build → append a source file → refresh appends only the new slice
(asserted by file listing: every pre-existing data file byte-identical
and untouched) → served queries still match the plain derivation over
the grown source → a second refresh is a no-op → an in-place mutation
of an existing source file forces a rebuild.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.001"
REFRESH_TABLES = ["graft_b_events_parsed", "graft_b_events_hourly"]


def _make_sf_dir(tmp_path):
    """sf0.001 copy with events.parquet as a DIRECTORY table (the shape
    appendable ingest requires)."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for fname in os.listdir(SRC):
        if not fname.endswith(".parquet"):
            continue
        if fname == "events.parquet":
            d = sf / "events.parquet"
            d.mkdir()
            shutil.copy2(os.path.join(SRC, fname), d / "part-000.parquet")
        else:
            shutil.copy2(os.path.join(SRC, fname), sf / fname)
    return str(sf)


def _append_events_file(sf_dir: str, n: int = 200) -> str:
    """A new ingest batch: first ``n`` events re-keyed into a fresh id
    range (schema byte-identical to the source, ts stays micros)."""
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet", "part-000.parquet"))
    batch = tbl.slice(0, n)
    cols = {}
    for name in batch.column_names:
        col = batch.column(name)
        if name == "event_id":
            col = pc.add(col, 10_000_000)
        cols[name] = col
    out = pa.table(cols, schema=batch.schema)
    path = os.path.join(sf_dir, "events.parquet", "part-001-new.parquet")
    pq.write_table(out, path)
    return path


def _warehouse_files(spark, table: str) -> dict[str, tuple[int, int]]:
    """{relative_path: (mtime_ns, size)} for every data file of a graft
    table."""
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    root = wh[len("file:"):] if wh.startswith("file:") else wh
    base = os.path.join(root, table.lower())
    out = {}
    for dirpath, _dirs, files in os.walk(base):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, base)] = (st.st_mtime_ns, st.st_size)
    return out


def _record_sql(spark, monkeypatch) -> list[str]:
    """Every statement passed to ``spark.sql`` until the monkeypatch is
    undone."""
    seen: list[str] = []
    real_sql = spark.sql

    def recording(query, *args, **kwargs):
        seen.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", recording)
    return seen


def _events_hourly_plain(spark, sf_dir: str):
    """The gate's plain derivation, computed directly (no graft)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return sorted(
        tuple(r)
        for r in ev.withColumn("h", F.date_trunc("hour", "ts"))
        .groupBy("h", "event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(F.round(F.col("value") * 100, 0).cast("long")).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type", "n", "sum_value",
        )
        .collect()
    )


@pytest.fixture()
def graft_session(spark):
    spark.conf.set("spark.graft.bucketedLayout", "true")
    yield spark
    spark.conf.set("spark.graft.bucketedLayout", "false")
    for t in REFRESH_TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_refresh_lifecycle(graft_session, tmp_path):
    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout, refresh_graft_layout

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    before = {t: _warehouse_files(spark, t) for t in REFRESH_TABLES}
    for t in REFRESH_TABLES:
        assert before[t], f"{t}: no data files written at build"

    _append_events_file(sf)
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "appended" for t in REFRESH_TABLES}, actions

    # ONLY new data written: every pre-existing file untouched (same
    # mtime_ns + size), and at least one new file per table
    for t in REFRESH_TABLES:
        after = _warehouse_files(spark, t)
        for rel, sig in before[t].items():
            assert after.get(rel) == sig, f"{t}: {rel} was rewritten"
        assert set(after) > set(before[t]), f"{t}: nothing appended"

    # served results still match the plain derivation over the GROWN source
    reg = load_all()
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)
    # the parse graft serves every row of the grown source
    from duckdb_miint_spark.storage import serve

    served = serve(spark, sf, "graft_b_events_parsed")
    assert served is not None, "events_parsed not served after refresh"
    n_src = spark.read.parquet(os.path.join(sf, "events.parquet")).count()
    assert served.count() == n_src

    # idempotence: nothing changed -> no-op
    assert refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES) == {
        t: "current" for t in REFRESH_TABLES
    }

    # in-place mutation of an EXISTING file is not an append: full rebuild
    p0 = os.path.join(sf, "events.parquet", "part-000.parquet")
    t0 = pq.read_table(p0)
    pq.write_table(t0, p0)  # rewrite: new mtime/identity, same content
    actions = refresh_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    assert actions == {t: "rebuilt" for t in REFRESH_TABLES}, actions
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)


def test_streaming_ingest_with_refresh(graft_session, tmp_path):
    """The continuous form of the append lifecycle: a foreachBatch sink
    (streaming/ingest.py) lands each micro-batch as flat parquet files
    in the source dir and incrementally refreshes the layout — every
    batch must resolve to 'appended' (never a rebuild), existing bucket
    files must stay byte-identical across BOTH batches, and the served
    gate must equal the plain derivation over the grown source."""
    import json as _json

    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout
    from duckdb_miint_spark.streaming.events import read_events_stream
    from duckdb_miint_spark.streaming.ingest import stream_ingest_with_refresh

    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=REFRESH_TABLES)
    before = {t: _warehouse_files(spark, t) for t in REFRESH_TABLES}

    # two ingest batches staged as JSON-lines files (the stream source);
    # maxFilesPerTrigger=1 -> two micro-batches under availableNow
    tbl = pq.read_table(os.path.join(sf, "events.parquet", "part-000.parquet"))
    rows = tbl.to_pylist()
    staging = tmp_path / "staging"
    staging.mkdir()
    for b in range(2):
        with open(staging / f"batch-{b}.json", "w") as fh:
            for r in rows[b * 100 : (b + 1) * 100]:
                r = dict(r)
                r["event_id"] += 20_000_000
                r["ts"] = r["ts"].isoformat()
                fh.write(_json.dumps(r) + "\n")

    stream = read_events_stream(spark, str(staging), max_files=1)
    q, actions = stream_ingest_with_refresh(
        spark,
        stream,
        sf,
        "events",
        4,
        tables=REFRESH_TABLES,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    try:
        assert q.awaitTermination(180), "ingest stream did not finish"
    finally:
        q.stop()
    assert len(actions) == 2, actions
    assert all(a == {t: "appended" for t in REFRESH_TABLES} for a in actions), actions

    for t in REFRESH_TABLES:
        after = _warehouse_files(spark, t)
        for rel, sig in before[t].items():
            assert after.get(rel) == sig, f"{t}: {rel} was rewritten"
        assert set(after) > set(before[t]), f"{t}: nothing appended"

    reg = load_all()
    got = sorted(tuple(r) for r in reg["events_hourly"].spark_fn(spark, sf).collect())
    assert got == _events_hourly_plain(spark, sf)
    n_src = spark.read.parquet(os.path.join(sf, "events.parquet")).count()
    assert n_src == len(rows) + 200
    from duckdb_miint_spark.storage import serve

    served = serve(spark, sf, "graft_b_events_parsed")
    assert served is not None and served.count() == n_src


def test_builder_graft_append_refresh(graft_session, tmp_path):
    """An appendable BUILDER graft (tokenize-at-ingest, r12) must absorb
    a documents append by running its builder over only the new slice —
    existing buckets untouched, served stats equal to the plain
    derivation over the grown corpus — and the word-count ROLLUP graft
    on the same fact must re-merge exactly (duplicate grain rows from
    the appended partial counts fold back to the plain answer)."""
    spark = graft_session
    from duckdb_miint_spark.pipeline.text import token_stats
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout, refresh_graft_layout

    tables = ["graft_b_doc_tokens", "graft_b_word_counts", "graft_b_doc_hashes"]
    sf = tmp_path / "sf"
    sf.mkdir()
    for fname in os.listdir(SRC):
        if not fname.endswith(".parquet"):
            continue
        if fname == "documents.parquet":
            d = sf / "documents.parquet"
            d.mkdir()
            shutil.copy2(os.path.join(SRC, fname), d / "part-000.parquet")
        else:
            shutil.copy2(os.path.join(SRC, fname), sf / fname)
    sf = str(sf)
    try:
        build_graft_layout(spark, sf, 4, tables=tables)
        before = {t: _warehouse_files(spark, t) for t in tables}

        # ingest batch: 50 docs re-keyed + re-worded into a fresh range
        tbl = pq.read_table(os.path.join(sf, "documents.parquet", "part-000.parquet"))
        batch = tbl.slice(0, 50)
        cols = {}
        for name in batch.column_names:
            col = batch.column(name)
            if name == "doc_id":
                col = pc.add(col, 10_000_000)
            elif name == "text":
                col = pa.array(
                    ["new" + (t or "") for t in col.to_pylist()], type=pa.string()
                )
            cols[name] = col
        pq.write_table(
            pa.table(cols, schema=batch.schema),
            os.path.join(sf, "documents.parquet", "part-001-new.parquet"),
        )

        actions = refresh_graft_layout(spark, sf, 4, tables=tables)
        assert actions == {t: "appended" for t in tables}, actions
        for t in tables:
            after = _warehouse_files(spark, t)
            for rel, sig in before[t].items():
                assert after.get(rel) == sig, f"{t}: {rel} was rewritten"
            assert set(after) > set(before[t]), f"{t}: nothing appended"

        reg = load_all()
        docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
        want_tokens = sorted(
            tuple(r)
            for r in token_stats(docs)
            .select("id", "n_ws_tokens", "n_re_tokens", "n_chars_tok", "avg_token_len")
            .collect()
        )
        got_tokens = sorted(
            tuple(r) for r in reg["token_stats"].spark_fn(spark, sf).collect()
        )
        assert got_tokens == want_tokens
        want_words = sorted(
            tuple(r)
            for r in docs.select(F.explode(F.split("text", " ")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .count()
            .orderBy(F.desc("count"), "word")
            .limit(20)
            .collect()
        )
        got_words = sorted(
            tuple(r) for r in reg["explode_word_counts"].spark_fn(spark, sf).collect()
        )
        assert got_words == want_words
        # fingerprint-at-ingest graft: served dedup groups over the
        # grown corpus equal the direct hash-groupBy derivation
        want_hashes = sorted(
            tuple(r)
            for r in docs.groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
            .collect()
        )
        got_hashes = sorted(
            tuple(r) for r in reg["dedup_exact_groups"].spark_fn(spark, sf).collect()
        )
        assert got_hashes == want_hashes
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_non_appendable_graft_rebuilds(graft_session, tmp_path):
    """A source change to a non-appendable graft (the PQ model — a refit
    changes every row's codes) must rebuild even when the change is a
    pure append."""
    spark = graft_session
    from duckdb_miint_spark.storage import build_graft_layout, refresh_graft_layout

    sf = _make_sf_dir(tmp_path)
    # embeddings as a directory table so an append is even possible
    single = os.path.join(sf, "embeddings.parquet")
    tbl = pq.read_table(single)
    os.remove(single)
    os.mkdir(single)
    pq.write_table(tbl, os.path.join(single, "part-000.parquet"))
    try:
        build_graft_layout(spark, sf, 4, tables=["graft_b_pq_codes"])
        extra = tbl.slice(0, 8)
        extra = pa.table(
            {
                n: (pc.add(extra.column(n), 10_000_000) if n == "vec_id" else extra.column(n))
                for n in extra.column_names
            },
            schema=extra.schema,
        )
        pq.write_table(extra, os.path.join(single, "part-001-new.parquet"))
        actions = refresh_graft_layout(spark, sf, 4, tables=["graft_b_pq_codes"])
        assert actions == {"graft_b_pq_codes": "rebuilt"}, actions
    finally:
        spark.sql("DROP TABLE IF EXISTS graft_b_pq_codes")


def test_catalog_error_propagates_out_of_refresh(graft_session, tmp_path, monkeypatch):
    """Only a missing table (AnalysisException) reads as "no stored
    property". Any other failure reading one (here a non-Analysis error
    from the session catalog's getTableMetadata) must surface out of
    refresh_graft_layout instead of silently turning the append into a
    full rebuild."""
    from duckdb_miint_spark import storage
    from duckdb_miint_spark.storage import build_graft_layout, refresh_graft_layout

    spark = graft_session
    table = ["graft_b_events_hourly"]
    sf = _make_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=table)
    _append_events_file(sf)

    class Unavailable:
        def getTableMetadata(self, _ident):
            raise RuntimeError("catalog unavailable")

    monkeypatch.setattr(storage, "_session_catalog", lambda _spark: Unavailable())
    with pytest.raises(RuntimeError, match="catalog unavailable"):
        refresh_graft_layout(spark, sf, 4, tables=table)
    monkeypatch.undo()
    assert refresh_graft_layout(spark, sf, 4, tables=table) == {table[0]: "appended"}

"""Incremental dedup against the historical corpus (VERDICT r12 #3).

The 100 TB ingest loop: documents stream in, the fingerprint
(graft_b_doc_hashes) and banded-MinHash (graft_b_lsh_index) layouts are
refreshed incrementally, and each NEW batch is deduplicated against
everything already ingested by joining the layouts — never by rescanning
corpus text. This test chains stream_ingest_with_refresh → incremental
dedup across two batches and plan-asserts the no-rescan property:
the exact-dedup plan touches no documents parquet at all, and the LSH
plan generates candidates purely from the index.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

SRC = "/root/testdata/sf0.001"
TABLES = ["graft_b_doc_hashes", "graft_b_lsh_index"]

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _make_docs_sf_dir(tmp_path) -> str:
    """sf0.001 copy with documents.parquet as a DIRECTORY table."""
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
    return str(sf)


def _batch_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "ingest", len(t)) for i, t in rows], schema=DOC_SCHEMA
    )


@pytest.fixture()
def graft_session(spark):
    spark.conf.set("spark.graft.bucketedLayout", "true")
    yield spark
    spark.conf.set("spark.graft.bucketedLayout", "false")
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_incremental_dedup_lifecycle(graft_session, tmp_path):
    spark = graft_session
    from duckdb_miint_spark.pipeline.dedup import incremental_exact, incremental_near_dup
    from duckdb_miint_spark.storage import build_graft_layout, serve
    from duckdb_miint_spark.streaming.ingest import stream_ingest_with_refresh

    sf = _make_docs_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=TABLES)

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    seed = docs.orderBy("doc_id").limit(1).collect()[0]

    # batch 1: one exact re-post of an already-ingested doc + one fresh doc
    fresh_text = "completely new ingest content with enough words to shingle"
    b1 = _batch_df(
        spark, [(5_000_001, seed["text"]), (5_000_002, fresh_text)]
    )

    corpus_hashes = serve(spark, sf, "graft_b_doc_hashes")
    assert corpus_hashes is not None, "fingerprint graft not served"
    out = incremental_exact(b1, corpus_hashes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no-rescan property: exact batch-vs-corpus dedup reads the hash
    # layout only — corpus TEXT is never scanned
    assert "graft_b_doc_hashes" in plan, plan[:2000]
    assert "documents.parquet" not in plan, plan[:2000]
    got = {r["batch_id"]: (r["is_dup"], r["canonical_id"]) for r in out.collect()}
    assert got[5_000_001] == (1, seed["doc_id"])
    assert got[5_000_002] == (0, None)

    # ingest batch 1: stream it into the corpus, refresh both layouts
    staging = tmp_path / "staging1"
    staging.mkdir()
    with open(staging / "batch-0.json", "w") as fh:
        for r in b1.collect():
            fh.write(json.dumps(r.asDict()) + "\n")
    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 10)
        .json(str(staging))
    )
    q, actions = stream_ingest_with_refresh(
        spark, stream, sf, "documents", 4,
        tables=TABLES, checkpoint_dir=str(tmp_path / "ck1"),
    )
    try:
        assert q.awaitTermination(180), "ingest stream did not finish"
    finally:
        q.stop()
    assert actions and actions[0] == {t: "appended" for t in TABLES}, actions

    # batch 2: re-posts batch 1's fresh doc — the refreshed layouts must
    # flag it WITHOUT a rebuild, proving the append absorbed batch 1
    b2 = _batch_df(
        spark,
        [
            (5_000_003, fresh_text),
            (5_000_004, "another doc seen for the very first time right now"),
        ],
    )
    corpus_hashes = serve(spark, sf, "graft_b_doc_hashes")
    assert corpus_hashes is not None, "graft went stale after refresh"
    got = {
        r["batch_id"]: (r["is_dup"], r["canonical_id"])
        for r in incremental_exact(b2, corpus_hashes).collect()
    }
    assert got[5_000_003] == (1, 5_000_002)
    assert got[5_000_004] == (0, None)

    # LSH analogue through the banded index: the identical re-post is a
    # jaccard-1.0 near-dup of batch 1's doc; candidates come from the
    # index buckets (plan-asserted), text is read only for the verify
    corpus = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    idx = serve(spark, sf, "graft_b_lsh_index")
    assert idx is not None, "banded index graft not served"
    near = incremental_near_dup(b2, corpus, corpus_index=idx, threshold=0.9)
    plan = near._jdf.queryExecution().executedPlan().toString()
    assert "graft_b_lsh_index" in plan, plan[:2000]
    # corpus text appears exactly once: the semi-join-pruned verify scan
    # (candidate generation itself is index-only)
    assert plan.count("documents.parquet]") <= 1, plan[:3000]
    pairs = {(r["batch_id"], r["corpus_id"]): r["jaccard"] for r in near.collect()}
    assert pairs.get((5_000_003, 5_000_002)) == 1.0
    assert all(b != 5_000_004 for b, _c in pairs)


def test_incremental_gates_serve_from_layout(graft_session, tmp_path):
    """The registry gates (dedup_incremental_exact / _lsh) must return
    identical answers with and without the layout — the graft is an
    accelerant, never a correctness dependency."""
    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout

    sf = _make_docs_sf_dir(tmp_path)
    reg = load_all()

    spark.conf.set("spark.graft.bucketedLayout", "false")
    plain = {
        name: sorted(tuple(r) for r in reg[name].spark_fn(spark, sf).collect())
        for name in ("dedup_incremental_exact", "dedup_incremental_lsh")
    }
    build_graft_layout(spark, sf, 4, tables=TABLES)
    spark.conf.set("spark.graft.bucketedLayout", "true")
    for name, want in plain.items():
        got = sorted(tuple(r) for r in reg[name].spark_fn(spark, sf).collect())
        assert got == want, name


def test_index_served_components_match_plain(graft_session, tmp_path):
    """dedup_components and training_set_selection serve candidate bands
    from graft_b_lsh_index when current (r14 round 2); the result must
    be identical to the plain in-query band-stream derivation, so the
    band source never shows through."""
    spark = graft_session
    from duckdb_miint_spark.registry import load_all
    from duckdb_miint_spark.storage import build_graft_layout, serve

    sf = _make_docs_sf_dir(tmp_path)
    reg = load_all()

    spark.conf.set("spark.graft.bucketedLayout", "false")
    plain = {
        name: sorted(tuple(r) for r in reg[name].spark_fn(spark, sf).collect())
        for name in ("dedup_components", "training_set_selection")
    }
    build_graft_layout(spark, sf, 4, tables=["graft_b_lsh_index"])
    spark.conf.set("spark.graft.bucketedLayout", "true")
    assert serve(spark, sf, "graft_b_lsh_index") is not None, "index must actually serve"
    for name, want in plain.items():
        got = sorted(tuple(r) for r in reg[name].spark_fn(spark, sf).collect())
        assert got == want, name


def test_index_served_candidates_equal_in_query_bands(graft_session, tmp_path):
    """graft_b_lsh_index holds the in-query xx_band_stream bands, so
    lsh_candidate_pairs_long over the served index returns the same
    candidates (pairs and band-match counts) as over the bands the plain
    path derives in the query — equal by construction, not only in the
    exact-Jaccard-verified pairs."""
    spark = graft_session
    from duckdb_miint_spark.pipeline.dedup import (
        lsh_candidate_pairs_long,
        shingles,
        xx_band_stream,
    )
    from duckdb_miint_spark.storage import build_graft_layout, serve

    sf = _make_docs_sf_dir(tmp_path)
    build_graft_layout(spark, sf, 4, tables=["graft_b_lsh_index"])
    idx = serve(spark, sf, "graft_b_lsh_index")
    assert idx is not None, "index must actually serve"
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    in_query = xx_band_stream(shingles(docs, distinct=False))
    want = sorted(tuple(r) for r in lsh_candidate_pairs_long(in_query).collect())
    got = sorted(tuple(r) for r in lsh_candidate_pairs_long(idx).collect())
    assert want, "the corpus must produce candidates"
    assert got == want

"""The graft catalog (storage.graft_catalog) as the one source of truth
for serving: every graft is served through ``storage.serve`` under the
identity and source list its catalog entry declares, so moving any
source file invalidates exactly the grafts that list it."""

from __future__ import annotations

import os
import shutil

import pytest

SRC = "/root/testdata/sf0.001"


@pytest.fixture()
def layout_on(spark):
    spark.conf.set("spark.graft.bucketedLayout", "true")
    yield spark
    spark.conf.set("spark.graft.bucketedLayout", "false")


def _copy_sf(tmp_path) -> str:
    sf = tmp_path / "sf"
    sf.mkdir()
    for f in os.listdir(SRC):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(SRC, f), sf / f)
    return str(sf)


def test_lsh_index_identity_derived_from_constants():
    """The banded-index identity is built from the dedup defaults its
    builder uses and names the band family it is built with
    (xx_band_stream), so an index built with the older md5 bands is
    stale and rebuilt, never served."""
    from duckdb_miint_spark.queries_pipeline import LSH_INDEX_IDENTITY

    assert LSH_INDEX_IDENTITY == "lsh_index:num_perm=16,shingle=3;xx_band_stream-v1"


def test_serve_and_refresh_issue_no_metadata_statements(layout_on, tmp_path, monkeypatch):
    """Serving a graft, refreshing a current one, and its census and
    compaction check read table metadata through the catalog API: no
    SHOW or DESCRIBE statement reaches spark.sql."""
    from duckdb_miint_spark import storage

    spark = layout_on
    sf = _copy_sf(tmp_path)
    storage.build_graft_layout(spark, sf, 2, tables=["graft_b_orders"])
    seen: list[str] = []
    real_sql = spark.sql

    def recording(query, *args, **kwargs):
        seen.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", recording)
    try:
        assert storage.serve(spark, sf, "graft_b_orders") is not None
        actions = storage.refresh_graft_layout(spark, sf, 2, tables=["graft_b_orders"])
        assert actions == {"graft_b_orders": "current"}, actions
        assert set(storage.bucket_file_census(spark, "graft_b_orders").values()) == {1}
        assert storage.compact_graft_layout(spark, ["graft_b_orders"]) == {
            "graft_b_orders": "current"
        }
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS graft_b_orders")
    statements = [q for q in seen if q.lstrip().upper().startswith(("SHOW", "DESCRIBE"))]
    assert statements == [], statements


def test_serve_propagates_unexpected_errors(layout_on, tmp_path, monkeypatch):
    """Only a missing table (AnalysisException) means "not served"; any
    other failure while serving is a real error and must surface
    instead of silently falling back to the plain path."""
    from pyspark.errors import AnalysisException

    from duckdb_miint_spark import storage

    spark = layout_on
    sf = _copy_sf(tmp_path)
    storage.build_graft_layout(spark, sf, 2, tables=["graft_b_orders"])
    try:
        assert storage.serve(spark, sf, "graft_b_orders") is not None

        def dropped(_name):
            raise AnalysisException(message="[TABLE_OR_VIEW_NOT_FOUND] dropped")

        monkeypatch.setattr(spark, "table", dropped)
        assert storage.serve(spark, sf, "graft_b_orders") is None

        def broken(_name):
            raise RuntimeError("boom")

        monkeypatch.setattr(spark, "table", broken)
        with pytest.raises(RuntimeError, match="boom"):
            storage.serve(spark, sf, "graft_b_orders")
    finally:
        monkeypatch.undo()
        spark.sql("DROP TABLE IF EXISTS graft_b_orders")


def test_every_graft_goes_stale_with_each_of_its_sources(layout_on, tmp_path):
    """Build the whole catalog once; then, per source table, move its
    mtime: exactly the grafts whose catalog entry lists that source stop
    being served, and they are served again once the mtime is restored."""
    from duckdb_miint_spark import storage

    spark = layout_on
    sf = _copy_sf(tmp_path)
    catalog = storage.graft_catalog()
    storage.build_graft_layout(spark, sf, 4)
    try:

        def served() -> set[str]:
            return {n for n in catalog if storage.serve(spark, sf, n) is not None}

        assert served() == set(catalog)
        sources = sorted({t for g in catalog.values() for t in g.sources})
        assert {"lineitem", "orders", "customer"} <= set(sources)
        for src in sources:
            path = os.path.join(sf, f"{src}.parquet")
            st = os.stat(path)
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
            stale = {n for n, g in catalog.items() if src in g.sources}
            assert stale, src
            assert served() == set(catalog) - stale, src
            os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
            assert served() == set(catalog), src
    finally:
        for n in catalog:
            spark.sql(f"DROP TABLE IF EXISTS {n}")

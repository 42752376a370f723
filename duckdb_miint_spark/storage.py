"""Bucketed-table layout for shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-to-fact join (orders ⋈ lineitem,
alignments ⋈ reads, doc-pairs ⋈ shingles) is shuffling both sides on the
join key. Spark's answer is BUCKETING: write each side hash-partitioned
into the same number of buckets on the join key; a later join of two
tables bucketed identically satisfies both sides' required distribution
from the files themselves — the plan is a SortMergeJoin with NO Exchange
on either side (and no sort either, when ``sort_cols`` matches the key).

Bucket metadata lives in the catalog, so bucketed writes go through
``saveAsTable`` (a path-based ``parquet(path)`` write drops the bucket
spec). The bucket function is ``Murmur3(key) pmod n_buckets`` — stable
across Spark versions, so tables written by different jobs co-locate as
long as n_buckets matches. Repartitioning before the write keeps one
file per (task, bucket); without it every task writes every bucket and
small files explode — the classic bucketed-write trap.

tests/test_plans.py asserts the no-Exchange plan shape and result parity
vs the shuffled join.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

# Table property carrying the layout identity of a bucketed graft table.
FINGERPRINT_PROP = "graft.fingerprint"
# Table property carrying the per-file source signature the table was
# built from — the manifest incremental refresh diffs against.
SRC_SIG_PROP = "graft.src_sig"
# Write-ahead marker for an in-flight incremental append (ADVICE r12):
# set to the target source signature BEFORE rows are appended, cleared
# only after the append committed AND fingerprint/src_sig advanced. A
# refresh that finds this marker still set cannot know whether the prior
# append landed zero, some, or all of its rows (saveAsTable append is
# not atomic across part files), so it dispositions the table to a full
# rebuild instead of re-deriving the same delta and serving duplicates.
PENDING_PROP = "graft.pending_append"
# Table property recording the materialized row count at write time (a
# parquet metadata count — free at any scale). Serving uses it to plan
# TINY grains as a single partition: the dim-sized rollup re-merges
# (events_hourly, orders_prio_cust, lineitem_pricing, word_counts) cost
# 0.1-0.35 s at sf2 almost entirely in multi-task stage dispatch + one
# exchange, while the actual aggregate is microseconds; one task does
# the whole thing faster than the scheduler can launch 32 (VERDICT r12
# #4). Data-sized grafts stay parallel — the decision is driven by the
# MEASURED count, so a grain that grows past the threshold at 100 TB
# automatically returns to the parallel plan on its next refresh.
GRAIN_ROWS_PROP = "graft.grain_rows"
# Below this many rows a graft is served coalesce(1): a single-task
# scan+aggregate over ~200k narrow rows runs in low tens of ms, under
# the multi-stage dispatch floor it replaces. Grafts whose catalog entry
# sets ``tiny_serve=False`` are always served parallel.
TINY_GRAIN_ROWS = 200_000
# Files per bucket past which refresh_graft_layout compacts a table it
# just appended to (its ``compact_threshold`` default): each append adds
# one file per bucket, so this bounds small files at ~8 batches.
COMPACT_FILES = 8


def layout_fingerprint(*parts: object) -> str:
    """Identity of a bucketed materialization: hash of everything that
    determines its CONTENT — the absolute source dir, for derived tables
    the exact derivation SQL, and (via :func:`source_signature`, folded
    in by :func:`graft_fingerprint`) the mtime+size of every source
    parquet file. A graft table is only served when its stored
    fingerprint matches the one the reader recomputes, so a stale
    snapshot — written from a different sf_dir, by an older derivation,
    OR against source files since regenerated in place (ADVICE r9) —
    silently falls back to the plain path instead of silently changing
    answers. n_buckets is deliberately NOT part of the fingerprint: it
    determines layout, not content (a mismatched bucket count between
    two graft tables degrades a co-located join back to a shuffle, never
    the answer), and folding it in would force every reader to know the
    writer's bucket count."""
    h = hashlib.sha256()
    for p in parts:
        h.update(str(p).encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def source_signature(sf_dir: str, tables: list[str] | tuple) -> str:
    """File identity of the source parquet inputs a graft table was
    derived from: ``name:mtime_ns:size`` per file (recursed one level for
    directory-shaped tables). Changing ANY source file — including an
    in-place regeneration under the same path — changes the signature,
    and with it the graft fingerprint."""
    parts: list[str] = []
    for t in sorted(tables):
        path = os.path.join(sf_dir, f"{t}.parquet")
        try:
            if os.path.isdir(path):
                for f in sorted(os.listdir(path)):
                    if f.endswith(".parquet"):
                        st = os.stat(os.path.join(path, f))
                        parts.append(f"{t}/{f}:{st.st_mtime_ns}:{st.st_size}")
            else:
                st = os.stat(path)
                parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:absent")
    return ";".join(parts)


def graft_fingerprint(sf_dir: str, identity: object, source_tables: list[str] | tuple) -> str:
    """The fingerprint every graft reader/writer uses: source dir +
    table-or-derivation identity + source file signature."""
    return layout_fingerprint(
        os.path.abspath(sf_dir), identity, source_signature(sf_dir, source_tables)
    )


class TableMeta:
    """One catalog read of a table: the ``CatalogTable`` snapshot the JVM
    session catalog returned. Each accessor is one or two py4j calls on
    that snapshot, and only the properties asked for cross over —
    converting the whole property map to a dict costs 20-30 ms."""

    def __init__(self, jtable):
        self._jtable = jtable

    def prop(self, key: str) -> str | None:
        """The table property ``key``, or None when it is not set."""
        v = self._jtable.properties().get(key)
        return v.get() if v.isDefined() else None

    @property
    def grain_rows(self) -> int | None:
        """The stored materialized row count, when set and positive."""
        rows = self.prop(GRAIN_ROWS_PROP) or ""
        return int(rows) if rows.isdigit() and int(rows) > 0 else None

    @property
    def n_buckets(self) -> int | None:
        spec = self._jtable.bucketSpec()
        return spec.get().numBuckets() if spec.isDefined() else None

    @property
    def location(self) -> str:
        """The table's directory (a plain path for ``file:`` locations)."""
        uri = self._jtable.location()
        return uri.getPath() if uri.getScheme() in (None, "file") else uri.toString()


def _session_catalog(spark: SparkSession):
    """The JVM ``SessionCatalog`` — the one place graft metadata is read."""
    return spark._jsparkSession.sessionState().catalog()


def table_meta(spark: SparkSession, table: str) -> TableMeta | None:
    """The catalog entry of ``table`` from one ``getTableMetadata`` call,
    or None when the table does not exist (``AnalysisException``
    [TABLE_OR_VIEW_NOT_FOUND]); any other error propagates. Properties,
    bucket count and location all come from this one read — a fraction
    of a millisecond, against 17-32 ms for a SQL metadata statement
    (properties or formatted description). Needs classic PySpark (a JVM
    session), like the readers in ``sources``."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        return TableMeta(
            _session_catalog(spark).getTableMetadata(parser.parseTableIdentifier(table))
        )
    except AnalysisException:
        return None


def serve_bucketed(spark: SparkSession, table: str, fingerprint: str) -> DataFrame | None:
    """The catalog table ``table`` iff the bucketed layout is opted in
    (``spark.graft.bucketedLayout=true``), the table exists, AND its
    stored ``graft.fingerprint`` equals ``fingerprint`` — else None
    (callers fall back to the plain derivation). A table that is missing,
    or dropped between the metadata read and the scan (the drop/rename
    window of a compaction), is "not served"; any other error
    propagates."""
    if spark.conf.get("spark.graft.bucketedLayout", "false") != "true":
        return None
    meta = table_meta(spark, table)
    if meta is None or meta.prop(FINGERPRINT_PROP) != fingerprint:
        return None
    try:
        df = spark.table(table)
    except AnalysisException:
        return None
    # tiny-grain fast path: plan dim-sized grains as ONE partition
    # (SinglePartition satisfies every ClusteredDistribution, so the
    # consumer's re-merge runs single-stage with zero exchanges and zero
    # multi-task dispatch). The stored count keeps the decision honest
    # as the grain grows; the catalog's tiny_serve flag opts a graft out
    # (e.g. the pq_codes mapInPandas scorer).
    g = graft_catalog().get(table)
    rows = meta.grain_rows
    if (g is None or g.tiny_serve) and rows and rows <= TINY_GRAIN_ROWS:
        return df.coalesce(1)
    return df


def serve(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """The catalog graft ``name`` when it is current for ``sf_dir``, else
    None — the one way a consumer reads a graft. Identity and sources
    come from :func:`graft_catalog`, so they are written down once."""
    g = graft_catalog()[name]
    return serve_bucketed(spark, name, graft_fingerprint(sf_dir, g.identity, g.sources))


class Graft:
    """One bucketed graft table: its content identity (table name or
    derivation SQL), the source tables whose file signature guards it,
    and its bucket/sort layout.

    ``builder`` covers derivations Spark SQL can't express (e.g. the PQ
    codebook fit, a driver-side Lloyd's loop): a callable
    ``(spark, sf_dir) -> DataFrame`` invoked with the source temp views
    registered. A builder graft MUST pass an explicit ``identity``
    string naming the algorithm + parameters + a version tag — that
    string is the fingerprint's stand-in for the SQL text, so bump it
    whenever the builder's output could change.

    ``appendable`` marks derivations that are APPEND-DECOMPOSABLE over
    their fact table (``fact``, default ``sources[0]``; an appendable
    ``builder`` graft gets its builder invoked over the shadowed
    new-slice view at refresh, so row-wise builder derivations like
    tokenize-at-ingest append in place too): either row-wise
    (f(old ∪ new) = f(old) ∪ f(new) — copies, parse-at-ingest, per-row
    quantization, per-fact-row dim joins) or a partial aggregate whose
    registered consumers re-merge the grain (the rollup grafts;
    aln_ranked, whose island consumers merge duplicate starts by
    construction). Incremental refresh appends the new slice's
    derivation into the existing buckets; everything else (the PQ model
    + codes — a refit changes EVERY row's codes, so the exact gates need
    a full rebuild; production would instead pin a frozen model version
    and accept encode-drift) is rebuilt on any source change."""

    def __init__(self, identity, sql, sources, bucket_cols, sort_cols=None,
                 builder=None, appendable=False, fact=None, tiny_serve=True):
        if sql is None and builder is not None and not isinstance(identity, str):
            raise ValueError("builder grafts need an explicit identity string")
        self.identity = identity
        self.sql = sql
        self.sources = list(sources)
        self.bucket_cols = list(bucket_cols)
        self.sort_cols = list(sort_cols) if sort_cols else None
        self.builder = builder
        self.appendable = appendable
        self.fact = fact or self.sources[0]
        # opt-out of the tiny-grain coalesce(1) serving: set False for
        # grafts whose consumers are exchange-free ANYWAY (TakeOrdered
        # partials) — there coalescing elides nothing and only
        # serializes the per-bucket file opens (measured 0.77x on
        # explode_word_counts at sf2)
        self.tiny_serve = tiny_serve

    def derive(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """This graft's rows over the registered source temp views."""
        if self.sql is not None:
            return spark.sql(self.sql)
        if self.builder is not None:
            return self.builder(spark, sf_dir)
        return spark.table(self.sources[0])


def graft_catalog() -> dict[str, Graft]:
    """Every graft table the engine can serve (lazily imported — the
    derivation SQL strings live next to the queries they accelerate)."""
    from duckdb_miint_spark.queries_domain import (
        ALN_RANKED_SQL,
        ALN_SQL,
        WOLTKA_BASE_SQL,
    )
    from duckdb_miint_spark.queries_pipeline import (
        DOC_HASHES_SQL,
        DOC_TOKENS_IDENTITY,
        EMBEDDINGS_Q8_SQL,
        LSH_INDEX_IDENTITY,
        PQ_CODEBOOKS_IDENTITY,
        PQ_CODES_IDENTITY,
        _build_doc_tokens,
        _build_lsh_index,
        _build_pq_codebooks,
        _build_pq_codes,
    )
    from duckdb_miint_spark.queries_relational import (
        EVENTS_HOURLY_ROLLUP_SQL,
        EVENTS_PARSED_SQL,
        LINEITEM_CNAT_SQL,
        LINEITEM_PRICING_SQL,
        ORDERS_CNAT_SQL,
        ORDERS_PRIO_CUST_SQL,
        WORD_COUNTS_SQL,
    )

    return {
        # plain copies, re-bucketed on the join key
        "graft_b_lineitem": Graft("lineitem", None, ["lineitem"], ["l_orderkey"], appendable=True),
        "graft_b_orders": Graft("orders", None, ["orders"], ["o_orderkey"], appendable=True),
        # derived: SAM-shaped alignments bucketed on read_id (woltka's
        # per-read dedup aggregate loses its data-sized exchange)
        "graft_b_aln_read": Graft(ALN_SQL, ALN_SQL, ["lineitem"], ["read_id"], appendable=True),
        # derived: phase-0-reduced island input (one row per (reference,
        # start), max stop), bucketed on reference + per-bucket sorted on
        # (reference, s) — compress_intervals/genome_coverage become one
        # sort-free window over the bucket order (their dominant cost,
        # the data-sized dedup aggregate, is paid here at layout build).
        "graft_b_aln_ranked": Graft(
            ALN_RANKED_SQL,
            ALN_RANKED_SQL,
            ["lineitem"],
            ["reference"],
            # sort includes e so the island window's required ordering
            # (reference, s, e) is satisfied straight off the files —
            # no local sort ((reference, s) is unique post-reduction, so
            # e adds nothing semantically, only the plan guarantee)
            ["reference", "s", "e"],
            # partial-aggregate append: the island consumers merge
            # duplicate (reference, s) rows by construction
            appendable=True,
        ),
        # derived: woltka's deduplicated observation base (one row per
        # DISTINCT (read, sample, feature, orientation)), bucketed on
        # read_id + per-bucket sorted on (read_id, is_fwd) — the
        # query-time collect_set dedup becomes a sort-free window COUNT
        # over the bucket order. NOT appendable: DISTINCT is not
        # append-decomposable over lineitem (a new slice can repeat an
        # existing tuple, and the consumers COUNT rows per (read,
        # is_fwd) without re-deduplicating), so any source change
        # rebuilds.
        "graft_b_woltka_base": Graft(
            WOLTKA_BASE_SQL,
            WOLTKA_BASE_SQL,
            ["lineitem"],
            ["read_id"],
            ["read_id", "is_fwd", "sample_id", "reference"],
        ),
        # derived: orders⋈customer star-flattening (q3 zero exchanges)
        "graft_b_orders_cnat": Graft(
            ORDERS_CNAT_SQL, ORDERS_CNAT_SQL, ["orders", "customer"], ["o_orderkey"],
            appendable=True,  # per-fact-row dim join; dims must be unchanged
        ),
        # derived: lineitem-grain denorm (lineitem⋈orders⋈customer) — q5
        # becomes scan + broadcast dims + one aggregate, zero joins on the
        # fact. Per-bucket sort on o_orderdate clusters the date predicate
        # for parquet row-group pruning.
        "graft_b_lineitem_cnat": Graft(
            LINEITEM_CNAT_SQL,
            LINEITEM_CNAT_SQL,
            ["lineitem", "orders", "customer"],
            ["l_orderkey"],
            ["o_orderdate"],
            appendable=True,  # per-fact-row dim join; dims must be unchanged
        ),
        # derived: events with props parsed ONCE at layout-build time (the
        # production shape for a 100 TB events table: parse at ingest, not
        # per query). Bucketed+sorted on the per-user time order so
        # user-sessionized windows can also ride the layout.
        "graft_b_events_parsed": Graft(
            EVENTS_PARSED_SQL,
            EVENTS_PARSED_SQL,
            ["events"],
            ["user_id"],
            ["user_id", "ts", "event_id"],
            appendable=True,
        ),
        # derived: int8 embedding codes quantized ONCE at layout-build
        # time (the ingest-time artifact an ANN corpus stores — search
        # consumes the codes, never re-quantizes the floats).
        "graft_b_embeddings_q8": Graft(
            EMBEDDINGS_Q8_SQL, EMBEDDINGS_Q8_SQL, ["embeddings"], ["vec_id"],
            appendable=True,
        ),
        # derived: ingest-time rollups (materialized-view analogue of
        # events_parsed) — the aggregate grains whose data-sized first
        # pass was the whole query-time cost of events_hourly /
        # distinct_counts. Cents sums are fixed-point (order-free), the
        # count grain folds exactly, so both are exact, not sketches.
        "graft_b_events_hourly": Graft(
            EVENTS_HOURLY_ROLLUP_SQL, EVENTS_HOURLY_ROLLUP_SQL, ["events"],
            ["h"], ["h", "event_type"],
            # partial-aggregate append: the consumer re-merges the grain
            appendable=True,
        ),
        # bucketed on the FULL grain (see the SQL's layout-v2 note):
        # priority alone has 5 values — a parallelism collapse at scale
        "graft_b_orders_prio_cust": Graft(
            ORDERS_PRIO_CUST_SQL, ORDERS_PRIO_CUST_SQL, ["orders"],
            ["o_orderpriority", "o_custkey"], ["o_orderpriority", "o_custkey"],
            appendable=True,
        ),
        # q1's pricing grain: exact shipdate keeps any date predicate
        # re-mergeable; the grain is SF-invariant (~distinct dates × 6).
        # Bucketed on the FULL grain (ADVICE r12): l_returnflag alone has
        # 3 values — the same parallelism collapse layout-v2 fixed for
        # orders_prio_cust. The q1 re-merge reduces map-side to 6 rows
        # before its (tiny) exchange either way.
        "graft_b_lineitem_pricing": Graft(
            LINEITEM_PRICING_SQL, LINEITEM_PRICING_SQL, ["lineitem"],
            ["l_returnflag", "l_linestatus", "l_shipdate"],
            ["l_returnflag", "l_linestatus", "l_shipdate"],
            appendable=True,
        ),
        # vocabulary-grain word frequencies (explode_word_counts):
        # the token-instance explode is paid here, queries re-merge.
        # tiny_serve off: the consumer is a TakeOrdered(20) whose
        # partials are already exchange-free per partition.
        "graft_b_word_counts": Graft(
            WORD_COUNTS_SQL, WORD_COUNTS_SQL, ["documents"],
            ["word"], ["word"],
            appendable=True, tiny_serve=False,
        ),
        # fingerprint-at-ingest: (doc_id, content_hash), bucketed on the
        # hash so the dedup groupBy is exchange-free; row-wise append
        "graft_b_doc_hashes": Graft(
            DOC_HASHES_SQL, DOC_HASHES_SQL, ["documents"],
            ["content_hash"], ["content_hash"],
            appendable=True,
        ),
        # tokenize-at-ingest: per-document token stats via the SAME
        # pipeline.text.token_stats derivation the plain path runs (a
        # Python builder — its RE2 pandas UDF has no bit-safe JVM-SQL
        # restatement). Row-wise, so appends refresh in place; the
        # builder reads the `documents` temp view, which the append
        # branch shadows with just the new slice.
        "graft_b_doc_tokens": Graft(
            DOC_TOKENS_IDENTITY, None, ["documents"], ["doc_id"], ["doc_id"],
            builder=_build_doc_tokens, appendable=True,
        ),
        # banded-MinHash index at ingest: long (id, band, v) signatures
        # bucketed on (band, v) — incremental near-dup candidate
        # generation (dedup_incremental_lsh) groups per bucket
        # exchange-free and never rescans corpus text. Row-wise per doc
        # (a signature depends only on its own doc), so appends refresh
        # in place via the builder over the shadowed new-slice view.
        "graft_b_lsh_index": Graft(
            LSH_INDEX_IDENTITY, None, ["documents"], ["band", "v"],
            ["band", "v", "id"], builder=_build_lsh_index, appendable=True,
        ),
        # derived (Python builders — the fit is a driver-side Lloyd's
        # loop SQL can't express): PQ codebooks (the trained model,
        # M·K rows) and per-vector codes, written at layout-build time.
        # Codebooks MUST precede codes in this dict: the codes builder
        # reuses the fit the codebooks builder cached for this build.
        "graft_b_pq_codebooks": Graft(
            PQ_CODEBOOKS_IDENTITY, None, ["embeddings"], ["subspace"],
            ["subspace", "cid"], builder=_build_pq_codebooks,
        ),
        # tiny_serve off: the consumer is the mapInPandas ADC scorer —
        # real per-row numpy compute in a Python worker, not the
        # dim-sized JVM re-merge the tiny-grain fast path was built for.
        # Coalesce(1) feeding MapInPandas serializes the whole shortlist
        # scan onto one core (r13-opt: measured EQUAL at sf2 where the
        # codes are 40k rows — medians 1.13 vs 1.15 s, ambient-noise
        # bound — but at sf10 the 200k-row codes sit exactly at the
        # tiny threshold and the single-worker scan is the wrong shape;
        # parallel serving is the scale-safe default for Python-side
        # consumers).
        "graft_b_pq_codes": Graft(
            PQ_CODES_IDENTITY, None, ["embeddings"], ["vec_id"],
            builder=_build_pq_codes, tiny_serve=False,
        ),
    }


def _selected(tables: list[str] | None) -> dict[str, Graft]:
    """{name: Graft} for the named catalog grafts, or all of them."""
    catalog = graft_catalog()
    return {name: catalog[name] for name in (catalog if tables is None else tables)}


def _default_buckets(spark: SparkSession) -> int:
    return (
        int(os.environ.get("SPARK_GRAFT_BUCKETS", "0"))
        or spark.sparkContext.defaultParallelism
    )


@contextmanager
def _source_views(spark: SparkSession, sf_dir: str, grafts: dict[str, Graft]):
    """Every source table of ``grafts`` registered as a temp view over
    ``sf_dir`` for the duration of the block — what ``Graft.derive``
    reads. Yields {table: DataFrame}, so a view shadowed for the block
    can be restored without reading the parquet source again."""
    views = {
        t: spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
        for t in sorted({t for g in grafts.values() for t in g.sources})
    }
    for t, df in views.items():
        df.createOrReplaceTempView(t)
    try:
        yield views
    finally:
        for t in views:
            spark.catalog.dropTempView(t)


def _rebuild(spark: SparkSession, sf_dir: str, name: str, g: Graft, n_buckets: int) -> str:
    """Full re-derivation of one graft into a fresh bucketed table;
    returns the fingerprint it was stamped with."""
    df = g.derive(spark, sf_dir)
    fp = graft_fingerprint(sf_dir, g.identity, g.sources)
    write_bucketed(
        df, name, n_buckets, g.bucket_cols, g.sort_cols,
        fingerprint=fp, src_sig=source_signature(sf_dir, g.sources),
    )
    return fp


def build_graft_layout(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int | None = None,
    tables: list[str] | None = None,
) -> dict[str, str]:
    """Build the bucketed graft layout for ``sf_dir`` — the one-time
    materialization a production 100 TB deployment would maintain — and
    return {table: fingerprint} for every table written.

    Queries opt in per session with
    ``spark.conf.set("spark.graft.bucketedLayout", "true")``; a query
    whose graft table is missing or stale (source files regenerated,
    derivation SQL drifted) silently falls back to the plain derivation,
    so the layout is always a pure accelerant, never a correctness
    dependency. ``n_buckets`` defaults to SPARK_GRAFT_BUCKETS or the
    session parallelism; all tables are written with the SAME bucket
    count so co-located joins between them need no exchange."""
    grafts = _selected(tables)
    n_buckets = n_buckets if n_buckets is not None else _default_buckets(spark)
    with _source_views(spark, sf_dir, grafts):
        return {
            name: _rebuild(spark, sf_dir, name, g, n_buckets)
            for name, g in grafts.items()
        }


# Bucketed part files are named part-<task>-<uuid>_<bucketId>.c000[.codec]
# .parquet — the _NNNNN immediately before the extension chain is the
# bucket id (stable across Spark 3.x/4.x FileFormatWriter).
_BUCKET_ID_RE = re.compile(r"_(\d{5})\.")


def bucket_file_census(spark: SparkSession, table: str) -> dict[int, int]:
    """{bucket_id: data file count} for a bucketed catalog table, from
    the table location's file listing. Empty when the table or its
    location is missing. This is the compaction trigger metric: a table
    fresh from ``write_bucketed`` has exactly 1 file per bucket; every
    incremental append adds one more."""
    meta = table_meta(spark, table)
    return _location_census(meta.location) if meta is not None else {}


def _location_census(loc: str) -> dict[int, int]:
    """{bucket_id: data file count} under a bucketed table's directory."""
    if not os.path.isdir(loc):
        return {}
    out: dict[int, int] = {}
    for dirpath, _dirs, files in os.walk(loc):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            m = _BUCKET_ID_RE.search(f)
            if m:
                b = int(m.group(1))
                out[b] = out.get(b, 0) + 1
    return out


def _compact_table(spark: SparkSession, table: str, g: Graft) -> str:
    """Rewrite one graft table's buckets back to a single sorted file
    each, preserving content, bucket spec, and the fingerprint/manifest
    properties (content is unchanged, so the layout identity is too).

    Mechanics: write the CURRENT table contents to a side table with the
    same bucket/sort layout (one distributed repartition+write job — no
    driver materialization), then drop the original and rename the side
    table into place. A crash between drop and rename leaves the graft
    absent, which readers treat as "not served" (plain-path fallback)
    and the next refresh rebuilds — never a wrong answer. Duplicate
    grain rows absorbed from partial-aggregate appends are preserved
    verbatim (consumers re-merge the grain); compaction is a FILE-layout
    operation, not a re-derivation, so it is safe for every graft kind
    including builder grafts whose derivation is not re-runnable here."""
    meta = table_meta(spark, table)
    if meta is None or not meta.n_buckets:
        return "current"
    side = f"{table}__compact"
    # Read the table's FILES as plain parquet, not spark.table(): a scan
    # carrying the bucket metadata already satisfies the repartition the
    # bucketed write relies on, so the planner elides the exchange AND
    # demotes the scan to plain splits — per-task-per-bucket output
    # files, i.e. a compaction that doesn't compact. The plain-file read
    # keeps write_bucketed's repartition, giving exactly one sorted file
    # per bucket.
    write_bucketed(
        spark.read.parquet(meta.location), side, meta.n_buckets, g.bucket_cols, g.sort_cols,
        fingerprint=meta.prop(FINGERPRINT_PROP), src_sig=meta.prop(SRC_SIG_PROP),
    )
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    spark.sql(f"ALTER TABLE `{side}` RENAME TO `{table}`")
    return "compacted"


def compact_graft_layout(
    spark: SparkSession,
    tables: list[str] | None = None,
    max_files_per_bucket: int = 1,
) -> dict[str, str]:
    """Threshold-triggered per-table compaction — the piece that closes
    the append-refresh lifecycle at 100 TB (VERDICT r12 #1). Incremental
    refresh appends one file per bucket per batch; unbounded, that growth
    re-creates the small-files problem bucketing exists to avoid AND
    permanently drops the sorted-single-file scan fast path (a bucketed
    scan only reports its sort order to the planner when every bucket is
    one file, so multi-file buckets re-insert per-task Sorts under every
    order-consuming window/SMJ). This is the LSM compaction analogue:
    amortized, per-table, triggered when ``bucket_file_census`` exceeds
    ``max_files_per_bucket``.

    Returns {table: "compacted" | "current" | "absent"}. Callable
    standalone (maintenance window) and invoked automatically by
    ``refresh_graft_layout`` past its own threshold."""
    out: dict[str, str] = {}
    for name, g in _selected(tables).items():
        meta = table_meta(spark, name)
        if meta is None:
            out[name] = "absent"
            continue
        census = _location_census(meta.location)
        if not census or max(census.values()) <= max_files_per_bucket:
            out[name] = "current"
            continue
        out[name] = _compact_table(spark, name, g)
    return out


def _append_delta(stored_sig: str, current_sig: str, fact: str) -> list[str] | None:
    """Filenames newly appended under ``{fact}.parquet/`` between the two
    signatures, or None when the change is not a pure fact append (an
    existing file mutated/removed, a non-fact source changed, or the
    fact is single-file — all force a rebuild)."""
    stored = set(stored_sig.split(";")) if stored_sig else set()
    current = set(current_sig.split(";")) if current_sig else set()
    if not stored or not stored <= current:
        return None
    extras = current - stored
    if not extras:
        return None  # same file set but different fingerprint: rebuild
    prefix = f"{fact}/"
    new_files: list[str] = []
    for e in sorted(extras):
        name = e.rsplit(":", 2)[0]
        if not name.startswith(prefix):
            return None
        new_files.append(name[len(prefix):])
    return new_files


def refresh_graft_layout(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int | None = None,
    tables: list[str] | None = None,
    compact_threshold: int | None = None,
) -> dict[str, str]:
    """Incrementally maintain the graft layout after source changes —
    the 100 TB operating mode (VERDICT r11 #3): a production deployment
    ingests append-only batches, and a full layout rebuild per batch is
    the one scale-killer a fingerprint-guarded cache leaves open.

    Per graft table, returns one of:
    - ``"current"``  — stored fingerprint already matches; nothing done.
    - ``"appended"`` — the only source change was NEW files under the
      fact table's directory and the derivation is append-decomposable
      (``Graft.appendable``): the derivation runs over ONLY the new
      slice and its rows are appended into the existing buckets (same
      Murmur3 bucket spec, so co-location is preserved; existing bucket
      files are NOT rewritten). Buckets gain a second file, which drops
      the sorted-single-file scan fast path until a compaction rebuild —
      plans stay exchange-free, Spark adds a local sort where needed.
    - ``"rebuilt"``  — any other drift (mutated/removed files, non-fact
      source change, non-appendable derivation): full rewrite, exactly
      ``build_graft_layout``.

    The per-file manifest diffed against is the ``graft.src_sig`` table
    property every write stores; the fingerprint property is updated to
    the new source set afterwards, so serving stays all-or-nothing.

    The table's properties, bucket count and location come from one
    catalog read (:func:`table_meta`) taken before any of its ALTERs.

    ``compact_threshold`` (default :data:`COMPACT_FILES`):
    after an append leaves any bucket holding more than this many files,
    that table is compacted in place (action ``"appended+compacted"``) —
    the LSM-style amortization that keeps file counts bounded and the
    sorted-single-file scan fast path recoverable under continuous
    ingest. 0 disables auto-compaction."""
    grafts = _selected(tables)
    n_buckets = n_buckets if n_buckets is not None else _default_buckets(spark)
    compact_files = compact_threshold if compact_threshold is not None else COMPACT_FILES
    out: dict[str, str] = {}
    # {(fact, new files): slice DataFrame} — grafts sharing a fact and a
    # delta read the new slice once
    slices: dict[tuple[str, tuple[str, ...]], DataFrame] = {}
    with _source_views(spark, sf_dir, grafts) as views:
        for name, g in grafts.items():
            fp = graft_fingerprint(sf_dir, g.identity, g.sources)
            meta = table_meta(spark, name)  # the one catalog read per graft
            pending = meta and meta.prop(PENDING_PROP)
            if meta and meta.prop(FINGERPRINT_PROP) == fp:
                # fingerprint only advances AFTER an append commits, so a
                # pending marker surviving alongside a current fingerprint
                # is stale (crash between the final two ALTERs) — clear it
                if pending:
                    spark.sql(
                        f"ALTER TABLE `{name}` UNSET TBLPROPERTIES IF EXISTS "
                        f"('{PENDING_PROP}')"
                    )
                out[name] = "current"
                continue
            cur_sig = source_signature(sf_dir, g.sources)
            stored_sig = meta and meta.prop(SRC_SIG_PROP)
            # A leftover write-ahead marker means a prior refresh crashed
            # between appending rows and advancing src_sig — the table may
            # already hold part of this delta, so appending again would
            # serve duplicates. Ambiguous provenance → full rebuild.
            new_files = (
                _append_delta(stored_sig, cur_sig, g.fact)
                if g.appendable and stored_sig and not pending
                else None
            )
            existing_buckets = meta.n_buckets if new_files is not None else None
            if existing_buckets:
                key = (g.fact, tuple(new_files))
                if key not in slices:
                    slices[key] = spark.read.parquet(
                        *(os.path.join(sf_dir, f"{g.fact}.parquet", f) for f in new_files)
                    )
                # shadow the fact view with ONLY the new slice: the
                # derivation over it is exactly the rows to append
                slices[key].createOrReplaceTempView(g.fact)
                try:
                    # appendable builder grafts (row-wise derivations like
                    # tokenize-at-ingest) run their builder over the
                    # shadowed new-slice view, same as the SQL grafts
                    df = g.derive(spark, sf_dir)
                    # write-ahead: mark the delta as in-flight BEFORE any
                    # row lands, so a crash anywhere below is detected
                    spark.sql(
                        f"ALTER TABLE `{name}` SET TBLPROPERTIES "
                        f"('{PENDING_PROP}'='{cur_sig}')"
                    )
                    (
                        df.repartition(existing_buckets, *g.bucket_cols)
                        .write.mode("append")
                        .format("parquet")
                        .bucketBy(existing_buckets, *g.bucket_cols)
                        .sortBy(*(g.sort_cols or g.bucket_cols))
                        .saveAsTable(name)
                    )
                finally:
                    views[g.fact].createOrReplaceTempView(g.fact)
                try:
                    grain_rows = spark.table(name).count()  # metadata count
                except AnalysisException:  # table dropped under us
                    grain_rows = None
                spark.sql(
                    f"ALTER TABLE `{name}` SET TBLPROPERTIES "
                    f"('{FINGERPRINT_PROP}'='{fp}', '{SRC_SIG_PROP}'='{cur_sig}'"
                    + (
                        f", '{GRAIN_ROWS_PROP}'='{grain_rows}'"
                        if grain_rows is not None
                        else ""
                    )
                    + ")"
                )
                spark.sql(
                    f"ALTER TABLE `{name}` UNSET TBLPROPERTIES IF EXISTS "
                    f"('{PENDING_PROP}')"
                )
                census = _location_census(meta.location)
                if (
                    compact_files > 0
                    and census
                    and max(census.values()) > compact_files
                ):
                    _compact_table(spark, name, g)
                    out[name] = "appended+compacted"
                else:
                    out[name] = "appended"
                continue
            _rebuild(spark, sf_dir, name, g, n_buckets)
            out[name] = "rebuilt"
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    bucket_cols: list[str] | tuple,
    sort_cols: list[str] | tuple | None = None,
    fingerprint: str | None = None,
    src_sig: str | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally per-bucket sorted)
    catalog table. Joins/aggregations on ``bucket_cols`` against any
    table bucketed the same way run with no Exchange.

    Overwrites an existing table of the same name; also clears a stale
    managed-table LOCATION left by a previous process (the in-memory
    catalog forgets the table at session exit but the warehouse files
    survive, and saveAsTable refuses to reuse the location)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    wh_path = None
    if warehouse.startswith("file:"):
        wh_path = warehouse[len("file:"):]
    elif "://" not in warehouse:
        wh_path = warehouse
    if wh_path:
        stale = os.path.join(wh_path, table.lower())
        if os.path.exists(stale):
            shutil.rmtree(stale, ignore_errors=True)

    bucket_cols = list(bucket_cols)
    sort_cols = list(sort_cols) if sort_cols else bucket_cols
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
    )
    writer.saveAsTable(table)
    props = []
    if fingerprint is not None:
        props.append(f"'{FINGERPRINT_PROP}'='{fingerprint}'")
    if src_sig is not None:
        props.append(f"'{SRC_SIG_PROP}'='{src_sig}'")
    # materialized row count (parquet metadata count — no data scan):
    # drives the tiny-grain single-partition serving decision
    try:
        props.append(f"'{GRAIN_ROWS_PROP}'='{spark.table(table).count()}'")
    except AnalysisException:  # table dropped under us: no hint
        pass
    if props:
        spark.sql(
            f"ALTER TABLE `{table}` SET TBLPROPERTIES ({', '.join(props)})"
        )

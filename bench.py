"""Benchmark runner: headline queries on local[$SPARK_GRAFT_CPUS].

Scale: an explicitly non-default $SPARK_GRAFT_SF_DIR is honored as-is;
otherwise the headline runs at sf2 (deterministic ×20 replication of the
driver's sf0.1 — see resolve_sf_dir / tools/make_scaled_sf.py), where both
engines measure execution rather than Spark's fixed per-query setup floor
(round 6 moved the headline from sf1: on an idle box sf1 totals are
Spark ~18 s of which ~6 s is irreducible 23-query stage latency vs a
~9 s DuckDB fast bound — the ratio there measures the floor, not the
plans; at sf2 execution dominates on both engines. PERF.md has the
full decomposition and the sf1 numbers alongside).
Prints ONE JSON line (compact, HARD-guarded to <=1,900 chars so the
driver's 2,000-char stdout tail parses it whole — VERDICT r10 #2):
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
 "sf": dir, "layout": "graft", "bucket_write_sec": float-or-null,
 "duckdb": {"value": sec, "queries_sec": [per-row seconds aligned with
 the "queries" key order, null where no DuckDB SQL — r14, so PERF diffs
 can normalize box drift; first casualty of the size guard]},
 "ratio_vs_duckdb": ...,
 "graft_ratio_vs_duckdb_plain": same number under its honest name,
 "plain_equiv_value"/"plain_equiv_ratio_vs_duckdb": full-set total with
 promoted queries at their plain-layout timings (like-for-like vs the
 r8-r10 records; never dropped by the size guard),
 "plain": {"value": ..., "ratio_per_query": {...}}, "detail_file": path}
A graft-build failure reports layout_error (string) and leaves
bucket_write_sec null — the timing field is numeric-or-null always.
The FULL summary (plan_build_sec, box fingerprint, per-query DuckDB
timings, per-query ratios) goes to .bench/bench_summary_last.json; raw
per-pass samples and per-query build times to
.bench/bench_samples_last.json.
The HEADLINE measures the GRAFT layout (VERDICT r10 #3): the bucketed /
ingest-derived tables a production 100 TB deployment maintains, with the
one-time, fingerprint-amortized layout cost reported as
bucket_write_sec. "plain" re-measures the layout-promoted queries
(BUCKETED_QUERIES: q3/q5/having/woltka/json_event_props/window_running/
compress_intervals/genome_coverage/ann_pq_shortlist/distinct_counts/
events_hourly/q1/token_stats/explode_word_counts/dedup_exact_groups) on the plain layout — what they cost when the engine re-derives the
layout's content per query — with the same interleaved protocol, and
checks FULL content parity between layouts (a mismatch raises
BucketedParityError and fails the bench). The DuckDB side runs the
plain SQL on the plain parquet (the BASELINE.md condition) — EXCEPT
queries with a like-for-like serving path (_duck_serve, currently the
PQ ANN row): there DuckDB also serves from a once-built index (timed as
duck_index_build_sec), because timing a per-pass model retrain against
Spark's graft-served plan would overstate the win ~25x.
SPARK_GRAFT_LAYOUT=plain restores the r8-r10 plain-primary protocol.

Methodology
-----------
- Results are fully materialized with Arrow ``toPandas()`` (the equivalent
  of the DuckDB baseline's ``fetchall`` — ``count()`` would let Spark skip
  sort/projection work the oracle performs).
- Timed passes measure EXECUTION: each pass builds a fresh DataFrame
  (fresh shuffle lineage — re-collecting one DataFrame would silently
  reuse completed shuffle map stages and only re-run the final stage)
  with the build step outside the timer, then times ``toPandas()``.
  Warm-up and timed passes run ADJACENT per query (JMH-style): in a
  single JVM, interleaving 23 distinct codegen'd plans between a query's
  warm-up and its measurement deoptimizes shared JIT call sites
  (megamorphic inline caches) and was measured to inflate the whole set
  ~1.5x; see the comment in main().
  Plan construction is dominated by Python↔JVM round trips building
  Column trees — a client-binding cost, not engine execution — and is
  reported separately as ``plan_build_sec`` (one full build of the set)
  rather than silently folded into per-query numbers. The DuckDB baseline
  keeps parse+plan inside its timing: at ~1 ms/query it is noise there.
- Both engines read their inputs from the parquet files on every pass;
  neither side keeps a decoded copy of an input table between passes.
- ENGINE-INTERLEAVED, median-of-3 (round 6): the round-5 artifact lost
  1.2x of ratio purely to ambient load hitting the two engines' separate
  measurement windows differently (the DuckDB loop ran minutes after the
  Spark loop on a shared box whose load swings both engines' absolutes
  >2x — PERF.md). Both engines are now measured back-to-back PER QUERY:
  Spark warm-up, DuckDB warm-up, then alternating timed passes
  (S1,D1,S2,D2,S3,D3), so drift hits both sides of each per-query ratio
  equally. Per-engine per-query time is the MEDIAN of the timed passes
  (robust to a single descheduled pass without the best-case bias of
  min). DuckDB is native code in the same process — running it between
  Spark passes does not touch the JVM JIT's inline caches, so the
  megamorphic-deopt hazard that forbids interleaving *Spark* plans
  (see below) does not apply.
- When duckdb is importable, the SAME oracle SQL set runs in-process
  (warm, fetchall) and the JSON carries the side-by-side total, per-query
  times, per-query ratios, and per-pass raw samples — the bench is
  self-reporting against the baseline and its own variance.
- The headline set spans the engine: relational (scan-agg, joins, windows,
  explode, JSON), domain operators (flags, interval union, woltka,
  genome_coverage), and pipeline operators (minhash, banded-LSH dedup,
  simhash, token/quality stats, fingerprints, ANN, multimodal decode).
  The LSH near-dup entry is the one place the two engines run different
  *algorithms* for the same answer (bucketed LSH vs all-pairs) — at scale
  that asymmetry is the entire point of the Spark formulation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from duckdb_miint_spark.registry import load_all
from duckdb_miint_spark.session import TABLES, get_spark

# Headline set: representative, one entry per operator family.
BENCH_QUERIES = [
    # relational (Layer A)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top_parts_per_brand",
    "window_running_user_value",
    "distinct_counts",
    "explode_word_counts",
    "json_event_props",
    "events_hourly",
    "having_big_orders",
    # domain (Layer B)
    "sam_flags_profile",
    "compress_intervals_flat",
    "woltka_ogu_per_sample",
    "genome_coverage",
    # LLM pipeline
    "dedup_exact_groups",
    "minhash_signatures",
    "lsh_near_dup_pairs",
    "simhash_signatures",
    "token_stats",
    "text_quality",
    "doc_fingerprint_bottomk",
    # The benched ANN path is the PRODUCTION serving shape (VERDICT r11
    # #1): ADC shortlist over the graft-served PQ codes + exact rerank of
    # ~100 rows per query. ann_cosine_topk (exact brute force over every
    # float) stays a registry correctness gate and the recall yardstick,
    # but at 100 TB nobody serves ANN by scanning the corpus — benching
    # it as the headline measured the wrong operating point (it was the
    # floor set's worst ratio, 7.7x at sf10, pure scoring CPU with a
    # recorded negative A/B).
    "ann_pq_shortlist_topk",
    "multimodal_image_features",
    # The 100 TB ingest-loop question (r13, VERDICT r12 #3): which docs
    # in this batch duplicate the already-ingested corpus. Spark serves
    # the fingerprint-at-ingest graft; DuckDB gets the like-for-like
    # materialized hash index (_duck_serve) — both sides pay ingest
    # once, timed passes hash only the batch.
    "dedup_incremental_exact",
]

TIMED_PASSES = 3

# Headline scale: the driver ships sf0.1 (17 MB — small enough that Spark's
# fixed ~0.3-0.5 s/query stage-setup floor dominates the comparison; see
# PERF.md). The engine comparison that matters at 100 TB is MARGINAL
# throughput, so when no explicit non-default SF dir is requested the bench
# deterministically replicates sf0.1 ×20 (tools/make_scaled_sf.py — disjoint
# key spaces, no RNG) and runs the identical set on BOTH engines at that
# scale. An explicitly set SPARK_GRAFT_SF_DIR (e.g. sf0.01 in the verify
# recipe) is always honored as-is; SPARK_GRAFT_NO_SCALE=1 forces the raw
# default dir too.
DRIVER_SF_DEFAULT = "/root/testdata/sf0.1"
SCALED_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench", "sf2x20")
SCALE_FACTOR = 20


def resolve_sf_dir() -> tuple[str, int]:
    """(sf_dir, timed_passes) — scaled headline dir unless overridden.

    SPARK_GRAFT_PASSES overrides the timed-pass count (e.g. 1 for the
    sf10 scale validation, where a single pass is minutes of execution
    and noise is irrelevant)."""
    passes_env = int(os.environ.get("SPARK_GRAFT_PASSES", "0"))
    env = os.environ.get("SPARK_GRAFT_SF_DIR")
    no_scale = os.environ.get("SPARK_GRAFT_NO_SCALE", "0") not in ("0", "false")
    explicit_other = env and os.path.abspath(env) != os.path.abspath(DRIVER_SF_DEFAULT)
    if explicit_other or no_scale:
        return (env or DRIVER_SF_DEFAULT), (passes_env or TIMED_PASSES)
    from tools.make_scaled_sf import ensure_scaled

    # 3 passes at the scaled size: the interleaved protocol reports the
    # per-engine MEDIAN, which needs an odd sample count to be an actual
    # middle observation
    return ensure_scaled(DRIVER_SF_DEFAULT, SCALED_DIR, SCALE_FACTOR), (passes_env or 3)


def duck_connection(sf_dir: str):
    """A DuckDB connection with the bench tables as views, or None.

    The connection is capped (DUCK_MEM_LIMIT, default 40GiB) with a
    spill temp_directory: DuckDB's default memory_limit is 80% of
    PHYSICAL RAM and ignores the co-resident Spark driver JVM, so the
    heavy PQ-training oracles hit system bad_alloc mid-bench (round-12
    failure — same fix as tools/oracle_at_scale.py). Capped, they spill
    and complete; the cap is far above any oracle's honest working set
    at bench scale."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    duck_mem = os.environ.get("DUCK_MEM_LIMIT", "40GiB")
    duck_tmp = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench", "duck_tmp"
    )
    try:
        os.makedirs(duck_tmp, exist_ok=True)
        con.execute(f"SET memory_limit='{duck_mem}'")
        con.execute(f"SET temp_directory='{duck_tmp}'")
    except Exception as exc:  # noqa: BLE001 — cap is protective, not load-bearing
        print(f"# duck memory cap not applied: {exc}", file=sys.stderr)
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def box_fingerprint() -> dict:
    """Machine/state context for the run: per-box DuckDB absolutes vary
    ~3x round-to-round, so every artifact carries the CPU model, ambient
    load, and page-cache state needed to compare ratios across rounds."""
    fp: dict = {"cores": os.cpu_count()}
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    fp["cpu"] = line.split(":", 1)[1].strip()
                    break
    except OSError:
        pass
    try:
        fp["load_avg_start"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    try:
        mem = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                mem[k] = int(v.strip().split()[0])  # kB
        fp["mem_total_gb"] = round(mem.get("MemTotal", 0) / 1048576, 1)
        fp["mem_available_gb"] = round(mem.get("MemAvailable", 0) / 1048576, 1)
        fp["page_cache_gb"] = round(mem.get("Cached", 0) / 1048576, 1)
    except (OSError, ValueError):
        pass
    try:
        fp["uname"] = os.uname().release
    except OSError:
        pass
    return fp


# Layout-promoted queries: their plans differ between the graft and
# plain layouts, so the secondary treatment re-measures them under the
# OTHER layout and asserts full content parity (PERF.md "bucketed-layout
# A/B" rounds 7-11).
BUCKETED_QUERIES = [
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "having_big_orders",
    "woltka_ogu_per_sample",
    "json_event_props",
    "window_running_user_value",
    "compress_intervals_flat",
    "genome_coverage",
    "ann_pq_shortlist_topk",
    "distinct_counts",
    "events_hourly",
    "q1_pricing_summary",
    "token_stats",
    "explode_word_counts",
    "dedup_exact_groups",
    "dedup_incremental_exact",
    # r14: candidates served from the ingest-time banded-MinHash index
    # (graft_b_lsh_index) — the plain treatment re-derives bands per
    # query; parity between the two pair sets is asserted like the rest
    "lsh_near_dup_pairs",
]


def _duck_serve() -> dict:
    """Like-for-like DuckDB serving paths for queries whose Spark side
    is graft-served from a materialized index (currently the PQ ANN
    row). The CORRECTNESS oracle restates train+encode+search end-to-end
    — right for the differential gate, wrong as a TIMING baseline: no
    engine retrains a PQ model per query (the first r12 sf2 candidate
    read 208 s/pass on this row — a ~25x overstatement of the graft
    win). Here DuckDB gets the same pay-at-ingest trade: ``setup`` DDL
    materializes the index ONCE (timed, reported as
    duck_index_build_sec next to Spark's bucket_write_sec) and the
    timed passes run ``serve`` — equivalence of serve-from-index vs the
    full oracle is pytest-asserted (tests/test_oracle.py)."""
    from duckdb_miint_spark.pipeline.pq import (
        pq_index_setup_sqls,
        pq_shortlist_serve_sql,
    )
    from duckdb_miint_spark.queries_pipeline import _PQ_DIM, _PQ_ITERS, _PQ_K, _PQ_M

    from duckdb_miint_spark.queries_pipeline import dedup_incremental_serve_sqls

    dedup_setup, dedup_serve = dedup_incremental_serve_sqls()
    return {
        "ann_pq_shortlist_topk": {
            "setup": pq_index_setup_sqls(_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM),
            "serve": pq_shortlist_serve_sql(
                _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM, topk=10, shortlist=100, n_queries=5
            ),
        },
        # batch-vs-corpus dedup: corpus hash index materialized once
        # (the fingerprint-at-ingest analogue), passes hash the batch
        "dedup_incremental_exact": {
            "setup": dedup_setup,
            "serve": dedup_serve,
        },
    }


def _duck_sql_for(name, con, oracle_sqls, duck_serve, duck_index_build):
    """The SQL to time for ``name`` on the DuckDB side: the serving
    statement when a like-for-like index path exists (building the index
    once, timed into ``duck_index_build``), else the registry oracle."""
    if con is None:
        return None
    spec = duck_serve.get(name)
    if spec is None:
        return oracle_sqls.get(name)
    if name not in duck_index_build:
        t0 = time.perf_counter()
        for stmt in spec["setup"]:
            con.execute(stmt)
        duck_index_build[name] = round(time.perf_counter() - t0, 4)
    return spec["serve"]


class BucketedParityError(AssertionError):
    """The bucketed layout changed a query's ANSWER — a correctness
    break, re-raised out of the treatment's blanket except so it fails
    the bench visibly instead of reading as a skipped treatment
    (ADVICE r9)."""


def _sorted_records(pdf) -> list:
    """Order-independent content of a result frame (rows as tuples,
    sorted) for exact parity comparison between layouts. NaN cells
    (pandas' null for numeric columns — e.g. a nullable canonical_id)
    canonicalize to None: NaN != NaN would fail parity on every null
    row even when both layouts agree."""
    def canon(v):
        return None if isinstance(v, float) and v != v else v

    rows = [
        tuple(canon(v) for v in t)
        for t in pdf.itertuples(index=False, name=None)
    ]
    return sorted(
        rows, key=lambda r: tuple((v is None, 0 if v is None else v) for v in r)
    )


def write_bucketed_layout(spark, sf_dir: str, n_buckets: int) -> float:
    """Build the full graft layout (storage.build_graft_layout — the
    public API) and return the wall seconds spent — the one-time layout
    cost the treatment amortizes."""
    from duckdb_miint_spark.storage import build_graft_layout

    t0 = time.perf_counter()
    build_graft_layout(spark, sf_dir, n_buckets)
    return round(time.perf_counter() - t0, 2)


def main() -> None:
    # Capture the box state BEFORE any work: the fingerprint's value is
    # the ambient load/page-cache the run STARTED with (the bench itself
    # pushes the 1-min load to ~cores).
    box = box_fingerprint()
    sf_dir, timed_passes = resolve_sf_dir()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    # The headline (sf2) benches the PRODUCTION profile: AQE on (runtime
    # broadcast of small join sides, coalescing, skew splitting) — at sf1+ it
    # wins on the star joins (q5 2.2s -> 1.4s) and is the config a cluster
    # would run. SPARK_GRAFT_AQE=0 measures the latency-tuned static profile
    # (slightly better on sub-second queries at tiny scales).
    aqe = os.environ.get("SPARK_GRAFT_AQE", "1") not in ("0", "false")
    # Partitioning is sized to the INPUT, the way a production job (or AQE
    # from map-output stats) would: one shuffle partition per ~32 MB of
    # input, clamped to [cores, 4x cores]. At the sf2 headline that lands
    # on 32 (= cores; 8-vs-32 measured equivalent at sf1, 18.9 s vs 20.0 s
    # back-to-back — inside this box's run noise); at sf10 it lands at ~54,
    # which keeps all 32 cores busy on the multi-second shuffles (a
    # hardwired 8 cost 2-4x on every shuffle-heavy query there — PERF.md
    # scale validations). size_session_for_input sets the
    # initialPartitionNum AQE coalesces down from to the same number;
    # session defaults outside the bench stay at 4x cores.
    from duckdb_miint_spark.session import dir_parquet_bytes, size_session_for_input

    dir_bytes = dir_parquet_bytes(sf_dir)
    # Heap sized to execution memory at the headline scale: GC pressure
    # from an undersized heap is multi-second per-query noise (sf2 at
    # 24g: woltka 9.6 s; at 48g: 2.7 s — same plan). ~1 GB per 10 MB of
    # compressed input, clamped [24g, 64g]; explicit env always wins.
    heap_gb = max(24, min(64, dir_bytes // (10 << 20)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_gb}g")
    target_parts = max(cpus, min(4 * cpus, dir_bytes // (32 << 20)))
    spark = get_spark("bench", cpus=cpus, aqe=aqe, shuffle_partitions=target_parts)
    size_session_for_input(spark, dir_bytes)
    reg = load_all()

    # PRIMARY LAYOUT = the graft catalog (VERDICT r10 #3). A production
    # 100 TB deployment queries a maintained layout — bucketed facts,
    # ingest-parsed events, ingest-quantized codes — not re-derivations
    # of it, so the HEADLINE measures the graft-served plans and the
    # one-time layout cost is reported alongside (bucket_write_sec,
    # fingerprint-guarded so an existing current layout costs ~0).
    # The PLAIN layout is re-measured for the promoted queries as the
    # secondary treatment below, with full content parity asserted
    # between the two. SPARK_GRAFT_LAYOUT=plain restores the old
    # plain-primary protocol. DuckDB's side always runs the plain SQL on
    # the plain parquet (the BASELINE.md condition).
    layout = os.environ.get("SPARK_GRAFT_LAYOUT", "graft")
    n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", "0")) or cpus
    # bucket_write_sec is numeric-or-null, ALWAYS (ADVICE r11): failure
    # text goes in the separate layout_error field so record consumers
    # that parse the timing as a number keep working on exactly the runs
    # that need inspection.
    bucket_write_sec = None
    layout_error = None
    if layout == "graft":
        try:
            bucket_write_sec = write_bucketed_layout(spark, sf_dir, n_buckets)
            spark.conf.set("spark.graft.bucketedLayout", "true")
        except Exception as exc:  # noqa: BLE001 — layout is additive; fall back visibly
            layout = "plain"
            layout_error = f"graft build failed: {type(exc).__name__}: {exc}"
            spark.conf.set("spark.graft.bucketedLayout", "false")
            print(f"# graft layout build failed, plain headline: {exc}", file=sys.stderr)

    # One full plan-build of the set, timed in aggregate (reported
    # separately as plan_build_sec).
    names = [n for n in BENCH_QUERIES if reg.get(n) is not None]
    t_build0 = time.perf_counter()
    for name in names:
        # build + analyze + optimize + physical-plan: the full client-side
        # cost excluded from the per-pass timers below, reported here.
        reg[name].spark_fn(spark, sf_dir)._jdf.queryExecution().executedPlan()
    plan_build_sec = round(time.perf_counter() - t_build0, 4)

    # One untimed full-set execution pass BEFORE the measured loop: on a
    # cold box/JVM the first measured queries otherwise absorb one-time
    # costs a single adjacent warm-up can't (page-cache fill of the input
    # dir needs a full scan or two at sf10; first-call JIT of shared
    # codegen/scheduler paths) — measured round 8 as monotone per-pass
    # drift (q1 29→13→3.5 s at sf10 cold vs stable 1.4-2.1 s warm). Each
    # query still gets its own ADJACENT warm-up right before its timed
    # passes (the JMH adjacency rule), so this pre-pass only moves the
    # set-wide one-time costs out of whichever query happens to run first.
    for name in names:
        reg[name].spark_fn(spark, sf_dir).toPandas()

    # Per-query measurement, ENGINE-INTERLEAVED (see module docstring):
    # for each query, Spark warm-up then DuckDB warm-up (both untimed),
    # then alternating timed passes S,D,S,D,... so ambient load drifts
    # into both sides of each per-query ratio equally. Spark's own
    # warm-up stays adjacent to its passes: interleaving OTHER SPARK
    # PLANS between a query's warm-up and measurement was measured to
    # cost ~1.5x (megamorphic JIT inline caches at shared virtual call
    # sites; sam_flags: 1.55s -> 1.02s -> 0.15s back-to-back after a
    # full foreign pass) — but DuckDB passes are native code outside the
    # JVM and do not perturb those call sites. Each Spark pass builds a
    # FRESH DataFrame (fresh shuffle lineage -> full recompute; build
    # outside the timer); each DuckDB pass re-executes + fetchall.
    debug = os.environ.get("SPARK_GRAFT_BENCH_DEBUG", "0") not in ("0", "false")
    con = duck_connection(sf_dir)
    oracle_sqls = {n: reg[n].oracle for n in names if reg[n].oracle}
    duck_serve = _duck_serve()
    duck_index_build: dict[str, float] = {}
    timings: dict[str, float] = {}
    build_timings: dict[str, float] = {}
    duck_timings: dict[str, float] = {}
    samples: dict[str, dict[str, list[float]]] = {}
    rows: dict[str, int] = {}
    promoted_pdfs: dict = {}  # headline-layout results for the parity check
    for name in names:
        t0 = time.perf_counter()
        reg[name].spark_fn(spark, sf_dir).toPandas()  # untimed Spark warm-up
        warm_s = time.perf_counter() - t0
        sql = _duck_sql_for(name, con, oracle_sqls, duck_serve, duck_index_build)
        if sql is not None:
            con.execute(sql).fetchall()  # untimed DuckDB warm-up
        if debug:
            print(f"#   {name} warmup: {warm_s:.3f}s", file=sys.stderr)
        s_passes: list[float] = []
        d_passes: list[float] = []
        b_passes: list[float] = []
        last_pdf: list = [None]

        def one_pass(_pass: int) -> None:
            t0 = time.perf_counter()
            df = reg[name].spark_fn(spark, sf_dir)
            # Force analysis + Catalyst optimization + physical planning
            # OUTSIDE the exec timer, same as the Python-side plan build:
            # it is client/optimizer latency (15-100 ms per query at
            # sf0.1 — measured round 8), not engine execution, and it
            # amortizes to zero at the 100 TB target. The build IS timed
            # per query per pass and reported as build_sec (ADVICE r8):
            # a query whose builder runs eager Spark jobs (e.g. an
            # IVF entry training its codebook in spark_fn) shows that
            # cost there instead of it silently vanishing from the record.
            # (The DuckDB side keeps its ~1 ms parse+plan inside its
            # timer.)
            df._jdf.queryExecution().executedPlan()
            b_passes.append(round(time.perf_counter() - t0, 4))
            t0 = time.perf_counter()
            pdf = df.toPandas()
            dt = round(time.perf_counter() - t0, 4)
            last_pdf[0] = pdf
            rows[name] = len(pdf)
            s_passes.append(dt)
            if sql is not None:
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                d_passes.append(round(time.perf_counter() - t0, 4))
            if debug:
                dd = f" duck={d_passes[-1]:.3f}s" if sql is not None else ""
                print(f"#   {name} pass{_pass}: {dt:.3f}s{dd}", file=sys.stderr)

        for _pass in range(timed_passes):
            one_pass(_pass)
        # Sub-second rows get median-of-5 (VERDICT r12 #2): per-pass
        # stage-dispatch noise there is the same order as the
        # measurement (the r12 sf10 record's only >2x row was a 0.8 s
        # query whose median a same-day re-run didn't corroborate), and
        # two extra interleaved passes cost milliseconds in absolute
        # terms. Multi-second rows keep the configured pass count —
        # their medians are already noise-dominated-corroborated.
        while len(s_passes) < 5 and median(s_passes) < 1.0:
            one_pass(len(s_passes))
        pdf = last_pdf[0]
        timings[name] = round(median(s_passes), 4)
        build_timings[name] = round(median(b_passes), 4)
        samples[name] = {"spark": s_passes, "build": b_passes}
        if name in BUCKETED_QUERIES:
            promoted_pdfs[name] = pdf
        if d_passes:
            duck_timings[name] = round(median(d_passes), 4)
            samples[name]["duckdb"] = d_passes
    for name, dt in timings.items():
        du = duck_timings.get(name)
        tail = f" duckdb={du:.3f}s ratio={dt / du:.2f}" if du else ""
        print(f"# {name}: {dt:.3f}s rows={rows[name]}{tail}", file=sys.stderr)

    # SECOND TREATMENT: the OTHER layout. With a graft headline the
    # promoted queries are re-measured on the plain layout (what they
    # cost when the engine must re-derive the layout's content at query
    # time); under SPARK_GRAFT_LAYOUT=plain the roles flip back to the
    # r8-r10 protocol (plain headline, graft treatment). Either way the
    # SAME adjacent-warm-up interleaved protocol runs and FULL content
    # parity between the two layouts is asserted — a layout that changes
    # any value raises BucketedParityError and fails the bench (ADVICE
    # r9).
    other_out: dict = {}
    other_label = "plain" if layout == "graft" else "bucketed"
    try:
        if other_label == "bucketed":
            bucket_write_sec = write_bucketed_layout(spark, sf_dir, n_buckets)
            spark.conf.set("spark.graft.bucketedLayout", "true")
        else:
            spark.conf.set("spark.graft.bucketedLayout", "false")
        b_timings: dict[str, float] = {}
        b_duck: dict[str, float] = {}
        b_samples: dict[str, dict] = {}
        for name in BUCKETED_QUERIES:
            if name not in names:
                continue
            pdf = reg[name].spark_fn(spark, sf_dir).toPandas()  # warm-up
            sql = _duck_sql_for(name, con, oracle_sqls, duck_serve, duck_index_build)
            if sql is not None:
                con.execute(sql).fetchall()
            s_passes, d_passes = [], []
            for _pass in range(timed_passes):
                df = reg[name].spark_fn(spark, sf_dir)
                df._jdf.queryExecution().executedPlan()
                t0 = time.perf_counter()
                pdf = df.toPandas()
                s_passes.append(round(time.perf_counter() - t0, 4))
                if sql is not None:
                    t0 = time.perf_counter()
                    con.execute(sql).fetchall()
                    d_passes.append(round(time.perf_counter() - t0, 4))
            if _sorted_records(pdf) != _sorted_records(promoted_pdfs[name]):
                raise BucketedParityError(
                    f"{other_label} layout changed {name}'s result content"
                )
            b_timings[name] = round(median(s_passes), 4)
            b_samples[name] = {"spark": s_passes}
            if d_passes:
                b_duck[name] = round(median(d_passes), 4)
                b_samples[name]["duckdb"] = d_passes
        # samples first, summary last — same tail-survival ordering as the
        # top-level dict
        other_out = {
            "samples": b_samples,
            "queries": b_timings,
        }
        if b_duck:
            other_out["ratio_per_query"] = {
                n: round(b_timings[n] / b_duck[n], 3) for n in b_duck if b_duck[n] > 0
            }
        for name, dt in b_timings.items():
            du = b_duck.get(name)
            tail = f" duckdb={du:.3f}s ratio={dt / du:.2f}" if du else ""
            print(f"# {other_label} {name}: {dt:.3f}s{tail}", file=sys.stderr)
    except BucketedParityError:
        # a correctness break must fail the bench visibly — never demote
        # it to a skipped-treatment note (ADVICE r9)
        spark.conf.set("spark.graft.bucketedLayout", "false")
        raise
    except Exception as exc:  # noqa: BLE001 — treatment is additive; never sink the headline
        other_out = {"error": f"{type(exc).__name__}: {exc}"}
        print(f"# {other_label} treatment failed: {exc}", file=sys.stderr)
    finally:
        spark.conf.set("spark.graft.bucketedLayout", "false")

    total = round(sum(timings.values()), 4)
    # Summary-only stdout (VERDICT r9 #3): the driver records a bounded
    # stdout window, so the bulky raw data — per-pass samples, per-query
    # build times — goes to a sidecar under .bench/ and stdout carries
    # ONLY the summary object (~3 KB), small enough to parse whole.
    other_samples = (
        other_out.pop("samples", None) if isinstance(other_out, dict) else None
    )
    sidecar = {
        "sf": sf_dir,
        "passes": timed_passes,
        "plan_build_sec": plan_build_sec,
        "box": box,
        "samples": samples,
        "build_sec": build_timings,
    }
    if other_samples is not None:
        sidecar[f"{other_label}_samples"] = other_samples
    side_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")
    side_path = os.path.join(side_dir, "bench_samples_last.json")
    try:
        os.makedirs(side_dir, exist_ok=True)
        with open(side_path, "w") as fh:
            json.dump(sidecar, fh)
    except OSError as exc:  # read-only checkout: note it, keep the summary
        side_path = f"unwritable: {exc}"
    out = {
        "metric": "headline_query_wall_seconds",
        "unit": "sec",
        "sf": sf_dir,
        "passes": timed_passes,
        "protocol": "engine-interleaved, per-engine median of passes",
        "layout": layout,
        "n_buckets": n_buckets,
        "bucket_write_sec": bucket_write_sec,
        "layout_error": layout_error,
        # one-time DuckDB index-build cost for queries timed on a
        # like-for-like serving path (see _duck_serve) — the oracle-side
        # twin of bucket_write_sec
        "duck_index_build_sec": duck_index_build or None,
        "plan_build_sec": plan_build_sec,
        "samples_file": side_path,
        "box": box,
        "queries": timings,
        "value": total,
        other_label: other_out,
    }
    if duck_timings:
        dtotal = round(sum(duck_timings.values()), 4)
        out["duckdb"] = {"value": dtotal, "queries": duck_timings}
        out["ratio_per_query"] = {
            n: round(timings[n] / duck_timings[n], 3)
            for n in duck_timings
            if duck_timings[n] > 0
        }
        if dtotal > 0:
            out["ratio_vs_duckdb"] = round(total / dtotal, 3)
            if layout == "graft":
                # Self-describing alias (ADVICE r11): the headline ratio
                # compares Spark-on-graft-layout vs DuckDB-on-plain-parquet
                # — a cross-layout number, NOT comparable to the r8-r10
                # plain-vs-plain records. ratio_vs_duckdb is kept for
                # tooling continuity; this name states the treatment.
                out["graft_ratio_vs_duckdb_plain"] = out["ratio_vs_duckdb"]
    if (
        layout == "graft"
        and duck_timings
        and isinstance(other_out, dict)
        and other_out.get("queries")
    ):
        # Like-for-like plain-vs-plain aggregate (ADVICE r11): full-set
        # total with the layout-promoted queries swapped to their
        # plain-layout timings — directly comparable to the r8-r10
        # plain-primary records, and kept in the never-dropped core of
        # the compact line below.
        swapped = dict(timings)
        swapped.update(other_out["queries"])
        out["plain_equiv_value"] = round(sum(swapped.values()), 4)
        if out["duckdb"]["value"] > 0:
            out["plain_equiv_ratio_vs_duckdb"] = round(
                out["plain_equiv_value"] / out["duckdb"]["value"], 3
            )
    # Full summary goes to a sidecar; STDOUT carries a compact line with
    # a HARD size guard. The driver records only the last 2,000 chars of
    # stdout — r8-r10 all shipped `parsed: null` because the summary
    # line exceeded that and its head was truncated away (VERDICT r10
    # ask #2). Budget 1,900 chars; optional sections are dropped
    # largest-first until the line fits, so the parseable core
    # (metric/value/queries/ratio) always survives.
    summary_path = os.path.join(side_dir, "bench_summary_last.json")
    try:
        with open(summary_path, "w") as fh:
            json.dump(out, fh)
    except OSError as exc:
        summary_path = f"unwritable: {exc}"
    compact = {
        "metric": "headline_query_wall_seconds",
        "unit": "sec",
        "sf": sf_dir,
        "layout": layout,
        "bucket_write_sec": bucket_write_sec,
        "value": total,
        "queries": timings,
        "detail_file": summary_path,
    }
    if layout_error:
        compact["layout_error"] = layout_error[:200]
    if duck_timings:
        # Per-row DuckDB seconds in the COMPACT line (VERDICT r13 #3):
        # round-over-round PERF diffs need them to normalize box drift
        # (r13's 16 phantom "regressions" were a 2.7x slower box, visible
        # only because DuckDB's total moved with it). Names are not
        # repeated — the 1,900-char budget cannot fit a second 24-key
        # dict — instead ``queries_sec`` aligns positionally with the
        # key order of ``queries`` (null where a row has no DuckDB SQL).
        # Additions-only: every pre-existing field is unchanged.
        compact["duckdb"] = {
            "value": out["duckdb"]["value"],
            "queries_sec": [duck_timings.get(n) for n in timings],
        }
        if "ratio_vs_duckdb" in out:
            compact["ratio_vs_duckdb"] = out["ratio_vs_duckdb"]
        if "graft_ratio_vs_duckdb_plain" in out:
            compact["graft_ratio_vs_duckdb_plain"] = out["graft_ratio_vs_duckdb_plain"]
    if isinstance(other_out, dict) and other_out.get("queries"):
        compact[other_label] = {
            "value": round(sum(other_out["queries"].values()), 4),
        }
        if other_out.get("ratio_per_query"):
            compact[other_label]["ratio_per_query"] = other_out["ratio_per_query"]
        # plain-vs-plain equivalents stay in the NEVER-DROPPED core so a
        # tail-bounded reader always sees a number comparable to the
        # r8-r10 plain-primary records next to the cross-layout ratio.
        for key in ("plain_equiv_value", "plain_equiv_ratio_vs_duckdb"):
            if key in out:
                compact[key] = out[key]
    elif isinstance(other_out, dict) and other_out.get("error"):
        compact[other_label] = {"error": str(other_out["error"])[:200]}
    for drop in (
        ("duckdb", "queries_sec"),
        (other_label, "ratio_per_query"),
        (other_label,),
        ("detail_file",),
        ("queries",),
    ):
        if len(json.dumps(compact)) <= 1900:
            break
        node = compact
        for k in drop[:-1]:
            node = node.get(k, {})
        node.pop(drop[-1], None)
    print(json.dumps(compact))


if __name__ == "__main__":
    main()

"""SparkSession factory tuned for the MIINT-on-Spark engine.

Local testing runs on ``local[N]`` but every default here is chosen so the
same plan survives a 1000-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting) — replaces hand-tuned
  ``spark.sql.shuffle.partitions`` at scale.
- Arrow enabled — every pandas UDF in this package moves batches, not rows.
- Parquet filter/column pushdown left at defaults (on); operators in this
  package are written so predicates reach the scan (checked in tests via
  ``explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Single source of truth for the driver heap default: get_spark() configures
# the JVM with it and _pin_total_bytes() derives the pin budget from it, so
# the two can never drift (they previously disagreed, 8g vs 4g).
DEFAULT_DRIVER_MEM = "8g"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "duckdb_miint_spark",
    cpus: int | None = None,
    aqe: bool | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a session with scale-appropriate defaults.

    AQE defaults ON (runtime coalescing + skew splitting is the right call
    on a real cluster). ``aqe=False`` / SPARK_GRAFT_AQE=0 exists for
    small-scale benchmarking, where AQE's per-stage re-planning round-trips
    cost more than they save — a latency/throughput trade, not a semantics
    change.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if aqe is None:
        aqe = os.environ.get("SPARK_GRAFT_AQE", "1") not in ("0", "false")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "0")) or max(cpus, 8)
    # AQE decides the real per-stage partition count by coalescing DOWN from
    # initialPartitionNum — so the initial number must be sized for the
    # LARGEST stage, not the average one. 4x cores keeps every core busy on
    # data-heavy stages (sf10 validation: 8 static reduce tasks on 32 cores
    # was a 2-4x tax on every shuffle-heavy query) while small stages
    # coalesce back to a handful of tasks at no cost.
    initial_partitions = int(os.environ.get("SPARK_GRAFT_INITIAL_PARTS", "0")) or max(
        shuffle_partitions, 4 * cpus
    )
    # Dimension-table broadcast must survive scale-up: the 10 MB default
    # stops broadcasting a TPC-H customer/supplier dim long before a real
    # cluster would (q5 at sf10 degraded to sort-merge-shuffling the 60M-row
    # fact — 33x vs DuckDB; broadcast restores the canonical star-join
    # plan). 64 MB is conservative for 100 TB clusters with multi-GB
    # executor heaps; override with SPARK_GRAFT_BROADCAST.
    broadcast_threshold = os.environ.get("SPARK_GRAFT_BROADCAST", "64MB")
    # Executor Python workers must be able to import this package no matter
    # the caller's cwd: mapInArrow scans and pandas UDFs deserialize by
    # module reference. PYTHONPATH is read by the launched python workers
    # (local mode) and spark.executorEnv covers cluster executors.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )
    # Cap BLAS pools in the Python workers: numpy's OpenBLAS defaults to
    # one thread per CORE, and Spark already runs one worker per core —
    # uncapped, a matmul-heavy stage spawns cores^2 threads (measured:
    # the IVF routing dgemm ran at ~200 MFLOP/s under 32x32 = 1024
    # contending threads vs ~12 GFLOP/s single-threaded). 2 threads
    # keeps a little headroom for stages with fewer tasks than cores
    # (per-cluster dgemm stages) without meaningful oversubscription.
    # Must be in the process env BEFORE worker numpy import — exporting
    # here covers local-mode daemons (children of this process's JVM);
    # the executorEnv confs below cover real-cluster executors.
    blas_threads = os.environ.get("SPARK_GRAFT_BLAS_THREADS", "2")
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, blas_threads)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(initial_partitions))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", broadcast_threshold)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", broadcast_threshold)
        .config("spark.sql.session.timeZone", "UTC")
        # Sorted-bucket scan ordering: lets the planner elide the per-task
        # Sort under an SMJ/window whose keys prefix-match a bucketed
        # table's sortBy columns — the payoff of write_bucketed's
        # per-bucket sort. Spark only honors it when every bucket is a
        # SINGLE file (multi-file buckets, e.g. after incremental
        # appends, re-insert the Sort — correctness never depends on
        # it), which is exactly the invariant storage.compact_graft_layout
        # restores. Off by default since Spark 3.0 only because eager
        # file listing at planning can be costly on huge tables.
        .config(
            "spark.sql.legacy.bucketedTableScan.outputOrdering",
            os.environ.get("SPARK_GRAFT_BUCKET_ORDERING", "true"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM))
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "4g"),
        )
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", os.environ["OPENBLAS_NUM_THREADS"])
        .config("spark.executorEnv.OMP_NUM_THREADS", os.environ["OMP_NUM_THREADS"])
        .config("spark.executorEnv.MKL_NUM_THREADS", os.environ["MKL_NUM_THREADS"])
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def dir_parquet_bytes(sf_dir: str) -> int:
    """Total bytes of the *.parquet inputs under ``sf_dir``."""
    try:
        return sum(
            os.path.getsize(os.path.join(sf_dir, f))
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    except OSError:
        return 0


def size_session_for_input(spark: SparkSession, input_bytes: int) -> int:
    """Resize the AQE initial-partition count to the ACTUAL input: one
    shuffle partition per ~32 MB, clamped to [cores, 4x cores].

    ``initialPartitionNum`` is a runtime SQL conf, so this applies to an
    existing session. The 4x-cores static default in :func:`get_spark` is
    sized for the largest stage of a big job; on small inputs it is pure
    scheduling tax — measured at sf1 (170 MB): having_big_orders
    1.69 s -> 2.81 s and woltka_ogu_per_sample 2.12 s -> 2.84 s going
    from input-sized (32) to 4x cores (128), medians of 3 (PERF.md r6
    A/B). Call this whenever the input size is known (bench.py does)."""
    cores = spark.sparkContext.defaultParallelism
    target = max(cores, min(4 * cores, input_bytes // (32 << 20)))
    spark.conf.set(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(target)
    )
    # Scan-side parallelism follows the same logic: the 128 MB
    # maxPartitionBytes default turns a 170 MB table into a 2-task scan
    # no matter how many row groups it has. One scan split per
    # ~input/(2*cores), clamped to [4 MB, 128 MB], keeps every core busy
    # on small-but-hot inputs and converges to the default at scale.
    split = max(4 << 20, min(128 << 20, input_bytes // (2 * cores) or (4 << 20)))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    # openCostInBytes floors the split size (maxSplitBytes >= openCost):
    # the 4 MB default makes a 6 MB compressed-text table a 2-task scan,
    # serializing CPU-heavy per-row work. Scale it down with the input —
    # aggressively (divisor 32*cores): a small compressed-text table
    # (documents at sf2: 12 MB) carries seconds of per-row CPU, so its
    # scan must split to full parallelism even though its share of the
    # input bytes is tiny (r7: an 8*cores divisor floored it at 1.3 MB →
    # 10 of 32 cores on simhash/token/quality scans, +1-3 s each
    # unpinned). Clamped so many-small-file reads at 100 TB (where
    # input_bytes is huge and the 4 MB cap binds) don't over-fragment.
    open_cost = max(64 << 10, min(4 << 20, input_bytes // (32 * cores)))
    spark.conf.set("spark.sql.files.openCostInBytes", str(open_cost))
    # NOT set (r14, measured): coalescePartitions.parallelismFirst=false
    # + an input-scaled advisoryPartitionSizeInBytes was the candidate
    # fix for dim-sized reduce stages fanning to `cores` tasks (VERDICT
    # r13 #5 — 9 of 24 bench rows ran faster at 8 cores than 32). Three
    # within-session interleaved A/Bs (tools/ab_aqe.py) killed it: at
    # sf10 under AQE-on the byte-based coalescing SERIALIZES CPU-dense
    # reduce stages whose shuffled bytes are tiny (minhash 2.49x,
    # dedup_exact_groups 1.66x, geomean 1.127 across the bench set) —
    # bytes do not measure CPU, which is exactly why Spark defaults
    # parallelismFirst=true — and at sf2 AQE is off below the 1 GB gate
    # anyway, so there is no regime where the profile helps. The sf2
    # AQE off-vs-on A/B (geomean 0.987, but lsh_near_dup_pairs +41%)
    # keeps the sub-GB gate as-is.
    # AQE's value is runtime re-planning — skew splitting, partition
    # coalescing, join-strategy switches — all of which need stages big
    # enough for the per-stage replan round-trip to pay for itself. With
    # partitions already sized to the input (above), a sub-GB workload
    # gets no decision AQE could improve, and the replan tax is ~10% of
    # wall (sf2 full-set interleaved A/B: Spark 38.8 s AQE-on vs 35.1 s
    # off under identical conditions, DuckDB side equal). Disable below
    # 1 GB compressed input; at sf10 (1.7 GB) and on any real cluster
    # it stays ON — skew and mis-estimates are real there. Explicit
    # SPARK_GRAFT_AQE always wins.
    if os.environ.get("SPARK_GRAFT_AQE") is None and input_bytes < (1 << 30):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    return target


# Per-process cache of small repartitioned inputs (keyed by Spark app id so
# a stopped/recreated session never serves stale DataFrames).
_SMALL_INPUT_CACHE: dict = {}
_PINNED_TOTALS: dict = {}


def _pin_bytes() -> int:
    """Per-table size cap for input pinning; 0 (the default) disables it."""
    return int(os.environ.get("SPARK_GRAFT_PIN_BYTES", "0"))


def _pin_total_bytes() -> int:
    """CUMULATIVE compressed-bytes budget for pinning, per application.

    Caching is only a win while every cached table actually stays in the
    storage pool; past that point tables evict each other and every pass
    re-scans AND re-caches (measured at sf10: q1 swung 10-80 s with all
    1.7 GB of input pinned into a 64 g heap vs a stable 1.9 s unpinned —
    the working set in columnar cache plus execution memory thrashes).
    Default: 1/64 of the driver heap in compressed input bytes (a ~6 GB
    columnar residency at the default 10-20x text/array expansion) —
    everything pins at the sf2 headline (388 MB), facts stop pinning at
    sf10+, where the multi-row-group native scans are pin-equivalent
    anyway (PERF.md round-7). Explicit env always wins."""
    env = os.environ.get("SPARK_GRAFT_PIN_TOTAL_BYTES")
    if env is not None:
        return int(env)
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM).lower().rstrip("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(mem[-1], 1)
    heap = int(mem[:-1]) * mult if mem[-1] in "kmg" else int(mem)
    return max(256 << 20, heap // 64)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table read with OPT-IN small-input parallelism repair.

    A parquet file written as ONE row group scans as one non-empty task no
    matter how many byte-range splits Spark makes (row groups go to the
    task holding their midpoint), so heavy per-row expressions downstream
    run on a single core even on local[32]. With SPARK_GRAFT_PIN_BYTES=N
    set (bench.py sets it), inputs smaller than N are repartitioned to the
    session's default parallelism and cached once per process — the Spark
    analogue of the warm DuckDB buffer pool. Default is OFF: plan-shape
    tests assert parquet pushdown on the raw scans, and at cluster scale
    inputs are many-file / many-row-group so the repair is moot.
    """
    # Opt-in bucketed layout: when spark.graft.bucketedLayout=true and
    # the catalog graft graft_b_<name> (a plain copy re-bucketed on the
    # join key, see storage.graft_catalog) is current, serve that instead
    # of the plain parquet file. Joins/aggregations on the bucket key then
    # run with NO Exchange on the bucketed side — the 100×-scale layout
    # recommendation for fact-to-fact joins (orders ⋈ lineitem); see
    # PERF.md "bucketed-layout A/B". Tables with no graft skip the check.
    #
    # NEVER cache a bucketed table. The pin repair exists for
    # single-row-group files whose scan can't parallelize —
    # a bucketed table is n_buckets files and never has that
    # problem — and .cache() actively DESTROYS the layout's
    # two other advantages: InMemoryRelation drops parquet
    # filter pushdown (the whole deserialized fact is scanned
    # per query) and discards the per-bucket file sort order
    # (outputOrdering), reinserting per-task Sorts under every
    # SMJ. Measured at sf2: q3 on a cached bucketed lineitem
    # ran 11-17 s vs 0.8-1.5 s on the native bucketed scan.
    from duckdb_miint_spark import storage

    graft = f"graft_b_{name}"
    if graft in storage.graft_catalog():
        bucketed = storage.serve(spark, sf_dir, graft)
        if bucketed is not None:
            return bucketed
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    pin = _pin_bytes()
    if pin <= 0:
        return df
    try:
        size = os.path.getsize(path) if os.path.isfile(path) else sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
    except OSError:
        return df
    if size >= pin:
        return df
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    cached = _SMALL_INPUT_CACHE.get(key)
    if cached is None:
        app = spark.sparkContext.applicationId
        spent = _PINNED_TOTALS.get(app, 0)
        if spent + size > _pin_total_bytes():
            return df  # budget exhausted: stay on the native parallel scan
        _PINNED_TOTALS[app] = spent + size
        cached = df.repartition(spark.sparkContext.defaultParallelism).cache()
        _SMALL_INPUT_CACHE[key] = cached
    return cached


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict:
    """Register the driver-provided parquet tables as temp views; return dict of DataFrames."""
    out = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out

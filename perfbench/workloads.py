"""The benchmark workloads. Each is one closed-loop client: a single
SparkSession that runs one op at a time and waits for its result, which
is how the library is used.

An op is timed from the call that builds its DataFrame to the last Arrow
batch collected (``DataFrame.toArrow``), or to the end of the sink call
for copy ops. Result checks run after the timer stops, and their time is
kept out of the timed loop's wall time.
"""

from __future__ import annotations

import dataclasses
import gzip
import os
import random
import shutil
import struct
import sys
import time
import traceback
from collections.abc import Callable

import duckdb

import gen
import harness as H

# --- ops ------------------------------------------------------------------------


@dataclasses.dataclass
class Op:
    """One op type. ``build`` returns the DataFrame to collect; a sink op
    also has ``write(df, out_path)``. ``check(result)`` is True when the
    result is correct; ``grafts`` are the graft tables the op should be
    served from."""

    name: str
    build: Callable
    check: Callable
    build_layer: str = "queries.build"
    write: Callable | None = None
    grafts: tuple = ()


@dataclasses.dataclass
class Sample:
    op: str
    latency: float
    ok: bool
    traced: bool
    build_s: float = 0.0
    plan_s: float = 0.0
    collect_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    served: int | None = None


class Context:
    """Per-run state the workloads share."""

    def __init__(self, spark, work, seed, seconds, trace, scale, corrupt, start):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.corrupt = corrupt
        self.tracer = H.Tracer(False)
        self.samples: list[Sample] = []
        self.setup_checks = [0, 0]  # attempted, failed
        self.layer: dict[str, float] = {}
        self.record: dict = {}
        self.check_s = 0.0  # seconds of checks and measurements in the timed loop
        self._group = 0
        self._out = 0
        self._mark = start

    def loop_wall(self) -> float:
        """Seconds since the timed loop started, checks and measurements left out."""
        return time.perf_counter() - self.loop_start - self.check_s

    def mark(self, stage: str) -> None:
        """Record the seconds since the previous mark as set-up ``stage``."""
        now = time.perf_counter()
        self.record.setdefault("setup_stages_s", {})[stage] = now - self._mark
        self._mark = now

    def out_path(self, suffix: str) -> str:
        self._out += 1
        return os.path.join(self.work, "out", f"{self._out:05d}{suffix}")

    def setup_check(self, ok: bool, what: str) -> None:
        self.setup_checks[0] += 1
        if not ok:
            self.setup_checks[1] += 1
            self.record.setdefault("failed_checks", []).append(what)

    def run_op(self, op: Op, traced: bool = False, record: bool = True) -> Sample:
        """Run ``op`` once; with ``traced``, record spans, force planning
        separately and read its job group's counters."""
        spark, tr = self.spark, self.tracer
        tr.enabled = traced
        group = None
        if self.trace:
            self._group += 1
            group = f"bench-{self._group}"
            spark.sparkContext.setJobGroup(group, op.name)
        s = Sample(op.name, 0.0, False, traced)
        out = self.out_path(".out") if op.write else None
        t0 = t1 = t2 = time.perf_counter()
        try:
            with tr.span("op", op.name):
                with tr.span(op.build_layer, op.name):
                    df = op.build()
                t1 = t2 = time.perf_counter()
                if traced and op.write is None:
                    with tr.span("spark.plan", op.name):
                        df._jdf.queryExecution().executedPlan()
                    t2 = time.perf_counter()
                if op.write is None:
                    with tr.span("spark.collect", op.name):
                        result = df.toArrow()
                else:
                    with tr.span("sinks.write", op.name):
                        op.write(df, out)
                    result = out
        except Exception:  # noqa: BLE001 — a raising op is a failed op, not a crash
            traceback.print_exc(file=sys.stderr)
            tr.enabled = False
            s.latency = time.perf_counter() - t0
            if record:
                self.samples.append(s)
            return s
        t3 = time.perf_counter()
        tr.enabled = False
        s.latency, s.build_s, s.plan_s, s.collect_s = t3 - t0, t1 - t0, t2 - t1, t3 - t2
        if traced:
            s.jobs, s.tasks, s.failed_tasks = H.job_counts(spark, group)
            if op.grafts and op.write is None:
                plan = df._jdf.queryExecution().executedPlan().toString()
                s.served = int(all(g in plan for g in op.grafts))
                self.serve_check(op)
        t4 = time.perf_counter()
        if op.name == self.corrupt and op.write is None:
            result = result.slice(1)  # a deliberately wrong result
        s.ok = bool(op.check(result))
        self.check_s += time.perf_counter() - t4
        if out:
            shutil.rmtree(out, ignore_errors=True) if os.path.isdir(out) else os.remove(out)
        if record:
            self.samples.append(s)
        return s

    def serve_check(self, op: Op) -> None:
        """Time the storage layer's serve decision for each graft ``op``
        reads: one ``graft_fingerprint`` plus ``serve_bucketed`` call."""
        from duckdb_miint_spark import storage

        cat = storage.graft_catalog()
        self.tracer.enabled = True
        for g in op.grafts:
            with self.tracer.span("storage.serve_check", op.name):
                fp = storage.graft_fingerprint(self.sf, cat[g].identity, cat[g].sources)
                storage.serve_bucketed(self.spark, g, fp)
        self.tracer.enabled = False

    def warm_up(self, ops: list[Op], rounds: int) -> None:
        """``rounds`` untimed, checked runs of each op: first runs pay JIT
        compilation and Python worker start-up, and short ops keep getting
        faster for dozens of runs."""
        for _ in range(rounds):
            for op in ops:
                w = self.run_op(op, record=False)
                self.setup_check(w.ok, f"warmup:{op.name}")
                self.record.setdefault("warmup_latency_s", {}).setdefault(
                    op.name, []).append(w.latency)

    def blocked_loop(self, ops: list[Op], rounds: int) -> float:
        """``rounds`` seed-ordered rounds, each running every op type once.
        The number of rounds is fixed before the loop starts, so the work
        never depends on how fast the program is. In a traced run each
        repetition runs twice, traced and untraced, in alternating order.
        Returns the loop's wall time without checks."""
        rng = random.Random(self.seed)
        gc0 = H.gc_seconds(self.spark)
        self.loop_start, self.check_s = time.perf_counter(), 0.0
        for rnd in range(rounds):
            order = list(ops)
            rng.shuffle(order)
            for i, op in enumerate(order):
                if self.trace:
                    first = (i + rnd) % 2 == 1
                    self.run_op(op, traced=first)
                    self.run_op(op, traced=not first)
                else:
                    self.run_op(op)
        self.layer["spark.gc_s"] = H.gc_seconds(self.spark) - gc0
        self.record["rounds"] = rounds
        return self.loop_wall()

    def build_grafts(self, names: list[str]) -> None:
        """One ``build_graft_layout(tables=[g])`` call per graft."""
        from duckdb_miint_spark import storage

        per = {}
        self.tracer.enabled = bool(self.trace)
        for g in names:
            t = time.perf_counter()
            with self.tracer.span("storage.build", g):
                storage.build_graft_layout(self.spark, self.sf, tables=[g])
            per[g] = time.perf_counter() - t
        self.tracer.enabled = False
        self.record["storage.build_s"] = per
        self.layer["storage.build_s"] = sum(per.values())


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            path = os.path.join(sf_dir, name)
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle(con, sql: str) -> tuple:
    res = con.execute(sql)
    return H.canonical(res.fetchall(), [d[0] for d in res.description])


def registry_ops(ctx: Context, names: dict[str, tuple]) -> list[Op]:
    """Registry queries as ops whose check compares against
    ``ctx.expected[name]`` (filled in by the workload's set-up)."""
    from duckdb_miint_spark.registry import load_all

    reg = load_all()
    ops = []
    for name, grafts in names.items():
        fn = reg[name].spark_fn
        ops.append(Op(
            name,
            build=lambda fn=fn: fn(ctx.spark, ctx.sf),
            check=lambda t, name=name: H.arrow_canonical(t) == ctx.expected[name],
            grafts=grafts,
        ))
    return ops


def plain_results(ctx: Context, ops: list[Op]) -> dict[str, tuple]:
    """Each op's result with the graft layout switched off."""
    ctx.spark.conf.set("spark.graft.bucketedLayout", "false")
    try:
        return {op.name: H.arrow_canonical(op.build().toArrow()) for op in ops}
    finally:
        ctx.spark.conf.set("spark.graft.bucketedLayout", "true")


# --- shared set-up ------------------------------------------------------------------


def prepare_tables(ctx: Context, fact_dirs: tuple = ()) -> int:
    """Generate the input tables and size the session for them, as the
    program documents; returns their bytes."""
    from duckdb_miint_spark.session import size_session_for_input

    ctx.sf = os.path.join(ctx.work, "sf")
    gen.write_tables(ctx.sf, ctx.seed, ctx.scale, fact_dirs)
    size = H.dir_bytes(ctx.sf)
    size_session_for_input(ctx.spark, size)
    return size


def op_oracle(name: str) -> str:
    from duckdb_miint_spark.registry import load_all

    return load_all()[name].oracle


def warehouse(ctx: Context) -> str:
    return os.path.join(ctx.work, "warehouse")


# --- domain_io ----------------------------------------------------------------------


def _fastq_agg(df):
    from pyspark.sql import functions as F

    return df.agg(
        F.count("*").alias("n_reads"),
        F.sum(F.length("sequence1")).alias("sum_len"),
        F.sum(F.aggregate("qual1", F.lit(0).cast("long"), lambda a, x: a + x)).alias("sum_qual"),
    )


def _sam_agg(df):
    from pyspark.sql import functions as F

    from duckdb_miint_spark.functions import flags as FL
    from duckdb_miint_spark.functions.cigar import alignment_query_length

    def n(c):
        return F.sum(c.cast("int"))

    return df.agg(
        F.count("*").alias("n"),
        F.sum("position").alias("sum_pos"),
        F.sum("stop_position").alias("sum_stop"),
        n(FL.alignment_is_reverse("flags")).alias("n_reverse"),
        n(FL.alignment_is_secondary("flags")).alias("n_secondary"),
        n(FL.alignment_is_supplementary("flags")).alias("n_supplementary"),
        n(FL.alignment_is_paired("flags")).alias("n_paired"),
        F.sum(alignment_query_length("cigar")).alias("sum_qlen"),
    )


def _one_row(expected: dict):
    def check(t):
        rows = t.to_pylist()
        return len(rows) == 1 and {k: rows[0].get(k) for k in expected} == expected
    return check


def _read_text_dir(path: str) -> list[str]:
    lines = []
    for f in sorted(os.listdir(path)):
        if f.startswith("part"):
            opener = gzip.open if f.endswith(".gz") else open
            with opener(os.path.join(path, f), "rt") as fh:
                lines.extend(fh.read().splitlines())
    return lines


def read_bam_records(path: str) -> list[tuple]:
    """(read_id, flag, ref, pos, mapq, cigar) per record of a BAM file."""
    with gzip.open(path, "rb") as fh:
        data = fh.read()
    if data[:4] != b"BAM\x01":
        return []
    off = 4
    (l_text,) = struct.unpack_from("<i", data, off)
    off += 4 + l_text
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    refs = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, off)
        refs.append(data[off + 4:off + 3 + l_name].decode())
        off += 8 + l_name
    out = []
    while off < len(data):
        bsize, ref_id, pos, l_rn, mapq, _bin, n_cig, flag = struct.unpack_from(
            "<iiiBBHHH", data, off
        )
        name = data[off + 36:off + 35 + l_rn].decode()
        cig = struct.unpack_from(f"<{n_cig}I", data, off + 36 + l_rn)
        cigar = "".join(f"{c >> 4}{'MIDNSHP=X'[c & 15]}" for c in cig)
        out.append((name, flag, refs[ref_id], pos + 1, mapq, cigar))
        off += 4 + bsize
    return out


# A round of the five ops takes about 12 s on a 4-core box once warm; one
# timed round per this many seconds of --seconds (at least one).
DOMAIN_ROUND_S = 12
# Untimed rounds first: the first pays Spark's and the Python workers' cold
# start (~15 s). A second would take ~10% off the timed ops but does not
# fit the time budget of the benchmark's runs.
DOMAIN_WARM_ROUNDS = 1


def domain_io(ctx: Context) -> dict:
    from duckdb_miint_spark import sinks, sources
    from duckdb_miint_spark.operators.coverage import genome_coverage

    spark = ctx.spark
    n_reads = max(200, int(ctx.scale * 2_000_000))
    n_aln = max(400, int(ctx.scale * 4_000_000))
    indir = os.path.join(ctx.work, "in")
    os.makedirs(indir)
    fq_recs = gen.fastq_records(ctx.seed, n_reads)
    fq_text = gen.fastq_text(fq_recs)
    fq = os.path.join(indir, "reads.fq")
    with open(fq, "w") as fh:
        fh.write(fq_text)
    fqz = os.path.join(indir, "reads.fq.gz")
    gen.write_bgzf(fqz, fq_text.encode())
    sam_recs = gen.sam_records(ctx.seed, n_aln)
    sam = os.path.join(indir, "aln.sam")
    with open(sam, "w") as fh:
        fh.write(gen.sam_text(sam_recs))
    input_bytes = sum(os.path.getsize(p) for p in (fq, fqz, sam))
    ctx.mark("generate")
    cores = H.usable_cores()
    fq_split = max(16 << 10, os.path.getsize(fq) // (2 * cores))
    fqz_split = max(16 << 10, os.path.getsize(fqz) // (2 * cores))
    sam_split = max(16 << 10, os.path.getsize(sam) // (2 * cores))
    fq_exp = gen.fastq_expected(fq_recs)
    sam_exp = gen.sam_expected(sam_recs)
    covered = gen.covered_bases(sam_recs)
    ref_len = dict(gen.SAM_REFS)
    cov_exp = H.canonical(
        [(n, c, c / ref_len[n]) for n, c in covered.items() if c > 0],
        ["genome_id", "covered", "proportion_covered"],
    )
    fq_lines = sorted(fq_text.splitlines())
    bam_exp = sorted((r[0], r[1], r[2], r[3], r[4], r[5]) for r in sam_recs)

    sink_bytes = ctx.record["sink_bytes"] = {}

    def sink_check(name, same_records):
        """Read the sink's output back; also record how many bytes it wrote."""
        def check(path):
            sink_bytes[name] = H.dir_bytes(path) if os.path.isdir(path) else os.path.getsize(path)
            return same_records(path)
        return check

    def read_fq():  # unpaired reads: the paired-end columns are all null
        return sources.read_fastx(spark, fq, max_split_bytes=fq_split).drop("sequence2", "qual2")

    def read_sam():
        return sources.read_alignments(spark, sam, max_split_bytes=sam_split)

    genomes = spark.createDataFrame([(n, n) for n, _ in gen.SAM_REFS], ["contig_id", "genome_id"])
    totals = spark.createDataFrame(gen.SAM_REFS, ["genome_id", "total_length"])
    ops = [
        Op("scan_fastq_bgzf",
           lambda: _fastq_agg(sources.read_fastx(spark, fqz, max_split_bytes=fqz_split)),
           _one_row(fq_exp), "sources.read"),
        Op("scan_sam_split", lambda: _sam_agg(read_sam()), _one_row(sam_exp), "sources.read"),
        Op("intervals_coverage", lambda: genome_coverage(read_sam(), totals, genomes),
           lambda t: H.arrow_canonical(t) == cov_exp, "sources.read"),
        Op("copy_fastq", read_fq,
           sink_check("copy_fastq", lambda p: sorted(_read_text_dir(p)) == fq_lines),
           "sources.read", write=lambda df, p: sinks.copy_fastq(df, p, single_file=False)),
        Op("copy_bam", read_sam,
           sink_check("copy_bam", lambda p: sorted(read_bam_records(p)) == bam_exp),
           "sources.read",
           write=lambda df, p: sinks.copy_bam(df, p, gen.SAM_REFS, distributed=True)),
    ]
    ctx.warm_up(ops, DOMAIN_WARM_ROUNDS)
    ctx.mark("warmup")
    rounds = max(1, round(ctx.seconds / DOMAIN_ROUND_S))
    ctx.record["loop_wall_s"] = ctx.blocked_loop(ops, rounds)
    if ctx.trace:  # building the readers runs Spark jobs; only traced runs report it
        ctx.record["sources.partitions"] = (
            read_fq().rdd.getNumPartitions() + read_sam().rdd.getNumPartitions()
        )
    rows = {"scan_fastq_bgzf": n_reads, "scan_sam_split": n_aln}
    scans = [s for s in ctx.samples if s.op in rows]
    ctx.record["sources.rows_per_s"] = (
        sum(rows[s.op] for s in scans) / sum(s.latency for s in scans)
    )
    ctx.record["sinks.bytes_per_record"] = (
        sum(ctx.record["sink_bytes"].values()) / (n_reads + n_aln)
    )
    return {"stored_bytes_per_input_byte": sum(ctx.record["sink_bytes"].values()) / input_bytes}


# --- ingest_refresh -------------------------------------------------------------------

INGEST_GRAFTS = [
    "graft_b_events_parsed", "graft_b_events_hourly", "graft_b_word_counts",
    "graft_b_doc_hashes", "graft_b_doc_tokens",
]
# One read round per this many seconds of --seconds (at least one). The
# work of a run is fixed by --seconds, never by how fast the program is, so
# the layout's size and file counts and the mix of batches and reads in
# ops_per_s are the same for every run.
READ_ROUND_S = 2
# Untimed rounds of the fresh reads before the timed batch. These short
# ops keep getting faster for about 70 runs (JIT), to about half their
# second-run latency, and a run timed on that slope moves with how far the
# JIT has got.
INGEST_WARM_ROUNDS = 15
INGEST_READS = {
    "events_hourly": ("graft_b_events_hourly",),
    "json_event_props": ("graft_b_events_parsed",),
    "dedup_exact_groups": ("graft_b_doc_hashes",),
    "token_stats": ("graft_b_doc_tokens",),
    "explode_word_counts": ("graft_b_word_counts",),
}


def _files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def ingest_refresh(ctx: Context) -> dict:
    import numpy as np
    import pyarrow.parquet as pq

    from duckdb_miint_spark import storage

    spark = ctx.spark
    prepare_tables(ctx, fact_dirs=("events", "documents"))
    ops = registry_ops(ctx, INGEST_READS)
    ctx.mark("generate")
    ctx.build_grafts(INGEST_GRAFTS)
    ctx.mark("build")

    def expect() -> None:
        """The oracle's answers over the current (grown) source."""
        con = duck_con(ctx.sf)
        ctx.expected = {op.name: oracle(con, op_oracle(op.name)) for op in ops}

    def verify(stage: str) -> None:
        """Served results against the oracle and the plain derivation,
        outside the timed window."""
        expect()
        for name, got in plain_results(ctx, ops).items():
            ctx.setup_check(got == ctx.expected[name], f"{stage}:plain:{name}")
        for op in ops:
            ctx.setup_check(ctx.run_op(op, record=False).ok, f"{stage}:served:{op.name}")

    rng = np.random.default_rng(ctx.seed + 7)
    n_ev = max(50, int(ctx.scale * 1_000_000) // 20)
    n_doc = max(10, int(ctx.scale * 50_000) // 20)
    next_id = {"events": int(ctx.scale * 1_000_000), "documents": int(ctx.scale * 50_000)}

    def ingest(batch: int) -> tuple[dict, float, int, int]:
        """Append one seeded batch of re-keyed events and documents, then
        refresh the five grafts. Returns the refresh actions, the seconds
        taken, the source bytes appended and the layout bytes written."""
        tables = {
            "events": gen.events_table(rng, next_id["events"], n_ev,
                                       n_users=max(100, int(15_000 * ctx.scale))),
            "documents": gen.documents_table(rng, next_id["documents"], n_doc),
        }
        before = _files(warehouse(ctx))
        appended = 0
        t = time.perf_counter()
        with ctx.tracer.span("ingest.batch", f"batch-{batch}"):
            for name, table in tables.items():
                path = os.path.join(ctx.sf, f"{name}.parquet", f"part-{batch:05d}.parquet")
                pq.write_table(table, path)
                next_id[name] += table.num_rows
                appended += os.path.getsize(path)
            with ctx.tracer.span("storage.refresh", f"batch-{batch}"):
                got = storage.refresh_graft_layout(spark, ctx.sf, tables=INGEST_GRAFTS)
        elapsed = time.perf_counter() - t
        after = _files(warehouse(ctx))
        written = sum(sz for p, sz in after.items() if before.get(p) != sz)
        return got, elapsed, appended, written

    def fresh_reads(rnd: int) -> None:
        """Every read op in a seed-ordered block of two repetitions."""
        order = list(ops)
        random.Random(ctx.seed * 1000 + rnd).shuffle(order)
        for op in order:
            for r in range(2):
                ctx.run_op(op, traced=bool(ctx.trace) and (r + rnd) % 2 == 1)

    ctx.spark.conf.set("spark.graft.bucketedLayout", "true")
    expect()
    ctx.warm_up(ops, INGEST_WARM_ROUNDS)
    ctx.mark("warmup")
    gc0 = H.gc_seconds(spark)
    ctx.loop_start, ctx.check_s = time.perf_counter(), 0.0
    ctx.tracer.enabled = bool(ctx.trace)
    actions, refresh_s, appended, written = ingest(1)
    ctx.tracer.enabled = False
    ctx.samples.append(Sample("ingest_batch", refresh_s, True, bool(ctx.trace)))
    t_check = time.perf_counter()
    if "appended+compacted" in actions.values():
        verify("compaction")
    else:
        expect()
    stored = H.dir_bytes(warehouse(ctx)) / H.dir_bytes(ctx.sf)
    census = [storage.bucket_file_census(spark, g) for g in INGEST_GRAFTS]
    ctx.check_s += time.perf_counter() - t_check
    rounds = max(1, round(ctx.seconds / READ_ROUND_S))
    for rnd in range(rounds):
        fresh_reads(rnd)
    ctx.record["loop_wall_s"] = ctx.loop_wall()
    ctx.layer["spark.gc_s"] = H.gc_seconds(spark) - gc0
    verify("end")
    ctx.layer.update({
        "storage.ingest_rows_per_s": (n_ev + n_doc) / refresh_s,
        "storage.files_per_bucket_max": max((max(c.values()) for c in census if c), default=0),
        "storage.write_amp": written / appended,
    })
    for key in ("appended", "appended+compacted", "rebuilt", "current"):
        ctx.layer[f"storage.refresh_actions.{key.replace('+', '_')}"] = sum(
            1 for a in actions.values() if a == key)
    ctx.record.update({"read_rounds": rounds, "refresh_s": refresh_s,
                       "refresh_actions": actions})
    return {"stored_bytes_per_input_byte": stored}


WORKLOADS = {"domain_io": domain_io, "ingest_refresh": ingest_refresh}

"""Deterministic synthetic FASTQ/SAM fixtures for the split-scan gates.

The split-scan paths (sources/fastx.py byte-range partitions, sources/sam.py
line/BGZF-block partitions) need files big enough to split — far bigger than
the reference's KB-scale fixtures — so the gate queries generate their own
input. Everything here is pure arithmetic (no RNG, no timestamps): the SAME
record list is used to write the file AND to precompute the oracle-side
aggregate constants, so the driver's hash comparison proves the split scan
reproduces the file contents exactly.

Files are materialized lazily under ``$TMPDIR/spark_graft_synth`` keyed by a
content digest (atomic ``os.replace`` write — safe under concurrent Spark +
DuckDB harness runs).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

_BASES = "ACGT"


def fastq_records(n: int = 3000) -> list[tuple[str, str, str]]:
    """(read_id, sequence, qual_string) with adversarial '@'-leading quals."""
    out = []
    for i in range(n):
        ln = 20 + ((i * 37) % 101)
        seq = "".join(_BASES[(i + 3 * j) % 4] for j in range(ln))
        # First qual char is '@' (Phred 31) on every 5th read: a quality
        # line that looks like a header start is the record-start probe's
        # adversarial case (see fastx._skip_to_record).
        qual = "".join(
            "@" if (j == 0 and i % 5 == 0) else chr(33 + ((i + j) % 42))
            for j in range(ln)
        )
        out.append((f"read{i:06d}", seq, qual))
    return out


def fastq_text(n: int = 3000) -> str:
    return "".join(
        f"@{rid}\n{seq}\n+\n{qual}\n" for rid, seq, qual in fastq_records(n)
    )


def fastq_expected(n: int = 3000) -> dict[str, int]:
    recs = fastq_records(n)
    return {
        "n_reads": len(recs),
        "sum_seq_len": sum(len(s) for _, s, _ in recs),
        "sum_qual": sum(ord(c) - 33 for _, _, q in recs for c in q),
        "sum_idx": n * (n + 1) // 2,  # per-file 1-based sequence_index
    }


SAM_REFS = [("chrA", 100000), ("chrB", 50000), ("chrC", 25000)]


def sam_records(n: int = 4000) -> list[tuple[str, int, str, int, int, int]]:
    """(read_id, flag, rname, pos, mapq, span) — span is the CIGAR '<span>M'."""
    flags = [0, 16, 99, 147]
    out = []
    for i in range(n):
        rname = SAM_REFS[i % 3][0]
        pos = 1 + ((i * 7) % 20000)
        span = 20 + (i % 80)
        out.append((f"aln{i:06d}", flags[i % 4], rname, pos, i % 61, span))
    return out


def sam_text(n: int = 4000) -> str:
    lines = ["@HD\tVN:1.6\tSO:unsorted"]
    lines += [f"@SQ\tSN:{name}\tLN:{ln}" for name, ln in SAM_REFS]
    for rid, flag, rname, pos, mapq, span in sam_records(n):
        lines.append(
            f"{rid}\t{flag}\t{rname}\t{pos}\t{mapq}\t{span}M\t*\t0\t0\t*\t*"
        )
    return "\n".join(lines) + "\n"


def sam_expected(n: int = 4000) -> dict[str, int]:
    recs = sam_records(n)
    return {
        "n_alignments": len(recs),
        "sum_flags": sum(r[1] for r in recs),
        "sum_pos": sum(r[3] for r in recs),
        # stop_position = position + reference span of the CIGAR
        "sum_stop": sum(r[3] + r[5] for r in recs),
        "n_refs": len({r[2] for r in recs}),
    }


def materialize(text: str, suffix: str) -> str:
    """Write ``text`` once under a digest-keyed temp path; return the path."""
    digest = hashlib.md5(text.encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), "spark_graft_synth")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"synth_{digest}{suffix}")
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
    return path


def materialize_bgzf(text: str, suffix: str) -> str:
    """Like :func:`materialize` but BGZF-compressed (bgzip-style blocks),
    for exercising block-boundary split scans of compressed FASTX."""
    digest = hashlib.md5(text.encode()).hexdigest()[:16]
    d = os.path.join(tempfile.gettempdir(), "spark_graft_synth")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"synth_{digest}{suffix}.gz")
    if not os.path.exists(path):
        from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks

        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.writelines(bgzf_blocks([text.encode("ascii")], level=4))
            fh.write(BGZF_EOF)
        os.replace(tmp, path)
    return path

"""FASTQ / FASTA COPY sinks.

Parity target: reference src/copy_fastq.cpp:47-368 (record format lines
158-183), src/copy_fasta.cpp:119-288, option handling
src/copy_format_common.cpp:84-210. Goldens: test/sql/copy_fastq.test,
copy_fasta.test, copy_*_compression.test (round-tripped via read_fastx).

Options (reference names):
- QUAL_OFFSET 33|64 (FASTQ), INCLUDE_COMMENT, ID_AS_SEQUENCE_INDEX,
  INTERLEAVE (required for paired data), COMPRESSION gzip|none (or by
  ``.gz`` suffix), paired split files via a ``{ORIENTATION}`` placeholder
  that expands to R1/R2.
"""

from __future__ import annotations

import contextlib
import gzip
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class CopyError(ValueError):
    pass


def _qual_str(qual_col: str, offset: int) -> Column:
    """array<int> → Phred ASCII string, JVM-side (transform + char)."""
    return F.array_join(
        F.transform(F.col(qual_col), lambda q: F.char(q + offset)), ""
    )


def _require(df: DataFrame, cols: list[str], fmt: str) -> None:
    for c in cols:
        if c not in df.columns:
            raise CopyError(f"COPY FORMAT {fmt} requires '{c}' column")


def _id_col(df: DataFrame, id_as_sequence_index: bool, fmt: str) -> Column:
    if id_as_sequence_index:
        if "sequence_index" not in df.columns:
            raise CopyError(
                f"COPY FORMAT {fmt} with ID_AS_SEQUENCE_INDEX requires 'sequence_index' column"
            )
        return F.col("sequence_index").cast("string")
    return F.col("read_id")


def _header_col(idc: Column, df: DataFrame, include_comment: bool, sigil: str) -> Column:
    if include_comment and "comment" in df.columns:
        return F.concat(
            F.lit(sigil),
            idc,
            F.when(
                F.col("comment").isNotNull() & (F.col("comment") != ""),
                F.concat(F.lit(" "), F.col("comment")),
            ).otherwise(F.lit("")),
        )
    return F.concat(F.lit(sigil), idc)


def write_joined(path: str, write_parts, head: bytes = b"", tail: bytes = b"") -> None:
    """Write one named file as ``head`` + part files + ``tail``.

    ``write_parts(parts_dir)`` runs one Spark job that writes a part file
    per partition into ``parts_dir``, a temporary directory next to
    ``path``, and returns the files in partition order. The driver only
    concatenates them (gzip members and BGZF blocks are concatenable), and
    the temporary directory is removed whether the write succeeds or not.
    A missing parent directory of ``path`` is created."""
    out_dir = os.path.dirname(os.path.abspath(path))
    os.makedirs(out_dir, exist_ok=True)
    parts_dir = tempfile.mkdtemp(prefix=f".{os.path.basename(path)}.parts-", dir=out_dir)
    try:
        parts = write_parts(parts_dir)
        try:
            with open(path, "wb") as fh:
                fh.write(head)
                for part in parts:
                    with open(part, "rb") as src:
                        shutil.copyfileobj(src, fh, 1 << 20)
                fh.write(tail)
        except BaseException:
            with contextlib.suppress(OSError):
                os.remove(path)
            raise
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)


def _write_text(
    records: DataFrame, path: str, compression: str, single_file: bool, head: bytes = b""
) -> None:
    """records has one string column 'record' (may contain newlines).

    ``single_file=False`` leaves Spark's part files in the directory
    ``path``; otherwise they are joined into the one file ``path`` behind
    ``head`` (compressed as its own gzip member when the output is gzip)."""
    w = records.write.mode("overwrite")
    if compression == "gzip":
        w = w.option("compression", "gzip")
    if not single_file:
        w.text(path)
        return

    def write_parts(parts_dir: str) -> list[str]:
        w.text(parts_dir)
        # part-<partition>-<job uuid>-c<file>; only partitions with rows
        # (or partition 0 of an empty input) have one
        names = [n for n in os.listdir(parts_dir) if n.startswith("part-")]
        names.sort(key=lambda n: (int(n.split("-")[1]), n))
        return [os.path.join(parts_dir, n) for n in names]

    if head and compression == "gzip":
        head = gzip.compress(head, mtime=0)
    write_joined(path, write_parts, head)


def _resolve_compression(path: str, compression: str | None) -> str:
    if compression is not None:
        if compression not in ("gzip", "none"):
            raise CopyError(f"Unsupported COMPRESSION: {compression} (gzip|none)")
        return compression
    return "gzip" if path.endswith(".gz") else "none"


def copy_fastq(
    df: DataFrame,
    path: str,
    qual_offset: int = 33,
    include_comment: bool = False,
    id_as_sequence_index: bool = False,
    interleave: bool | None = None,
    compression: str | None = None,
    single_file: bool = True,
) -> None:
    """COPY (df) TO path (FORMAT FASTQ, ...) — record shape
    ``@id[ comment]\\nseq\\n+\\nqual`` (copy_fastq.cpp:158-183)."""
    if qual_offset not in (33, 64):
        raise CopyError("QUAL_OFFSET must be 33 or 64")
    _require(df, ["read_id", "sequence1", "qual1"], "FASTQ")
    is_paired = "sequence2" in df.columns and "qual2" in df.columns
    compression = _resolve_compression(path, compression)
    idc = _id_col(df, id_as_sequence_index, "FASTQ")
    head1 = _header_col(idc, df, include_comment, "@")

    def record(head: Column, seq: str, qual: str) -> Column:
        return F.concat(head, F.lit("\n"), F.col(seq), F.lit("\n+\n"), _qual_str(qual, qual_offset))

    if not is_paired:
        recs = df.select(record(head1, "sequence1", "qual1").alias("record"))
        _write_text(recs, path, compression, single_file)
        return

    if interleave is None:
        raise CopyError("INTERLEAVE parameter required for paired-end data")
    if interleave:
        both = F.array(
            record(head1, "sequence1", "qual1"),
            record(head1, "sequence2", "qual2"),
        )
        recs = df.select(F.explode(both).alias("record"))
        _write_text(recs, path, compression, single_file)
        return
    if "{ORIENTATION}" not in path:
        raise CopyError(
            "Paired-end output with INTERLEAVE=false requires {ORIENTATION} placeholder in path"
        )
    _write_text(
        df.select(record(head1, "sequence1", "qual1").alias("record")),
        path.replace("{ORIENTATION}", "R1"),
        compression,
        single_file,
    )
    _write_text(
        df.select(record(head1, "sequence2", "qual2").alias("record")),
        path.replace("{ORIENTATION}", "R2"),
        compression,
        single_file,
    )


def copy_fasta(
    df: DataFrame,
    path: str,
    include_comment: bool = False,
    id_as_sequence_index: bool = False,
    interleave: bool | None = None,
    compression: str | None = None,
    single_file: bool = True,
) -> None:
    """COPY (df) TO path (FORMAT FASTA, ...) — ``>id[ comment]\\nseq``
    (copy_fasta.cpp:119-137)."""
    _require(df, ["read_id", "sequence1"], "FASTA")
    is_paired = "sequence2" in df.columns
    compression = _resolve_compression(path, compression)
    idc = _id_col(df, id_as_sequence_index, "FASTA")
    head = _header_col(idc, df, include_comment, ">")

    def record(seq: str) -> Column:
        return F.concat(head, F.lit("\n"), F.col(seq))

    if not is_paired:
        _write_text(df.select(record("sequence1").alias("record")), path, compression, single_file)
        return
    if interleave is None:
        raise CopyError("INTERLEAVE parameter required for paired-end data")
    if interleave:
        recs = df.select(F.explode(F.array(record("sequence1"), record("sequence2"))).alias("record"))
        _write_text(recs, path, compression, single_file)
        return
    if "{ORIENTATION}" not in path:
        raise CopyError(
            "Paired-end output with INTERLEAVE=false requires {ORIENTATION} placeholder in path"
        )
    _write_text(
        df.select(record("sequence1").alias("record")),
        path.replace("{ORIENTATION}", "R1"), compression, single_file,
    )
    _write_text(
        df.select(record("sequence2").alias("record")),
        path.replace("{ORIENTATION}", "R2"), compression, single_file,
    )

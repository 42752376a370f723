"""``read_sequences_sff``: 454 SFF binary reader (big-endian).

Parity target: reference src/read_sequences_sff.cpp:1-170 + parser
src/SFFReader.cpp:33-282 (header layout, 8-byte padding, index-block skip,
quality+adapter clip trimming with overlapping-clips → empty). Goldens:
test/sql/read_sequences_sff.test.

Output uses the shared fastx schema so results UNION ALL with read_fastx
(read_sequences_sff.hpp:27-29). One partition per file; SFF files seek, so
no stdin and no intra-file splits — same as the reference.
"""

from __future__ import annotations

import glob as globmod
import os
import struct
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from duckdb_miint_spark.sources.arrow_batch import batched, split_scan
from duckdb_miint_spark.sources.fastx import fastx_schema

SFF_MAGIC = 0x2E736666  # '.sff'
SFF_MAX_SEQ_LEN = 10_000_000


class SffError(ValueError):
    pass


def _pad8(n: int) -> int:
    return (n + 7) & ~7


def parse_sff(path: str, trim: bool = True) -> Iterator[tuple[str, str, list[int]]]:
    """Yield (name, bases, quals) per read, clips applied when trim."""
    with open(path, "rb") as f:
        fixed = f.read(31)
        if len(fixed) < 31:
            raise SffError(f"SFF file too small for header ({len(fixed)} bytes): {path}")
        magic = struct.unpack_from(">I", fixed, 0)[0]
        if magic != SFF_MAGIC:
            raise SffError(f"Invalid SFF magic number (expected 0x2E736666, got 0x{magic:08X}): {path}")
        if fixed[4:8] != b"\x00\x00\x00\x01":
            raise SffError(
                "Unsupported SFF version (expected 0.0.0.1, got "
                + ".".join(str(b) for b in fixed[4:8])
                + f"): {path}"
            )
        index_offset = struct.unpack_from(">Q", fixed, 8)[0]
        index_length = struct.unpack_from(">I", fixed, 16)[0]
        number_of_reads = struct.unpack_from(">I", fixed, 20)[0]
        header_length = struct.unpack_from(">H", fixed, 24)[0]
        struct.unpack_from(">H", fixed, 26)[0]  # key_length
        number_of_flows = struct.unpack_from(">H", fixed, 28)[0]
        flowgram_format = fixed[30]
        if flowgram_format != 1:
            raise SffError(f"Unsupported SFF flowgram format code (expected 1, got {flowgram_format}): {path}")
        f.seek(header_length)
        padded_index = _pad8(index_length) if index_length > 0 else 0
        index_skipped = False

        for _ in range(number_of_reads):
            if index_offset != 0 and not index_skipped and f.tell() >= index_offset:
                f.seek(index_offset + padded_index)
                index_skipped = True
            header_start = f.tell()
            buf = f.read(16)
            if len(buf) < 16:
                raise SffError(f"SFF file truncated reading read header at position {header_start}: {path}")
            read_header_length, name_length = struct.unpack_from(">HH", buf, 0)
            seq_len = struct.unpack_from(">I", buf, 4)[0]
            cql, cqr, cal, car = struct.unpack_from(">HHHH", buf, 8)
            if seq_len > SFF_MAX_SEQ_LEN:
                raise SffError(
                    f"SFF read at position {header_start} has seq_len={seq_len} "
                    f"which exceeds maximum ({SFF_MAX_SEQ_LEN}), file is likely corrupted: {path}"
                )
            for label, clip in (
                ("clip_qual_left", cql),
                ("clip_qual_right", cqr),
                ("clip_adapter_left", cal),
                ("clip_adapter_right", car),
            ):
                if clip > seq_len:
                    raise SffError(
                        f"SFF read at position {header_start} has {label}={clip} > seq_len={seq_len}: {path}"
                    )
            name = f.read(name_length).decode("ascii")
            f.seek(header_start + read_header_length)

            data_start = f.tell()
            f.seek(number_of_flows * 2 + seq_len, os.SEEK_CUR)  # flowgram + flow_index
            bases = f.read(seq_len).decode("ascii")
            quals = list(f.read(seq_len))
            if len(bases) < seq_len or len(quals) < seq_len:
                raise SffError(f"SFF file truncated reading sequence data at position {data_start}: {path}")
            data_raw_len = number_of_flows * 2 + seq_len * 3
            f.seek(data_start + _pad8(data_raw_len))

            if trim:
                left = max(cql if cql > 0 else 1, cal if cal > 0 else 1) - 1
                right = min(cqr if cqr > 0 else seq_len, car if car > 0 else seq_len)
                if left >= right:
                    bases, quals = "", []
                else:
                    bases = bases[left:right]
                    quals = quals[left:right]
            yield name, bases, quals


def read_sff_split(path: str, trim: bool, include_filepath: bool) -> Iterator[pa.RecordBatch]:
    """Arrow batches for one SFF file (one split per file)."""
    def rows():
        for idx, (name, bases, quals) in enumerate(parse_sff(path, trim), start=1):
            row = (idx, name, None, bases, None, quals, None)
            yield row + (path,) if include_filepath else row

    yield from batched(rows(), fastx_schema(include_filepath))


def read_sequences_sff(
    spark: SparkSession,
    filename: str | list[str],
    include_filepath: bool = False,
    trim: bool = True,
) -> DataFrame:
    """The reference's ``read_sequences_sff(...)`` table function."""
    if isinstance(filename, str):
        files = sorted(globmod.glob(filename)) if any(c in filename for c in "*?[") else [filename]
        if not files:
            raise SffError(f"File not found: {filename}")
    else:
        files = list(filename)
        if not files:
            raise SffError("at least one file path must be provided")
    for p in files:
        if not os.path.exists(p):
            raise SffError(f"File not found: {p}")
        with open(p, "rb") as fh:  # eager bind-time magic validation
            head = fh.read(8)
        if len(head) >= 4 and struct.unpack_from(">I", head, 0)[0] != SFF_MAGIC:
            raise SffError(f"Invalid SFF magic number: {p}")
    return split_scan(
        spark,
        files,
        lambda path: read_sff_split(path, trim, include_filepath),
        fastx_schema(include_filepath),
    )

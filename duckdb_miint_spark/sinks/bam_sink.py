"""BAM COPY sink: binary BAM with a pure-Python BGZF writer.

Parity target: reference src/copy_sam.cpp:320-757 (BAM path): single
writer behind a BGZF stream, header built from REFERENCE_LENGTHS
(mandatory for BAM — binary headers are not optional), SEQ/QUAL always
omitted (l_seq = 0, README.md:2571), compression level 0-9 (default 6).

BGZF is concatenated gzip members whose FEXTRA carries the block size
(SI 'BC', BSIZE = total block length - 1) + a fixed 28-byte EOF member —
all writable with zlib, no htslib needed. Our BAM reader (sources/sam.py)
and any htslib tool can read the output.

BGZF blocks are concatenable, so the BAM is written like every
single-file COPY (``fastx_sink.write_joined``): in one Spark job each task
encodes and compresses its partition's records (the CPU cost — DEFLATE
dominates BAM writing) into a part file next to ``path``, named by
partition and task attempt, and returns ``(partition, file)``. The driver
joins the header run, the reported part files in partition order and the
EOF block. Only the files of successful attempts are read, so a retried or
speculative attempt's leftovers are never joined. Part files need a
``path`` directory that every executor can write.
"""

from __future__ import annotations

import os
import struct
import zlib

from pyspark import TaskContext
from pyspark.sql import DataFrame

from duckdb_miint_spark.sinks.fastx_sink import CopyError, write_joined
from duckdb_miint_spark.sinks.sam_sink import MANDATORY
from duckdb_miint_spark.sources.sam import INT_TAGS, STR_TAGS

BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)

_CIGAR_OP_CODE = {op: i for i, op in enumerate("MIDNSHP=X")}


def bgzf_compress_block(data: bytes, level: int = 6) -> bytes:
    """One BGZF block (gzip member with BC extra subfield)."""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    comp = co.compress(data) + co.flush()
    total = 18 + len(comp) + 8  # header + deflate payload + crc32 + isize
    header = struct.pack(
        "<4BI2BH2B2H",
        0x1F, 0x8B, 0x08, 0x04,  # magic, CM=deflate, FLG=FEXTRA
        0,                        # MTIME
        0, 0xFF,                  # XFL, OS
        6,                        # XLEN
        0x42, 0x43,               # SI1='B', SI2='C'
        2,                        # SLEN
        total - 1,                # BSIZE = total block size - 1
    )
    return header + comp + struct.pack("<II", zlib.crc32(data) & 0xFFFFFFFF, len(data))


def bgzf_blocks(chunks, level: int = 6, block_size: int = 60000):
    """BGZF blocks of the concatenated ``chunks``, each holding
    ``block_size`` uncompressed bytes but the last; no EOF block."""
    buf = bytearray()
    for data in chunks:
        buf += data
        while len(buf) >= block_size:
            yield bgzf_compress_block(bytes(buf[:block_size]), level)
            del buf[:block_size]
    if buf:
        yield bgzf_compress_block(bytes(buf), level)


def _encode_cigar(cigar: str) -> list[int]:
    if not cigar or cigar == "*":
        return []
    ops = []
    num = 0
    for ch in cigar:
        if ch.isdigit():
            num = num * 10 + int(ch)
        else:
            ops.append((num << 4) | _CIGAR_OP_CODE[ch])
            num = 0
    return ops


def _encode_record(row: dict, ref_ids: dict[str, int]) -> bytes:
    name = row["read_id"].encode() + b"\x00"
    cigar_ops = _encode_cigar(row["cigar"])
    reference = row["reference"]
    if reference != "*" and reference not in ref_ids:
        raise CopyError(f"Reference not in REFERENCE_LENGTHS: {reference}")
    ref_id = ref_ids.get(reference, -1)
    mate_ref = row["mate_reference"]
    if mate_ref == "=":
        next_ref_id = ref_id
    elif mate_ref == "*":
        next_ref_id = -1
    else:
        if mate_ref not in ref_ids:
            raise CopyError(f"Mate reference not in REFERENCE_LENGTHS: {mate_ref}")
        next_ref_id = ref_ids[mate_ref]
    pos = int(row["position"]) - 1  # 0 (unmapped) -> -1
    next_pos = int(row["mate_position"]) - 1
    body = struct.pack(
        "<iiBBHHHiiii",
        ref_id,
        pos,
        len(name),
        int(row["mapq"]),
        0,  # bin (unused by our reader; htslib recomputes on demand)
        len(cigar_ops),
        int(row["flags"]),
        0,  # l_seq: SEQ/QUAL always omitted (copy_sam.cpp:665-671)
        next_ref_id,
        next_pos,
        int(row["template_length"]),
    )
    body += name
    body += struct.pack(f"<{len(cigar_ops)}I", *cigar_ops)
    for t in INT_TAGS:
        v = row.get(f"tag_{t.lower()}")
        if v is not None:
            body += t.encode() + b"i" + struct.pack("<i", int(v))
    for t in STR_TAGS:
        v = row.get(f"tag_{t.lower()}")
        if v is not None:
            body += t.encode() + b"Z" + v.encode() + b"\x00"
    return struct.pack("<i", len(body)) + body


def copy_bam(
    df: DataFrame,
    path: str,
    reference_lengths: DataFrame | list[tuple[str, int]],
    compression_level: int = 6,
    distributed: bool = False,
) -> None:
    """COPY (df) TO path (FORMAT BAM, COMPRESSION_LEVEL n).

    ``distributed`` is accepted for existing callers and selects nothing:
    every BAM is compressed per partition and joined (module docstring)."""
    for c in MANDATORY:
        if c not in df.columns:
            raise CopyError(f"COPY FORMAT BAM requires '{c}' column")
    if reference_lengths is None:
        raise CopyError("COPY FORMAT BAM requires REFERENCE_LENGTHS parameter")
    if not (0 <= compression_level <= 9):
        raise CopyError("COMPRESSION_LEVEL must be between 0 and 9")
    if isinstance(reference_lengths, DataFrame):
        refs = [(r[0], int(r[1])) for r in reference_lengths.collect()]
    else:
        refs = list(reference_lengths)
    ref_ids = {name: i for i, (name, _l) in enumerate(refs)}

    header_text = "".join(f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in refs).encode()
    payload = bytearray()
    payload += b"BAM\x01"
    payload += struct.pack("<i", len(header_text))
    payload += header_text
    payload += struct.pack("<i", len(refs))
    for name, length in refs:
        nb = name.encode() + b"\x00"
        payload += struct.pack("<i", len(nb)) + nb + struct.pack("<i", length)

    def write_parts(parts_dir: str) -> list[str]:
        def write_partition(part, rows):
            name = os.path.join(parts_dir, f"part-{part:05d}-{TaskContext.get().taskAttemptId()}")
            records = (_encode_record(r.asDict(), ref_ids) for r in rows)
            with open(name, "wb") as fh:
                fh.writelines(bgzf_blocks(records, compression_level))
            yield part, name

        # df.rdd runs df's own physical plan, so the record sequence is the
        # one a collect of df would return, partition by partition
        written = df.rdd.mapPartitionsWithIndex(write_partition).collect()
        return [name for _part, name in sorted(written)]

    write_joined(path, write_parts, b"".join(bgzf_blocks([payload], compression_level)), BGZF_EOF)

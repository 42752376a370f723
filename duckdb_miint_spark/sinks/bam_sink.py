"""BAM COPY sink: binary BAM with a pure-Python BGZF writer.

Parity target: reference src/copy_sam.cpp:320-757 (BAM path): single
writer behind a BGZF stream, header built from REFERENCE_LENGTHS
(mandatory for BAM — binary headers are not optional), SEQ/QUAL always
omitted (l_seq = 0, README.md:2571), compression level 0-9 (default 6).

BGZF is concatenated gzip members whose FEXTRA carries the block size
(SI 'BC', BSIZE = total block length - 1) + a fixed 28-byte EOF member —
all writable with zlib, no htslib needed. Our BAM reader (sources/sam.py)
and any htslib tool can read the output.

Two write modes (``distributed=`` on :func:`copy_bam`):

- single-writer (default): rows stream through the driver into one BGZF
  stream — the reference's shape (copy_sam.cpp:285-301).
- distributed: BGZF members are CONCATENABLE by construction, so in one
  Spark job each task encodes+compresses its partition's member run (the
  CPU cost — DEFLATE dominates BAM writing) into a part file in a
  temporary directory next to ``path``, named by partition and task
  attempt, and returns ``(partition, file)``. The driver then writes
  header run + the reported part files in partition order + the EOF
  member (pure sequential I/O, never holding the file in memory) and
  removes the temporary directory, whether the write succeeded or not.
  Only the files of successful attempts are read, so a retried or
  speculative attempt's leftovers are never concatenated. Record order is
  partition order then row order — identical to what the single writer
  sees — so read-back equality holds row-for-row even though block
  boundaries differ. Part files need a ``path`` directory that every
  executor can write, as the FASTQ sink's part files do.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import struct
import tempfile
import zlib

from pyspark import TaskContext
from pyspark.sql import DataFrame

from duckdb_miint_spark.sinks.fastx_sink import CopyError
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


class BgzfWriter:
    def __init__(self, fh, level: int = 6, block_size: int = 60000):
        self.fh = fh
        self.level = level
        self.block_size = block_size
        self.buf = bytearray()

    def write(self, data: bytes) -> None:
        self.buf.extend(data)
        while len(self.buf) >= self.block_size:
            chunk = bytes(self.buf[: self.block_size])
            del self.buf[: self.block_size]
            self.fh.write(bgzf_compress_block(chunk, self.level))

    def flush(self) -> None:
        """Flush the remaining buffer as a final member of THIS run, no
        EOF —
        used to close the header run ahead of concatenated partition
        runs in the distributed writer."""
        if self.buf:
            self.fh.write(bgzf_compress_block(bytes(self.buf), self.level))
            self.buf.clear()

    def close(self) -> None:
        self.flush()
        self.fh.write(BGZF_EOF)


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
) -> bool:
    """COPY (df) TO path (FORMAT BAM, COMPRESSION_LEVEL n).

    ``distributed=True`` compresses per partition and concatenates the
    BGZF member runs on the driver (module docstring); returns whether
    the distributed path ran (the gate's was_distributed pin)."""
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

    if not distributed:
        with open(path, "wb") as fh:
            w = BgzfWriter(fh, level=compression_level)
            w.write(bytes(payload))
            for row in df.toLocalIterator():
                w.write(_encode_record(row.asDict(), ref_ids))
            w.close()
        return False

    level = compression_level
    block_size = 60000  # same uncompressed block target as BgzfWriter
    parts_dir = tempfile.mkdtemp(
        prefix=f".{os.path.basename(path)}.parts-",
        dir=os.path.dirname(os.path.abspath(path)),
    )

    def _write_partition(part, rows):
        ctx = TaskContext.get()
        fname = os.path.join(parts_dir, f"part-{part:05d}-{ctx.taskAttemptId()}")
        buf = bytearray()
        with open(fname, "wb") as fh:
            for row in rows:
                buf += _encode_record(row.asDict(), ref_ids)
                while len(buf) >= block_size:
                    fh.write(bgzf_compress_block(bytes(buf[:block_size]), level))
                    del buf[:block_size]
            if buf:
                fh.write(bgzf_compress_block(bytes(buf), level))
        yield part, fname

    try:
        # df.rdd runs df's own physical plan — the one toLocalIterator
        # runs for the single writer — so both writers see one record
        # sequence even where a plan is not deterministic across
        # re-planning (a range repartition samples its bounds per plan)
        written = dict(df.rdd.mapPartitionsWithIndex(_write_partition).collect())
        try:
            with open(path, "wb") as fh:
                w = BgzfWriter(fh, level=compression_level)
                w.write(bytes(payload))
                w.flush()  # header member run closed; partition runs follow
                for part in sorted(written):
                    with open(written[part], "rb") as src:
                        shutil.copyfileobj(src, fh, 1 << 20)
                fh.write(BGZF_EOF)
        except BaseException:
            with contextlib.suppress(OSError):
                os.remove(path)
            raise
    finally:
        shutil.rmtree(parts_dir, ignore_errors=True)
    return True

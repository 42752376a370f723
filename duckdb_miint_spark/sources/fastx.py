"""``read_fastx``: FASTA/FASTQ reader as one driver-planned Arrow scan.

Parity target: reference src/read_fastx.cpp:11-271 (bind/validation/
parallelism), src/include/read_fastx.hpp:33-40 (schema), and
src/include/SequenceRecord.hpp:93-192 (read-id suffix stripping + paired-id
validation). Golden behavior: test/sql/read_fastx.test,
read_fastx_qual_offset.test, glob_read_fastx.test.

Semantics reproduced exactly:
- 7-column schema ``(sequence_index BIGINT, read_id, comment, sequence1,
  sequence2, qual1 ARRAY<INT>, qual2 ARRAY<INT>)`` + optional ``filepath``.
- Glob patterns expand and sort alphabetically; explicit lists keep order;
  ``sequence_index`` is 1-based PER FILE (pairs increment once).
- read_id = name up to first whitespace with a trailing ``/[1-9]`` stripped;
  comment = text after first whitespace, NULL when absent.
- Paired mode: R1/R2 streams read in lockstep; base-id mismatch and
  missing-mate are errors with the reference's message text; FASTA cannot
  pair with FASTQ.
- FASTA sequences strip internal whitespace; quals are NULL.
- qual_offset ∈ {33, 64}; decoded scores must be 0..93.
- gzip sniffed from magic bytes, not extension.

Scale shape: splits are planned on the driver at bind time and read by
one ``mapInArrow`` scan, one partition per split (``arrow_batch.split_scan``).
By default a split is a whole file (pair) — identical to the reference's
file-claiming thread model (read_fastx.cpp:181-212). Plain
gzip text is not splittable, so such files keep the file as the unit; BGZF
(bgzip) compression IS splittable on its block boundaries (see the BGZF
section below). For LARGE uncompressed single files, ``max_split_bytes``
enables byte-range splitting so one multi-GB FASTQ is N parallel tasks,
not one straggler:

- bind time (driver): probe ~8 lines at each target boundary to align it
  to a record start (FASTA: next ``>`` line — exact for any FASTA; FASTQ:
  4-line heuristic validated by seq-len == qual-len).
- a cheap COUNT pass (newlines/4 for FASTQ, ``\\n>`` occurrences for
  FASTA — memchr-speed, no parsing) fixes the exact per-file 1-based
  ``sequence_index`` offset of every range, so split output is
  golden-identical to the unsplit scan. It runs on the driver for small
  inputs and as one parallel Spark job for large ones
  (``DRIVER_COUNT_BYTES``).
- FASTQ splitting requires strict 4-line records (the universal modern
  form); multi-line or blank-line FASTQ fails fast with instructions to
  disable splitting. FASTA splitting is fully general (multi-line seqs
  fine; a sequence line can never start with ``>``).
- paired scans never split (R1/R2 are read in lockstep).
"""

from __future__ import annotations

import glob as globmod
import gzip
import io
import os
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from duckdb_miint_spark.sources.arrow_batch import batched, split_scan

FASTX_FIELDS = [
    StructField("sequence_index", LongType()),
    StructField("read_id", StringType()),
    StructField("comment", StringType()),
    StructField("sequence1", StringType()),
    StructField("sequence2", StringType()),
    StructField("qual1", ArrayType(IntegerType())),
    StructField("qual2", ArrayType(IntegerType())),
]


def fastx_schema(include_filepath: bool = False) -> StructType:
    fields = list(FASTX_FIELDS)
    if include_filepath:
        fields.append(StructField("filepath", StringType()))
    return StructType(fields)


# --- parsing -----------------------------------------------------------------


class FastxError(ValueError):
    pass


def base_read_id(name: str) -> str:
    """Strip a trailing ``/[1-9]`` (SequenceRecord.hpp:164-183)."""
    if len(name) >= 3 and name[-2] == "/" and "1" <= name[-1] <= "9":
        return name[:-2]
    return name


def _open_text(path: str):
    """Open possibly-gzipped text, sniffing the magic bytes like kseq."""
    raw = open(path, "rb")
    magic = raw.read(2)
    raw.seek(0)
    if magic == b"\x1f\x8b":
        return io.TextIOWrapper(gzip.GzipFile(fileobj=raw), encoding="ascii")
    return io.TextIOWrapper(raw, encoding="ascii")


def parse_fastx(path: str) -> Iterator[tuple[str, str, str, str | None]]:
    """Yield (name, comment, sequence, qual_string|None) records.

    kseq-compatible: FASTA sequences concatenate lines with whitespace
    removed; FASTQ quality spans lines until len(qual) == len(seq).
    """
    with _open_text(path) as f:
        line = f.readline()
        saw_any = False
        while line:
            line = line.rstrip("\r\n")
            if not line:
                line = f.readline()
                continue
            if line[0] not in ">@":
                raise FastxError(f"Malformed FASTX record near: {line[:50]}")
            is_fastq = line[0] == "@"
            header = line[1:]
            parts = header.split(None, 1)
            name = parts[0] if parts else ""
            comment = parts[1] if len(parts) > 1 else ""
            seq_parts: list[str] = []
            line = f.readline()
            while line and line[0] not in (">@+" if is_fastq else ">@"):
                seq_parts.append("".join(line.split()))
                line = f.readline()
            seq = "".join(seq_parts)
            qual: str | None = None
            if is_fastq:
                if not line or line[0] != "+":
                    raise FastxError(f"FASTQ record missing '+' separator: {name}")
                qual_parts: list[str] = []
                qlen = 0
                line = f.readline()
                while line and qlen < len(seq):
                    q = line.rstrip("\r\n")
                    qual_parts.append(q)
                    qlen += len(q)
                    line = f.readline()
                qual = "".join(qual_parts)
                if len(qual) != len(seq):
                    raise FastxError(
                        f"FASTQ quality length {len(qual)} != sequence length {len(seq)} for {name}"
                    )
            saw_any = True
            yield name, comment, seq, qual
        if not saw_any:
            raise FastxError("Empty file")


def decode_qual(qual: str | None, qual_offset: int) -> list[int] | None:
    """ASCII → Phred ints, range-checked 0..93 (QualScore.hpp:18-70).
    Vectorized over the record (bytes → int subtraction, one min/max check)
    — the per-char Python loop was the FASTQ scan's hot spot."""
    if qual is None:
        return None
    if not qual:
        return []
    out = [c - qual_offset for c in qual.encode("ascii")]
    lo = min(out)
    hi = max(out)
    if lo < 0 or hi > 93:
        bad = lo if lo < 0 else hi
        ch = chr(bad + qual_offset)
        raise FastxError(
            f"Invalid quality score {bad} (char {ch!r} with offset {qual_offset})"
        )
    return out


def read_fastx_file_pair(
    path1: str,
    path2: str | None,
    qual_offset: int,
    include_filepath: bool,
) -> Iterator[tuple]:
    """Rows for one file (pair), sequence_index 1-based per file."""
    it1 = parse_fastx(path1)
    it2 = parse_fastx(path2) if path2 is not None else None
    idx = 0
    while True:
        r1 = next(it1, None)
        r2 = next(it2, None) if it2 is not None else None
        if r1 is None and (it2 is None or r2 is None):
            break
        if it2 is not None:
            if r1 is None:
                raise FastxError(f"Mismatched number of records: missing mate for {r2[0]}")
            if r2 is None:
                raise FastxError(f"Mismatched number of records: missing mate for {r1[0]}")
            if (r1[3] is None) != (r2[3] is None):
                raise FastxError("Cannot mix FASTA and FASTQ formats")
            if base_read_id(r1[0]) != base_read_id(r2[0]):
                raise FastxError(f"Mismatched read IDs: {r1[0]} vs {r2[0]}")
        idx += 1
        name, comment, seq1, q1 = r1
        row = (
            idx,
            base_read_id(name),
            comment or None,
            seq1,
            r2[2] if r2 is not None else None,
            decode_qual(q1, qual_offset),
            decode_qual(r2[3], qual_offset) if r2 is not None else None,
        )
        if include_filepath:
            row = row + (path1,)
        yield row


# --- byte-range splitting (large uncompressed files) -------------------------


def _is_gzip(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(2) == b"\x1f\x8b"


def _is_bgzf(path: str) -> bool:
    """True for BGZF (bgzip) files — gzip members carrying the BC extra
    subfield. Plain gzip is NOT splittable; BGZF is, on block bounds.

    Reads a full 64 KiB header window, not just the fixed 18-byte
    prefix: a valid BGZF extra field may carry additional subfields
    before/after BC (xlen > 6), and an under-read would misclassify such
    files as unsplittable plain gzip (silent loss of scan parallelism)."""
    from duckdb_miint_spark.sources.sam import _bgzf_block_size

    with open(path, "rb") as f:
        head = f.read(65536)
    return len(head) >= 18 and _bgzf_block_size(head, 0) is not None


def _sniff_fastq(path: str) -> bool:
    """True if the first record marker is '@' (FASTQ), False for '>'."""
    with open(path, "rb") as f:
        while True:
            line = f.readline()
            if not line:
                raise FastxError("Empty file")
            s = line.strip()
            if s:
                if s[:1] == b"@":
                    return True
                if s[:1] == b">":
                    return False
                raise FastxError(f"Malformed FASTX record near: {s[:50]!r}")


def _next_record_start(path: str, offset: int, is_fastq: bool, filesize: int) -> int:
    """Smallest record-start byte offset >= ``offset``.

    FASTA: the next line starting with ``>`` (unambiguous — sequence lines
    cannot start with '>'). FASTQ: the 4-line heuristic — a line starting
    with '@' whose line+2 starts with '+' and whose line+1/line+3 lengths
    match (a quality line starting with '@' fails the '+'-at-+2 check
    because the following line is sequence). Returns ``filesize`` when the
    offset is inside the final record."""
    if offset <= 0:
        return 0
    if offset >= filesize:
        return filesize
    with open(path, "rb") as f:
        f.seek(offset - 1)
        if f.read(1) != b"\n":
            f.readline()  # discard the partial line
        pos = f.tell()
        if not is_fastq:
            while True:
                line = f.readline()
                if not line:
                    return filesize
                if line[:1] == b">":
                    return pos
                pos += len(line)
        starts: list[int] = []
        lines: list[bytes] = []
        for _ in range(8):
            line = f.readline()
            if not line:
                break
            starts.append(pos)
            lines.append(line)
            pos += len(line)
        for i in range(len(lines) - 3):
            if (
                lines[i][:1] == b"@"
                and lines[i + 2][:1] == b"+"
                and len(lines[i + 1].strip()) == len(lines[i + 3].strip())
            ):
                return starts[i]
        return filesize


def plan_fastx_splits(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """[(start, end), ...] byte ranges aligned to record starts."""
    if target_bytes <= 0:
        raise FastxError(f"max_split_bytes must be positive, got {target_bytes}")
    size = os.path.getsize(path)
    n_chunks = max(1, size // target_bytes)
    if n_chunks == 1:
        return [(0, size)]
    is_fastq = _sniff_fastq(path)
    bounds = [0]
    for k in range(1, n_chunks):
        b = _next_record_start(path, k * target_bytes, is_fastq, size)
        if b > bounds[-1] and b < size:
            bounds.append(b)
    bounds.append(size)
    return [(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]


_COUNT_CHUNK = 1 << 22


def count_fastx_range(path: str, start: int, end: int, filesize: int) -> int:
    """Record count in an aligned range — byte scan, no parsing.

    FASTQ: newlines/4 (strict 4-line records enforced — %4 != 0 means
    multi-line/blank-line FASTQ, which cannot be split). FASTA: count of
    '>' line-starts — exact for any FASTA."""
    is_fastq = _sniff_fastq(path)
    newlines = 0
    recs = 0
    tail = b"\n"  # ranges start at a record (line) start
    with open(path, "rb") as f:
        f.seek(start)
        remaining = end - start
        while remaining > 0:
            chunk = f.read(min(_COUNT_CHUNK, remaining))
            if not chunk:
                break
            remaining -= len(chunk)
            if is_fastq:
                newlines += chunk.count(b"\n")
            else:
                recs += chunk.count(b"\n>")
                if tail == b"\n" and chunk[:1] == b">":
                    recs += 1
            tail = chunk[-1:]
    if not is_fastq:
        return recs
    if end >= filesize and tail != b"\n":
        newlines += 1  # final line without trailing newline
    if newlines % 4 != 0:
        raise FastxError(
            f"FASTQ byte range [{start}, {end}) of {path} has {newlines} lines "
            "(not a multiple of 4): multi-line or blank-line FASTQ cannot be "
            "split — pass max_split_bytes=None"
        )
    return newlines // 4


def iter_fastx_range(
    path: str, start: int, end: int, strict_fourline: bool = False
) -> Iterator[tuple[str, str, str, str | None]]:
    """parse_fastx over records whose START byte lies in [start, end).

    Binary-mode twin of :func:`parse_fastx` (same record grammar, same
    error text shapes) that tracks byte offsets so a mid-file partition
    stops exactly at its boundary. ``strict_fourline`` rejects multi-line
    FASTQ records — required in split mode, where the boundary prober and
    the count pass both assume 4-line records."""
    with open(path, "rb") as f:
        f.seek(start)
        pos = start
        line = f.readline()
        while line:
            rec_start = pos
            stripped = line.strip()
            if not stripped:
                if strict_fourline:
                    raise FastxError(
                        "blank line in FASTQ: split mode requires strict "
                        "4-line records — pass max_split_bytes=None"
                    )
                pos += len(line)
                line = f.readline()
                continue
            if rec_start >= end:
                break
            first = stripped[:1]
            if first not in (b">", b"@"):
                raise FastxError(
                    f"Malformed FASTX record near: {stripped[:50].decode('ascii', 'replace')}"
                )
            is_fastq = first == b"@"
            pos += len(line)
            header = stripped[1:].decode("ascii")
            parts = header.split(None, 1)
            name = parts[0] if parts else ""
            comment = parts[1] if len(parts) > 1 else ""
            seq_parts: list[bytes] = []
            seq_lines = 0
            stops = (b">", b"@", b"+") if is_fastq else (b">", b"@")
            line = f.readline()
            while line and line[:1] not in stops:
                seq_parts.append(b"".join(line.split()))
                seq_lines += 1
                pos += len(line)
                line = f.readline()
            seq = b"".join(seq_parts).decode("ascii")
            qual: str | None = None
            if is_fastq:
                if not line or line[:1] != b"+":
                    raise FastxError(f"FASTQ record missing '+' separator: {name}")
                pos += len(line)
                qual_parts: list[bytes] = []
                qlen = 0
                qual_lines = 0
                line = f.readline()
                while line and qlen < len(seq):
                    q = line.rstrip(b"\r\n")
                    qual_parts.append(q)
                    qlen += len(q)
                    qual_lines += 1
                    pos += len(line)
                    line = f.readline()
                qual = b"".join(qual_parts).decode("ascii")
                if len(qual) != len(seq):
                    raise FastxError(
                        f"FASTQ quality length {len(qual)} != sequence length {len(seq)} for {name}"
                    )
                if strict_fourline and (seq_lines != 1 or qual_lines != 1):
                    raise FastxError(
                        f"multi-line FASTQ record {name}: split mode requires "
                        "strict 4-line records — pass max_split_bytes=None"
                    )
            yield name, comment, seq, qual


def read_fastx_range_rows(
    path: str,
    start: int,
    end: int,
    index_offset: int,
    qual_offset: int,
    include_filepath: bool,
) -> Iterator[tuple]:
    """Rows for one byte range; sequence_index continues at index_offset+1."""
    idx = index_offset
    for name, comment, seq, qual in iter_fastx_range(
        path, start, end, strict_fourline=True
    ):
        idx += 1
        row = (
            idx,
            base_read_id(name),
            comment or None,
            seq,
            None,
            decode_qual(qual, qual_offset),
            None,
        )
        if include_filepath:
            row = row + (path,)
        yield row


# --- BGZF (bgzip) byte-range splitting ---------------------------------------
#
# BGZF-compressed FASTX (the 100 TB norm for read sets — bgzip output) is
# splittable on its block boundaries with the machinery BAM already uses
# (sources/sam.py:385-525): ranges are COMPRESSED offset intervals
# [cb_start, cb_end); ownership of boundary-straddling records follows the
# Hadoop LineRecordReader convention lifted to the decompressed stream:
#
#   cutoff(cb) = start of the line FOLLOWING the first newline whose byte
#                lies in a BGZF block with compressed offset >= cb
#
# A reader for [cb_start, cb_end) emits records from the first heuristic
# record start at-or-after cutoff(cb_start) (range 0 starts at decompressed
# byte 0) and stops before the first record start at-or-after
# cutoff(cb_end), decompressing past cb_end as needed to finish its last
# record. Both sides of every boundary compute the same cutoff from the
# same bytes, so the union over ranges is exactly the whole file. FASTQ
# requires strict 4-line records (same contract as the uncompressed
# splitter); FASTA is fully general.


class _BgzfLineReader:
    """Line-at-a-time reader over a BGZF stream, tagging each line with
    the compressed offset of the blocks holding its first and last byte."""

    def __init__(self, path: str, start_block: int):
        from duckdb_miint_spark.sources.sam import _BgzfStream

        self.s = _BgzfStream(path, start_block)

    def close(self) -> None:
        self.s.close()

    def readline(self):
        """(line_incl_newline, first_byte_block, last_byte_block); start
        block is None at EOF."""
        s = self.s
        start_blk = s.next_byte_block()
        if start_blk is None:
            return b"", None, None
        chunks: list[bytes] = []
        while True:
            buf, pos = s.buf, s.buf_pos
            nl = buf.find(b"\n", pos)
            if nl >= 0:
                chunks.append(buf[pos : nl + 1])
                s.buf_pos = nl + 1
                return b"".join(chunks), start_blk, s.cur_block_off
            chunks.append(buf[pos:])
            s.buf_pos = len(buf)
            if not s._ensure():  # final line without trailing newline
                return b"".join(chunks), start_blk, s.cur_block_off


def _sniff_bgzf_fastq(path: str) -> bool:
    """True if the first decompressed record marker is '@' (FASTQ)."""
    from duckdb_miint_spark.sources.sam import _BgzfStream

    s = _BgzfStream(path, 0)
    try:
        while True:
            ch = s.read(1)
            if not ch:
                raise FastxError("Empty file")
            if ch in (b" ", b"\t", b"\r", b"\n"):
                continue
            if ch == b"@":
                return True
            if ch == b">":
                return False
            raise FastxError(f"Malformed FASTX record near: {ch!r}")
    finally:
        s.close()


def iter_bgzf_fastx_range(
    path: str, cb_start: int, cb_end: int
) -> Iterator[tuple[str, str, str, str | None]]:
    """Records owned by compressed range [cb_start, cb_end) — see the
    section comment for the boundary convention."""
    from itertools import chain

    from duckdb_miint_spark.sources.sam import find_bgzf_block

    is_fastq = _sniff_bgzf_fastq(path)
    if cb_start == 0:
        lr = _BgzfLineReader(path, 0)
    else:
        b0 = find_bgzf_block(path, cb_start)
        if b0 is None or b0 >= cb_end:
            return
        lr = _BgzfLineReader(path, b0)
    try:
        def lines():
            # yields (line, beyond): beyond=True once an EARLIER line's
            # terminating newline sat in a block >= cb_end — i.e. this
            # line is at-or-after cutoff(cb_end)
            past = False
            while True:
                line, sb, eb = lr.readline()
                if sb is None:
                    return
                yield line, past
                if eb is not None and eb >= cb_end:
                    past = True

        it = lines()
        if cb_start > 0:
            if next(it, None) is None:  # discard up to cutoff(cb_start)
                return
            window: list[tuple[bytes, bool]] = []
            for _ in range(8):
                nxt = next(it, None)
                if nxt is None:
                    break
                window.append(nxt)
            start_i = None
            if is_fastq:
                for i in range(max(0, len(window) - 3)):
                    if (
                        window[i][0][:1] == b"@"
                        and window[i + 2][0][:1] == b"+"
                        and len(window[i + 1][0].strip()) == len(window[i + 3][0].strip())
                    ):
                        start_i = i
                        break
            else:
                for i, (l, _) in enumerate(window):
                    if l[:1] == b">":
                        start_i = i
                        break
                if start_i is None:  # long FASTA record: keep scanning
                    while True:
                        nxt = next(it, None)
                        if nxt is None:
                            return
                        if nxt[1]:  # first '>' at-or-after cutoff belongs to the next range
                            return
                        if nxt[0][:1] == b">":
                            window, start_i = [nxt], 0
                            break
            if start_i is None:
                return
            stream = chain(window[start_i:], it)
        else:
            stream = it

        item = next(stream, None)
        while item is not None:
            line, beyond = item
            s = line.strip()
            if not s:
                if is_fastq:
                    raise FastxError(
                        "blank line in FASTQ: split mode requires strict "
                        "4-line records — pass max_split_bytes=None"
                    )
                item = next(stream, None)
                continue
            if beyond:
                return  # owned by the next range
            if is_fastq:
                if s[:1] != b"@":
                    raise FastxError(
                        f"Malformed FASTX record near: {s[:50].decode('ascii', 'replace')}"
                    )
                header = s[1:].decode("ascii")
                parts = header.split(None, 1)
                name = parts[0] if parts else ""
                comment = parts[1] if len(parts) > 1 else ""
                l2, l3, l4 = (next(stream, None) for _ in range(3))
                if l2 is None or l3 is None or l4 is None:
                    raise FastxError(f"Truncated FASTQ record: {name}")
                seq = l2[0].strip().decode("ascii")
                if l3[0][:1] != b"+":
                    raise FastxError(f"FASTQ record missing '+' separator: {name}")
                qual = l4[0].strip().decode("ascii")
                if len(qual) != len(seq):
                    raise FastxError(
                        f"FASTQ quality length {len(qual)} != sequence length "
                        f"{len(seq)} for {name} (multi-line records cannot be "
                        "split — pass max_split_bytes=None)"
                    )
                yield name, comment, seq, qual
                item = next(stream, None)
            else:
                if s[:1] != b">":
                    raise FastxError(
                        f"Malformed FASTX record near: {s[:50].decode('ascii', 'replace')}"
                    )
                header = s[1:].decode("ascii")
                parts = header.split(None, 1)
                name = parts[0] if parts else ""
                comment = parts[1] if len(parts) > 1 else ""
                seq_parts: list[bytes] = []
                item = next(stream, None)
                while item is not None and item[0][:1] != b">":
                    seq_parts.append(b"".join(item[0].split()))
                    item = next(stream, None)
                yield name, comment, b"".join(seq_parts).decode("ascii"), None
    finally:
        lr.close()


def plan_bgzf_splits(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """[(start, end)] raw compressed ranges — block/record alignment
    happens executor-side (same shape as plan_bam_splits)."""
    if target_bytes <= 0:
        raise FastxError(f"max_split_bytes must be positive, got {target_bytes}")
    size = os.path.getsize(path)
    n_chunks = max(1, size // target_bytes)
    bounds = [k * size // n_chunks for k in range(n_chunks)] + [size]
    return [(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]


def count_bgzf_fastx_range(path: str, start: int, end: int) -> int:
    """Record count in a compressed range. BGZF has no in-phase byte
    shortcut (cutoffs are line- not record-aligned), so this parses;
    the cost is one extra decompression pass, paid in parallel."""
    return sum(1 for _ in iter_bgzf_fastx_range(path, start, end))


def read_bgzf_fastx_range_rows(
    path: str,
    start: int,
    end: int,
    index_offset: int,
    qual_offset: int,
    include_filepath: bool,
) -> Iterator[tuple]:
    """Rows for one BGZF range; sequence_index continues at index_offset+1."""
    idx = index_offset
    for name, comment, seq, qual in iter_bgzf_fastx_range(path, start, end):
        idx += 1
        row = (
            idx,
            base_read_id(name),
            comment or None,
            seq,
            None,
            decode_qual(qual, qual_offset),
            None,
        )
        if include_filepath:
            row = row + (path,)
        yield row


# --- file-list resolution (bind-time) ----------------------------------------


def resolve_files(filename: str | list[str], what: str = "filename") -> list[str]:
    """Glob-expand + alphabetical sort for patterns; existence-check all
    (table_function_common.cpp:64-124)."""
    if isinstance(filename, str):
        if any(c in filename for c in "*?["):
            files = sorted(globmod.glob(filename))
            if not files:
                raise FastxError(f"File not found: {filename}")
            return files
        files = [filename]
    else:
        from duckdb_miint_spark.sources.stdin_util import STDIN_MARKERS

        files = list(filename)
        if any(f in STDIN_MARKERS for f in files):
            raise FastxError("stdin cannot be used in a file list")
    for f in files:
        if not os.path.exists(f):
            raise FastxError(f"File not found: {f}")
    return files


# --- scan planning (driver) ---------------------------------------------------


def read_fastx_split(
    split: dict, qual_offset: int, include_filepath: bool
) -> Iterator[pa.RecordBatch]:
    """Arrow batches for one split planned by :func:`read_fastx`: a whole
    file (pair), a byte range or a BGZF compressed range."""
    if split["kind"] == "bgzf":
        rows = read_bgzf_fastx_range_rows(
            split["path"], split["start"], split["end"], split["offset"],
            qual_offset, include_filepath,
        )
    elif split["kind"] == "range":
        rows = read_fastx_range_rows(
            split["path"], split["start"], split["end"], split["offset"],
            qual_offset, include_filepath,
        )
    else:
        rows = read_fastx_file_pair(split["p1"], split["p2"], qual_offset, include_filepath)
    yield from batched(rows, fastx_schema(include_filepath))


def plan_file_pairs(
    filename: str | list[str], sequence2: str | list[str] | None, qual_offset: int
) -> list[tuple[str, str | None]]:
    """Bind-time validation: glob expansion, length matching, qual_offset."""
    if qual_offset not in (33, 64):
        raise FastxError("qual_offset must be 33 or 64")
    files1 = resolve_files(filename)
    if sequence2 is None:
        return [(f, None) for f in files1]
    files2 = resolve_files(sequence2, "sequence2")
    if len(files1) != len(files2):
        raise FastxError(
            f"Mismatched array lengths: {len(files1)} sequence1 files vs {len(files2)} sequence2 files"
        )
    return list(zip(files1, files2))


# Ranges to count that total fewer bytes than this are counted on the driver;
# larger totals run one parallel Spark count job. Measured on a 4-core box
# (warm session, median of 7): the job costs 0.67-0.70 s whatever the input
# up to 8.6 MB; the driver counts plain FASTQ at ~0.9 GB/s and BGZF FASTQ
# (a full decompress-and-parse) at 11-13 MB/s of compressed input, e.g.
# 0.35 s for 4.6 MB. So at this bound the slow case, BGZF, still counts
# on the driver in about 0.6 s, under the job's 0.7-0.8 s.
DRIVER_COUNT_BYTES = 8 << 20


def _count_range(kind: str, path: str, s: int, e: int, size: int) -> int:
    if kind == "bgzf":
        return count_bgzf_fastx_range(path, s, e)
    return count_fastx_range(path, s, e, size)


def plan_split_partitions(
    spark: SparkSession,
    pairs: list[tuple[str, str | None]],
    max_split_bytes: int,
) -> list[dict]:
    """Split descriptors mixing whole pairs and byte ranges.

    Unpaired uncompressed files larger than ``max_split_bytes`` become
    ``{"kind": "range", "path", "start", "end", "offset"}`` descriptors;
    unpaired BGZF (bgzip) files that large become ``{"kind": "bgzf",
    ...}`` compressed-offset ranges (block-boundary splits — see the BGZF
    section comment); everything else stays a ``{"kind": "pair", "p1",
    "p2"}`` whole-file split (plain gzip is not splittable; R1/R2 pairs
    read in lockstep). A count pass (memchr-speed byte scan for
    uncompressed, one decompression pass for BGZF) converts per-range
    record counts into exact per-file ``sequence_index`` offsets, so split
    output is identical to the unsplit scan. It runs on the driver when
    the ranges total under ``DRIVER_COUNT_BYTES``, else as one Spark job
    over all ranges."""
    out: list[dict] = []
    # (slot, kind, path, s, e, size)
    to_count: list[tuple[int, str, str, int, int, int]] = []
    for p1, p2 in pairs:
        size = os.path.getsize(p1)
        if p2 is not None or size <= max_split_bytes:
            out.append({"kind": "pair", "p1": p1, "p2": p2})
            continue
        if _is_gzip(p1):
            if not _is_bgzf(p1):
                out.append({"kind": "pair", "p1": p1, "p2": p2})
                continue
            for s, e in plan_bgzf_splits(p1, max_split_bytes):
                to_count.append((len(out), "bgzf", p1, s, e, size))
                out.append(
                    {"kind": "bgzf", "path": p1, "start": s, "end": e, "offset": 0}
                )
            continue
        for s, e in plan_fastx_splits(p1, max_split_bytes):
            to_count.append((len(out), "range", p1, s, e, size))
            out.append({"kind": "range", "path": p1, "start": s, "end": e, "offset": 0})

    def _count(t):
        slot, kind, path, s, e, size = t
        return (slot, _count_range(kind, path, s, e, size))

    if to_count:
        if sum(e - s for _slot, _kind, _path, s, e, _size in to_count) < DRIVER_COUNT_BYTES:
            counts = dict(map(_count, to_count))
        else:
            counts = dict(
                spark.sparkContext.parallelize(to_count, len(to_count)).map(_count).collect()
            )
        running: dict[str, int] = {}
        for slot, _kind, path, _s, _e, _size in to_count:
            out[slot]["offset"] = running.get(path, 0)
            running[path] = out[slot]["offset"] + counts[slot]
    return out


def read_fastx(
    spark: SparkSession,
    filename: str | list[str],
    sequence2: str | list[str] | None = None,
    include_filepath: bool = False,
    qual_offset: int = 33,
    max_split_bytes: int | None = None,
) -> DataFrame:
    """The reference's ``read_fastx(...)`` table function as a DataFrame.

    ``max_split_bytes``: when set, unpaired uncompressed files larger than
    this are scanned as multiple byte-range partitions (see module
    docstring) — output identical to the default whole-file scan.

    ``'-'`` / ``'/dev/stdin'`` reads the driver's stdin (spooled to a
    temp file at bind time; ``filepath`` reports ``/dev/stdin`` —
    read_fastx_stdin.sh parity); not combinable with sequence2 or lists."""
    from duckdb_miint_spark.sources.stdin_util import is_stdin, spool_stdin

    if is_stdin(filename):
        if sequence2 is not None:
            raise FastxError("stdin cannot be used with sequence2")
        tmp = spool_stdin(".fastx")
        df = read_fastx(
            spark, tmp, include_filepath=include_filepath, qual_offset=qual_offset
        )
        if include_filepath:
            from pyspark.sql import functions as _F

            df = df.withColumn("filepath", _F.lit("/dev/stdin"))
        return df
    # validate eagerly (bind-time errors, matching read_fastx.cpp:44-112)
    pairs = plan_file_pairs(filename, sequence2, qual_offset)
    if max_split_bytes is not None:
        splits = plan_split_partitions(spark, pairs, max_split_bytes)
    else:
        # one split per file pair = the reference's MaxThreads model
        splits = [{"kind": "pair", "p1": p1, "p2": p2} for p1, p2 in pairs]
    return split_scan(
        spark,
        splits,
        lambda split: read_fastx_split(split, qual_offset, include_filepath),
        fastx_schema(include_filepath),
    )

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
  comment = text after first whitespace (trailing blanks kept), NULL when
  absent.
- Paired mode: R1/R2 streams read in lockstep; base-id mismatch and
  missing-mate are errors with the reference's message text; FASTA cannot
  pair with FASTQ.
- FASTA sequences strip internal whitespace; quals are NULL.
- qual_offset ∈ {33, 64}; decoded scores must be 0..93.
- gzip sniffed from magic bytes, not extension.

One record grammar (:func:`_fastx_records`) reads every scan. It takes
``(line, owned)`` pairs from one of three line sources: a whole file
(gzip sniffed, every line owned), a plain byte range (a line is owned
while it starts before the range end) or a BGZF compressed range (owned
until the range's cutoff, see the BGZF section). A record starts only on
an owned line and is finished whatever the ownership of its later lines,
so the union of a file's ranges is exactly its whole-file scan.

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
  to a record start (:func:`_skip_to_record` — FASTA: next ``>`` line,
  exact for any FASTA; FASTQ: 4-line heuristic validated by
  seq-len == qual-len).
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
import os
from collections.abc import Iterator
from itertools import chain, islice, zip_longest

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
from duckdb_miint_spark.sources.sam import (
    _bgzf_block_size,
    _BgzfStream,
    find_bgzf_block,
    is_gzip,
    open_maybe_gzip,
    plan_even_splits,
)

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


_EOF = (b"", False)


def _fastx_records(
    lines: Iterator[tuple[bytes, bool]], strict_fourline: bool
) -> Iterator[tuple[str, str, str, str | None]]:
    """(name, comment, sequence, qual|None) for every record whose header
    line is owned; stops at the first header line that is not.

    kseq-compatible: FASTA sequences concatenate lines with whitespace
    removed; FASTQ quality spans lines until len(qual) == len(seq).
    ``strict_fourline`` (split scans) rejects blank lines and multi-line
    FASTQ records, which the boundary probe and the count pass both
    assume away; blank lines before the first header are skipped."""
    is_fastq = False
    line, owned = next(lines, _EOF)
    while line:
        s = line.rstrip(b"\r\n")
        if not s:
            if strict_fourline and is_fastq:
                raise FastxError(
                    "blank line in FASTQ: split mode requires strict "
                    "4-line records — pass max_split_bytes=None"
                )
            line, owned = next(lines, _EOF)
            continue
        if not owned:
            return
        first = s[:1]
        if first != b">" and first != b"@":
            raise FastxError(
                f"Malformed FASTX record near: {s[:50].decode('ascii', 'replace')}"
            )
        is_fastq = first == b"@"
        parts = s[1:].decode("ascii").split(None, 1)
        name = parts[0] if parts else ""
        comment = parts[1] if len(parts) > 1 else ""
        stops = (b">", b"@", b"+") if is_fastq else (b">", b"@")
        seq_parts: list[bytes] = []
        line, owned = next(lines, _EOF)
        while line and line[:1] not in stops:
            seq_parts.append(b"".join(line.split()))
            line, owned = next(lines, _EOF)
        seq = b"".join(seq_parts).decode("ascii")
        qual: str | None = None
        if is_fastq:
            if line[:1] != b"+":
                raise FastxError(f"FASTQ record missing '+' separator: {name}")
            qual_parts: list[bytes] = []
            qlen = 0
            line, owned = next(lines, _EOF)
            # a 4-line record has a quality line even when its sequence is empty
            while line and (qlen < len(seq) or (strict_fourline and not qual_parts)):
                q = line.rstrip(b"\r\n")
                qual_parts.append(q)
                qlen += len(q)
                line, owned = next(lines, _EOF)
            qual = b"".join(qual_parts).decode("ascii")
            if len(qual) != len(seq):
                raise FastxError(
                    f"FASTQ quality length {len(qual)} != sequence length {len(seq)} for {name}"
                )
            if strict_fourline and (len(seq_parts) != 1 or len(qual_parts) != 1):
                raise FastxError(
                    f"multi-line FASTQ record {name}: split mode requires "
                    "strict 4-line records — pass max_split_bytes=None"
                )
        yield name, comment, seq, qual


def _file_records(path: str) -> Iterator[tuple[str, str, str, str | None]]:
    """Records of a whole file (gzip or BGZF sniffed, every line owned)."""
    n = 0
    with open_maybe_gzip(path) as f:
        for rec in _fastx_records(((line, True) for line in f), strict_fourline=False):
            n += 1
            yield rec
    if not n:
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


def fastx_rows(
    path: str,
    records1: Iterator[tuple],
    records2: Iterator[tuple] | None,
    index_offset: int,
    qual_offset: int,
    include_filepath: bool,
) -> Iterator[tuple]:
    """Rows of one scan input: ``records1`` and, for a pair, the R2
    records read in lockstep. sequence_index continues at index_offset+1."""
    tail = (path,) if include_filepath else ()
    idx = index_offset
    for r1, r2 in zip_longest(records1, () if records2 is None else records2):
        if records2 is not None:
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
        yield (
            idx,
            base_read_id(name),
            comment or None,
            seq1,
            None if r2 is None else r2[2],
            decode_qual(q1, qual_offset),
            None if r2 is None else decode_qual(r2[3], qual_offset),
        ) + tail


# --- byte-range splitting ----------------------------------------------------


def _is_bgzf(path: str) -> bool:
    """True for BGZF (bgzip) files — gzip members carrying the BC extra
    subfield. Plain gzip is NOT splittable; BGZF is, on block bounds.

    Reads a full 64 KiB header window, not just the fixed 18-byte
    prefix: a valid BGZF extra field may carry additional subfields
    before/after BC (xlen > 6), and an under-read would misclassify such
    files as unsplittable plain gzip (silent loss of scan parallelism)."""
    with open(path, "rb") as f:
        head = f.read(65536)
    return len(head) >= 18 and _bgzf_block_size(head, 0) is not None


def _sniff_fastq(path: str) -> bool:
    """True if the first record marker is '@' (FASTQ), False for '>'."""
    with open_maybe_gzip(path) as f:
        for line in f:
            s = line.strip()
            if s:
                if s[:1] == b"@":
                    return True
                if s[:1] == b">":
                    return False
                raise FastxError(f"Malformed FASTX record near: {s[:50]!r}")
    raise FastxError("Empty file")


def _skip_to_record(lines: Iterator[tuple], is_fastq: bool) -> Iterator[tuple]:
    """``lines`` (tuples led by a line) from the first record start on,
    empty when there is none.

    FASTA: the next line starting with ``>`` (unambiguous — sequence lines
    cannot start with '>'). FASTQ: within the next 8 lines, one starting
    with '@' whose line+2 starts with '+' and whose line+1/line+3 lengths
    match (a quality line starting with '@' fails the '+'-at-+2 check
    because the following line is sequence)."""
    if not is_fastq:
        for item in lines:
            if item[0][:1] == b">":
                return chain([item], lines)
        return iter(())
    window = list(islice(lines, 8))
    for i in range(len(window) - 3):
        head, seq, plus, qual = (item[0] for item in window[i : i + 4])
        if head[:1] == b"@" and plus[:1] == b"+" and len(seq.strip()) == len(qual.strip()):
            return chain(window[i:], lines)
    return iter(())


def _offset_lines(f) -> Iterator[tuple[bytes, int]]:
    """(line, byte offset of its start) from the current position of ``f``."""
    pos = f.tell()
    for line in f:
        yield line, pos
        pos += len(line)


def _next_record_start(path: str, offset: int, is_fastq: bool, filesize: int) -> int:
    """Smallest record-start byte offset >= ``offset`` (see
    :func:`_skip_to_record`). Returns ``filesize`` when the offset is
    inside the final record."""
    if offset <= 0:
        return 0
    if offset >= filesize:
        return filesize
    with open(path, "rb") as f:
        f.seek(offset - 1)
        if f.read(1) != b"\n":
            f.readline()  # discard the partial line
        first = next(_skip_to_record(_offset_lines(f), is_fastq), None)
    return filesize if first is None else first[1]


def plan_fastx_splits(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """[(start, end), ...] byte ranges aligned to record starts."""
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


def count_fastx_range(
    path: str, start: int, end: int, filesize: int, bgzf: bool = False
) -> int:
    """Record count in a split range.

    Plain files: a byte scan, no parsing. FASTQ: newlines/4 (strict 4-line
    records enforced — %4 != 0 means multi-line/blank-line FASTQ, which
    cannot be split). FASTA: count of '>' line-starts — exact for any
    FASTA. BGZF has no in-phase byte shortcut (cutoffs are line- not
    record-aligned), so a BGZF range is parsed; the cost is one extra
    decompression pass, paid in parallel."""
    if bgzf:
        return sum(1 for _ in iter_fastx_range(path, start, end, bgzf=True))
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


# --- BGZF (bgzip) byte-range splitting ---------------------------------------
#
# BGZF-compressed FASTX (the 100 TB norm for read sets — bgzip output) is
# splittable on its block boundaries with the machinery BAM already uses
# (sources/sam.py, BAM byte-range section): ranges are COMPRESSED offset
# intervals [cb_start, cb_end) from plan_even_splits; ownership of
# boundary-straddling records follows the Hadoop LineRecordReader
# convention lifted to the decompressed stream:
#
#   cutoff(cb) = start of the line FOLLOWING the first newline whose byte
#                lies in a BGZF block with compressed offset >= cb
#
# _bgzf_lines marks lines at-or-after cutoff(cb_end) as not owned. A range
# other than the first discards the lines before cutoff(cb_start) and then
# aligns to the next record start with the same probe the plain splitter
# uses (_skip_to_record); the record grammar stops at the first header it
# does not own, decompressing past cb_end as needed to finish its last
# record. Both sides of every boundary compute the same cutoff from the
# same bytes, so the union over ranges is exactly the whole file. FASTQ
# requires strict 4-line records (same contract as the uncompressed
# splitter); FASTA is fully general.


def _bgzf_lines(s: _BgzfStream, cb_end: int) -> Iterator[tuple[bytes, bool]]:
    """(line, owned) from a BGZF stream: a line is owned until an earlier
    line's newline lay in a block with compressed offset >= ``cb_end``."""
    owned = True
    while s._ensure():
        chunks: list[bytes] = []
        while True:
            nl = s.buf.find(b"\n", s.buf_pos)
            stop = len(s.buf) if nl < 0 else nl + 1
            chunks.append(s.buf[s.buf_pos : stop])
            s.buf_pos = stop
            if nl >= 0 or not s._ensure():  # else: final line, no newline
                break
        yield b"".join(chunks), owned
        if s.cur_block_off >= cb_end:
            owned = False


def iter_fastx_range(
    path: str, start: int, end: int, bgzf: bool = False
) -> Iterator[tuple[str, str, str, str | None]]:
    """Records of one split range, read with strict 4-line FASTQ.

    Plain files: records whose START byte lies in [start, end), which is
    aligned to record starts by :func:`plan_fastx_splits`. BGZF files:
    records owned by compressed range [start, end) — see the section
    comment for the boundary convention."""
    if not bgzf:
        with open(path, "rb") as f:
            f.seek(start)
            lines = ((line, pos < end) for line, pos in _offset_lines(f))
            yield from _fastx_records(lines, strict_fourline=True)
        return
    b0 = find_bgzf_block(path, start) if start > 0 else 0
    if b0 is None or b0 >= end:
        return
    s = _BgzfStream(path, b0)
    try:
        lines = _bgzf_lines(s, end)
        if start > 0:
            next(lines, None)  # discard up to cutoff(start)
            lines = _skip_to_record(lines, _sniff_fastq(path))
        yield from _fastx_records(lines, strict_fourline=True)
    finally:
        s.close()


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
    if split["kind"] == "pair":
        p1, p2 = split["p1"], split["p2"]
        rows = fastx_rows(
            p1, _file_records(p1), None if p2 is None else _file_records(p2), 0,
            qual_offset, include_filepath,
        )
    else:
        path = split["path"]
        records = iter_fastx_range(
            path, split["start"], split["end"], bgzf=split["kind"] == "bgzf"
        )
        rows = fastx_rows(
            path, records, None, split["offset"], qual_offset, include_filepath
        )
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
    if max_split_bytes <= 0:
        raise FastxError(f"max_split_bytes must be positive, got {max_split_bytes}")
    out: list[dict] = []
    for p1, p2 in pairs:
        kind = "pair"
        if p2 is None and os.path.getsize(p1) > max_split_bytes:
            if not is_gzip(p1):
                kind, ranges = "range", plan_fastx_splits(p1, max_split_bytes)
            elif _is_bgzf(p1):
                kind, ranges = "bgzf", plan_even_splits(p1, max_split_bytes)
        if kind == "pair":
            out.append({"kind": "pair", "p1": p1, "p2": p2})
        else:
            out += [
                {"kind": kind, "path": p1, "start": s, "end": e, "offset": 0}
                for s, e in ranges
            ]

    def _count(split: dict) -> int:
        path = split["path"]
        return count_fastx_range(
            path, split["start"], split["end"], os.path.getsize(path),
            bgzf=split["kind"] == "bgzf",
        )

    to_count = [split for split in out if split["kind"] != "pair"]
    if to_count:
        if sum(split["end"] - split["start"] for split in to_count) < DRIVER_COUNT_BYTES:
            counts = list(map(_count, to_count))
        else:
            counts = (
                spark.sparkContext.parallelize(to_count, len(to_count)).map(_count).collect()
            )
        running: dict[str, int] = {}
        for split, n in zip(to_count, counts):
            split["offset"] = running.get(split["path"], 0)
            running[split["path"]] = split["offset"] + n
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

"""``read_alignments`` / ``read_sam`` / ``read_sequences_sam``: SAM/BAM readers.

Parity target: reference src/read_alignments.cpp:14-278, record decode
src/include/SAMRecord.hpp:244-358, headerless mode src/SAMReader.cpp:33-120,
sequence view src/read_sequences_sam.cpp:11-205. Goldens:
test/sql/read_alignments.test, sam_tag_sentinel.test, read_sequences_sam.test.

No htslib dependency: SAM text is parsed directly; BAM's BGZF container is
a sequence of concatenated gzip members, which Python's zlib/gzip decodes
natively, and the record layout is fixed little-endian structs.

Semantics (matching SAMRecord.hpp:244-358 exactly):
- 21-column schema; flags int (reference USMALLINT), positions BIGINT.
- position: SAM text POS passthrough (already 1-based; 0 = unmapped).
- stop_position: 0 when flag 0x4; else position + reference_span(cigar),
  or position + 1 when the CIGAR consumes no reference (htslib bam_endpos).
- mate_reference: '=' when equal to reference, '*' when unset.
- int tags AS/XS/YS/XN/XM/XO/XG/NM → BIGINT, NULL when absent (negative
  values preserved — sam_tag_sentinel.test); string tags YT/MD/SA → NULL
  when absent.
- include_seq_qual adds sequence + qual (0-93 ints); a primary or unmapped
  record with SEQ='*' is an error.
- Headerless SAM needs ``reference_lengths`` [(name, length)]; BAM always
  carries a header so combining it with reference_lengths is an error.

Scale shape: one partition per file by default (the reference has the same
file-level parallelism). ``max_split_bytes`` turns one multi-GB file into
N byte-range partitions: SAM text splits on line boundaries (exact — one
record per line, '@' lines are always headers); BAM splits on BGZF block
boundaries with htsjdk-style record-start guessing (see the BAM
byte-range section below). Plain-gzip SAM stays whole-file (gzip is not
block-addressable). A whole-file scan is the full range ``[0, math.inf)``
of the same reader, so each format has one parser (``read_sam_text``,
``read_bam_range``).
"""

from __future__ import annotations

import bisect
import glob as globmod
import gzip
import io
import math
import os
import struct
import warnings
import zlib
from collections.abc import Iterator
from contextlib import closing

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

from duckdb_miint_spark.functions.cigar import cigar_reference_span
from duckdb_miint_spark.sources.arrow_batch import batched, split_scan

INT_TAGS = ("AS", "XS", "YS", "XN", "XM", "XO", "XG", "NM")
STR_TAGS = ("YT", "MD", "SA")


class SamError(ValueError):
    pass


def alignments_schema(include_seq_qual: bool = False, include_filepath: bool = False) -> StructType:
    fields = [
        StructField("read_id", StringType()),
        StructField("flags", IntegerType()),
        StructField("reference", StringType()),
        StructField("position", LongType()),
        StructField("stop_position", LongType()),
        StructField("mapq", IntegerType()),
        StructField("cigar", StringType()),
        StructField("mate_reference", StringType()),
        StructField("mate_position", LongType()),
        StructField("template_length", LongType()),
    ]
    fields += [StructField(f"tag_{t.lower()}", LongType()) for t in INT_TAGS]
    fields += [StructField(f"tag_{t.lower()}", StringType()) for t in STR_TAGS]
    if include_seq_qual:
        fields.append(StructField("sequence", StringType()))
        fields.append(StructField("qual", ArrayType(IntegerType())))
    if include_filepath:
        fields.append(StructField("filepath", StringType()))
    return StructType(fields)


# --- record assembly (shared by SAM text and BAM binary) ---------------------


def _stop_position(flags: int, position: int, cigar: str) -> int:
    if flags & 0x4:
        return 0
    span = cigar_reference_span(cigar) if cigar and cigar != "*" else 0
    # htslib bam_endpos: no reference-consuming ops -> pos+1 (0-based excl end)
    return position + (span if span > 0 else 1)


def _finish_row(
    read_id: str,
    flags: int,
    reference: str,
    position: int,
    mapq: int,
    cigar: str,
    mate_reference: str,
    mate_position: int,
    template_length: int,
    tags: dict,
    seq: str | None,
    qual: list[int] | None,
    include_seq_qual: bool,
    filepath: str | None,
) -> tuple:
    if mate_reference not in ("*", "=") and mate_reference == reference:
        mate_reference = "="
    row = [
        read_id,
        flags,
        reference,
        position,
        _stop_position(flags, position, cigar),
        mapq,
        cigar,
        mate_reference,
        mate_position,
        template_length,
    ]
    row += [tags.get(t) for t in INT_TAGS]
    row += [tags.get(t) for t in STR_TAGS]
    if include_seq_qual:
        is_primary = (flags & 0x900) == 0
        is_unmapped = (flags & 0x4) != 0
        if (seq is None or seq == "" ) and (is_primary or is_unmapped):
            raise SamError(f"Primary/unmapped read missing sequence (SEQ='*'): {read_id}")
        row.append(seq or "")
        row.append(qual if qual is not None else [])
    if filepath is not None:
        row.append(filepath)
    return tuple(row)


# --- SAM text ----------------------------------------------------------------


def is_gzip(path: str) -> bool:
    """gzip (BGZF included) sniffed from the magic bytes, like kseq/htslib."""
    with open(path, "rb") as f:
        return f.read(2) == b"\x1f\x8b"


def open_maybe_gzip(path: str):
    """Binary stream of a file's content, gunzipped when :func:`is_gzip`."""
    return gzip.open(path, "rb") if is_gzip(path) else open(path, "rb")


def is_bam(path: str) -> bool:
    """BAM = BGZF-compressed 'BAM\\1' magic."""
    if not is_gzip(path):
        return False
    with gzip.open(path, "rb") as g:
        return g.read(4) == b"BAM\x01"


def sam_header_refs(path: str) -> tuple[list[tuple[str, int]], bool]:
    """(reference (name, length) list, has_any_header_line) from SAM text."""
    refs: list[tuple[str, int]] = []
    has_header = False
    with open_maybe_gzip(path) as f:
        t = io.TextIOWrapper(f, encoding="utf-8")
        for line in t:
            if not line.startswith("@"):
                break
            has_header = True
            if line.startswith("@SQ"):
                name, length = None, None
                for field in line.rstrip("\n").split("\t")[1:]:
                    if field.startswith("SN:"):
                        name = field[3:]
                    elif field.startswith("LN:"):
                        length = int(field[3:])
                if name is not None:
                    refs.append((name, length or 0))
    return refs, has_header


def _parse_sam_tags(fields: list[str]) -> dict:
    tags: dict = {}
    for field in fields:
        parts = field.split(":", 2)
        if len(parts) != 3:
            continue
        tag, typ, val = parts
        if tag in INT_TAGS and typ == "i":
            tags[tag] = int(val)
        elif tag in STR_TAGS and typ == "Z":
            tags[tag] = val
    return tags


def _sam_line_to_row(
    line: str,
    known_refs: set[str],
    include_seq_qual: bool,
    filepath: str | None,
) -> tuple:
    fields = line.split("\t")
    if len(fields) < 11:
        raise SamError(f"Malformed SAM record ({len(fields)} fields): {line[:60]}")
    (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual) = fields[:11]
    flags = int(flag)
    if rname != "*" and known_refs and rname not in known_refs:
        raise SamError(f"Reference name not found in header: {rname}")
    seq_out = None if seq == "*" else seq
    qual_out: list[int] | None
    if qual == "*":
        qual_out = [] if seq_out else None
    else:
        qual_out = [ord(c) - 33 for c in qual]
    return _finish_row(
        qname,
        flags,
        rname,
        int(pos),
        int(mapq),
        cigar,
        rnext,
        int(pnext),
        int(tlen),
        _parse_sam_tags(fields[11:]),
        seq_out,
        qual_out,
        include_seq_qual,
        filepath,
    )


def read_sam_text(
    path: str,
    start: int,
    end: int | float,
    known_refs: set[str],
    include_seq_qual: bool,
    filepath: str | None,
) -> Iterator[tuple]:
    """Records whose line START byte lies in [start, end) of the (gzip
    sniffed) text; a whole-file read is ``[0, math.inf)``. Only plain
    files are split, so only they are seeked. Every SAM record is exactly
    one line and a line beginning with '@' is always a header (QNAME's
    grammar ``[!-?A-~]`` excludes '@' — SAMv1 spec §1.4), so line
    boundaries are record boundaries and ranges need no record-structure
    probing."""
    with open_maybe_gzip(path) as f:
        if start > 0:
            f.seek(start - 1)
            if f.read(1) != b"\n":
                f.readline()  # discard partial line
        pos = f.tell()
        for line in f:
            if pos >= end:
                break
            pos += len(line)
            s = line.rstrip(b"\r\n")
            if not s or s[:1] == b"@":
                continue
            yield _sam_line_to_row(
                s.decode("utf-8"), known_refs, include_seq_qual, filepath
            )


def plan_even_splits(path: str, target_bytes: int) -> list[tuple[int, int]]:
    """[(start, end)] raw byte ranges of about ``target_bytes`` each. The
    range readers align them (SAM text to lines, BGZF to blocks and then
    to records), so planning is pure arithmetic."""
    size = os.path.getsize(path)
    n_chunks = max(1, size // target_bytes)
    bounds = [k * size // n_chunks for k in range(n_chunks)] + [size]
    return [(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]


# --- BAM binary --------------------------------------------------------------

_SEQ_NT16 = "=ACMGRSVTWYHKDBN"


def _parse_bam_tags(data: bytes) -> dict:
    tags: dict = {}
    i = 0
    n = len(data)
    while i + 3 <= n:
        tag = data[i : i + 2].decode()
        typ = chr(data[i + 2])
        i += 3
        if typ == "A":
            val = chr(data[i]); i += 1
        elif typ == "c":
            (val,) = struct.unpack_from("<b", data, i); i += 1
        elif typ == "C":
            (val,) = struct.unpack_from("<B", data, i); i += 1
        elif typ == "s":
            (val,) = struct.unpack_from("<h", data, i); i += 2
        elif typ == "S":
            (val,) = struct.unpack_from("<H", data, i); i += 2
        elif typ == "i":
            (val,) = struct.unpack_from("<i", data, i); i += 4
        elif typ == "I":
            (val,) = struct.unpack_from("<I", data, i); i += 4
        elif typ == "f":
            (val,) = struct.unpack_from("<f", data, i); i += 4
        elif typ in ("Z", "H"):
            end = data.index(b"\x00", i)
            val = data[i:end].decode()
            i = end + 1
        elif typ == "B":
            sub = chr(data[i])
            (cnt,) = struct.unpack_from("<i", data, i + 1)
            size = {"c": 1, "C": 1, "s": 2, "S": 2, "i": 4, "I": 4, "f": 4}[sub]
            i += 5 + cnt * size
            continue
        else:
            raise SamError(f"Unknown BAM tag type: {typ}")
        if tag in INT_TAGS and isinstance(val, int):
            tags[tag] = val
        elif tag in STR_TAGS and typ == "Z":
            tags[tag] = val
    return tags


_CIGAR_OPS = "MIDNSHP=X"


# --- BAM byte-range splitting ------------------------------------------------
#
# BGZF is a sequence of independent gzip members (<= 64 KiB decompressed)
# whose header carries the compressed block size in a 'BC' extra subfield,
# so any byte offset can be aligned to the next block boundary by scanning
# for the 4-byte gzip magic and validating the subfield + a chained
# next-block check. Records span blocks, so a partition additionally
# guesses the first record START inside its first block by validating a
# chain of plausible record structures (refID/l_read_name/NUL/cigar-op/
# size-consistency checks) — the approach htsjdk/Hadoop-BAM use for
# splittable BAM. A record belongs to the partition owning the block its
# FIRST byte lives in (virtual-offset semantics), so ranges are exact:
# no duplicate and no lost records at boundaries. A whole-file scan is the
# range [0, math.inf) of the same reader (read_bam_range).

_BGZF_MAGIC = b"\x1f\x8b\x08\x04"


def _bgzf_block_size(data: bytes, off: int) -> int | None:
    """Compressed size of the BGZF block at ``off``, or None if not a
    valid block header (magic + 'BC' subfield)."""
    if data[off : off + 4] != _BGZF_MAGIC or off + 18 > len(data):
        return None
    (xlen,) = struct.unpack_from("<H", data, off + 10)
    p = off + 12
    end = p + xlen
    if end > len(data):
        return None
    while p + 4 <= end:
        si1, si2, slen = data[p], data[p + 1], struct.unpack_from("<H", data, p + 2)[0]
        if si1 == 0x42 and si2 == 0x43 and slen == 2:
            if p + 6 > end:
                return None
            (bsize,) = struct.unpack_from("<H", data, p + 4)
            return bsize + 1
        p += 4 + slen
    return None


def find_bgzf_block(path: str, offset: int) -> int | None:
    """Smallest BGZF block start >= ``offset`` (None past the last block).

    A block is <= 64 KiB + 18 B compressed, so scanning one 192 KiB
    window always finds the next boundary; candidates are verified by
    parsing the BC subfield AND checking the next block's magic at
    offset + BSIZE (or EOF), which kills false positives from compressed
    payload bytes that happen to contain the magic."""
    size = os.path.getsize(path)
    if offset >= size:
        return None
    with open(path, "rb") as f:
        f.seek(offset)
        window = f.read(192 * 1024)
        pos = 0
        while True:
            hit = window.find(_BGZF_MAGIC, pos)
            if hit < 0:
                return None
            bsize = _bgzf_block_size(window, hit)
            if bsize is not None:
                nxt = hit + bsize
                if offset + nxt == size:
                    return offset + hit
                if nxt + 4 <= len(window):
                    if window[nxt : nxt + 4] == _BGZF_MAGIC:
                        return offset + hit
                else:
                    f.seek(offset + nxt)
                    if f.read(4) == _BGZF_MAGIC or offset + nxt >= size:
                        return offset + hit
            pos = hit + 1


class _BgzfStream:
    """Sequential block-at-a-time BGZF reader exposing the compressed
    offset of the block that contains the next unread byte."""

    def __init__(self, path: str, start_block: int):
        self.f = open(path, "rb")
        self.f.seek(start_block)
        self.buf = b""
        self.buf_pos = 0
        self.cur_block_off = start_block
        self.eof = False

    def close(self):
        self.f.close()

    def _load_next_block(self) -> bool:
        while True:
            off = self.f.tell()
            hdr = self.f.read(18)
            if len(hdr) < 18:
                self.eof = True
                return False
            bsize = _bgzf_block_size(hdr, 0)
            if bsize is None:
                raise SamError(f"Lost BGZF block alignment at offset {off}")
            body = hdr + self.f.read(bsize - 18)
            data = zlib.decompressobj(31).decompress(body)
            if not data:  # empty block (BGZF EOF marker) — keep going
                continue
            self.cur_block_off = off
            self.buf = data
            self.buf_pos = 0
            return True

    def next_byte_block(self) -> int | None:
        """Compressed offset of the block holding the next byte."""
        if self.buf_pos >= len(self.buf) and not self._ensure():
            return None
        return self.cur_block_off

    def _ensure(self) -> bool:
        while self.buf_pos >= len(self.buf):
            if not self._load_next_block():
                return False
        return True

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            if not self._ensure():
                break
            take = min(n, len(self.buf) - self.buf_pos)
            out += self.buf[self.buf_pos : self.buf_pos + take]
            self.buf_pos += take
            n -= take
        return bytes(out)

    def skip(self, n: int) -> None:
        while n > 0:
            if not self._ensure():
                return
            take = min(n, len(self.buf) - self.buf_pos)
            self.buf_pos += take
            n -= take


_MAX_TAG_BYTES = 1 << 20


def _valid_record_at(buf: bytes, o: int, n_ref: int):
    """None = buffer too short to judge; False = invalid; else the
    record's block_size (chain can advance o + 4 + size)."""
    if o + 36 > len(buf):
        return None
    (bs, ref_id, pos) = struct.unpack_from("<iii", buf, o)
    l_read_name = buf[o + 12]
    (n_cigar,) = struct.unpack_from("<H", buf, o + 16)
    (l_seq, next_ref, next_pos) = struct.unpack_from("<iii", buf, o + 20)
    if bs < 32 or l_read_name < 1 or l_seq < 0:
        return False
    if not (-1 <= ref_id < n_ref and -1 <= next_ref < n_ref):
        return False
    if pos < -1 or next_pos < -1:
        return False
    min_size = 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if bs < min_size or bs > min_size + _MAX_TAG_BYTES:
        return False
    name_end = o + 36 + l_read_name
    if name_end <= len(buf):
        name = buf[o + 36 : name_end]
        if name[-1] != 0 or 0 in name[:-1]:
            return False
        for k in range(min(n_cigar, 8)):
            off = name_end + 4 * k
            if off + 4 > len(buf):
                break
            if (struct.unpack_from("<I", buf, off)[0] & 0xF) > 8:
                return False
    return bs


def _guess_first_record(buf: bytes, n_ref: int, first_block_len: int) -> int | None:
    """Decompressed offset of the first record STARTING in the first
    block of ``buf`` (a multi-block validation window), or None.

    A candidate is accepted when a chain of >= 3 fully-validated records
    follows it, or the chain stays valid to the window's end."""
    for o in range(min(first_block_len, len(buf) - 35)):
        p = o
        full = 0
        consistent_to_end = False
        while True:
            v = _valid_record_at(buf, p, n_ref)
            if v is False:
                break
            if v is None:  # record head extends past window — consistent
                consistent_to_end = True
                break
            p += 4 + v
            if p > len(buf):  # body extends past window — consistent
                consistent_to_end = True
                break
            full += 1
            if p == len(buf):
                consistent_to_end = True
                break
            if full >= 3:
                break
        if full >= 3 or (full >= 1 and consistent_to_end):
            return o
    return None


def _bam_header_refs(stream: _BgzfStream) -> list[str]:
    """Reference names of the BAM header at the start of ``stream``,
    which is left at the first record."""
    if stream.read(4) != b"BAM\x01":
        raise SamError("Not a BAM file")
    (l_text,) = struct.unpack("<i", stream.read(4))
    stream.skip(l_text)  # header text (refs come from the binary list)
    (n_ref,) = struct.unpack("<i", stream.read(4))
    names = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack("<i", stream.read(4))
        names.append(stream.read(l_name)[:-1].decode())
        stream.skip(4)  # l_ref
    return names


# --- BAI/CSI index-guided splits ---------------------------------------------
#
# When a coordinate-sorted BAM ships with its .bai/.csi, the index's
# virtual offsets (coffset << 16 | uoffset) are EXACT record starts —
# chunk begins, the BAI linear index, CSI bin loffsets, and the
# pseudo-bin's unmapped-region start. A split reader enters at the
# largest known record start strictly before its range, then walks
# record-by-record (length-prefixed skips, no decoding) until it reaches
# the first record whose start block is inside the range — no guessing.
# The record-start guesser (above) stays as the fallback for index-less
# files. Spec: SAMv1.pdf sections 5.1.3 (BAI) / CSIv1 (public HTS specs).

_BAI_PSEUDO_BIN = 37450
_INDEX_CACHE: dict = {}


def _parse_bai_voffsets(data: bytes) -> list[int]:
    offs: set[int] = set()
    (n_ref,) = struct.unpack_from("<i", data, 4)
    p = 8
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, p)
        p += 4
        for _ in range(n_bin):
            bin_id, n_chunk = struct.unpack_from("<Ii", data, p)
            p += 8
            if bin_id == _BAI_PSEUDO_BIN:
                # chunk 1 = (unmapped_beg, unmapped_end): beg is a record
                # start; chunk 2 = (n_mapped, n_unmapped) counts — skip
                if n_chunk >= 1:
                    offs.add(struct.unpack_from("<Q", data, p)[0])
                p += 16 * n_chunk
                continue
            for _ in range(n_chunk):
                (beg,) = struct.unpack_from("<Q", data, p)
                offs.add(beg)
                p += 16
        (n_intv,) = struct.unpack_from("<i", data, p)
        p += 4
        for k in range(n_intv):
            (io,) = struct.unpack_from("<Q", data, p + 8 * k)
            if io:
                offs.add(io)
        p += 8 * n_intv
    offs.discard(0)
    return sorted(offs)


def _parse_csi_voffsets(data: bytes) -> list[int]:
    _min_shift, depth, l_aux = struct.unpack_from("<iii", data, 4)
    max_bin = ((1 << (3 * (depth + 1))) - 1) // 7
    p = 16 + l_aux
    (n_ref,) = struct.unpack_from("<i", data, p)
    p += 4
    offs: set[int] = set()
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, p)
        p += 4
        for _ in range(n_bin):
            bin_id, loffset, n_chunk = struct.unpack_from("<IQi", data, p)
            p += 16
            if bin_id > max_bin:  # CSI pseudo-bin: same layout as BAI's
                if n_chunk >= 1:
                    offs.add(struct.unpack_from("<Q", data, p)[0])
                p += 16 * n_chunk
                continue
            if loffset:
                offs.add(loffset)
            for _ in range(n_chunk):
                (beg,) = struct.unpack_from("<Q", data, p)
                offs.add(beg)
                p += 16
    offs.discard(0)
    return sorted(offs)


def _bam_index_voffsets(path: str) -> list[int] | None:
    """Sorted record-start virtual offsets from ``<path>.bai`` /
    ``<path>.csi`` (also ``x.bai`` next to ``x.bam``), or None when no
    index exists / it holds no offsets / it is STALE (older than the
    BAM — a rewritten BAM under an old index would yield virtual offsets
    that are not record starts, and the length-prefix walk would
    misparse). Cached per (index path, index mtime, BAM mtime)."""
    bam_mtime = os.path.getmtime(path) if os.path.exists(path) else 0.0
    candidates = [path + ".bai", path + ".csi"]
    root, ext = os.path.splitext(path)
    if ext == ".bam":
        candidates += [root + ".bai", root + ".csi"]
    for idx_path in candidates:
        if not os.path.exists(idx_path):
            continue
        if os.path.getmtime(idx_path) < bam_mtime:
            warnings.warn(
                f"Ignoring stale index {idx_path} (older than {path}); "
                "falling back to record-start scanning",
                stacklevel=2,
            )
            continue
        key = (idx_path, os.path.getmtime(idx_path), bam_mtime)
        hit = _INDEX_CACHE.get(key)
        if hit is not None:
            return hit or None
        raw = open(idx_path, "rb").read()
        if raw[:4] == b"\x1f\x8b\x08\x04" or raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)  # CSI is BGZF-compressed; BAI may be
        if raw[:4] == b"BAI\x01":
            offs = _parse_bai_voffsets(raw)
        elif raw[:4] == b"CSI\x01":
            offs = _parse_csi_voffsets(raw)
        else:
            raise SamError(f"Unrecognized index magic in {idx_path}: {raw[:4]!r}")
        _INDEX_CACHE.clear()
        _INDEX_CACHE[key] = offs
        return offs or None
    return None


def _decode_bam_record(
    rec: bytes,
    ref_names: list[str],
    include_seq_qual: bool,
    filepath: str | None,
) -> tuple:
    """One BAM record body (after the 4-byte block_size) -> output row."""
    (
        ref_id,
        pos,
        l_read_name,
        mapq,
        _bin,
        n_cigar_op,
        flag,
        l_seq,
        next_ref_id,
        next_pos,
        tlen,
    ) = struct.unpack_from("<iiBBHHHiiii", rec, 0)
    off = 32
    read_id = rec[off : off + l_read_name - 1].decode()
    off += l_read_name
    cigar_ops = struct.unpack_from(f"<{n_cigar_op}I", rec, off)
    off += 4 * n_cigar_op
    seq_bytes = rec[off : off + (l_seq + 1) // 2]
    off += (l_seq + 1) // 2
    qual_bytes = rec[off : off + l_seq]
    off += l_seq
    tags = _parse_bam_tags(rec[off:])
    cigar = (
        "".join(f"{op >> 4}{_CIGAR_OPS[op & 0xF]}" for op in cigar_ops)
        if n_cigar_op
        else "*"
    )
    reference = ref_names[ref_id] if ref_id >= 0 else "*"
    if next_ref_id >= 0:
        mate_reference = "=" if next_ref_id == ref_id else ref_names[next_ref_id]
    else:
        mate_reference = "*"
    seq = None
    qual: list[int] | None = None
    if l_seq > 0:
        seq = "".join(
            _SEQ_NT16[(seq_bytes[i >> 1] >> (4 if i % 2 == 0 else 0)) & 0xF]
            for i in range(l_seq)
        )
        qual = [] if qual_bytes[:1] == b"\xff" else list(qual_bytes)
    return _finish_row(
        read_id,
        flag,
        reference,
        pos + 1 if pos >= 0 else 0,
        mapq,
        cigar,
        mate_reference,
        next_pos + 1 if next_pos >= 0 else 0,
        tlen,
        tags,
        seq,
        qual,
        include_seq_qual,
        filepath,
    )


def _range_entry(path: str, start: int, end: int, n_ref: int) -> int | None:
    """Virtual offset at which a reader of range [start, end) enters: the
    largest index record start before the range's first block (the reader
    walks on from it), else the guessed first record start in the first
    block at or after ``start``. None when no block starts in the range."""
    voffs = _bam_index_voffsets(path)
    if voffs is not None:
        i = bisect.bisect_left(voffs, start << 16)
        return voffs[i - 1] if i > 0 else voffs[0]
    b0 = find_bgzf_block(path, start)
    if b0 is None or b0 >= end:
        return None
    # validation window: first block + following blocks up to ~1 MiB
    with closing(_BgzfStream(path, b0)) as win:
        if not win._ensure():
            return None
        first_block_len = len(win.buf)
        window = win.read(1 << 20)
    guess = _guess_first_record(window, n_ref, first_block_len)
    return None if guess is None else (b0 << 16) | guess


def _record_size(stream: _BgzfStream) -> int:
    """block_size of the record at the stream position (not at EOF)."""
    head = stream.read(4)
    if len(head) < 4:
        raise SamError("Truncated BAM record")
    return struct.unpack("<i", head)[0]


def read_bam_range(
    path: str,
    start: int,
    end: int | float,
    include_seq_qual: bool,
    filepath: str | None,
) -> Iterator[tuple]:
    """Records whose START byte lives in a BGZF block with compressed
    offset in [start, end); a whole-file read is ``[0, math.inf)``.
    Range 0 reads on from the header (no guessing); later ranges enter
    through :func:`_range_entry` (see the section comments)."""
    stream = _BgzfStream(path, 0)
    try:
        ref_names = _bam_header_refs(stream)
        if start > 0:
            stream.close()
            entry = _range_entry(path, start, end, len(ref_names))
            if entry is None:
                return
            stream = _BgzfStream(path, entry >> 16)
            stream.skip(entry & 0xFFFF)
        # an index entry may lie before the range: length-prefix-skip (no
        # decoding) up to the first record starting at block >= start
        while (blk := stream.next_byte_block()) is not None and blk < start:
            stream.skip(_record_size(stream))
        while (blk := stream.next_byte_block()) is not None and blk < end:
            size = _record_size(stream)
            rec = stream.read(size)
            if len(rec) < size:
                raise SamError("Truncated BAM record")
            yield _decode_bam_record(rec, ref_names, include_seq_qual, filepath)
    finally:
        stream.close()


# --- scan planning (driver) ---------------------------------------------------


def resolve_sam_files(filename: str | list[str]) -> list[str]:
    if isinstance(filename, str):
        if any(c in filename for c in "*?["):
            files = sorted(globmod.glob(filename))
            if not files:
                raise SamError(f"File not found: {filename}")
            return files
        files = [filename]
    else:
        files = list(filename)
    if not files:
        raise SamError("at least one file path must be provided")
    for f in files:
        if not os.path.exists(f):
            raise SamError(f"File not found: {f}")
    return files


def plan_sam_scan(
    files: list[str], reference_lengths: list[tuple[str, int]] | None
) -> list[tuple[str, bool, list[str]]]:
    """Bind-time validation: per-file (path, is_bam, known_ref_names).

    Mirrors read_alignments.cpp:107-174 — BAM may not combine with
    reference_lengths; headerless SAM requires it; @SQ sets must be
    consistent across files.
    """
    plans = []
    sq_sets: list[list[tuple[str, int]]] = []
    for f in files:
        if is_bam(f):
            if reference_lengths:
                raise SamError(f"BAM file has header, reference_lengths not allowed: {f}")
            plans.append((f, True, []))
            continue
        refs, _has_header = sam_header_refs(f)
        if not refs and not reference_lengths:
            # uBAM-style files (all records unmapped, rname '*') still parse;
            # mapped records will fail the known-refs check at read time.
            plans.append((f, False, []))
            continue
        known = [r[0] for r in refs] + [r[0] for r in (reference_lengths or [])]
        if refs:
            sq_sets.append(refs)
        plans.append((f, False, known))
    if len({tuple(s) for s in sq_sets}) > 1:
        raise SamError("Inconsistent headers across input files")
    return plans


def plan_alignment_splits(
    plans: list[tuple[str, bool, list[str]]], max_split_bytes: int | None
) -> list[tuple[str, bool, list[str], int, int | float]]:
    """(path, is_bam, known_refs, start, end) per split: one whole-file
    split (``[0, math.inf)``) per file, or byte ranges for files larger
    than ``max_split_bytes`` (BAM and plain SAM split; plain-gzip SAM
    can't)."""
    if max_split_bytes is not None and max_split_bytes <= 0:
        raise SamError(f"max_split_bytes must be positive, got {max_split_bytes}")
    splits = []
    for p, b, k in plans:
        if (
            max_split_bytes is not None
            and (b or not is_gzip(p))
            and os.path.getsize(p) > max_split_bytes
        ):
            splits += [(p, b, k, s, e) for s, e in plan_even_splits(p, max_split_bytes)]
        else:
            splits.append((p, b, k, 0, math.inf))
    return splits


def read_sam_split(
    split: tuple[str, bool, list[str], int, int | float],
    include_seq_qual: bool,
    include_filepath: bool,
) -> Iterator[pa.RecordBatch]:
    """Arrow batches for one split planned by :func:`plan_alignment_splits`."""
    path, bam, known_refs, start, end = split
    fp = path if include_filepath else None
    if bam:
        rows = read_bam_range(path, start, end, include_seq_qual, fp)
    else:
        rows = read_sam_text(path, start, end, set(known_refs), include_seq_qual, fp)
    yield from batched(rows, alignments_schema(include_seq_qual, include_filepath))


def read_alignments(
    spark: SparkSession,
    filename: str | list[str],
    reference_lengths: DataFrame | list[tuple[str, int]] | None = None,
    include_filepath: bool = False,
    include_seq_qual: bool = False,
    max_split_bytes: int | None = None,
) -> DataFrame:
    """The reference's ``read_alignments``/``read_sam`` table function.

    ``reference_lengths`` may be a small DataFrame with (name, length) —
    collected at plan time, exactly as the reference materializes the
    catalog table at bind (read_alignments.cpp:107-174).

    ``max_split_bytes``: files above this size scan as multiple byte-range
    partitions — SAM text on line boundaries (exact), BAM on BGZF block
    boundaries with record-start guessing; plain-gzip SAM stays whole-file.
    """
    from duckdb_miint_spark.sources.stdin_util import (
        any_stdin_in_list,
        is_stdin,
        spool_stdin,
    )

    if is_stdin(filename):
        tmp = spool_stdin(".sam")
        df = read_alignments(
            spark,
            tmp,
            reference_lengths=reference_lengths,
            include_filepath=include_filepath,
            include_seq_qual=include_seq_qual,
        )
        if include_filepath:
            from pyspark.sql import functions as _F

            df = df.withColumn("filepath", _F.lit("/dev/stdin"))
        return df
    if any_stdin_in_list(filename):
        raise SamError("stdin cannot be used in a file list")
    files = resolve_sam_files(filename)
    if isinstance(reference_lengths, DataFrame):
        reference_lengths = [(r[0], int(r[1])) for r in reference_lengths.collect()]
    plans = plan_sam_scan(files, reference_lengths)  # bind-time validation
    return split_scan(
        spark,
        plan_alignment_splits(plans, max_split_bytes),
        lambda split: read_sam_split(split, include_seq_qual, include_filepath),
        alignments_schema(include_seq_qual, include_filepath),
    )


read_sam = read_alignments  # reference alias (miint_extension.cpp)


def read_sequences_sam(
    spark: SparkSession, filename: str | list[str], include_filepath: bool = False
) -> DataFrame:
    """Sequence view of SAM/BAM in the read_fastx schema
    (src/read_sequences_sam.cpp:11-205): per-file 1-based sequence_index,
    comment/sequence2/qual2 always NULL, qual NULL when absent ('*')."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    aln = read_alignments(
        spark, filename, include_filepath=True, include_seq_qual=True
    )
    w = W.partitionBy("filepath").orderBy(F.monotonically_increasing_id())
    out = aln.withColumn("sequence_index", F.row_number().over(w).cast("long")).select(
        "sequence_index",
        "read_id",
        F.lit(None).cast("string").alias("comment"),
        F.when(F.col("sequence") == "", None).otherwise(F.col("sequence")).alias("sequence1"),
        F.lit(None).cast("string").alias("sequence2"),
        F.when(F.size("qual") == 0, None).otherwise(F.col("qual")).alias("qual1"),
        F.lit(None).cast("array<int>").alias("qual2"),
        "filepath",
    )
    return out if include_filepath else out.drop("filepath")

"""Byte-range splitting of large FASTQ/FASTA/SAM files.

The reference's parallelism unit is the file (read_fastx.hpp:57-62); at
100 TB one multi-GB file must not be one straggler task. These tests
prove that split scans produce output IDENTICAL to whole-file scans —
including the per-file 1-based sequence_index — while using >1 input
partition for a single file.
"""

from __future__ import annotations

import gzip
import random

import pytest

from duckdb_miint_spark.sources.fastx import (
    FastxError,
    count_fastx_range,
    plan_fastx_splits,
    read_fastx,
)

QUAL_CHARS = "".join(chr(33 + q) for q in range(0, 42))


def _write_fastq(path, n, seed=7, qual_at=False):
    """n 4-line records with varying lengths; quality lines frequently
    start with '@' (the boundary-prober's adversarial case)."""
    rng = random.Random(seed)
    with open(path, "w") as f:
        for i in range(n):
            ln = rng.randint(20, 120)
            seq = "".join(rng.choice("ACGT") for _ in range(ln))
            # '@' is chr(64) == Phred 31 at offset 33 — make it common
            qual = "@" + "".join(rng.choice(QUAL_CHARS) for _ in range(ln - 1))
            comment = f"c{i}" if i % 3 == 0 else ""
            header = f"@read{i:06d}" + (f" {comment}" if comment else "")
            f.write(f"{header}\n{seq}\n+\n{qual}\n")
    return path


def _write_fasta(path, n, seed=11):
    """Multi-line FASTA (60-char wrap) — fully general split support."""
    rng = random.Random(seed)
    with open(path, "w") as f:
        for i in range(n):
            ln = rng.randint(50, 400)
            seq = "".join(rng.choice("ACGT") for _ in range(ln))
            f.write(f">ctg{i:05d} desc{i}\n")
            for j in range(0, ln, 60):
                f.write(seq[j : j + 60] + "\n")
    return path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fastq_split_identical_to_whole(spark, tmp_path):
    path = _write_fastq(str(tmp_path / "big.fastq"), 3000)
    whole = read_fastx(spark, path)
    split = read_fastx(spark, path, max_split_bytes=64 * 1024)
    assert split.rdd.getNumPartitions() > 4
    assert whole.rdd.getNumPartitions() == 1
    assert _rows(split) == _rows(whole)


def test_fasta_multiline_split_identical(spark, tmp_path):
    path = _write_fasta(str(tmp_path / "big.fasta"), 1500)
    whole = read_fastx(spark, path)
    split = read_fastx(spark, path, max_split_bytes=48 * 1024)
    assert split.rdd.getNumPartitions() > 3
    assert _rows(split) == _rows(whole)


def test_split_sequence_index_is_exact(spark, tmp_path):
    """sequence_index must be the per-file 1..n ordinal, not per-range."""
    path = _write_fastq(str(tmp_path / "idx.fastq"), 1000)
    split = read_fastx(spark, path, max_split_bytes=32 * 1024)
    idx = sorted(r.sequence_index for r in split.select("sequence_index").collect())
    assert idx == list(range(1, 1001))
    # read_id i maps to index i+1 (insertion order preserved)
    by_id = {r.read_id: r.sequence_index for r in split.collect()}
    assert by_id["read000000"] == 1 and by_id["read000999"] == 1000


def test_split_boundaries_land_on_records(tmp_path):
    path = _write_fastq(str(tmp_path / "b.fastq"), 500)
    ranges = plan_fastx_splits(path, 16 * 1024)
    assert len(ranges) > 2
    # contiguous, gap-free cover of the file
    assert ranges[0][0] == 0
    for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
        assert b1 == a2
    with open(path, "rb") as f:
        for start, _end in ranges:
            f.seek(start)
            assert f.read(1) == b"@"  # every range starts at a header


def test_split_count_pass_matches_parse(tmp_path):
    import os

    path = _write_fastq(str(tmp_path / "c.fastq"), 321)
    size = os.path.getsize(path)
    ranges = plan_fastx_splits(path, 8 * 1024)
    total = sum(count_fastx_range(path, s, e, size) for s, e in ranges)
    assert total == 321


def test_small_gzip_and_paired_files_do_not_split(spark, tmp_path):
    p1 = _write_fastq(str(tmp_path / "r1.fastq"), 200, seed=1)
    p2 = _write_fastq(str(tmp_path / "r2.fastq"), 200, seed=1)
    gz = str(tmp_path / "r1.fastq.gz")
    with open(p1, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    # gzip: never split even above the threshold
    assert read_fastx(spark, gz, max_split_bytes=1024).rdd.getNumPartitions() == 1
    # pairs: lockstep streams stay whole
    paired = read_fastx(spark, p1, sequence2=p2, max_split_bytes=1024)
    assert paired.rdd.getNumPartitions() == 1
    assert paired.count() == 200
    # small file under the threshold: one partition
    assert (
        read_fastx(spark, p1, max_split_bytes=10**9).rdd.getNumPartitions() == 1
    )


def test_multiline_fastq_rejects_split(spark, tmp_path):
    path = str(tmp_path / "ml.fastq")
    with open(path, "w") as f:
        for i in range(2000):
            f.write(f"@r{i}\nACGTACGT\nACGT\n+\n{QUAL_CHARS[:8]}\n{QUAL_CHARS[:4]}\n")
    with pytest.raises(Exception):  # surfaces as FastxError from the count job
        read_fastx(spark, path, max_split_bytes=8 * 1024).count()
    # unsplit read of the same file is fine (12-char seq/qual)
    df = read_fastx(spark, path)
    assert df.count() == 2000


def _write_sam(path, n, seed=5):
    rng = random.Random(seed)
    with open(path, "w") as f:
        f.write("@HD\tVN:1.6\tSO:coordinate\n")
        f.write("@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:50000\n")
        for i in range(n):
            ref = rng.choice(["chr1", "chr2", "*"])
            ln = rng.randint(20, 80)
            seq = "".join(rng.choice("ACGT") for _ in range(ln))
            qual = "".join(rng.choice(QUAL_CHARS) for _ in range(ln))
            if ref == "*":
                f.write(f"r{i}\t4\t*\t0\t0\t*\t*\t0\t0\t{seq}\t{qual}\n")
            else:
                pos = rng.randint(1, 90000)
                f.write(
                    f"r{i}\t0\t{ref}\t{pos}\t{rng.randint(0,60)}\t{ln}M\t*\t0\t0"
                    f"\t{seq}\t{qual}\tAS:i:{rng.randint(-10,100)}\tMD:Z:{ln}\n"
                )
    return path


def test_sam_text_split_identical_to_whole(spark, tmp_path):
    from duckdb_miint_spark.sources.sam import read_alignments

    path = _write_sam(str(tmp_path / "big.sam"), 4000)
    whole = read_alignments(spark, path, include_seq_qual=True)
    split = read_alignments(
        spark, path, include_seq_qual=True, max_split_bytes=64 * 1024
    )
    assert split.rdd.getNumPartitions() > 3
    assert whole.rdd.getNumPartitions() == 1
    assert _rows(split) == _rows(whole)
    assert split.count() == 4000


def test_sam_split_range_header_skip(spark, tmp_path):
    """Header lines only ever live in range 0 and are skipped there."""
    from duckdb_miint_spark.sources.sam import read_sam_text
    import os

    path = _write_sam(str(tmp_path / "h.sam"), 300)
    size = os.path.getsize(path)
    mid = size // 2
    first = list(read_sam_text(path, 0, mid, {"chr1", "chr2"}, False, None))
    second = list(read_sam_text(path, mid, size, {"chr1", "chr2"}, False, None))
    assert len(first) + len(second) == 300
    ids = {r[0] for r in first} | {r[0] for r in second}
    assert len(ids) == 300  # no dup, no loss at the boundary


def test_bam_split_identical_to_whole(spark, tmp_path):
    """BGZF block alignment + record-start guessing: split BAM scan is
    row-identical to the whole-file scan."""
    from duckdb_miint_spark.sources.sam import read_alignments
    from duckdb_miint_spark.sinks.bam_sink import copy_bam

    sam = _write_sam(str(tmp_path / "src.sam"), 12000)
    bam = str(tmp_path / "big.bam")
    aln = read_alignments(spark, sam, include_seq_qual=True)
    # the BAM sink omits SEQ/QUAL (reference copy_sam.cpp:665-671), so the
    # round-trip compares the 21 alignment columns
    copy_bam(aln, bam, [("chr1", 100000), ("chr2", 50000)], compression_level=1)

    whole = read_alignments(spark, bam)
    split = read_alignments(spark, bam, max_split_bytes=24 * 1024)
    assert split.rdd.getNumPartitions() > 3
    assert _rows(split) == _rows(whole)
    assert split.count() == 12000


def test_bam_split_with_sequences(spark, tmp_path):
    """Record-start guessing against realistic records carrying SEQ/QUAL
    (hand-packed — the repo's BAM sink omits SEQ by reference parity)."""
    import struct
    from duckdb_miint_spark.sources.sam import read_alignments
    from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks

    NT16 = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}
    rng = random.Random(17)
    path = str(tmp_path / "seqs.bam")
    header_text = b"@SQ\tSN:chr1\tLN:100000\n"
    payload = bytearray()
    payload += b"BAM\x01" + struct.pack("<i", len(header_text)) + header_text
    payload += struct.pack("<i", 1)  # one reference
    payload += struct.pack("<i", 5) + b"chr1\x00" + struct.pack("<i", 100000)
    for i in range(8000):
        name = f"q{i}".encode() + b"\x00"
        ln = rng.randint(30, 150)
        seq = [rng.choice("ACGT") for _ in range(ln)]
        packed = bytearray()
        for j in range(0, ln, 2):
            hi = NT16[seq[j]] << 4
            lo = NT16[seq[j + 1]] if j + 1 < ln else 0
            packed.append(hi | lo)
        qual = bytes(rng.randrange(0, 42) for _ in range(ln))
        cigar = struct.pack("<I", (ln << 4) | 0)  # lnM
        body = struct.pack(
            "<iiBBHHHiiii",
            0, rng.randint(0, 90000), len(name), rng.randint(0, 60), 0,
            1, 0, ln, -1, -1, 0,
        ) + name + cigar + bytes(packed) + qual
        payload += struct.pack("<i", len(body)) + body
    with open(path, "wb") as fh:
        fh.writelines(bgzf_blocks([bytes(payload)], level=1))
        fh.write(BGZF_EOF)

    whole = read_alignments(spark, path, include_seq_qual=True)
    split = read_alignments(
        spark, path, include_seq_qual=True, max_split_bytes=64 * 1024
    )
    assert split.rdd.getNumPartitions() > 3
    assert _rows(split) == _rows(whole)
    assert split.count() == 8000


def test_bgzf_block_finder(tmp_path):
    """find_bgzf_block aligns arbitrary offsets to true block starts."""
    import os
    from duckdb_miint_spark.sources.sam import (
        find_bgzf_block, _BgzfStream, read_alignments,
    )
    from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks

    path = str(tmp_path / "blocks.bam.gz")
    import random as _r
    rng = _r.Random(9)
    payload = bytes(rng.randrange(256) for _ in range(300_000))
    with open(path, "wb") as fh:
        fh.writelines(bgzf_blocks([payload], level=1))
        fh.write(BGZF_EOF)
    size = os.path.getsize(path)
    # offset 0 is a block start
    assert find_bgzf_block(path, 0) == 0
    # every aligned result parses as a chained block walk from 0
    stream_offsets = []
    s = _BgzfStream(path, 0)
    while s._load_next_block():
        stream_offsets.append(s.cur_block_off)
    s.close()
    assert len(stream_offsets) > 2
    for probe in range(0, size, size // 7):
        b = find_bgzf_block(path, probe)
        if b is not None:
            # a result is a real data-block start or the 28-byte EOF block
            assert b in stream_offsets or b >= size - 28
            assert b >= probe


def test_split_with_filepath_and_glob(spark, tmp_path):
    a = _write_fastq(str(tmp_path / "a.fastq"), 400, seed=2)
    b = _write_fastq(str(tmp_path / "b.fastq"), 300, seed=3)
    df = read_fastx(
        spark, str(tmp_path / "*.fastq"), include_filepath=True,
        max_split_bytes=16 * 1024,
    )
    assert df.rdd.getNumPartitions() > 2
    per_file = {
        r.filepath: r.n
        for r in df.groupBy("filepath").count().withColumnRenamed("count", "n").collect()
    }
    assert per_file == {a: 400, b: 300}
    # per-file index restarts at 1 in each file
    from pyspark.sql import functions as F

    mx = {
        r.filepath: (r.mn, r.mx)
        for r in df.groupBy("filepath")
        .agg(F.min("sequence_index").alias("mn"), F.max("sequence_index").alias("mx"))
        .collect()
    }
    assert mx == {a: (1, 400), b: (1, 300)}


def _bgzip(src_path, dst_path, level=1):
    from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks

    with open(src_path, "rb") as fin, open(dst_path, "wb") as fout:
        fout.writelines(bgzf_blocks([fin.read()], level=level))
        fout.write(BGZF_EOF)
    return dst_path


def test_bgzf_fastq_split_identical_to_whole(spark, tmp_path):
    """bgzip'd FASTQ splits on BGZF block boundaries: split scan is
    row-identical to the whole-file scan (which decompresses the same
    bytes through the plain-gzip path) and actually uses >1 partition."""
    plain = _write_fastq(str(tmp_path / "big.fastq"), 4000)
    bgz = _bgzip(plain, str(tmp_path / "big.fastq.gz"))
    whole = read_fastx(spark, bgz)
    split = read_fastx(spark, bgz, max_split_bytes=48 * 1024)
    assert whole.rdd.getNumPartitions() == 1
    assert split.rdd.getNumPartitions() > 3, "bgzf file did not split"
    assert _rows(split) == _rows(whole)
    assert split.count() == 4000
    # sequence_index is the per-file ordinal across ranges
    idx = sorted(r.sequence_index for r in split.select("sequence_index").collect())
    assert idx == list(range(1, 4001))


def test_bgzf_fasta_split_identical_to_whole(spark, tmp_path):
    plain = _write_fasta(str(tmp_path / "big.fasta"), 2000)
    bgz = _bgzip(plain, str(tmp_path / "big.fasta.gz"))
    whole = read_fastx(spark, bgz)
    split = read_fastx(spark, bgz, max_split_bytes=32 * 1024)
    assert split.rdd.getNumPartitions() > 3
    assert _rows(split) == _rows(whole)
    assert split.count() == 2000


def test_bgzf_range_union_covers_exactly_once(tmp_path):
    """Every record appears in exactly one compressed range, whatever the
    boundary placement (sweep several target sizes)."""
    from duckdb_miint_spark.sources.fastx import iter_fastx_range
    from duckdb_miint_spark.sources.sam import plan_even_splits

    plain = _write_fastq(str(tmp_path / "u.fastq"), 700, seed=23)
    bgz = _bgzip(plain, str(tmp_path / "u.fastq.gz"))
    import os

    size = os.path.getsize(bgz)
    whole = list(iter_fastx_range(bgz, 0, size, bgzf=True))
    assert len(whole) == 700
    for target in (7 * 1024, 11 * 1024, 23 * 1024):
        ranges = plan_even_splits(bgz, target)
        if len(ranges) < 2:
            continue
        got = []
        for s, e in ranges:
            got.extend(iter_fastx_range(bgz, s, e, bgzf=True))
        assert got == whole, f"target={target}: split union != whole"
        assert sum(count_fastx_range(bgz, s, e, size, bgzf=True) for s, e in ranges) == 700


def test_plain_gzip_still_never_splits(spark, tmp_path):
    """Non-BGZF gzip (no BC subfield) stays a whole-file partition even
    over the threshold."""
    plain = _write_fastq(str(tmp_path / "p.fastq"), 1500)
    gz = str(tmp_path / "p.fastq.gz")
    with open(plain, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    df = read_fastx(spark, gz, max_split_bytes=8 * 1024)
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 1500


def _voffsets_of_records(bam_path):
    """True (coffset<<16|uoffset) virtual offsets of every BAM record,
    derived by walking blocks + the decompressed record chain."""
    import gzip as _gz
    import struct
    from duckdb_miint_spark.sources.sam import _BgzfStream

    # block table: (coffset, cumulative decompressed start)
    blocks = []
    cum = 0
    s = _BgzfStream(bam_path, 0)
    while s._load_next_block():
        blocks.append((s.cur_block_off, cum))
        cum += len(s.buf)
    s.close()

    def to_voffset(doff):
        for coff, dstart in reversed(blocks):
            if doff >= dstart:
                return (coff << 16) | (doff - dstart)
        raise AssertionError(doff)

    data = _gz.decompress(open(bam_path, "rb").read())
    (l_text,) = struct.unpack_from("<i", data, 4)
    p = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", data, p)
    p += 4
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, p)
        p += 4 + l_name + 4
    offs = []
    while p < len(data):
        offs.append(to_voffset(p))
        (bs,) = struct.unpack_from("<i", data, p)
        p += 4 + bs
    return offs


def _write_bai(bai_path, voffsets):
    """Minimal .bai whose linear index carries the given record starts."""
    import struct

    with open(bai_path, "wb") as f:
        f.write(b"BAI\x01" + struct.pack("<i", 1))
        f.write(struct.pack("<i", 0))  # n_bin
        f.write(struct.pack("<i", len(voffsets)))
        for v in voffsets:
            f.write(struct.pack("<Q", v))


def test_bam_split_uses_bai_exact_offsets(spark, tmp_path, monkeypatch):
    """With a .bai present, split boundaries come from the index's
    virtual offsets — the record-start guesser is never invoked — and
    the output is identical to the guess-based and whole-file scans."""
    import duckdb_miint_spark.sources.sam as sam_mod
    from duckdb_miint_spark.sinks.bam_sink import copy_bam
    from duckdb_miint_spark.sources.sam import plan_even_splits, read_alignments

    sam = _write_sam(str(tmp_path / "src.sam"), 9000)
    bam = str(tmp_path / "indexed.bam")
    aln = read_alignments(spark, sam, include_seq_qual=True)
    copy_bam(aln, bam, [("chr1", 100000), ("chr2", 50000)], compression_level=1)

    whole = _rows(read_alignments(spark, bam))
    guess_split = _rows(read_alignments(spark, bam, max_split_bytes=24 * 1024))
    assert guess_split == whole

    voffs = _voffsets_of_records(bam)
    assert len(voffs) == 9000
    _write_bai(bam + ".bai", voffs[::37] or voffs)  # sparse linear index

    # driver-side proof the guesser is bypassed when the index exists
    def _no_guess(*a, **k):
        raise AssertionError("guesser invoked despite .bai")

    monkeypatch.setattr(sam_mod, "_guess_first_record", _no_guess)
    ranges = plan_even_splits(bam, 24 * 1024)
    assert len(ranges) > 3
    got = []
    for s, e in ranges:
        got.extend(sam_mod.read_bam_range(bam, s, e, False, None))
    monkeypatch.undo()
    assert len(got) == 9000
    assert sorted(got) == sorted(
        tuple(r) for r in read_alignments(spark, bam).collect()
    )

    # full Spark scan with the index present
    idx_split = _rows(read_alignments(spark, bam, max_split_bytes=24 * 1024))
    assert idx_split == whole


def test_bam_index_parsers_bai_csi(tmp_path):
    """BAI and CSI parsers extract the same record starts (pseudo-bin
    metadata chunks excluded; zero voffsets dropped)."""
    import struct
    from duckdb_miint_spark.sources.sam import (
        _bam_index_voffsets,
        _parse_bai_voffsets,
        _parse_csi_voffsets,
    )

    voffs = [(100 << 16) | 5, (2000 << 16) | 0, (65000 << 16) | 123]
    # BAI: one ref, one real bin + pseudo-bin 37450, linear index with a 0
    bai = bytearray(b"BAI\x01" + struct.pack("<i", 1))
    bai += struct.pack("<i", 2)  # n_bin
    bai += struct.pack("<Ii", 4681, 1) + struct.pack("<QQ", voffs[0], voffs[1])
    bai += struct.pack("<Ii", 37450, 2)
    bai += struct.pack("<QQ", voffs[2], (70000 << 16))  # unmapped beg/end
    bai += struct.pack("<QQ", 123, 456)  # counts — must be ignored
    bai += struct.pack("<i", 2) + struct.pack("<QQ", 0, voffs[1])
    got_bai = _parse_bai_voffsets(bytes(bai))
    assert got_bai == sorted(set(voffs))
    assert 123 not in got_bai and 456 not in got_bai and 0 not in got_bai

    # CSI: min_shift=14 depth=5, loffset carries voffs[1]
    csi = bytearray(b"CSI\x01" + struct.pack("<iii", 14, 5, 0))
    csi += struct.pack("<i", 1)  # n_ref
    csi += struct.pack("<i", 2)  # n_bin
    csi += struct.pack("<IQi", 4681, voffs[1], 1) + struct.pack("<QQ", voffs[0], voffs[1])
    max_bin = ((1 << (3 * 6)) - 1) // 7
    csi += struct.pack("<IQi", max_bin + 1, 0, 2)
    csi += struct.pack("<QQ", voffs[2], (70000 << 16))
    csi += struct.pack("<QQ", 99, 101)
    got_csi = _parse_csi_voffsets(bytes(csi))
    assert got_csi == sorted(set(voffs))

    # discovery: x.bam -> x.bam.csi
    bam = str(tmp_path / "x.bam")
    open(bam, "wb").close()
    open(bam + ".csi", "wb").write(bytes(csi))
    assert _bam_index_voffsets(bam) == sorted(set(voffs))

    # a STALE index (older than a rewritten BAM) is ignored with a warning
    import os
    import warnings as warnings_mod

    idx_mtime = os.path.getmtime(bam + ".csi")
    os.utime(bam, (idx_mtime + 10, idx_mtime + 10))
    with warnings_mod.catch_warnings(record=True) as w:
        warnings_mod.simplefilter("always")
        assert _bam_index_voffsets(bam) is None
        assert any("stale index" in str(x.message).lower() for x in w)
    # freshening the index restores it
    os.utime(bam + ".csi", (idx_mtime + 20, idx_mtime + 20))
    assert _bam_index_voffsets(bam) == sorted(set(voffs))


def test_is_bgzf_extra_subfields(tmp_path):
    """_is_bgzf recognizes BGZF whose gzip extra field carries subfields
    besides BC (xlen > 6) — such files must keep block-bound splitting."""
    import struct
    import zlib

    from duckdb_miint_spark.sources.fastx import _is_bgzf

    payload = b"@r1\nACGT\n+\nIIII\n"
    comp = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = comp.compress(payload) + comp.flush()
    # extra: a 4-byte 'ZZ' subfield BEFORE BC, then BC
    extra = b"ZZ" + struct.pack("<H", 4) + b"\x00" * 4
    extra += b"BC" + struct.pack("<H", 2) + b"\x00\x00"
    xlen = len(extra)
    hdr = b"\x1f\x8b\x08\x04\x00\x00\x00\x00\x00\xff" + struct.pack("<H", xlen) + extra
    bsize = len(hdr) + len(body) + 8
    blob = bytearray(hdr + body + struct.pack("<I", zlib.crc32(payload)) + struct.pack("<I", len(payload)))
    # patch BSIZE (stored value = total block size - 1) into the BC subfield
    bc_off = 12 + xlen - 2
    blob[bc_off : bc_off + 2] = struct.pack("<H", bsize - 1)
    p = str(tmp_path / "x.fastq.gz")
    open(p, "wb").write(bytes(blob))
    assert _is_bgzf(p), "BGZF with extra subfields before BC must be detected"


def _jobs_in(spark, group, action):
    """Spark jobs ``action()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("bgzf", [False, True], ids=["plain", "bgzf"])
def test_split_count_paths_agree(spark, tmp_path, monkeypatch, bgzf):
    """The split-count pass runs on the driver for small inputs and as one
    Spark job above ``DRIVER_COUNT_BYTES``; both must fix the same
    sequence_index offsets, so split reads give the same rows in the same
    order either way."""
    from duckdb_miint_spark.sources import fastx

    path = _write_fastq(str(tmp_path / "c.fastq"), 3000, seed=5)
    if bgzf:
        path = _bgzip(path, str(tmp_path / "c.fastq.gz"))
    split = 24 * 1024 if bgzf else 48 * 1024
    driver, driver_jobs = _jobs_in(
        spark, f"count-driver-{bgzf}", lambda: read_fastx(spark, path, max_split_bytes=split)
    )
    monkeypatch.setattr(fastx, "DRIVER_COUNT_BYTES", 0)
    job, job_jobs = _jobs_in(
        spark, f"count-job-{bgzf}", lambda: read_fastx(spark, path, max_split_bytes=split)
    )
    assert (driver_jobs, job_jobs) == (0, 1)
    assert driver.rdd.getNumPartitions() == job.rdd.getNumPartitions() > 3
    rows = driver.collect()
    assert rows == job.collect()
    assert [r.sequence_index for r in rows] == list(range(1, 3001))


def _broadcast_subtrees(plan: str) -> list[str]:
    """The plan text under each BroadcastExchange node of a plan string."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            sub = []
            for nxt in lines[i + 1:]:
                if depth(nxt) <= depth(line):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


def test_reader_output_is_never_auto_broadcast(spark, tmp_path):
    """A reader's size estimate is unknown, as a file scan's is before
    statistics: joined to a one-row DataFrame, the whole read must never
    be planned as the broadcast side."""
    from duckdb_miint_spark.sources.sam import read_alignments

    fq = _write_fastq(str(tmp_path / "b.fastq"), 200)
    sam = _write_sam(str(tmp_path / "b.sam"), 200)
    reads = {
        "read_fastx": read_fastx(spark, fq, max_split_bytes=8 * 1024),
        "read_alignments": read_alignments(spark, sam, max_split_bytes=8 * 1024),
    }
    one = spark.createDataFrame([("r1", "x")], ["read_id", "tag"])
    for name, df in reads.items():
        joined = df.join(one, "read_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, name
        assert not any("MapInArrow" in sub for sub in _broadcast_subtrees(plan)), (
            f"{name} is planned as the broadcast side:\n{plan}"
        )
        assert joined.count() == df.filter("read_id = 'r1'").count()


def test_fastx_header_comment_same_in_split_and_whole(spark, tmp_path):
    """A header's comment keeps its trailing blanks and inner tabs in
    every scan: the plain split, the BGZF split and the whole-file scan
    give equal rows (records with an empty sequence included)."""
    rng = random.Random(29)
    headers = ["@h{} some comment  ", "@h{}\tkey=v\tx ", "@h{}/1 c\t", "@h{}"]
    plain = str(tmp_path / "ws.fastq")
    with open(plain, "w") as f:
        for i in range(2000):
            ln = rng.randint(20, 80) if i % 7 else 0
            seq = "".join(rng.choice("ACGT") for _ in range(ln))
            qual = "".join(rng.choice(QUAL_CHARS) for _ in range(ln))
            f.write(f"{headers[i % 4].format(i)}\n{seq}\n+\n{qual}\n")
    bgz = _bgzip(plain, str(tmp_path / "ws.fastq.gz"))
    whole = read_fastx(spark, plain).collect()
    assert {r.comment for r in whole[:4]} == {"some comment  ", "key=v\tx ", "c\t", None}
    plain_split = read_fastx(spark, plain, max_split_bytes=16 * 1024)
    bgzf_split = read_fastx(spark, bgz, max_split_bytes=8 * 1024)
    assert plain_split.rdd.getNumPartitions() > 3
    assert bgzf_split.rdd.getNumPartitions() > 3
    assert plain_split.collect() == whole
    assert bgzf_split.collect() == whole
    assert read_fastx(spark, bgz).collect() == whole


def test_truncated_bam_raises_in_whole_and_split_scans(tmp_path):
    """A BAM cut at a BGZF block boundary (mid-record) raises SamError
    from the whole-file scan and from the split scan alike."""
    import struct

    from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks
    from duckdb_miint_spark.sources.sam import (
        SamError,
        _BgzfStream,
        plan_alignment_splits,
        plan_sam_scan,
        read_sam_split,
    )

    payload = bytearray(b"BAM\x01" + struct.pack("<i", 0) + struct.pack("<i", 1))
    payload += struct.pack("<i", 5) + b"chr1\x00" + struct.pack("<i", 100000)
    for i in range(3000):
        name = f"t{i}".encode() + b"\x00"
        body = struct.pack(
            "<iiBBHHHiiii", 0, i, len(name), 60, 0, 1, 0, 0, -1, -1, 0
        ) + name + struct.pack("<I", (50 << 4) | 0)
        payload += struct.pack("<i", len(body)) + body
    full = str(tmp_path / "full.bam")
    with open(full, "wb") as fh:
        # block ends fall mid-record
        fh.writelines(bgzf_blocks([bytes(payload)], level=1, block_size=7001))
        fh.write(BGZF_EOF)
    blocks = []
    s = _BgzfStream(full, 0)
    while s._load_next_block():
        blocks.append(s.cur_block_off)
    s.close()
    assert len(blocks) > 4
    cut = str(tmp_path / "cut.bam")
    with open(full, "rb") as fin, open(cut, "wb") as fout:
        fout.write(fin.read(blocks[-2]))

    def scan(max_split_bytes):
        for split in plan_alignment_splits(plan_sam_scan([cut], None), max_split_bytes):
            for _ in read_sam_split(split, False, False):
                pass

    assert len(plan_alignment_splits(plan_sam_scan([cut], None), 2 * 1024)) > 2
    with pytest.raises(SamError, match="Truncated BAM record"):
        scan(None)
    with pytest.raises(SamError, match="Truncated BAM record"):
        scan(2 * 1024)


# --- whole-file goldens -------------------------------------------------------
#
# Exact rows of whole-file scans against records written here, so the
# check does not depend on the reader code (the split tests above compare
# the reader with itself).

_FASTQ_GOLDEN = [
    # (header line, sequence, quality) -> (read_id, comment)
    ("@r1", "ACGT", "IIII", "r1", None),
    ("@r2/1 some comment  ", "GGCCA", "@#+5I", "r2", "some comment  "),
    ("@r3/2\tkey=v", "N", "!", "r3", "key=v"),
    ("@r4/x", "TTTTTT", "~~~~~~", "r4/x", None),
]


def _fastq_golden_rows():
    return [
        (i + 1, rid, comment, seq, None, [ord(c) - 33 for c in qual], None)
        for i, (_h, seq, qual, rid, comment) in enumerate(_FASTQ_GOLDEN)
    ]


@pytest.mark.parametrize("codec", ["plain", "gzip", "bgzf"])
def test_whole_file_fastq_golden(spark, tmp_path, codec):
    text = "".join(f"{h}\n{s}\n+\n{q}\n" for h, s, q, _r, _c in _FASTQ_GOLDEN).encode()
    path = str(tmp_path / f"g.{codec}.fq")
    if codec == "plain":
        open(path, "wb").write(text)
    elif codec == "gzip":
        open(path, "wb").write(gzip.compress(text))
    else:
        from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks

        with open(path, "wb") as fh:
            fh.writelines(bgzf_blocks([text], level=1, block_size=20))  # records span blocks
            fh.write(BGZF_EOF)
    rows = [tuple(r) for r in read_fastx(spark, path).collect()]
    assert rows == _fastq_golden_rows()


def test_whole_file_multiline_fasta_golden(spark, tmp_path):
    path = str(tmp_path / "g.fa")
    with open(path, "w") as f:
        f.write(">c1 desc one\nACGT\nAC\n>c2\nGG GG\nTT\n\n>c3\tx\nA\n")
    rows = [tuple(r) for r in read_fastx(spark, path).collect()]
    assert rows == [
        (1, "c1", "desc one", "ACGTAC", None, None, None),
        (2, "c2", None, "GGGGTT", None, None, None),
        (3, "c3", "x", "A", None, None, None),
    ]


def _tags(**kw):
    """The 8 int tags then the 3 string tags of the alignments schema."""
    order = ("AS", "XS", "YS", "XN", "XM", "XO", "XG", "NM", "YT", "MD", "SA")
    return tuple(kw.get(t) for t in order)


_SAM_GOLDEN_TEXT = (
    "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n@SQ\tSN:chr2\tLN:500\n"
    "r1\t0\tchr1\t10\t60\t5M\t*\t0\t0\tACGTA\tIIIII\tAS:i:-3\tNM:i:1\tMD:Z:4A0\n"
    "r2\t16\tchr2\t20\t30\t2M1I2M\t=\t40\t25\tACGTT\t#####\tXS:i:7\tYT:Z:CP\n"
    "r3\t4\t*\t0\t0\t*\t*\t0\t0\tGGGG\t!!!!\n"
    "r4\t256\tchr1\t100\t0\t3S4M2D1M\tchr2\t7\t-5\t*\t*\tSA:Z:chr2,7,+,4M,0,0;\n"
)
_SAM_GOLDEN_ROWS = [
    ("r1", 0, "chr1", 10, 15, 60, "5M", "*", 0, 0)
    + _tags(AS=-3, NM=1, MD="4A0") + ("ACGTA", [40] * 5),
    ("r2", 16, "chr2", 20, 24, 30, "2M1I2M", "=", 40, 25)
    + _tags(XS=7, YT="CP") + ("ACGTT", [2] * 5),
    ("r3", 4, "*", 0, 0, 0, "*", "*", 0, 0) + _tags() + ("GGGG", [0] * 4),
    ("r4", 256, "chr1", 100, 107, 0, "3S4M2D1M", "chr2", 7, -5)
    + _tags(SA="chr2,7,+,4M,0,0;") + ("", []),
]


@pytest.mark.parametrize("codec", ["plain", "gzip"])
def test_whole_file_sam_golden(spark, tmp_path, codec):
    from duckdb_miint_spark.sources.sam import read_alignments

    path = str(tmp_path / f"g.{codec}.sam")
    data = _SAM_GOLDEN_TEXT.encode()
    open(path, "wb").write(data if codec == "plain" else gzip.compress(data))
    rows = [tuple(r) for r in read_alignments(spark, path, include_seq_qual=True).collect()]
    assert rows == _SAM_GOLDEN_ROWS


def test_whole_file_bam_golden(spark, tmp_path):
    """A hand-packed BAM (two references, SEQ/QUAL, typed tags) across
    several BGZF blocks."""
    import struct

    from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks
    from duckdb_miint_spark.sources.sam import read_alignments

    nt16 = {c: i for i, c in enumerate("=ACMGRSVTWYHKDBN")}

    def record(name, ref, pos, mapq, cigar, flag, seq, qual, nref, npos, tlen, tags):
        packed = bytes(
            (nt16[seq[j]] << 4) | (nt16[seq[j + 1]] if j + 1 < len(seq) else 0)
            for j in range(0, len(seq), 2)
        )
        rname = name.encode() + b"\x00"
        body = struct.pack(
            "<iiBBHHHiiii", ref, pos, len(rname), mapq, 0, len(cigar), flag,
            len(seq), nref, npos, tlen,
        )
        body += rname + struct.pack(f"<{len(cigar)}I", *cigar) + packed + qual + tags
        return struct.pack("<i", len(body)) + body

    text = b"@SQ\tSN:chr1\tLN:1000\n@SQ\tSN:chr2\tLN:500\n"
    payload = b"BAM\x01" + struct.pack("<i", len(text)) + text + struct.pack("<i", 2)
    payload += struct.pack("<i", 5) + b"chr1\x00" + struct.pack("<i", 1000)
    payload += struct.pack("<i", 5) + b"chr2\x00" + struct.pack("<i", 500)
    payload += record("b1", 0, 9, 60, [5 << 4], 0, "ACGTA", bytes([30, 31, 32, 33, 34]),
                      -1, -1, 0, b"ASc" + struct.pack("<b", -3) + b"MDZ5\x00")
    payload += record("b2", 1, 19, 30, [2 << 4, (1 << 4) | 1, 2 << 4], 16, "ACGTT",
                      b"\xff" * 5, 1, 39, 25, b"NMC\x02YTZCP\x00")
    payload += record("b3", -1, -1, 0, [], 4, "GGG", bytes(3), -1, -1, 0, b"")
    path = str(tmp_path / "g.bam")
    with open(path, "wb") as fh:
        # header and records span blocks
        fh.writelines(bgzf_blocks([payload], level=1, block_size=50))
        fh.write(BGZF_EOF)
    rows = [tuple(r) for r in read_alignments(spark, path, include_seq_qual=True).collect()]
    assert rows == [
        ("b1", 0, "chr1", 10, 15, 60, "5M", "*", 0, 0)
        + _tags(AS=-3, MD="5") + ("ACGTA", [30, 31, 32, 33, 34]),
        ("b2", 16, "chr2", 20, 24, 30, "2M1I2M", "=", 40, 25)
        + _tags(NM=2, YT="CP") + ("ACGTT", []),
        ("b3", 4, "*", 0, 0, 0, "*", "*", 0, 0) + _tags() + ("GGG", [0, 0, 0]),
    ]


def test_fasta_behind_leading_blank_line_splits(spark, tmp_path):
    """A FASTA file whose first line is blank splits like any FASTA: the
    plain and the BGZF split scans give the whole-file rows."""
    body = str(tmp_path / "body.fasta")
    _write_fasta(body, 1500)
    plain = str(tmp_path / "lead.fasta")
    with open(body) as fin, open(plain, "w") as fout:
        fout.write("\n" + fin.read())
    bgz = _bgzip(plain, str(tmp_path / "lead.fasta.gz"))
    whole = _rows(read_fastx(spark, plain))
    assert len(whole) == 1500
    plain_split = read_fastx(spark, plain, max_split_bytes=48 * 1024)
    bgzf_split = read_fastx(spark, bgz, max_split_bytes=32 * 1024)
    assert plain_split.rdd.getNumPartitions() > 3
    assert bgzf_split.rdd.getNumPartitions() > 3
    assert _rows(plain_split) == whole
    assert _rows(bgzf_split) == whole


def _write_loose_fastq(path, n, blank_after=None, multiline=False, seed=31):
    """FASTQ that only the whole-file grammar accepts: a blank line after
    record ``blank_after``, or every record wrapped onto two sequence and
    two quality lines."""
    rng = random.Random(seed)
    with open(path, "w") as f:
        for i in range(n):
            ln = rng.randint(60, 120)
            seq = "".join(rng.choice("ACGT") for _ in range(ln))
            qual = "".join(rng.choice(QUAL_CHARS) for _ in range(ln))
            if multiline:
                h = ln // 2
                f.write(f"@r{i}\n{seq[:h]}\n{seq[h:]}\n+\n{qual[:h]}\n{qual[h:]}\n")
            else:
                f.write(f"@r{i}\n{seq}\n+\n{qual}\n")
            if i == blank_after:
                f.write("\n")
    return path


@pytest.mark.parametrize(
    "shape,message",
    [("blank", "blank line in FASTQ"), ("multiline", "multi-line FASTQ record")],
)
def test_loose_fastq_rejects_split_but_reads_whole(spark, tmp_path, shape, message):
    """The split grammar requires strict 4-line FASTQ records: a blank line
    between records or a multi-line record raises FastxError on the plain
    and the BGZF split paths, while the whole-file scan reads the file."""
    import os

    from duckdb_miint_spark.sources.fastx import iter_fastx_range
    from duckdb_miint_spark.sources.sam import plan_even_splits

    n = 2000
    plain = _write_loose_fastq(
        str(tmp_path / f"{shape}.fastq"), n,
        blank_after=n // 2 if shape == "blank" else None,
        multiline=shape == "multiline",
    )
    bgz = _bgzip(plain, str(tmp_path / f"{shape}.fastq.gz"))
    for path, bgzf, ranges in (
        (plain, False, plan_fastx_splits(plain, 32 * 1024)),
        (bgz, True, plan_even_splits(bgz, 16 * 1024)),
    ):
        if bgzf:
            assert len(ranges) > 3, ranges
        with pytest.raises(FastxError, match=message):
            for s, e in ranges:
                list(iter_fastx_range(path, s, e, bgzf=bgzf))
    assert os.path.getsize(bgz) > 16 * 1024
    assert read_fastx(spark, plain).count() == n
    assert read_fastx(spark, bgz).count() == n

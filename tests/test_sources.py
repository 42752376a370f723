"""Source-reader goldens ported from the reference SQL logic tests.

Fixture inputs are the reference's own data files (read-only at
/root/reference/data) — the golden outputs below are copied from
test/sql/read_fastx.test, read_fastx_qual_offset.test, read_alignments.test,
sam_tag_sentinel.test, read_sequences_sam.test, read_sequences_sff.test,
read_gff.test, read_jplace.test, read_newick.test.
"""

from __future__ import annotations

import pytest

from duckdb_miint_spark.sources.fastx import (
    FastxError,
    plan_file_pairs,
    read_fastx,
)
from duckdb_miint_spark.sources.gff import read_gff
from duckdb_miint_spark.sources.jplace import read_jplace
from duckdb_miint_spark.sources.newick import NewickError, parse_newick, read_newick
from duckdb_miint_spark.sources.sam import (
    SamError,
    plan_sam_scan,
    read_alignments,
    read_sequences_sam,
    resolve_sam_files,
)
from duckdb_miint_spark.sources.sff import SffError, read_sequences_sff

DATA = "/root/reference/data"


# --- stdin shim (test/shell/*_stdin.sh parity) --------------------------------


def _feed_stdin(monkeypatch, payload: bytes):
    import io
    import sys

    class FakeStdin:
        buffer = io.BytesIO(payload)

    monkeypatch.setattr(sys, "stdin", FakeStdin())


def test_fastx_stdin(spark, monkeypatch):
    """read_fastx('-'): records parsed, 1-based sequence_index, filepath
    reports /dev/stdin (read_fastx_stdin.sh tests 1-7)."""
    _feed_stdin(monkeypatch, b"@read_a1 c1\nACGT\n+\nIIII\n@read_a2\nTTGG\n+\nJJJJ\n")
    df = read_fastx(spark, "-", include_filepath=True)
    rows = sorted(tuple(r) for r in df.collect())
    assert [r[0] for r in rows] == [1, 2]
    assert [r[1] for r in rows] == ["read_a1", "read_a2"]
    assert {r[-1] for r in rows} == {"/dev/stdin"}


def test_fastx_stdin_errors(spark, monkeypatch):
    """stdin in a list / with sequence2 are bind-time errors
    (read_fastx_stdin.sh tests 8-11)."""
    with pytest.raises(FastxError, match="file list"):
        read_fastx(spark, ["-", "/root/reference/data/fastq/foo.r1.fastq.gz"])
    with pytest.raises(FastxError, match="file list"):
        read_fastx(spark, ["/dev/stdin", "/root/reference/data/fastq/foo.r1.fastq.gz"])
    _feed_stdin(monkeypatch, b"@r\nA\n+\nI\n")
    with pytest.raises(FastxError, match="sequence2"):
        read_fastx(spark, "-", sequence2="/root/reference/data/fastq/foo.r2.fastq.gz")


def test_alignments_stdin(spark, monkeypatch):
    """read_sam('/dev/stdin') with headerless text + reference_lengths
    (read_alignments_stdin.sh tests 1-2)."""
    sam = b"r1\t0\tG1234\t5\t60\t4M\t*\t0\t0\tACGT\tIIII\n"
    _feed_stdin(monkeypatch, sam)
    df = read_alignments(
        spark, "/dev/stdin", reference_lengths=[("G1234", 20)], include_filepath=True
    )
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 1
    assert rows[0][0] == "r1" and rows[0][-1] == "/dev/stdin"
    with pytest.raises(SamError, match="file list"):
        read_alignments(spark, ["-", "x.sam"])


def test_newick_stdin(spark, monkeypatch):
    """read_newick('-') parses the spooled tree (read_newick_stdin.sh)."""
    _feed_stdin(monkeypatch, b"((A:1,B:2)N1:0.5,C:3);\n")
    df = read_newick(spark, "-", include_filepath=True)
    rows = df.collect()
    assert {r.name for r in rows} >= {"A", "B", "C"}
    assert {r.filepath for r in rows} == {"/dev/stdin"}
    with pytest.raises(NewickError, match="file list"):
        read_newick(spark, ["-", "t.nwk"])


# --- read_fastx --------------------------------------------------------------


def test_fastx_paired_gzip(spark):
    df = read_fastx(
        spark, f"{DATA}/fastq/foo.r1.fastq.gz", sequence2=f"{DATA}/fastq/foo.r2.fastq.gz"
    )
    rows = sorted((tuple(r) for r in df.collect()))
    assert rows == [
        (1, "foo1", "comment-1", "ATGC", "TGCAT", [40, 39, 38, 37], [36, 35, 34, 33, 32]),
        (2, "foo2", "comment-2", "ATGCT", "TGCATC", [40, 39, 38, 37, 36], [36, 35, 34, 33, 32, 31]),
    ]


def test_fastx_single_end(spark):
    df = read_fastx(spark, f"{DATA}/fastq/foo.r1.fastq.gz")
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [
        (1, "foo1", "comment-1", "ATGC", None, [40, 39, 38, 37], None),
        (2, "foo2", "comment-2", "ATGCT", None, [40, 39, 38, 37, 36], None),
    ]


def test_fastx_no_comment_is_null(spark):
    df = read_fastx(spark, f"{DATA}/fastq/bar.r1.fastq.gz")
    rows = sorted(tuple(r) for r in df.collect())
    assert [r[:4] for r in rows] == [
        (1, "bar1", None, "AA"),
        (2, "bar2", None, "GG"),
        (3, "bar3", None, "TT"),
    ]


def test_fastx_fasta(spark):
    df = read_fastx(spark, f"{DATA}/fastq/test.fa")
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [
        (1, "seq1", "test sequence 1", "ATGCATGCATGC", None, None, None),
        (2, "seq2", None, "GGCCGGCCGGCC", None, None, None),
    ]


def test_fastx_fasta_whitespace_stripped(spark):
    df = read_fastx(spark, f"{DATA}/fastq/sequence_with_spaces.fasta")
    rows = {r["read_id"]: r["sequence1"] for r in df.collect()}
    assert rows == {
        "foo": "AATTGGCCAAATATAGCGCGTA",
        "bar": "GGTTAACCGGTTAATTGG",
        "baz": "AAAAAAAAAA",
    }


def test_fastx_multi_file_per_file_index(spark):
    df = read_fastx(
        spark,
        [f"{DATA}/fastq/small_a.fq", f"{DATA}/fastq/small_b.fq"],
        include_filepath=True,
    )
    rows = sorted((r["filepath"], r["sequence_index"], r["read_id"]) for r in df.collect())
    assert [r[1:] for r in rows] == [(1, "read_a1"), (2, "read_a2"), (1, "read_b1"), (2, "read_b2")]


def test_fastx_qual_offset_64(spark):
    df = read_fastx(spark, f"{DATA}/fastq/small_a.fq", qual_offset=64)
    rows = {r["read_id"]: r["qual1"] for r in df.collect()}
    assert rows == {"read_a1": [9, 9, 9, 9], "read_a2": [8, 8, 8, 8]}


def test_fastx_errors(spark):
    with pytest.raises(FastxError, match="File not found"):
        read_fastx(spark, "missing_file1")
    with pytest.raises(FastxError, match="qual_offset must be 33 or 64"):
        read_fastx(spark, f"{DATA}/fastq/small_a.fq", qual_offset=100)
    with pytest.raises(FastxError, match="Mismatched array lengths"):
        plan_file_pairs(
            [f"{DATA}/fastq/small_a.fq", f"{DATA}/fastq/small_b.fq"],
            [f"{DATA}/fastq/small_a_r2.fq"],
            33,
        )
    with pytest.raises(Exception, match="Mismatched read IDs: foo1/1 vs foo2/2"):
        read_fastx(
            spark,
            f"{DATA}/fastq/foo.r1.fastq.gz",
            sequence2=f"{DATA}/fastq/foo.r2.fastq.mismatched-ids.fastq.gz",
        ).collect()
    with pytest.raises(Exception, match="Mismatched number of records: missing mate for foo2/1"):
        read_fastx(
            spark,
            f"{DATA}/fastq/foo.r1.fastq.gz",
            sequence2=f"{DATA}/fastq/foo.r2.fastq.missing-read.fastq.gz",
        ).collect()
    with pytest.raises(Exception, match="Empty file"):
        read_fastx(spark, f"{DATA}/fastq/empty.fq").collect()
    with pytest.raises(Exception, match="Cannot mix FASTA and FASTQ"):
        read_fastx(
            spark, f"{DATA}/fastq/test_r1.fa", sequence2=f"{DATA}/fastq/test_r2.fq"
        ).collect()


# --- read_alignments ---------------------------------------------------------


def test_alignments_sam_basics(spark):
    df = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    rows = sorted(
        (r["read_id"], r["flags"], r["reference"], r["position"], r["mapq"], r["cigar"], r["mate_reference"])
        for r in df.collect()
    )
    assert rows == [
        ("foo-1", 0, "G1234", 2, 60, "10M", "*"),
        ("foo-2", 0, "G1234", 2, 60, "10M", "*"),
        ("foo-3", 99, "G000144735", 76020, 1, "150M", "="),
        ("foo-3", 147, "G000144735", 76146, 1, "150M", "="),
    ]


def test_alignments_bam_matches_sam(spark):
    sam = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    bam = read_alignments(spark, f"{DATA}/sam/foo_has_header.bam")
    key = lambda r: (r["read_id"], r["flags"])  # noqa: E731
    assert sorted(map(tuple, sam.collect())) == sorted(map(tuple, bam.collect()))


def test_alignments_bam_large_positions(spark):
    df = read_alignments(spark, f"{DATA}/sam/foo_large_positions.bam")
    rows = sorted((r["position"], r["stop_position"]) for r in df.collect())
    assert rows == [(2147483648, 2147483748)]


def test_alignments_tags(spark):
    df = read_alignments(spark, f"{DATA}/sam/foo_with_tags.sam")
    r = {row["read_id"]: row for row in df.collect()}
    t1 = r["tagged-1"]
    assert (t1["tag_as"], t1["tag_xs"], t1["tag_xn"], t1["tag_xm"], t1["tag_xo"], t1["tag_xg"], t1["tag_nm"]) == (
        100, 90, 5, 3, 1, 2, 4,
    )
    assert t1["tag_yt"] == "CP" and t1["tag_md"] == "10A5T20" and t1["tag_sa"] is None
    t2 = r["tagged-2"]
    assert (t2["tag_as"], t2["tag_ys"], t2["tag_nm"]) == (200, 150, 10)
    assert t2["tag_sa"] == "chr1,1234,+,50M,60,5;"


def test_alignments_tag_sentinel(spark):
    df = read_alignments(spark, f"{DATA}/sam/negative_tags.sam")
    r = {row["read_id"]: row for row in df.collect()}
    assert r["negative_score"]["tag_as"] == -1
    assert r["negative_score"]["tag_xs"] == -5
    assert r["zero_score"]["tag_as"] == 0
    assert r["zero_score"]["tag_xs"] is None
    assert r["no_as_tag"]["tag_as"] is None


def test_alignments_seq_qual(spark):
    df = read_alignments(spark, f"{DATA}/sam/foo_with_seqqual.sam", include_seq_qual=True)
    rows = {r["read_id"]: r for r in df.collect()}
    assert rows["read1"]["sequence"] == "ACGTACGTAC"
    assert rows["read1"]["qual"][0] == 0
    assert all(len(r["sequence"]) == len(r["qual"]) for r in rows.values())
    qs = [q for r in rows.values() for q in r["qual"]]
    assert min(qs) == 0 and max(qs) == 41


def test_alignments_unmapped_no_seq_errors(spark):
    with pytest.raises(Exception, match="Primary/unmapped read missing sequence"):
        read_alignments(
            spark, f"{DATA}/sam/foo_unmapped_no_seq.sam", include_seq_qual=True
        ).collect()


def test_alignments_headerless_with_reference_lengths(spark):
    ref = spark.createDataFrame([("G1234", 1000), ("G000144735", 100000)], ["name", "length"])
    df = read_alignments(spark, f"{DATA}/sam/foo_no_header.sam", reference_lengths=ref)
    rows = sorted((r["read_id"], r["flags"], r["reference"], r["position"], r["mapq"]) for r in df.collect())
    assert rows == [
        ("foo-1", 0, "G1234", 2, 60),
        ("foo-2", 0, "G1234", 2, 60),
        ("foo-3", 99, "G000144735", 76020, 1),
        ("foo-3", 147, "G000144735", 76146, 1),
    ]


def test_alignments_bam_rejects_reference_lengths(spark):
    with pytest.raises(SamError, match="BAM file has header"):
        plan_sam_scan([f"{DATA}/sam/foo_has_header.bam"], [("genome1", 1000)])


def test_alignments_errors(spark):
    with pytest.raises(SamError, match="File not found"):
        resolve_sam_files("nonexistent.sam")
    with pytest.raises(SamError, match="at least one file"):
        resolve_sam_files([])


def test_sequences_sam_view(spark):
    df = read_sequences_sam(spark, f"{DATA}/sam/ubam_no_sq.sam")
    rows = sorted((r["sequence_index"], r["read_id"], r["comment"], r["sequence1"], r["sequence2"]) for r in df.collect())
    assert rows == [
        (1, "read1", None, "ACGTACGTACGTACGT", None),
        (2, "read2", None, "TGCATGCATGCA", None),
        (3, "read3", None, "NNNNNN", None),
    ]


# --- read_sequences_sff ------------------------------------------------------


def test_sff_basic(spark):
    df = read_sequences_sff(spark, f"{DATA}/sff/basic_2reads.sff")
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [
        (1, "READ_1", None, "TCAGATTGCAGG", None, [30, 30, 25, 35, 40, 38, 36, 30, 28, 25, 20, 15], None),
        (2, "READ_2", None, "TCAGCCTAAGTC", None, [35, 35, 30, 40, 38, 33, 30, 28, 35, 30, 25, 20], None),
    ]


def test_sff_trim(spark):
    df = read_sequences_sff(spark, f"{DATA}/sff/trimmed.sff")
    rows = {r["read_id"]: (r["sequence1"], r["qual1"]) for r in df.collect()}
    assert rows["TRIM_READ_1"] == ("TCAGATTGCAGG", [30, 30, 25, 35, 40, 38, 36, 30, 28, 25, 20, 15])
    assert rows["TRIM_READ_2"] == ("CAGCCTAAGT", [30, 35, 30, 40, 38, 33, 30, 28, 35, 30])


def test_sff_no_trim(spark):
    df = read_sequences_sff(spark, f"{DATA}/sff/trimmed.sff", trim=False)
    rows = {r["read_id"]: r["sequence1"] for r in df.collect()}
    assert rows["TRIM_READ_1"] == "AATCAGATTGCAGGCC"
    assert rows["TRIM_READ_2"] == "NNTCAGCCTAAGTCNN"


def test_sff_empty_and_many(spark):
    assert read_sequences_sff(spark, f"{DATA}/sff/empty.sff").count() == 0
    assert read_sequences_sff(spark, f"{DATA}/sff/many_reads.sff").count() == 50


def test_sff_errors(spark):
    with pytest.raises(SffError, match="File not found"):
        read_sequences_sff(spark, "missing.sff")
    with pytest.raises(SffError, match="Invalid SFF magic"):
        read_sequences_sff(spark, f"{DATA}/sff/bad_magic.sff")
    with pytest.raises(SffError, match="Invalid SFF magic"):
        read_sequences_sff(spark, f"{DATA}/fastq/small_a.fq")


def _write_sff(path, reads, flow_chars="TACG"):
    """A minimal SFF file: the common header (no index, key TCAG) and one
    record per ``(name, bases, quals, (cql, cqr, cal, car))``, with the
    8-byte padding the format requires after each section."""
    import struct

    def pad8(b):
        return b + b"\x00" * (-len(b) % 8)

    flows = len(flow_chars)
    key = b"TCAG"
    head = struct.pack(
        ">IBBBBQIIHHHB", 0x2E736666, 0, 0, 0, 1, 0, 0, len(reads),
        (31 + flows + len(key) + 7) & ~7, len(key), flows, 1,
    )
    out = pad8(head + flow_chars.encode() + key)
    for name, bases, quals, clips in reads:
        rh = struct.pack(">HHIHHHH", (16 + len(name) + 7) & ~7, len(name), len(bases), *clips)
        out += pad8(rh + name.encode())
        flowgram = struct.pack(f">{flows}H", *range(100, 100 + flows))
        out += pad8(flowgram + bytes(range(1, len(bases) + 1)) + bases.encode() + bytes(quals))
    with open(path, "wb") as fh:
        fh.write(out)
    return path


def test_sff_hermetic_trim_filepath_and_magic(spark, tmp_path):
    """read_sequences_sff on a file written here: quality and adapter clips
    trim (or not), filepath, and the bind-time bad-magic error."""
    path = _write_sff(str(tmp_path / "two.sff"), [
        ("READ_A", "ACGTACGTAC", list(range(10, 20)), (3, 8, 0, 0)),
        ("READ_B", "TTTTGGGG", list(range(30, 38)), (0, 0, 2, 6)),
    ])
    trimmed = [tuple(r) for r in read_sequences_sff(spark, path).collect()]
    assert trimmed == [
        (1, "READ_A", None, "GTACGT", None, list(range(12, 18)), None),
        (2, "READ_B", None, "TTTGG", None, list(range(31, 36)), None),
    ]
    untrimmed = read_sequences_sff(spark, path, include_filepath=True, trim=False)
    assert [tuple(r) for r in untrimmed.collect()] == [
        (1, "READ_A", None, "ACGTACGTAC", None, list(range(10, 20)), None, path),
        (2, "READ_B", None, "TTTTGGGG", None, list(range(30, 38)), None, path),
    ]
    bad = tmp_path / "bad.sff"
    bad.write_bytes(b"\x00\x00\x00\x00" + open(path, "rb").read()[4:])
    with pytest.raises(SffError, match="Invalid SFF magic"):
        read_sequences_sff(spark, str(bad))


# --- read_gff ----------------------------------------------------------------


def test_gff_basic(spark):
    df = read_gff(spark, f"{DATA}/gff/test.gff")
    rows = sorted(
        (r["seqid"], r["source"], r["type"], r["position"], r["stop_position"], r["score"], r["strand"], r["phase"])
        for r in df.collect()
    )
    assert (
        ("chr1", "NCBI", "gene", 100, 500, None, "+", None) in rows
        and ("chr1", "NCBI", "exon", 300, 500, 50.5, "+", None) in rows
        and ("chr2", "Ensembl", "gene", 1000, 2000, 100.0, "-", None) in rows
        and ("chr1", "NCBI", "CDS", 150, 200, None, "+", 0) in rows
    )
    assert len(rows) == 7


def test_gff_attributes_map(spark):
    df = read_gff(spark, f"{DATA}/gff/test.gff")
    from pyspark.sql import functions as F

    genes = (
        df.filter(F.col("type") == "gene")
        .select("seqid", F.element_at("attributes", "ID").alias("fid"))
        .collect()
    )
    assert sorted((r["seqid"], r["fid"]) for r in genes) == [("chr1", "gene1"), ("chr2", "gene2")]


# --- read_jplace -------------------------------------------------------------


def test_jplace_nm(spark):
    df = read_jplace(spark, f"{DATA}/jplace/test.jplace")
    rows = sorted(
        (r["fragment"], r["edge_num"], r["likelihood"], r["like_weight_ratio"], r["distal_length"], r["pendant_length"])
        for r in df.collect()
    )
    assert rows == [
        ("fragment1", 0, -1234.56, 0.95, 0.05, 0.001),
        ("fragment2", 1, -2000.00, 0.80, 0.15, 0.003),
        ("fragment3", 2, -1500.50, 0.70, 0.20, 0.004),
    ]


def test_jplace_n_format(spark):
    df = read_jplace(spark, f"{DATA}/jplace/with_n.jplace")
    rows = [(r["fragment"], r["edge_num"]) for r in df.collect()]
    assert rows == [("seq1", 0)]


# --- read_newick -------------------------------------------------------------


def test_newick_simple(spark):
    df = read_newick(spark, f"{DATA}/newick/simple.nwk")
    rows = df.collect()
    assert len(rows) == 5
    tips = sorted(r["name"] for r in rows if r["is_tip"])
    assert tips == ["A", "B", "C"]
    roots = [r for r in rows if r["parent_index"] is None]
    assert len(roots) == 1
    bl = {r["name"]: r["branch_length"] for r in rows if r["is_tip"]}
    assert bl == {"A": 0.1, "B": 0.2, "C": 0.4}


def test_newick_edge_ids(spark):
    df = read_newick(spark, f"{DATA}/newick/with_edge_ids.nwk")
    rows = sorted((r["edge_id"], r["name"]) for r in df.collect())
    assert rows == [(0, "A"), (1, "B"), (2, ""), (3, "C"), (4, "")]


def test_newick_gzip_no_lengths_single_tip(spark):
    assert read_newick(spark, f"{DATA}/newick/simple.nwk.gz").count() == 5
    nl = read_newick(spark, f"{DATA}/newick/no_lengths.nwk")
    assert nl.count() == 4
    assert all(r["branch_length"] is None for r in nl.collect())
    st = read_newick(spark, f"{DATA}/newick/single_tip.nwk").collect()
    assert len(st) == 1 and st[0]["name"] == "A" and st[0]["is_tip"]


def test_newick_parser_quoting_and_comments():
    rows = parse_newick("('a b':1.0,'it''s':2.0)root;")
    names = [r[1] for r in rows]
    assert "a b" in names and "it's" in names and "root" in names
    rows = parse_newick("[comment](A:0.1,B:0.2):0.0;")
    assert len(rows) == 3
    with pytest.raises(NewickError, match="Missing semicolon"):
        parse_newick("(A,B)")
    with pytest.raises(NewickError, match="Unclosed quote"):
        parse_newick("('abc;")


def test_fastx_glob_patterns(spark):
    """glob_read_fastx.test shape: glob expansion + alphabetical order."""
    df = read_fastx(spark, f"{DATA}/fastq/glob_single*.fq", include_filepath=True)
    files = sorted({r["filepath"] for r in df.collect()})
    assert [f.rsplit("/", 1)[1] for f in files] == [
        "glob_single1.fq", "glob_single2.fq", "glob_single3.fq",
    ]
    # paired glob: R1 and R2 globs expand in parallel, sorted
    paired = read_fastx(
        spark,
        f"{DATA}/fastq/glob_sample*_R1.fq",
        sequence2=f"{DATA}/fastq/glob_sample*_R2.fq",
        include_filepath=True,
    )
    assert paired.filter("sequence2 IS NOT NULL").count() == paired.count() > 0


def test_sam_glob(spark):
    df = read_alignments(spark, f"{DATA}/sam/foo_has_header?.sam".replace("?", ""))
    assert df.count() == 4

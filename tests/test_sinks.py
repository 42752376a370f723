"""Sink round-trips: write with our COPY sinks, read back with our readers,
compare values — mirroring test/sql/copy_fastq.test / copy_fasta.test /
copy_sam.test shapes."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from duckdb_miint_spark.sinks import copy_fasta, copy_fastq, copy_sam
from duckdb_miint_spark.sinks.fastx_sink import CopyError
from duckdb_miint_spark.sources.fastx import read_fastx
from duckdb_miint_spark.sources.sam import read_alignments

DATA = "/root/reference/data"


def fastx_rows(df):
    return sorted(tuple(r) for r in df.collect())


SINGLE_COLS = ["read_id", "comment", "sequence1", "qual1"]


def test_fastq_roundtrip_single_end(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/small_a.fq")
    out = str(tmp_path / "out.fq")
    copy_fastq(src.orderBy("sequence_index").select(*SINGLE_COLS), out)
    back = read_fastx(spark, out)
    assert fastx_rows(back) == fastx_rows(src)


def test_fastq_roundtrip_gzip_by_suffix(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/small_a.fq")
    out = str(tmp_path / "out.fq.gz")
    copy_fastq(src.orderBy("sequence_index").select(*SINGLE_COLS), out)
    with open(out, "rb") as f:
        assert f.read(2) == b"\x1f\x8b"
    assert fastx_rows(read_fastx(spark, out)) == fastx_rows(src)


def test_fastq_qual_offset_64_roundtrip(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/small_a.fq")
    out = str(tmp_path / "out64.fq")
    copy_fastq(src.select(*SINGLE_COLS), out, qual_offset=64)
    back = read_fastx(spark, out, qual_offset=64)
    assert fastx_rows(back) == fastx_rows(src)


def test_fastq_id_as_sequence_index(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/small_a.fq")
    out = str(tmp_path / "idx.fq")
    copy_fastq(src.select("sequence_index", *SINGLE_COLS), out, id_as_sequence_index=True)
    ids = sorted(r["read_id"] for r in read_fastx(spark, out).collect())
    assert ids == ["1", "2"]


def test_fastq_include_comment(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/foo.r1.fastq.gz")
    out = str(tmp_path / "c.fq")
    copy_fastq(src.select(*SINGLE_COLS), out, include_comment=True)
    back = {r["read_id"]: r["comment"] for r in read_fastx(spark, out).collect()}
    assert back == {"foo1": "comment-1", "foo2": "comment-2"}


def test_fastq_paired_interleave(spark, tmp_path):
    src = read_fastx(
        spark, f"{DATA}/fastq/small_a_r1.fq", sequence2=f"{DATA}/fastq/small_a_r2.fq"
    )
    out = str(tmp_path / "inter.fq")
    copy_fastq(src, out, interleave=True)
    back = read_fastx(spark, out)
    rows = [(r["read_id"], r["sequence1"]) for r in back.collect()]
    assert sorted(rows) == [("pair_a1", "AAAA"), ("pair_a1", "TTTT")]


def test_fastq_paired_orientation_split(spark, tmp_path):
    src = read_fastx(
        spark, f"{DATA}/fastq/small_a_r1.fq", sequence2=f"{DATA}/fastq/small_a_r2.fq"
    )
    out = str(tmp_path / "split.{ORIENTATION}.fq")
    copy_fastq(src, out, interleave=False)
    back = read_fastx(
        spark,
        str(tmp_path / "split.R1.fq"),
        sequence2=str(tmp_path / "split.R2.fq"),
    )
    assert fastx_rows(back) == fastx_rows(src)


def test_fastq_errors(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/small_a.fq")
    with pytest.raises(CopyError, match="requires 'qual1' column"):
        copy_fastq(src.drop("qual1").drop("sequence2").drop("qual2"), str(tmp_path / "e.fq"))
    paired = read_fastx(
        spark, f"{DATA}/fastq/small_a_r1.fq", sequence2=f"{DATA}/fastq/small_a_r2.fq"
    )
    with pytest.raises(CopyError, match="INTERLEAVE parameter required"):
        copy_fastq(paired, str(tmp_path / "e2.fq"))
    with pytest.raises(CopyError, match=r"\{ORIENTATION\}"):
        copy_fastq(paired, str(tmp_path / "e3.fq"), interleave=False)
    with pytest.raises(CopyError, match="QUAL_OFFSET"):
        copy_fastq(src, str(tmp_path / "e4.fq"), qual_offset=50)


def test_fasta_roundtrip(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/test.fa")
    out = str(tmp_path / "out.fa")
    copy_fasta(src.orderBy("sequence_index").select("read_id", "comment", "sequence1"), out, include_comment=True)
    back = read_fastx(spark, out)
    assert fastx_rows(back) == fastx_rows(src)


def test_fasta_distributed_dir_mode(spark, tmp_path):
    src = read_fastx(spark, f"{DATA}/fastq/test.fa")
    out = str(tmp_path / "fasta_dir")
    copy_fasta(src.select("read_id", "sequence1"), out, single_file=False)
    back = read_fastx(spark, os.path.join(out, "part-*"))
    assert sorted(r["read_id"] for r in back.collect()) == ["seq1", "seq2"]


def test_sam_roundtrip_with_header(spark, tmp_path):
    src = read_alignments(spark, f"{DATA}/sam/foo_with_tags.sam")
    out = str(tmp_path / "out.sam")
    refs = [("G1234", 1000), ("G000144735", 100000)]
    copy_sam(src.orderBy("read_id"), out, reference_lengths=refs)
    with open(out) as f:
        first = f.readline()
    assert first.startswith("@SQ\tSN:")
    back = read_alignments(spark, out)
    cols = [c for c in src.columns]
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, src.select(cols).collect())
    )


def test_sam_headerless_gzip(spark, tmp_path):
    src = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    out = str(tmp_path / "nohdr.sam.gz")
    copy_sam(src, out, include_header=False)
    with open(out, "rb") as f:
        assert f.read(2) == b"\x1f\x8b"
    with gzip.open(out, "rt") as f:
        lines = [line.rstrip("\n") for line in f if line.strip()]
    assert len(lines) == 4 and not lines[0].startswith("@")
    # SEQ/QUAL are '*' by contract
    assert all(line.split("\t")[9] == "*" and line.split("\t")[10] == "*" for line in lines)


def test_sam_errors(spark, tmp_path):
    src = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    with pytest.raises(CopyError, match="requires 'flags' column"):
        copy_sam(src.drop("flags"), str(tmp_path / "e.sam"), reference_lengths=[])
    with pytest.raises(CopyError, match="REFERENCE_LENGTHS"):
        copy_sam(src, str(tmp_path / "e2.sam"))


# --- NEWICK sink -------------------------------------------------------------


def test_newick_roundtrip_simple(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_newick
    from duckdb_miint_spark.sources.newick import read_newick

    src = read_newick(spark, f"{DATA}/newick/simple.nwk")
    out = str(tmp_path / "tree.nwk")
    copy_newick(src, out)
    with open(out) as f:
        assert f.read().strip() == "((A:0.1,B:0.2):0.3,C:0.4);"
    back = read_newick(spark, out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_newick_edge_ids_roundtrip(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_newick
    from duckdb_miint_spark.sources.newick import read_newick

    src = read_newick(spark, f"{DATA}/newick/with_edge_ids.nwk")
    out = str(tmp_path / "edges.nwk")
    copy_newick(src, out)  # EDGE_IDS auto-on (edge_id column present)
    back = read_newick(spark, out)
    assert back.filter("edge_id IS NOT NULL").count() == 5
    out2 = str(tmp_path / "noedges.nwk")
    copy_newick(src, out2, edge_ids=False)
    assert read_newick(spark, out2).filter("edge_id IS NOT NULL").count() == 0


def test_newick_quoted_label_and_gzip(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_newick
    from duckdb_miint_spark.sinks.newick_sink import NewickBuildError
    from duckdb_miint_spark.sources.newick import read_newick

    rows = [
        (0, "a b", 1.0, None, 2, True),
        (1, "it's", 2.0, None, 2, True),
        (2, "root", None, None, None, False),
    ]
    df = spark.createDataFrame(
        rows, "node_index long, name string, branch_length double, edge_id long, parent_index long, is_tip boolean"
    )
    out = str(tmp_path / "quoted.nwk.gz")
    copy_newick(df, out)
    back = read_newick(spark, out)
    names = sorted(r["name"] for r in back.collect())
    assert names == ["a b", "it's", "root"]
    # validation taxonomy
    with pytest.raises(NewickBuildError, match="Multiple roots"):
        copy_newick(
            spark.createDataFrame(
                [(0, None), (1, None)], "node_index long, parent_index long"
            ),
            str(tmp_path / "e.nwk"),
        )
    with pytest.raises(NewickBuildError, match="non-existent parent"):
        copy_newick(
            spark.createDataFrame([(0, 99)], "node_index long, parent_index long"),
            str(tmp_path / "e2.nwk"),
        )


def test_newick_placements(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_newick
    from duckdb_miint_spark.sources.newick import read_newick

    src = read_newick(spark, f"{DATA}/newick/with_edge_ids.nwk")
    placements = spark.createDataFrame(
        [
            ("frag1", 0, 0.9, 0.05, 0.01),
            ("frag1", 1, 0.5, 0.05, 0.01),  # lower lwr -> deduped away
            ("frag2", 3, 0.8, 0.1, 0.02),
        ],
        "fragment_id string, edge_id long, like_weight_ratio double, distal_length double, pendant_length double",
    )
    out = str(tmp_path / "placed.nwk")
    copy_newick(src, out, placements=placements)
    back = read_newick(spark, out)
    names = {r["name"] for r in back.collect()}
    assert "frag1" in names and "frag2" in names
    # each placement adds internal + fragment node
    assert back.count() == 5 + 2 * 2
    fr1 = {r["name"]: r for r in back.collect()}["frag1"]
    assert abs(fr1["branch_length"] - 0.01) < 1e-12


# --- BAM sink ----------------------------------------------------------------


def test_bam_roundtrip(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_bam

    src = read_alignments(spark, f"{DATA}/sam/foo_with_tags.sam")
    out = str(tmp_path / "out.bam")
    refs = [("G1234", 1000), ("G000144735", 100000)]
    copy_bam(src.orderBy("read_id"), out, reference_lengths=refs)
    with open(out, "rb") as f:
        assert f.read(4)[:2] == b"\x1f\x8b"  # BGZF = gzip members
    back = read_alignments(spark, out)
    cols = src.columns
    assert sorted(map(tuple, back.select(cols).collect())) == sorted(
        map(tuple, src.select(cols).collect())
    )


def test_bam_matches_reference_bam(spark, tmp_path):
    """Write BAM from the reference SAM, compare against the reference's
    own BAM of the same data."""
    from duckdb_miint_spark.sinks import copy_bam

    src = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    out = str(tmp_path / "foo.bam")
    copy_bam(src, out, reference_lengths=[("G1234", 1000), ("G000144735", 100000)])
    ours = read_alignments(spark, out)
    theirs = read_alignments(spark, f"{DATA}/sam/foo_has_header.bam")
    assert sorted(map(tuple, ours.collect())) == sorted(map(tuple, theirs.collect()))


def test_copy_bam_distributed_equals_single(spark, tmp_path):
    """The distributed writer (per-partition BGZF member runs, driver
    concatenation) must produce a file whose read-back EQUALS the
    single-writer output row-for-row — same df, deterministic range
    partitioning, so both paths see the identical record sequence —
    at a volume that spans many blocks and partitions (VERDICT r11 #4)."""
    from duckdb_miint_spark.queries_domain import ALN_SQL
    from duckdb_miint_spark.sinks import copy_bam

    spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").createOrReplaceTempView(
        "lineitem"
    )
    try:
        aln = (
            spark.sql(ALN_SQL)
            .filter(F.col("position").isNotNull())
            .withColumn("mapq", (F.col("flags") % 60).cast("int"))
            .withColumn(
                "cigar",
                F.concat(
                    (
                        F.greatest("stop_position", "position")
                        - F.least("stop_position", "position")
                        + 1
                    ).cast("string"),
                    F.lit("M"),
                ),
            )
            .withColumn("mate_reference", F.lit("*"))
            .withColumn("mate_position", F.lit(0).cast("long"))
            .withColumn("template_length", F.lit(0).cast("long"))
            .repartitionByRange(8, "read_id", "flags")
        )
        refs = [(f"contig_{i}", 200_000) for i in range(50)]
        single = str(tmp_path / "single.bam")
        dist = str(tmp_path / "dist.bam")
        assert copy_bam(aln, single, reference_lengths=refs) is False
        assert copy_bam(aln, dist, reference_lengths=refs, distributed=True) is True
        a = read_alignments(spark, single)
        b = read_alignments(spark, dist)
        rows_a = [tuple(r) for r in a.collect()]
        rows_b = [tuple(r) for r in b.collect()]
        assert len(rows_a) > 50_000  # spans many BGZF blocks + partitions
        assert rows_a == rows_b  # same order, same content
    finally:
        spark.catalog.dropTempView("lineitem")


def _aln_df(spark, refs, n=400):
    """A hermetic alignments DataFrame over ``refs``, in 4 partitions."""
    rows = [
        (f"q{i}", 0 if i % 3 else 16, refs[i % len(refs)], 1 + i * 7, i % 60,
         f"{20 + i % 30}M", "*", 0, 0)
        for i in range(n)
    ]
    cols = "read_id string, flags int, reference string, position long, mapq int, " \
        "cigar string, mate_reference string, mate_position long, template_length long"
    return spark.createDataFrame(rows, cols).repartition(4)


def test_copy_bam_distributed_leaves_only_the_bam(spark, tmp_path):
    """A successful distributed write leaves the BAM and no part files."""
    from duckdb_miint_spark.sinks import copy_bam

    refs = [("chr1", 100_000), ("chr2", 50_000)]
    df = _aln_df(spark, ["chr1", "chr2"])
    out = str(tmp_path / "out.bam")
    assert copy_bam(df, out, reference_lengths=refs, distributed=True) is True
    assert os.listdir(tmp_path) == ["out.bam"]
    back = read_alignments(spark, out).select("read_id", "flags", "reference", "position")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.select("read_id", "flags", "reference", "position").collect())
    )


def test_copy_bam_distributed_failure_leaves_nothing(spark, tmp_path):
    """A partition that raises (a reference missing from REFERENCE_LENGTHS)
    fails the write and leaves neither the BAM nor the part files."""
    from duckdb_miint_spark.sinks import copy_bam

    df = _aln_df(spark, ["chr1", "chr2", "chrX"])
    out = str(tmp_path / "out.bam")
    with pytest.raises(Exception, match="Reference not in REFERENCE_LENGTHS: chrX"):
        copy_bam(df, out, reference_lengths=[("chr1", 100_000), ("chr2", 50_000)],
                 distributed=True)
    assert os.listdir(tmp_path) == []


def test_bam_errors(spark, tmp_path):
    from duckdb_miint_spark.sinks import copy_bam

    src = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    with pytest.raises(CopyError, match="COMPRESSION_LEVEL"):
        copy_bam(src, str(tmp_path / "e.bam"), reference_lengths=[], compression_level=10)
    with pytest.raises(CopyError, match="Reference not in REFERENCE_LENGTHS"):
        copy_bam(src, str(tmp_path / "e2.bam"), reference_lengths=[("other", 10)])

"""Driver-gate queries for the file-format sources (SURVEY.md §2.2.1).

DuckDB can't read FASTQ/SAM/SFF/Newick, so the oracle for each source query
is a literal VALUES relation holding the reference implementation's golden
output (from the reference's own test/sql suite) — the driver's comparison
then verifies our reader reproduces the reference's rows bit-for-bit.
GFF and jplace get *computed* oracles (DuckDB reads the same file with its
own CSV/JSON readers).

Inputs are the reference's data fixtures (read-only), so these queries are
sf-independent — correctness of the parse, not of scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_miint_spark.registry import register
from duckdb_miint_spark.sources.fastx import read_fastx
from duckdb_miint_spark.sources.gff import read_gff
from duckdb_miint_spark.sources.jplace import read_jplace
from duckdb_miint_spark.sources.newick import read_newick
from duckdb_miint_spark.sources.sam import read_alignments
from duckdb_miint_spark.sources.sff import read_sequences_sff

DATA = "/root/reference/data"


@register(
    "read_fastx_paired",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'foo1', 'comment-1', 'ATGC', 'TGCAT',
   '40,39,38,37', '36,35,34,33,32'),
  (CAST(2 AS BIGINT), 'foo2', 'comment-2', 'ATGCT', 'TGCATC',
   '40,39,38,37,36', '36,35,34,33,32,31')
) AS t(sequence_index, read_id, comment, sequence1, sequence2, qual1, qual2)
ORDER BY sequence_index
""",
    tags=("source", "fastx"),
)
def q_read_fastx_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired-end gzip FASTQ vs the reference golden (read_fastx.test:23-27).

    qual arrays are projected as comma-joined strings: the driver's pandas
    canonicalizer can't hash list cells, so array columns are flattened on
    both the Spark and oracle side (same values, hashable encoding)."""
    df = read_fastx(
        spark, f"{DATA}/fastq/foo.r1.fastq.gz", sequence2=f"{DATA}/fastq/foo.r2.fastq.gz"
    )
    return df.select(
        "sequence_index", "read_id", "comment", "sequence1", "sequence2",
        F.array_join(F.col("qual1").cast("array<string>"), ",").alias("qual1"),
        F.array_join(F.col("qual2").cast("array<string>"), ",").alias("qual2"),
    ).orderBy("sequence_index")


@register(
    "read_fastx_multifile",
    oracle=f"""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'read_a1', 'AAAA', '40,40,40,40', '{DATA}/fastq/small_a.fq'),
  (CAST(2 AS BIGINT), 'read_a2', 'TTTT', '39,39,39,39', '{DATA}/fastq/small_a.fq'),
  (CAST(1 AS BIGINT), 'read_b1', 'GGGG', '38,38,38,38', '{DATA}/fastq/small_b.fq'),
  (CAST(2 AS BIGINT), 'read_b2', 'CCCC', '37,37,37,37', '{DATA}/fastq/small_b.fq')
) AS t(sequence_index, read_id, sequence1, qual1, filepath)
ORDER BY filepath, sequence_index
""",
    tags=("source", "fastx"),
)
def q_read_fastx_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file sequence_index + filepath (read_fastx.test:77-86). qual
    flattened to a comma string for the driver canonicalizer."""
    df = read_fastx(
        spark,
        [f"{DATA}/fastq/small_a.fq", f"{DATA}/fastq/small_b.fq"],
        include_filepath=True,
    )
    return df.select(
        "sequence_index",
        "read_id",
        "sequence1",
        F.array_join(F.col("qual1").cast("array<string>"), ",").alias("qual1"),
        "filepath",
    ).orderBy("filepath", "sequence_index")


@register(
    "read_alignments_sam",
    oracle="""
SELECT * FROM (VALUES
  ('foo-1', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), 60, '10M', '*',
   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  ('foo-2', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), 60, '10M', '*',
   CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  ('foo-3', 99, 'G000144735', CAST(76020 AS BIGINT), CAST(76170 AS BIGINT), 1, '150M', '=',
   CAST(76146 AS BIGINT), CAST(276 AS BIGINT)),
  ('foo-3', 147, 'G000144735', CAST(76146 AS BIGINT), CAST(76296 AS BIGINT), 1, '150M', '=',
   CAST(76020 AS BIGINT), CAST(-276 AS BIGINT))
) AS t(read_id, flags, reference, position, stop_position, mapq, cigar,
       mate_reference, mate_position, template_length)
ORDER BY read_id, flags
""",
    tags=("source", "sam"),
)
def q_read_alignments_sam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAM text reader vs read_alignments.test:24-33 goldens (+ computed
    stop_position = position + CIGAR reference span)."""
    df = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    return df.select(
        "read_id", "flags", "reference", "position", "stop_position", "mapq",
        "cigar", "mate_reference", "mate_position", "template_length",
    ).orderBy("read_id", "flags")


@register(
    "read_alignments_bam_tags",
    oracle="""
SELECT * FROM (VALUES
  ('tagged-1', CAST(100 AS BIGINT), CAST(90 AS BIGINT), CAST(NULL AS BIGINT),
   CAST(5 AS BIGINT), CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(2 AS BIGINT),
   CAST(4 AS BIGINT), 'CP', '10A5T20', CAST(NULL AS VARCHAR)),
  ('tagged-2', CAST(200 AS BIGINT), CAST(180 AS BIGINT), CAST(150 AS BIGINT),
   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
   CAST(10 AS BIGINT), 'UU', CAST(NULL AS VARCHAR), 'chr1,1234,+,50M,60,5;')
) AS t(read_id, tag_as, tag_xs, tag_ys, tag_xn, tag_xm, tag_xo, tag_xg,
       tag_nm, tag_yt, tag_md, tag_sa)
ORDER BY read_id
""",
    tags=("source", "sam"),
)
def q_read_alignments_bam_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAM binary reader tag decode vs foo_with_tags goldens — exercises the
    BGZF + binary record path end-to-end."""
    df = read_alignments(spark, f"{DATA}/sam/foo_with_tags.bam")
    return df.select(
        "read_id", "tag_as", "tag_xs", "tag_ys", "tag_xn", "tag_xm", "tag_xo",
        "tag_xg", "tag_nm", "tag_yt", "tag_md", "tag_sa",
    ).orderBy("read_id")


@register(
    "read_sequences_sff_trimmed",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'TRIM_READ_1', 'TCAGATTGCAGG',
   '30,30,25,35,40,38,36,30,28,25,20,15'),
  (CAST(2 AS BIGINT), 'TRIM_READ_2', 'CAGCCTAAGT',
   '30,35,30,40,38,33,30,28,35,30')
) AS t(sequence_index, read_id, sequence1, qual1)
ORDER BY sequence_index
""",
    tags=("source", "sff"),
)
def q_read_sequences_sff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFF binary reader with clip trimming (read_sequences_sff.test). qual
    flattened to a comma string for the driver canonicalizer."""
    df = read_sequences_sff(spark, f"{DATA}/sff/trimmed.sff")
    return df.select(
        "sequence_index",
        "read_id",
        "sequence1",
        F.array_join(F.col("qual1").cast("array<string>"), ",").alias("qual1"),
    ).orderBy("sequence_index")


@register(
    "read_gff_file",
    oracle=f"""
SELECT column0 AS seqid, column1 AS source, column2 AS type,
       CAST(column3 AS INTEGER) AS position,
       CAST(column4 AS INTEGER) AS stop_position,
       CASE WHEN column5 = '.' THEN NULL ELSE CAST(column5 AS DOUBLE) END AS score,
       CASE WHEN column6 = '.' THEN NULL ELSE column6 END AS strand,
       CASE WHEN column7 = '.' THEN NULL ELSE CAST(column7 AS INTEGER) END AS phase,
       regexp_extract(column8, 'ID=([^;]*)', 1) AS feature_id
FROM read_csv('{DATA}/gff/test.gff',
  delim = '\t', header = false, auto_detect = false,
  columns = {{'column0':'VARCHAR','column1':'VARCHAR','column2':'VARCHAR',
             'column3':'VARCHAR','column4':'VARCHAR','column5':'VARCHAR',
             'column6':'VARCHAR','column7':'VARCHAR','column8':'VARCHAR'}},
  null_padding = true)
WHERE column0 NOT LIKE '#%'
ORDER BY seqid, position, type, stop_position
""",
    tags=("source", "gff"),
)
def q_read_gff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_gff (miint_macros.hpp:115-154): both engines parse the same
    file; the attributes MAP is projected via key access."""
    df = read_gff(spark, f"{DATA}/gff/test.gff")
    return df.select(
        "seqid", "source", "type", "position", "stop_position", "score", "strand",
        "phase", F.element_at("attributes", "ID").alias("feature_id"),
    ).orderBy("seqid", "position", "type", "stop_position")


@register(
    "read_jplace_file",
    oracle="""
SELECT fragment, edge_num,
       CAST(likelihood AS DOUBLE) AS likelihood,
       CAST(like_weight_ratio AS DOUBLE) AS like_weight_ratio,
       CAST(distal_length AS DOUBLE) AS distal_length,
       CAST(pendant_length AS DOUBLE) AS pendant_length
FROM (VALUES
  ('fragment1', 0, -1234.56, 0.95, 0.05, 0.001),
  ('fragment2', 1, -2000.00, 0.80, 0.15, 0.003),
  ('fragment3', 2, -1500.50, 0.70, 0.20, 0.004)
) AS t(fragment, edge_num, likelihood, like_weight_ratio, distal_length, pendant_length)
ORDER BY fragment
""",
    tags=("source", "jplace"),
)
def q_read_jplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_jplace best-placement extraction (miint_macros.hpp:178-194)."""
    df = read_jplace(spark, f"{DATA}/jplace/test.jplace")
    return df.drop("filepath").orderBy("fragment")


@register(
    "read_newick_file",
    oracle="""
SELECT node_index, name, CAST(branch_length AS DOUBLE) AS branch_length,
       edge_id, parent_index, is_tip
FROM (VALUES
  (CAST(0 AS BIGINT), 'A', 0.1, CAST(0 AS BIGINT), CAST(2 AS BIGINT), true),
  (CAST(1 AS BIGINT), 'B', 0.2, CAST(1 AS BIGINT), CAST(2 AS BIGINT), true),
  (CAST(2 AS BIGINT), '', 0.3, CAST(2 AS BIGINT), CAST(4 AS BIGINT), false),
  (CAST(3 AS BIGINT), 'C', 0.4, CAST(3 AS BIGINT), CAST(4 AS BIGINT), true),
  (CAST(4 AS BIGINT), '', 0.0, CAST(4 AS BIGINT), CAST(NULL AS BIGINT), false)
) AS t(node_index, name, branch_length, edge_id, parent_index, is_tip)
ORDER BY node_index
""",
    tags=("source", "newick"),
)
def q_read_newick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newick parse with jplace edge ids: post-order node indices, root
    last with NULL parent (NewickTree.cpp:102-155)."""
    df = read_newick(spark, f"{DATA}/newick/with_edge_ids.nwk")
    return df.orderBy("node_index")


# --- sink round-trips (SURVEY §2.2.6) ---------------------------------------


@register(
    "copy_fastq_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'pair_a1', 'AAAA', 'TTTT',
   '40,40,40,40', '39,39,39,39')
) AS t(sequence_index, read_id, sequence1, sequence2, qual1, qual2)
ORDER BY sequence_index
""",
    tags=("sink", "fastq"),
)
def q_copy_fastq_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FASTQ sink → reader round-trip with {ORIENTATION} split
    (copy_fastq.cpp:47-368): write paired R1/R2, read back, match the
    reference's golden for the source file."""
    import tempfile

    from duckdb_miint_spark.sinks import copy_fastq

    src = read_fastx(
        spark, f"{DATA}/fastq/small_a_r1.fq", sequence2=f"{DATA}/fastq/small_a_r2.fq"
    )
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.{ORIENTATION}.fq.gz")
    copy_fastq(src, out, interleave=False)
    back = read_fastx(
        spark,
        out.replace("{ORIENTATION}", "R1"),
        sequence2=out.replace("{ORIENTATION}", "R2"),
    )
    return back.select(
        "sequence_index",
        "read_id",
        "sequence1",
        "sequence2",
        F.array_join(F.col("qual1").cast("array<string>"), ",").alias("qual1"),
        F.array_join(F.col("qual2").cast("array<string>"), ",").alias("qual2"),
    ).orderBy("sequence_index")


@register(
    "copy_sam_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  ('tagged-1', 0, 'G1234', CAST(10 AS BIGINT), CAST(60 AS BIGINT), '50M',
   CAST(100 AS BIGINT), CAST(4 AS BIGINT), '10A5T20'),
  ('tagged-2', 99, 'G000144735', CAST(1000 AS BIGINT), CAST(1100 AS BIGINT), '100M',
   CAST(200 AS BIGINT), CAST(10 AS BIGINT), CAST(NULL AS VARCHAR))
) AS t(read_id, flags, reference, position, stop_position, cigar, tag_as, tag_nm, tag_md)
ORDER BY read_id
""",
    tags=("sink", "sam"),
)
def q_copy_sam_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAM sink → reader round-trip with @SQ header from reference_lengths
    (copy_sam.cpp:129-757), tags preserved through write+read."""
    import tempfile

    from duckdb_miint_spark.sinks import copy_sam

    src = read_alignments(spark, f"{DATA}/sam/foo_with_tags.sam")
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.sam")
    copy_sam(
        src.orderBy("read_id"),
        out,
        reference_lengths=[("G1234", 1000), ("G000144735", 100000)],
    )
    back = read_alignments(spark, out)
    return back.select(
        "read_id", "flags", "reference", "position", "stop_position", "cigar",
        "tag_as", "tag_nm", "tag_md",
    ).orderBy("read_id")


@register(
    "gff_parent_child_join",
    oracle=f"""
WITH g AS (
  SELECT column2 AS type,
         regexp_extract(column8, 'ID=([^;]*)', 1) AS id,
         CASE WHEN column8 LIKE '%Parent=%'
              THEN regexp_extract(column8, 'Parent=([^;]*)', 1) END AS parent
  FROM read_csv('{DATA}/gff/test.gff',
    delim = '\t', header = false, auto_detect = false,
    columns = {{'column0':'VARCHAR','column1':'VARCHAR','column2':'VARCHAR',
               'column3':'VARCHAR','column4':'VARCHAR','column5':'VARCHAR',
               'column6':'VARCHAR','column7':'VARCHAR','column8':'VARCHAR'}},
    null_padding = true)
  WHERE column0 NOT LIKE '#%'
)
SELECT p.id AS parent_id, p.type AS parent_type, c.id AS child_id, c.type AS child_type
FROM g p JOIN g c ON c.parent = p.id
ORDER BY parent_id, child_id
""",
    tags=("source", "gff", "join"),
)
def q_gff_parent_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join on MAP values (README.md:638-645 GFF parent-child idiom):
    child.attributes['Parent'] = parent.attributes['ID']."""
    g = read_gff(spark, f"{DATA}/gff/test.gff").select(
        "type",
        F.element_at("attributes", "ID").alias("id"),
        F.element_at("attributes", "Parent").alias("parent"),
    )
    p, c = g.alias("p"), g.alias("c")
    return (
        p.join(c, F.col("c.parent") == F.col("p.id"))
        .select(
            F.col("p.id").alias("parent_id"),
            F.col("p.type").alias("parent_type"),
            F.col("c.id").alias("child_id"),
            F.col("c.type").alias("child_type"),
        )
        .orderBy("parent_id", "child_id")
    )


@register(
    "read_biom_file",
    oracle="""
SELECT * FROM (VALUES
  ('Sample1', 'GG_OTU_2', CAST(5.0 AS DOUBLE)),
  ('Sample1', 'GG_OTU_4', CAST(2.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_2', CAST(1.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_4', CAST(1.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_5', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_1', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_3', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_4', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_5', CAST(1.0 AS DOUBLE)),
  ('Sample4', 'GG_OTU_2', CAST(2.0 AS DOUBLE)),
  ('Sample4', 'GG_OTU_3', CAST(4.0 AS DOUBLE)),
  ('Sample5', 'GG_OTU_2', CAST(3.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_2', CAST(1.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_3', CAST(2.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_4', CAST(1.0 AS DOUBLE))
) AS t(sample_id, feature_id, value)
ORDER BY sample_id, feature_id
""",
    tags=("source", "biom"),
)
def q_read_biom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIOM v2.1 HDF5 → COO rows via the bundled minimal HDF5 reader
    (read_biom.test:31-47 golden table)."""
    from duckdb_miint_spark.sources.biom import read_biom

    return read_biom(spark, f"{DATA}/biom/test.biom").orderBy("sample_id", "feature_id")


@register(
    "read_sequences_sam_view",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'read1', CAST(NULL AS VARCHAR), 'ACGTACGTACGTACGT', CAST(NULL AS VARCHAR)),
  (CAST(2 AS BIGINT), 'read2', CAST(NULL AS VARCHAR), 'TGCATGCATGCA', CAST(NULL AS VARCHAR)),
  (CAST(3 AS BIGINT), 'read3', CAST(NULL AS VARCHAR), 'NNNNNN', CAST(NULL AS VARCHAR))
) AS t(sequence_index, read_id, comment, sequence1, sequence2)
ORDER BY sequence_index
""",
    tags=("source", "sam"),
)
def q_read_sequences_sam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence view of a uBAM-style SAM in the fastx schema
    (read_sequences_sam.test:43-70 goldens)."""
    from duckdb_miint_spark.sources.sam import read_sequences_sam

    df = read_sequences_sam(spark, f"{DATA}/sam/ubam_no_sq.sam")
    return df.select(
        "sequence_index", "read_id", "comment", "sequence1", "sequence2"
    ).orderBy("sequence_index")


@register(
    "copy_newick_roundtrip",
    oracle="""
SELECT node_index, name, CAST(branch_length AS DOUBLE) AS branch_length,
       parent_index, is_tip
FROM (VALUES
  (CAST(0 AS BIGINT), 'A', 0.1, CAST(2 AS BIGINT), true),
  (CAST(1 AS BIGINT), 'B', 0.2, CAST(2 AS BIGINT), true),
  (CAST(2 AS BIGINT), '', 0.3, CAST(4 AS BIGINT), false),
  (CAST(3 AS BIGINT), 'C', 0.4, CAST(4 AS BIGINT), true),
  (CAST(4 AS BIGINT), '', CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), false)
) AS t(node_index, name, branch_length, parent_index, is_tip)
ORDER BY node_index
""",
    tags=("sink", "newick"),
)
def q_copy_newick_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEWICK sink → reader round-trip (copy_newick.test basic shape):
    serialize simple.nwk's node table, re-parse, node structure invariant."""
    import tempfile

    from duckdb_miint_spark.sinks import copy_newick

    src = read_newick(spark, f"{DATA}/newick/simple.nwk")
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.nwk")
    copy_newick(src, out)
    back = read_newick(spark, out)
    return back.select(
        "node_index", "name", "branch_length", "parent_index", "is_tip"
    ).orderBy("node_index")


@register(
    "copy_bam_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  ('foo-1', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), '10M'),
  ('foo-2', 0, 'G1234', CAST(2 AS BIGINT), CAST(12 AS BIGINT), '10M'),
  ('foo-3', 99, 'G000144735', CAST(76020 AS BIGINT), CAST(76170 AS BIGINT), '150M'),
  ('foo-3', 147, 'G000144735', CAST(76146 AS BIGINT), CAST(76296 AS BIGINT), '150M')
) AS t(read_id, flags, reference, position, stop_position, cigar)
ORDER BY read_id, flags
""",
    tags=("sink", "bam"),
)
def q_copy_bam_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAM sink (pure-Python BGZF) → BAM reader round-trip
    (copy_bam.test shape) over a multi-partition source: per-partition
    BGZF part files joined behind the header. Read-back equality at a
    volume of many blocks and partitions is pytest-asserted
    (tests/test_sinks.py::test_copy_bam_many_blocks_reads_back_in_order)."""
    import tempfile

    from duckdb_miint_spark.sinks import copy_bam

    src = read_alignments(spark, f"{DATA}/sam/foo_has_header.sam")
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.bam")
    copy_bam(
        src.repartition(2),
        out,
        reference_lengths=[("G1234", 1000), ("G000144735", 100000)],
    )
    back = read_alignments(spark, out)
    return back.select(
        "read_id", "flags", "reference", "position", "stop_position", "cigar"
    ).orderBy("read_id", "flags")


@register(
    "copy_biom_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  ('Sample1', 'GG_OTU_2', CAST(5.0 AS DOUBLE)),
  ('Sample1', 'GG_OTU_4', CAST(2.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_2', CAST(1.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_4', CAST(1.0 AS DOUBLE)),
  ('Sample2', 'GG_OTU_5', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_1', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_3', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_4', CAST(1.0 AS DOUBLE)),
  ('Sample3', 'GG_OTU_5', CAST(1.0 AS DOUBLE)),
  ('Sample4', 'GG_OTU_2', CAST(2.0 AS DOUBLE)),
  ('Sample4', 'GG_OTU_3', CAST(4.0 AS DOUBLE)),
  ('Sample5', 'GG_OTU_2', CAST(3.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_2', CAST(1.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_3', CAST(2.0 AS DOUBLE)),
  ('Sample6', 'GG_OTU_4', CAST(1.0 AS DOUBLE))
) AS t(sample_id, feature_id, value)
ORDER BY sample_id, feature_id
""",
    tags=("sink", "biom"),
)
def q_copy_biom_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIOM sink (minimal HDF5 writer, CSR+CSC v2.1 layout) → reader
    round-trip on the reference golden table."""
    import tempfile

    from duckdb_miint_spark.sinks.biom_sink import copy_biom
    from duckdb_miint_spark.sources.biom import read_biom

    src = read_biom(spark, f"{DATA}/biom/test.biom")
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.biom")
    copy_biom(src.select("feature_id", "sample_id", "value"), out)
    return read_biom(spark, out).orderBy("sample_id", "feature_id")


@register(
    "sequence_schema_union",
    oracle="""
SELECT * FROM (VALUES
  ('fastx', CAST(1 AS BIGINT), 'read_a1', 'AAAA'),
  ('fastx', CAST(2 AS BIGINT), 'read_a2', 'TTTT'),
  ('sam', CAST(1 AS BIGINT), 'read1', 'ACGTACGTACGTACGT'),
  ('sam', CAST(2 AS BIGINT), 'read2', 'TGCATGCATGCA'),
  ('sam', CAST(3 AS BIGINT), 'read3', 'NNNNNN'),
  ('sff', CAST(1 AS BIGINT), 'READ_1', 'TCAGATTGCAGG'),
  ('sff', CAST(2 AS BIGINT), 'READ_2', 'TCAGCCTAAGTC')
) AS t(source, sequence_index, read_id, sequence1)
ORDER BY source, sequence_index
""",
    tags=("source", "union"),
)
def q_sequence_schema_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared fastx schema across read_fastx / read_sequences_sam /
    read_sequences_sff makes UNION ALL across sources valid — the design
    property the reference enforces (read_sequences_sff.hpp:27-29,
    read_sequences_sam.hpp:28-30)."""
    from pyspark.sql import functions as FN

    from duckdb_miint_spark.sources.sam import read_sequences_sam
    from duckdb_miint_spark.sources.sff import read_sequences_sff

    fastx = read_fastx(spark, f"{DATA}/fastq/small_a.fq").withColumn("source", FN.lit("fastx"))
    sam = read_sequences_sam(spark, f"{DATA}/sam/ubam_no_sq.sam").withColumn("source", FN.lit("sam"))
    sff = read_sequences_sff(spark, f"{DATA}/sff/basic_2reads.sff").withColumn("source", FN.lit("sff"))
    u = fastx.unionByName(sam).unionByName(sff)
    return u.select("source", "sequence_index", "read_id", "sequence1").orderBy(
        "source", "sequence_index"
    )


# --- NCBI (offline, recorded responses through the injectable fetcher) ------


@register(
    "read_ncbi_offline",
    oracle="""
SELECT 'TEST01000001.2' AS accession, 2 AS version,
       'Synthetica exempli strain X1 chromosome, complete genome' AS description,
       'Synthetica exempli' AS organism,
       CAST(1234567 AS BIGINT) AS taxonomy_id,
       CAST(5386 AS BIGINT) AS length,
       'DNA' AS molecule_type,
       CAST('2024-06-15' AS DATE) AS update_date
""",
    tags=("source", "ncbi"),
)
def q_read_ncbi_offline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full read_ncbi operator on a recorded GBSeq XML response
    (ncbi_parser.cpp:257-318 parse: accession-version split, taxon regex,
    DD-MON-YYYY date) — the HTTP layer is the only part not exercised."""
    from duckdb_miint_spark.fixtures import ncbi_fixture_fetcher
    from duckdb_miint_spark.sources.ncbi import read_ncbi

    return read_ncbi(spark, "TEST01000001", fetcher=ncbi_fixture_fetcher)


@register(
    "read_ncbi_annotation_offline",
    oracle="""
SELECT * FROM (VALUES
  ('TEST01000001.2', 'GenBank', 'source', CAST(1 AS BIGINT), CAST(5386 AS BIGINT),
   CAST(NULL AS VARCHAR), '+', CAST(NULL AS INTEGER), 'organism=Synthetica exempli'),
  ('TEST01000001.2', 'GenBank', 'gene', CAST(1 AS BIGINT), CAST(1320 AS BIGINT),
   CAST(NULL AS VARCHAR), '+', CAST(NULL AS INTEGER), 'locus_tag=SEX_0001'),
  ('TEST01000001.2', 'GenBank', 'CDS', CAST(1 AS BIGINT), CAST(1320 AS BIGINT),
   CAST(NULL AS VARCHAR), '+', CAST(0 AS INTEGER), 'product=replication protein;codon_start=1'),
  ('TEST01000001.2', 'GenBank', 'gene', CAST(1500 AS BIGINT), CAST(2100 AS BIGINT),
   CAST(NULL AS VARCHAR), '-', CAST(NULL AS INTEGER), 'locus_tag=SEX_0002')
) AS t(seqid, source, type, position, stop_position, score, strand, phase, attributes)
ORDER BY position, stop_position, type
""",
    tags=("source", "ncbi"),
)
def q_read_ncbi_annotation_offline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_ncbi_annotation on a recorded INSDC feature table
    (ncbi_parser.cpp:385-552): ref| header strip, reversed-position strand,
    codon_start→phase for CDS, k=v attribute join."""
    from duckdb_miint_spark.fixtures import ncbi_fixture_fetcher
    from duckdb_miint_spark.sources.ncbi import read_ncbi_annotation

    return read_ncbi_annotation(
        spark, "TEST01000001", fetcher=ncbi_fixture_fetcher
    ).orderBy("position", "stop_position", "type")


@register(
    "read_ncbi_fasta_offline",
    oracle="""
SELECT CAST(1 AS BIGINT) AS sequence_index,
       'TEST01000001.2' AS read_id,
       'Synthetica exempli strain X1, complete genome' AS comment,
       'ACGTACGTACGTACGTACGTACGTACGTACGTACGTACGTGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAAGGCCTTAA' AS sequence1
""",
    tags=("source", "ncbi"),
)
def q_read_ncbi_fasta_offline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """read_ncbi_fasta on a recorded FASTA response → fastx schema
    (read_ncbi_fasta.cpp:1-227): multi-line sequence join, header split."""
    from duckdb_miint_spark.fixtures import ncbi_fixture_fetcher
    from duckdb_miint_spark.sources.ncbi import read_ncbi_fasta

    df = read_ncbi_fasta(spark, "TEST01000001", fetcher=ncbi_fixture_fetcher)
    return df.select("sequence_index", "read_id", "comment", "sequence1")


@register(
    "copy_fasta_roundtrip",
    oracle="""
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'seq1', 'test sequence 1', 'ATGCATGCATGC'),
  (CAST(2 AS BIGINT), 'seq2', CAST(NULL AS VARCHAR), 'GGCCGGCCGGCC')
) AS t(sequence_index, read_id, comment, sequence1)
ORDER BY sequence_index
""",
    tags=("sink", "fasta"),
)
def q_copy_fasta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FASTA sink → reader round-trip with comments (copy_fasta.test)."""
    import tempfile

    from duckdb_miint_spark.sinks import copy_fasta

    src = read_fastx(spark, f"{DATA}/fastq/test.fa")
    out = os.path.join(tempfile.gettempdir(), "spark_graft_rt.fa")
    copy_fasta(
        src.orderBy("sequence_index").select("read_id", "comment", "sequence1"),
        out,
        include_comment=True,
    )
    back = read_fastx(spark, out)
    return back.select("sequence_index", "read_id", "comment", "sequence1").orderBy(
        "sequence_index"
    )


def _fastq_split_oracle() -> str:
    from duckdb_miint_spark.sources.synth import fastq_expected

    e = fastq_expected()
    return f"""
SELECT CAST({e["n_reads"]} AS BIGINT) AS n_reads,
       CAST({e["sum_seq_len"]} AS BIGINT) AS sum_seq_len,
       CAST({e["sum_qual"]} AS BIGINT) AS sum_qual,
       CAST({e["sum_idx"]} AS BIGINT) AS sum_idx,
       TRUE AS was_split
"""


@register(
    "read_fastx_split",
    oracle=_fastq_split_oracle(),
    tags=("source", "fastx", "split"),
)
def q_read_fastx_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range split scan of one large FASTQ ≡ its known contents.

    A ~440 KB deterministic FASTQ (sources/synth.py — adversarial
    '@'-leading quality lines) is scanned with max_split_bytes=32 KiB:
    plan_fastx_splits aligns ~14 byte ranges to record starts and the
    shared record grammar reads each one as a plain-range split; the
    aggregate (read count, total bases, total Phred, sequence_index sum)
    must equal constants precomputed from the generator. ``was_split``
    pins >1 input partition, so a regression to whole-file scanning
    fails the gate rather than silently passing. Addresses the
    one-task-per-file straggler gap vs read_fastx.hpp:57-62."""
    from duckdb_miint_spark.sources.synth import fastq_text, materialize

    path = materialize(fastq_text(), ".fastq")
    df = read_fastx(spark, path, max_split_bytes=32 * 1024)
    # spark_partition_id is nondeterministic → project it BEFORE the agg
    # (this also pins it to the scan stage, which is the partition count
    # the gate is about).
    df = df.withColumn("_pid", F.spark_partition_id())
    return df.agg(
        F.count(F.lit(1)).alias("n_reads"),
        F.sum(F.length("sequence1")).alias("sum_seq_len"),
        F.sum(F.aggregate("qual1", F.lit(0).cast("long"), lambda a, x: a + x)).alias(
            "sum_qual"
        ),
        F.sum("sequence_index").alias("sum_idx"),
        (F.countDistinct("_pid") >= F.lit(2)).alias("was_split"),
    )


@register(
    "read_fastx_bgzf_split",
    oracle=_fastq_split_oracle(),
    tags=("source", "fastx", "split", "bgzf"),
)
def q_read_fastx_bgzf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGZF-block split scan of one bgzip-compressed FASTQ ≡ its known
    contents — same generator and expected constants as
    ``read_fastx_split`` but through the BGZF line source of the same
    record grammar (sources/fastx.py BGZF section): block-boundary ranges
    with the line-cutoff ownership convention. ``was_split`` pins >1 input
    partition so a regression to whole-file gzip handling fails loudly.
    Compressed read sets are the 100 TB norm; this gate keeps the
    splittable path honest per-round."""
    from duckdb_miint_spark.sources.synth import fastq_text, materialize_bgzf

    path = materialize_bgzf(fastq_text(), ".fastq")
    # the ~440 KB FASTQ compresses to ~31 KB of BGZF blocks; 6 KiB ranges
    # force ~5 block-aligned partitions
    df = read_fastx(spark, path, max_split_bytes=6 * 1024)
    df = df.withColumn("_pid", F.spark_partition_id())
    return df.agg(
        F.count(F.lit(1)).alias("n_reads"),
        F.sum(F.length("sequence1")).alias("sum_seq_len"),
        F.sum(F.aggregate("qual1", F.lit(0).cast("long"), lambda a, x: a + x)).alias(
            "sum_qual"
        ),
        F.sum("sequence_index").alias("sum_idx"),
        (F.countDistinct("_pid") >= F.lit(2)).alias("was_split"),
    )


def _sam_split_oracle() -> str:
    from duckdb_miint_spark.sources.synth import sam_expected

    e = sam_expected()
    return f"""
SELECT CAST({e["n_alignments"]} AS BIGINT) AS n_alignments,
       CAST({e["sum_flags"]} AS BIGINT) AS sum_flags,
       CAST({e["sum_pos"]} AS BIGINT) AS sum_pos,
       CAST({e["sum_stop"]} AS BIGINT) AS sum_stop,
       CAST({e["n_refs"]} AS BIGINT) AS n_refs,
       TRUE AS was_split
"""


@register(
    "read_alignments_split",
    oracle=_sam_split_oracle(),
    tags=("source", "sam", "split"),
)
def q_read_alignments_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-boundary split scan of one large SAM ≡ its known contents.

    A deterministic 4000-record SAM (sources/synth.py) scans with
    max_split_bytes=16 KiB → ~16 byte-range partitions, each starting at
    the next line boundary; flag/position/stop_position sums must equal
    generator constants and ``was_split`` pins real multi-partition input
    (same rationale as read_fastx_split)."""
    from duckdb_miint_spark.sources.synth import materialize, sam_text

    path = materialize(sam_text(), ".sam")
    df = read_alignments(spark, path, max_split_bytes=16 * 1024)
    df = df.withColumn("_pid", F.spark_partition_id())
    return df.agg(
        F.count(F.lit(1)).alias("n_alignments"),
        F.sum("flags").alias("sum_flags"),
        F.sum("position").alias("sum_pos"),
        F.sum("stop_position").alias("sum_stop"),
        F.countDistinct("reference").alias("n_refs"),
        (F.countDistinct("_pid") >= F.lit(2)).alias("was_split"),
    )

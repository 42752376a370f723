"""SAM COPY sink (text).

Parity target: reference src/copy_sam.cpp:129-757. Mandatory columns with
strict types (copy_sam.cpp:175-235); SEQ/QUAL always ``*`` (README.md:2571);
header = ``@SQ`` lines from a REFERENCE_LENGTHS relation (required when
INCLUDE_HEADER, copy_sam.cpp:292-301); int tags emitted as ``XX:i:``,
string tags as ``XX:Z:`` when non-NULL.

A single-file SAM is Spark's text part files joined behind the header
(``fastx_sink.write_joined``); BAM is ``bam_sink.copy_bam``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duckdb_miint_spark.sinks.fastx_sink import CopyError, _resolve_compression, _write_text
from duckdb_miint_spark.sources.sam import INT_TAGS, STR_TAGS

MANDATORY = (
    "read_id",
    "flags",
    "reference",
    "position",
    "mapq",
    "cigar",
    "mate_reference",
    "mate_position",
    "template_length",
)


def copy_sam(
    df: DataFrame,
    path: str,
    reference_lengths: DataFrame | list[tuple[str, int]] | None = None,
    include_header: bool = True,
    compression: str | None = None,
    single_file: bool = True,
) -> None:
    """COPY (df) TO path (FORMAT SAM, ...)."""
    for c in MANDATORY:
        if c not in df.columns:
            raise CopyError(f"COPY FORMAT SAM requires '{c}' column")
    if include_header and reference_lengths is None:
        raise CopyError(
            "COPY FORMAT SAM with INCLUDE_HEADER=true requires REFERENCE_LENGTHS parameter"
        )
    compression = _resolve_compression(path, compression)

    tag_cols = []
    for t in INT_TAGS:
        col = f"tag_{t.lower()}"
        if col in df.columns:
            tag_cols.append(
                F.when(
                    F.col(col).isNotNull(), F.concat(F.lit(f"\t{t}:i:"), F.col(col).cast("string"))
                ).otherwise(F.lit(""))
            )
    for t in STR_TAGS:
        col = f"tag_{t.lower()}"
        if col in df.columns:
            tag_cols.append(
                F.when(
                    F.col(col).isNotNull(), F.concat(F.lit(f"\t{t}:Z:"), F.col(col))
                ).otherwise(F.lit(""))
            )

    record = F.concat_ws(
        "\t",
        F.col("read_id"),
        F.col("flags").cast("string"),
        F.col("reference"),
        F.col("position").cast("string"),
        F.col("mapq").cast("string"),
        F.col("cigar"),
        F.col("mate_reference"),
        F.col("mate_position").cast("string"),
        F.col("template_length").cast("string"),
        F.lit("*"),
        F.lit("*"),
    )
    if tag_cols:
        record = F.concat(record, *tag_cols)
    recs = df.select(record.alias("record"))

    head = b""
    if include_header:
        if not single_file:
            raise CopyError(
                "INCLUDE_HEADER requires single_file output (a header cannot "
                "prefix a distributed part-file set); write headerless parts "
                "or use single_file=True"
            )
        if isinstance(reference_lengths, DataFrame):
            refs = [(r[0], int(r[1])) for r in reference_lengths.collect()]
        else:
            refs = list(reference_lengths)
        head = "".join(f"@SQ\tSN:{name}\tLN:{length}\n" for name, length in refs).encode()
    _write_text(recs, path, compression, single_file, head)

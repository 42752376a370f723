"""COPY sinks (SURVEY.md §2.2.6): FASTQ, FASTA, SAM writers.

Each writer formats records as Catalyst string expressions (JVM-side char
encoding for quality arrays — no Python in the row path) and writes with
Spark's text sink. Two output modes:

- ``single_file=True`` (default): reference parity — one named file. One
  Spark job writes a part file per partition next to it, and the driver
  joins them in partition order behind the format's head bytes
  (``fastx_sink.write_joined``; BAM is written the same way).
- ``single_file=False``: ``path`` becomes a directory of part files,
  written fully distributed with optional gzip codec — the 100 TB shape.
"""

from duckdb_miint_spark.sinks.bam_sink import copy_bam  # noqa: F401
from duckdb_miint_spark.sinks.fastx_sink import copy_fasta, copy_fastq  # noqa: F401
from duckdb_miint_spark.sinks.newick_sink import copy_newick  # noqa: F401
from duckdb_miint_spark.sinks.sam_sink import copy_sam  # noqa: F401

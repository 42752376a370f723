"""Table-function sources (SURVEY.md §2.2.1) as Spark-native readers.

Each reader mirrors a reference table function's schema and semantics.
The binary and sequence-file readers (fastx, sam/bam, sff, biom) plan
their splits on the driver and scan them in one ``mapInArrow``
(``arrow_batch.split_scan``):

- ``read_fastx``          — FASTA/FASTQ (+gzip, paired-end, glob) reader
- ``read_alignments``     — SAM/BAM reader (pure-Python, no htslib)
- ``read_sequences_sam``  — sequence view of SAM/BAM in the fastx schema
- ``read_sequences_sff``  — 454 SFF binary reader
- ``read_gff``            — GFF3 via CSV scan + attribute map (SQL translation)
- ``read_jplace``         — phylogenetic placements via JSON scan
- ``read_newick``         — Newick tree → node table (driver-side parser)
"""

from duckdb_miint_spark.sources.fastx import read_fastx  # noqa: F401
from duckdb_miint_spark.sources.gff import read_gff  # noqa: F401
from duckdb_miint_spark.sources.jplace import read_jplace  # noqa: F401
from duckdb_miint_spark.sources.newick import read_newick  # noqa: F401
from duckdb_miint_spark.sources.sam import read_alignments, read_sequences_sam  # noqa: F401
from duckdb_miint_spark.sources.sff import read_sequences_sff  # noqa: F401

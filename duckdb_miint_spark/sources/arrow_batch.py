"""Arrow batching and the split scan shared by the file readers.

Every file reader (fastx / sam / sff / biom) validates its input and plans
its splits on the driver, once, then returns :func:`split_scan`: one
``mapInArrow`` over a one-row-per-split "slot" relation, whose Python
function runs the reader's per-split generator. The readers parse
row-by-row in Python; :func:`batched` hands the rows to the JVM as one
Arrow buffer per batch instead of a pickled tuple per row, which is where
the scan time goes once the parser itself is warm.

The slot relation is a JVM ``LogicalRDD`` over ``range(0, n, 1, n)``:
partition *i* holds the single row *i*, so split *i* is read by partition
*i* and row order (and each file's 1-based ``sequence_index``) follows
split order. Binding and planning it starts no Python process. Its size
estimate is unknown (``spark.sql.defaultSizeInBytes``), like a file scan's
before statistics, so a reader's output is never auto-broadcast. A
``spark.range(n)`` slot relation would instead report a few bytes per
split, and a join with any small table would broadcast the whole read.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructType,
)

DEFAULT_BATCH_ROWS = 4096


def _arrow_type(dt: DataType) -> pa.DataType:
    if isinstance(dt, LongType):
        return pa.int64()
    if isinstance(dt, IntegerType):
        return pa.int32()
    if isinstance(dt, StringType):
        return pa.string()
    if isinstance(dt, DoubleType):
        return pa.float64()
    if isinstance(dt, FloatType):
        return pa.float32()
    if isinstance(dt, BooleanType):
        return pa.bool_()
    if isinstance(dt, ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    raise TypeError(f"No arrow mapping for Spark type: {dt}")


def arrow_schema(schema: StructType) -> pa.Schema:
    return pa.schema([pa.field(f.name, _arrow_type(f.dataType)) for f in schema.fields])


def batched(rows: Iterator[tuple], schema: StructType, batch_rows: int = DEFAULT_BATCH_ROWS) -> Iterator[pa.RecordBatch]:
    """Pack an iterator of schema-ordered tuples into Arrow RecordBatches."""
    aschema = arrow_schema(schema)
    ncols = len(aschema)
    cols: list[list] = [[] for _ in range(ncols)]
    n = 0
    for row in rows:
        for i in range(ncols):
            cols[i].append(row[i])
        n += 1
        if n >= batch_rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=aschema.field(i).type) for i, c in enumerate(cols)],
                schema=aschema,
            )
            cols = [[] for _ in range(ncols)]
            n = 0
    if n:
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, type=aschema.field(i).type) for i, c in enumerate(cols)],
            schema=aschema,
        )


def split_scan(
    spark: SparkSession,
    splits: Sequence[Any],
    read_split: Callable[[Any], Iterator[pa.RecordBatch]],
    schema: StructType,
) -> DataFrame:
    """``read_split(splits[i])`` for every split, as one DataFrame with
    one partition per split, in split order (module docstring)."""
    n = len(splits)
    jspark = spark._jsparkSession
    ids = jspark.range(0, n, 1, n).toDF()
    slots = DataFrame(jspark.createDataFrame(ids.javaRDD(), ids.schema()), spark)

    def scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from read_split(splits[i])

    return slots.mapInArrow(scan, schema)

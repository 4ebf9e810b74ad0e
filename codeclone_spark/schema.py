"""The clips input schema and ``local_frame``, the one way driver-side rows
enter Spark.

The clips shape comes from ``BASELINE.json`` ``input_hint``.  Every other
row is declared where it is produced: the per-clip decode row in
``functions/audio.py`` (the facts row derives from it in
``plans/facts.py``), and the violation and verdict rows by the rule
operators and the runner that build them.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

# Primary input (BASELINE.json input_hint). `part` is the Iceberg-partition
# stand-in (hive partition column: codec x clip_id bucket).
CLIPS_SCHEMA = StructType(
    [
        StructField("clip_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("sr_hz", IntegerType(), True),
        StructField("dur_ms", IntegerType(), True),
        StructField("codec", StringType(), True),
        StructField("transcript", StringType(), True),
        StructField("part", StringType(), False),
    ]
)


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-side *rows* (tuples in *schema* order) that
    plans as ``LocalTableScan``.

    ``spark.createDataFrame(<list>)`` pickles the rows into an RDD that
    plans as ``Scan ExistingRDD``, so every action over it re-runs them
    through Python workers.  Handing Spark an Arrow table instead makes
    the rows a local relation the JVM holds itself, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says.  *schema* is a
    ``StructType`` or a DDL string; an empty *rows* gives an empty frame."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)

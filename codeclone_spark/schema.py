"""Canonical StructTypes for every table the engine touches.

Mirrors the reference's frozen-dataclass row discipline
(``/root/reference/codeclone/models.py:14-33``): every fact is a typed row,
every persisted artifact is schema-versioned.  Shapes come from
``BASELINE.json`` ``input_hint`` (clips) and ``north_star`` (violations).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
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

# Reference fixtures (analog of the coverage side-input,
# reference coverage_join.py:100-352). pcm_ref holds canonical int16-LE PCM.
FIXTURES_SCHEMA = StructType(
    [
        StructField("clip_id", StringType(), False),
        StructField("pcm_sha256", StringType(), False),
        StructField("pcm_ref", BinaryType(), True),
        StructField("expected_transcript", StringType(), True),
        StructField("expected_dur_ms", IntegerType(), True),
    ]
)

# Per-clip decoded facts — output of the single fused decode pass
# (decode once, derive every fact: reference analysis/units.py:153 fused walk).
FACTS_SCHEMA = StructType(
    [
        StructField("decode_ok", BooleanType(), False),
        StructField("error_kind", StringType(), True),
        StructField("decoded_samples", LongType(), True),
        StructField("decoded_dur_ms", DoubleType(), True),
        StructField("pcm_sha256", StringType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("clipping_ratio", DoubleType(), True),
        StructField("silence_ratio", DoubleType(), True),
        StructField("spectral_flatness", DoubleType(), True),
        StructField("dominant_freq_hz", DoubleType(), True),
        StructField("snr_db", DoubleType(), True),
        StructField("fixture_status", StringType(), False),
        StructField("transcript_match", BooleanType(), True),
    ]
)

# Canonical violation rows (north_star triage schema; field style mirrors
# reference report/document/_findings_groups.py:84-151).
VIOLATIONS_SCHEMA = StructType(
    [
        StructField("rule_id", StringType(), False),
        StructField("partition", StringType(), False),
        StructField("clip_id", StringType(), True),
        StructField("observed", StringType(), True),
        StructField("expected", StringType(), True),
        # triage severity (reference risk classes: error gates, warn/info
        # inform); severity is rule-intrinsic, carried per row for triage
        StructField("severity", StringType(), False),
    ]
)

# Per-partition verdicts (reference gate evaluator reasons,
# report/gates/evaluator.py:243-261; novelty vs baseline accepted set,
# report/document/findings.py:96-115).
VERDICTS_SCHEMA = StructType(
    [
        StructField("partition", StringType(), False),
        StructField("rule_id", StringType(), False),
        StructField("pass", BooleanType(), False),
        StructField("reason", StringType(), False),
        StructField("novelty", StringType(), False),
    ]
)

CANONICAL_SAMPLE_WIDTTH = 2  # int16 canonical PCM

# Ordered output contracts: deterministic sort keys before any write/collect
# (reference core/parallelism.py:341-408 global stable sorts).
VIOLATIONS_ORDER = ["rule_id", "partition", "clip_id", "observed"]
VERDICTS_ORDER = ["partition", "rule_id"]


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

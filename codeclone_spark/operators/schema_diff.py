"""Schema-evolution diff: current table schema vs the baseline snapshot.

Analog of the reference's API-surface comparison
(``metrics/api_surface.py``, wired into the baseline diff at
``baseline/diff.py:84-89``): a column that disappears is ``removed``, a
column whose type changes is ``type_changed`` (both breaking -> gate
failures), a new column is ``added`` (informational).  Schemas are pure
metadata (tens of entries), so the diff itself is driver-side Python; only
the *introspection* touches Spark, and reading a schema launches no job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from codeclone_spark.schema import local_frame

# Spark simpleString dtype -> engine-canonical type name (DuckDB's names, so
# the DuckDB oracle can DESCRIBE the same parquet and agree byte-for-byte).
CANONICAL_TYPES = {
    "string": "VARCHAR",
    "binary": "BLOB",
    "int": "INTEGER",
    "bigint": "BIGINT",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "double": "DOUBLE",
    "float": "FLOAT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "array<float>": "FLOAT[]",
    "array<double>": "DOUBLE[]",
    "array<string>": "VARCHAR[]",
    "array<int>": "INTEGER[]",
    "array<bigint>": "BIGINT[]",
}


def canonical_schema(df: DataFrame) -> dict[str, str]:
    """{column -> canonical type} for a DataFrame (metadata only, no job)."""
    return {name: CANONICAL_TYPES.get(dt, dt.upper()) for name, dt in df.dtypes}


def schema_diff(
    current: dict[str, str], baseline: dict[str, str]
) -> dict[str, list]:
    """Full-outer comparison of two {column -> type} maps.

    Returns ``removed`` (in baseline, gone now), ``type_changed``
    ([col, baseline_type, current_type]), and ``added`` (new now) — the
    first two are breaking, the last informational (reference
    ``compare_api_surfaces`` verdict classes)."""
    removed = sorted(c for c in baseline if c not in current)
    added = sorted(c for c in current if c not in baseline)
    type_changed = sorted(
        [c, baseline[c], current[c]]
        for c in baseline
        if c in current and baseline[c] != current[c]
    )
    return {"removed": removed, "type_changed": type_changed, "added": added}


def schema_diff_rows(
    spark: SparkSession, current: dict[str, str], expected: dict[str, str]
) -> DataFrame:
    """The diff as canonical rows (col_name, status, expected_type,
    current_type) — the shape the oracle reproduces with DESCRIBE + a
    VALUES literal full-outer join."""
    d = schema_diff(current, expected)
    rows = (
        [(c, "removed", expected[c], None) for c in d["removed"]]
        + [(c, "type_changed", bt, ct) for c, bt, ct in d["type_changed"]]
        + [(c, "added", None, current[c]) for c in d["added"]]
    )
    return local_frame(
        spark,
        rows,
        "col_name STRING, status STRING, expected_type STRING, current_type STRING",
    )

"""Custom stateful streaming operator: cross-batch first-seen dedup.

The streaming analog of the batch ``uniq:clip_id`` rule (reference
build_groups semantics): per-key state (``seen`` count) survives across
micro-batches via ``applyInPandasWithState`` — an arriving clip_id that the
stream has seen in ANY earlier batch is flagged a duplicate.  State is
Arrow-batched per group; no per-row Python.

At scale: state is partitioned by clip_id (uniform hash key, no skew) and
checkpointed by the streaming engine; memory per key is one long.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from codeclone_spark.streaming.micro_batch import batch_sink

DEDUP_OUT_SCHEMA = (
    "clip_id string, n_batch long, seen_before long, is_duplicate boolean"
)
DEDUP_STATE_SCHEMA = "seen long"


def _first_seen_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    seen = state.get[0] if state.exists else 0
    state.update((seen + n,))
    (clip_id,) = key
    yield pd.DataFrame(
        {
            "clip_id": [clip_id],
            "n_batch": [n],
            "seen_before": [seen],
            "is_duplicate": [seen + n > 1],
        }
    )


def stream_dedup_first_seen(ids_stream: DataFrame) -> DataFrame:
    """clip_id stream -> per-batch (clip_id, n_batch, seen_before,
    is_duplicate) update rows with cross-batch memory."""
    return ids_stream.groupBy("clip_id").applyInPandasWithState(
        _first_seen_fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_dedup(
    spark: Any,
    clips_stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> Any:
    """File-source wiring for tests/deployments: one micro-batch per input
    file (so cross-batch state is actually exercised), update rows written
    per-batch to idempotent batch_id partition dirs via foreachBatch."""
    from codeclone_spark.schema import CLIPS_SCHEMA

    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(clips_stream_dir)
        .select("clip_id")
    )
    updates = stream_dedup_first_seen(stream)

    return (
        updates.writeStream.outputMode("update")
        .foreachBatch(batch_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Structured Streaming validation over a clips stream.

``stream_validate`` wires readStream(parquet dir) -> foreachBatch(batch rule
pass) -> violations sink.  Watermarked windowed violation counts give the
drift-style rolling view.  Used by tests with a file-source stream; on a
real deployment the source is Kafka/Iceberg-CDC and the sink an Iceberg
append — same plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from codeclone_spark.operators.rules import evaluate_row_rules
from codeclone_spark.plans.facts import (
    build_facts,
    read_fixtures_meta,
    read_fixtures_pcm,
)
from codeclone_spark.schema import CLIPS_SCHEMA, local_frame


def batch_sink(out_dir: str):
    """foreachBatch sink factory.  foreachBatch is at-least-once, so a
    retried batch is reprocessed under the SAME batch_id: each micro-batch
    writes its own batch_id=<id> partition dir with overwrite, which makes
    the retry a no-op instead of an append-duplication (the reader
    recovers batch_id via partition discovery)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={int(batch_id)}")
        )

    return sink


def stream_validate(
    spark: SparkSession,
    clips_stream_dir: str,
    fixtures_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Micro-batch validation: each batch builds its facts exactly as a
    batch-engine wave does (``build_facts``) and runs the single-scan rule
    evaluation, appending violation parquet.  The ``availableNow`` trigger
    processes the backlog and stops."""
    fixtures_meta = read_fixtures_meta(spark, fixtures_dir)
    fixtures_pcm = read_fixtures_pcm(spark, fixtures_dir)

    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(clips_stream_dir)
    )

    sink = batch_sink(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        facts, decoded = build_facts(batch_df, fixtures_meta, fixtures_pcm)
        try:
            sink(evaluate_row_rules(facts), batch_id)
        finally:
            decoded.unpersist()

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_drift_monitor(
    spark: SparkSession,
    clips_stream_dir: str,
    baseline_path: str,
    out_dir: str,
    checkpoint_dir: str,
    psi_max: float = 0.25,
) -> StreamingQuery:
    """Live distribution-drift monitor: every micro-batch folds its dur_ms
    histogram (the same mergeable ``_hist_expr`` partial the batch engine
    ledgers) and scores PSI against the persisted baseline snapshot,
    appending one verdict row per batch — the streaming analog of the
    batch stage-5 drift gate.  The baseline must be TRUSTED (same
    fail-closed contract as the batch runner); per-batch state is one
    histogram array, so the monitor is O(bins) memory regardless of
    stream volume."""
    from codeclone_spark.operators.rules import DUR_BIN_EDGES, _hist_expr
    from codeclone_spark.plans import baseline as bl

    snapshot, trust = bl.load_baseline(baseline_path)
    if not trust.trusted:
        raise ValueError(f"untrusted baseline for drift monitor: {trust.reason}")
    b_hist = snapshot["histograms"]["dur_ms"]["counts"]

    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(clips_stream_dir)
    )

    sink = batch_sink(out_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_df.agg(
            _hist_expr("dur_ms", DUR_BIN_EDGES).alias("h"),
            F.count(F.lit(1)).alias("rows"),
        ).collect()[0]
        hist = [int(x) for x in row["h"]]
        psi = bl.psi(b_hist, hist)
        out = local_frame(
            spark,
            [
                (
                    int(row["rows"]),
                    "drift:psi:dur_ms",
                    round(float(psi), 6),
                    bool(psi <= psi_max),
                )
            ],
            "rows long, rule_id string, psi double, pass boolean",
        )
        sink(out, batch_id)

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_violation_counts(
    violations: DataFrame, ts_col: str = "ts", window: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window counts per rule — the rolling drift view
    (usable on a stream with `withWatermark`, or on a batch frame as-is)."""
    df = violations
    if isinstance(df, DataFrame) and df.isStreaming:
        df = df.withWatermark(ts_col, "2 hours")
    return (
        df.groupBy(F.window(F.col(ts_col), window).alias("w"), "rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "rule_id",
            "n",
        )
    )

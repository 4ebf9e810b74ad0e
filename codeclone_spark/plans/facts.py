"""Facts stage: clips → map-only decode → fixture meta join → SNR for the
sha-mismatched suspects → small facts frame (``build_facts``).

Scale notes (the plan we want at 100 TB, verified via .explain in tests):
- Filters on ``part`` (resume pruning) hit the hive/Iceberg partition columns
  → partition pruning at the scan, zero bytes read for done partitions.
- The fixtures join is an equi-join on a uniform high-cardinality key
  (clip_id): no skew.  Catalyst/AQE picks broadcast when fixtures fit under
  the threshold and sort-merge otherwise; at 10^12 rows both sides would be
  bucketed by clip_id in Iceberg so the join is co-located (documented here,
  not forceable on local parquet).
- ``bytes``/``pcm_ref`` die inside the decode pass; everything downstream
  (rule evaluation, aggregations, verdicts) shuffles only ~100 B/row facts.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from codeclone_spark.functions.audio import (
    DECODE_CARRIED,
    DECODE_FACTS,
    DECODE_OUT_SCHEMA,
    decode_map_in_pandas,
    snr_map_in_pandas,
    to_nfc,
)
from codeclone_spark.synth import LOSSLESS_SNR_DB

SNR_OUT_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("snr_db", DoubleType()),
    ]
)
# The facts row derives from the decode row: its carried columns, the
# fixture meta columns phase B joins, its PCM facts (transcript_nfc only
# feeds the transcript match), then the columns phases B and C derive.
FACTS_OUT_SCHEMA = StructType(
    [DECODE_OUT_SCHEMA[c] for c in DECODE_CARRIED]
    + [
        StructField("fx_sha256", StringType()),
        StructField("expected_transcript", StringType()),
        StructField("expected_dur_ms", IntegerType()),
    ]
    + [DECODE_OUT_SCHEMA[c] for c in DECODE_FACTS]
    + [
        SNR_OUT_SCHEMA["snr_db"],
        StructField("fixture_status", StringType()),
        StructField("transcript_match", BooleanType()),
    ]
)


def read_clips(spark: SparkSession, data_dir: str) -> DataFrame:
    """Hive-partitioned clips scan; `part` is a partition column so any
    filter on it prunes directories before reading a byte."""
    return spark.read.parquet(f"{data_dir}/clips")


def read_fixtures_meta(spark: SparkSession, data_dir: str) -> DataFrame:
    """Small fixture meta table (sha, transcript, dur) — all phase B needs."""
    return spark.read.parquet(f"{data_dir}/fixtures_ref.parquet").select(
        "clip_id",
        F.col("pcm_sha256").alias("fx_sha256"),
        "expected_transcript",
        "expected_dur_ms",
    )


def read_fixtures_pcm(spark: SparkSession, data_dir: str) -> DataFrame:
    """Canonical-PCM blob table, hive-partitioned by the same `part` key as
    clips so the SNR phase prunes to suspect partitions."""
    return spark.read.parquet(f"{data_dir}/fixtures_pcm")


def _nfc_udf():
    """Built lazily — pandas_udf type parsing needs a live session."""

    @pandas_udf(StringType())
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(to_nfc)

    return nfc


def build_facts(
    clips: DataFrame,
    fixtures_meta: DataFrame,
    fixtures_pcm: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Facts frame for the rule pass — the only way facts are built:

    A. decode over the bare clips scan (map-only: the heavy ``bytes``
       column NEVER enters a shuffle; it dies inside the Arrow batch);
    B. join the small fixture META columns (sha/transcript/dur —
       ~100 B/row) on clip_id — a cheap shuffle of scalars;
    C. rows whose decoded sha mismatches the fixture sha (lossy codecs,
       corrupted encodes) re-read ``bytes`` + ``pcm_ref`` via semi-joins
       and compute SNR — traffic proportional to the SUSPECT subset, not
       the table.  sha-equal rows get SNR = lossless sentinel for free.

    Phase A is persisted so bytes are decoded exactly once: the suspect
    partition collect here is the FIRST and ONLY action over the uncached
    decode, so it fills the cache by itself (one job cannot race itself),
    and phase C then prunes its re-scans to those directories statically.
    Returns ``(facts, decoded)``; the caller unpersists *decoded* once it
    has consumed *facts*.  Callers restrict *clips*/*fixtures_pcm* to a
    partition subset themselves (resume pruning, reference
    core/discovery.py:118-190).  The phase-B join strategy is Spark's: it
    broadcasts the fixture meta below ``spark.sql.autoBroadcastJoinThreshold``
    and sort-merges above it (set the conf to -1 to force sort-merge).
    """
    decoded = decode_stage(clips).persist()
    suspect_parts = sorted(
        r["part"]
        for r in suspect_filter(join_meta(decoded, fixtures_meta))
        .select("part")
        .distinct()
        .collect()
    )
    facts = assemble_facts(decoded, clips, fixtures_meta, fixtures_pcm, suspect_parts)
    return facts, decoded


def decode_stage(clips: DataFrame) -> DataFrame:
    """Phase A alone (``build_facts`` persists it: both the rule pass and
    the SNR-suspect branch consume it)."""
    return clips.mapInPandas(decode_map_in_pandas, schema=DECODE_OUT_SCHEMA)


def join_meta(decoded: DataFrame, fixtures_meta: DataFrame) -> DataFrame:
    """Phase B: join the small fixture meta columns onto decoded facts."""
    meta = fixtures_meta.select(
        "clip_id",
        "fx_sha256",
        _nfc_udf()(F.col("expected_transcript")).alias("fx_transcript_nfc"),
        "expected_transcript",
        "expected_dur_ms",
    )
    return decoded.join(meta, "clip_id", "left")


def suspect_filter(f: DataFrame):
    """Rows whose decoded sha mismatches the fixture sha — the only rows
    that need the expensive PCM comparison."""
    return f.filter(
        F.col("decode_ok")
        & F.col("fx_sha256").isNotNull()
        & (F.col("pcm_sha256") != F.col("fx_sha256"))
    )


def assemble_facts(
    decoded: DataFrame,
    clips: DataFrame,
    fixtures_meta: DataFrame,
    fixtures_pcm: DataFrame,
    suspect_parts: list[str],
) -> DataFrame:
    """Phases B+C.  *suspect_parts* is the materialized suspect partition
    list: the phase-C re-scans prune statically to those directories —
    guaranteed, no reliance on dynamic partition pruning."""
    # --- phase B: small-column meta join
    f = join_meta(decoded, fixtures_meta)

    sha_match = F.col("pcm_sha256") == F.col("fx_sha256")
    fixture_status = (
        F.when(F.col("fx_sha256").isNull(), F.lit("missing_fixture"))
        .when(~F.col("decode_ok"), F.lit("undecodable"))
        .otherwise(F.lit("checked"))
    )
    transcript_match = F.when(
        F.col("fx_transcript_nfc").isNotNull(),
        F.coalesce(
            F.col("transcript_nfc") == F.col("fx_transcript_nfc"), F.lit(False)
        ),
    )

    # --- phase C: SNR only where the cheap exact check can't settle it.
    # The suspect id-list MUST be broadcast: a sort-merge semi-join here
    # would shuffle the full bytes/pcm_ref columns — the exact cost this
    # strategy exists to avoid (confirmed via stage metrics: SMJ planned
    # ~700 core-seconds of payload shuffle at 20k rows).  The limit: on a
    # lossy-dominated table nearly every sha mismatches, so this broadcast
    # approaches every clip id.
    suspect_ids = suspect_filter(f).select("clip_id")
    # static literal pruning: only the suspect directories are listed, let
    # alone read
    in_suspect = F.col("part").isin(suspect_parts)
    payload_side = clips.filter(in_suspect).join(
        F.broadcast(suspect_ids), "clip_id", "left_semi"
    ).select("clip_id", "bytes", "codec")
    ref_side = fixtures_pcm.filter(in_suspect).join(
        F.broadcast(suspect_ids), "clip_id", "left_semi"
    ).select("clip_id", "pcm_ref")
    snr = (
        payload_side.join(ref_side, "clip_id")
        .mapInPandas(snr_map_in_pandas, schema=SNR_OUT_SCHEMA)
        .groupBy("clip_id")
        .agg(F.min("snr_db").alias("snr_db_joined"))  # dup clip_ids: one row
    )
    *passed, snr_db, status, match = FACTS_OUT_SCHEMA.names
    return f.join(snr, "clip_id", "left").select(
        *passed,
        F.when(F.col("decode_ok") & sha_match, F.lit(LOSSLESS_SNR_DB))
        .otherwise(F.col("snr_db_joined"))
        .alias(snr_db),
        fixture_status.alias(status),
        transcript_match.alias(match),
    )

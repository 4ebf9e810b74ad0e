"""Incremental near-dup candidate detection over a document stream.

The streaming analog of the batch LSH candidate stage
(``operators/dedup.py:lsh_candidate_pairs`` — the reference's cheap
permissive segment key, ``blocks/__init__.py:82-132``): as documents
arrive, each is hashed into the SAME md5-derived MinHash/band buckets the
batch ladder uses, and a document landing in a bucket that already holds
an earlier document is flagged a near-dup CANDIDATE against that bucket's
first-seen anchor.  A training-data ingest pipeline runs this at the
door: candidates are quarantined/flagged immediately, and the batch
ladder (exact verify → clusters → keep_list) adjudicates them offline.

Two streaming-specific design points:

1. **Per-row signatures, not aggregated ones.**  The batch pipeline
   explodes shingles and folds MinHash with a groupBy; chaining a
   streaming aggregation into ``applyInPandasWithState`` is a
   multiple-stateful-operator plan Spark restricts.  Here the shingle set
   is built as an ARRAY column on the row (``sequence`` + ``transform``,
   bounded by the document's own length) and each MinHash lane is an
   ``array_min`` over a transformed copy — a narrow, stateless projection
   that chains legally into the stateful step.  The hash family is the
   SAME ``mh_constants`` affine family over the same md5 base hash, so a
   stream bucket key equals the batch bucket key bit-for-bit (asserted in
   tests/test_streaming.py).

2. **Caps as backpressure, streamed.**  State per (band, key) bucket is
   (anchor id, count) — two scalars, no document content.  Beyond
   *max_bucket* arrivals a bucket stops emitting candidates (a hot bucket
   is boilerplate, the exact-dup pass's job — same discipline as the
   batch cap) but keeps counting, so the suppression is observable in the
   final state rather than silently unbounded output.

Emitted rows are per (band, bucket) hits; one document near-duplicating
an anchor in several bands emits several rows — consumers dedupe on
(id, anchor_id) or just on id (the registry summary does).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from codeclone_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    MH_PRIME,
    MINHASH_K,
    SHINGLE_K,
    mh_constants,
)
from codeclone_spark.streaming.micro_batch import batch_sink

NEARDUP_OUT_SCHEMA = (
    "band int, bucket_key string, id string, anchor_id string, nth long"
)
NEARDUP_STATE_SCHEMA = "anchor string, n long"


def row_banded_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = SHINGLE_K,
    n_hashes: int = MINHASH_K,
    band_size: int = 2,
) -> DataFrame:
    """(id, band, key) LSH band-bucket rows computed per row (no shuffle,
    no aggregation — streaming-safe), bit-identical to the batch
    ``_banded_signatures`` keys for the same text."""
    # a doc shorter than k has no k-shingles: the batch pipeline drops it
    # (no exploded rows -> no signature); mirror that here, and keep
    # array_min away from empty arrays (null lanes would fabricate a
    # shared "" bucket key)
    df = df.filter(F.length(text_col) >= k)
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(text_col) - (k - 1), F.lit(1))
    )
    shingles = F.filter(
        F.transform(
            positions, lambda i: F.substring(F.col(text_col), i, F.lit(k))
        ),
        lambda s: F.length(s) == k,
    )

    def base(s: Column) -> Column:
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")

    def lane(a: int, b: int):
        # closure factory, NOT default-arg binding: F.transform reads the
        # lambda's arity, and extra defaulted params would make it look
        # like the 3-arg (value, index, ...) form
        return lambda s: F.pmod(F.lit(a) * base(s) + F.lit(b), F.lit(MH_PRIME))

    mhs = [
        F.array_min(F.transform(shingles, lane(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(mh_constants(n_hashes))
    ]
    sigs = df.select(F.col(id_col).alias("id"), *mhs)
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("id", F.explode(bands).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _candidate_fn_for(max_bucket: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ids: list[str] = []
        for pdf in pdfs:
            ids.extend(pdf["id"].tolist())
        ids.sort()  # deterministic within a micro-batch
        anchor, n = state.get if state.exists else (None, 0)
        band, bucket_key = key
        out: list[tuple] = []
        for doc_id in ids:
            n += 1
            if anchor is None:
                anchor = doc_id
            elif n <= max_bucket:
                out.append((band, bucket_key, doc_id, anchor, n))
            # past the cap: counted in state, not emitted (backpressure)
        state.update((anchor, n))
        if out:
            yield pd.DataFrame(
                out,
                columns=["band", "bucket_key", "id", "anchor_id", "nth"],
            )

    return fn


def stream_neardup_candidates(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SHINGLE_K,
    n_hashes: int = MINHASH_K,
    band_size: int = 2,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Document stream -> per-band candidate rows (band, bucket_key, id,
    anchor_id, nth) with cross-batch bucket memory."""
    keys = row_banded_keys(
        docs_stream, id_col, text_col, k, n_hashes, band_size
    )
    return keys.groupBy("band", "key").applyInPandasWithState(
        _candidate_fn_for(max_bucket),
        NEARDUP_OUT_SCHEMA,
        NEARDUP_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_stream_neardup(
    spark: Any,
    clips_stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> Any:
    """File-source wiring over the clips corpus (transcript as the
    document text): one micro-batch per *max_files_per_trigger* files,
    candidate rows written per-batch to idempotent batch_id partition
    dirs via foreachBatch."""
    from codeclone_spark.schema import CLIPS_SCHEMA

    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(clips_stream_dir)
        .select("clip_id", "transcript")
        .filter(
            F.col("transcript").isNotNull() & (F.length("transcript") > 0)
        )
    )
    updates = stream_neardup_candidates(
        stream, "clip_id", "transcript", max_bucket=max_bucket
    )

    return (
        updates.writeStream.outputMode("update")
        .foreachBatch(batch_sink(out_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

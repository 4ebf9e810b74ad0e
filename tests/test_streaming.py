"""Structured Streaming micro-batch validation over a clips stream."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from codeclone_spark.streaming import stream_validate, windowed_violation_counts


def _viol_tuples(df):
    cols = ("rule_id", "partition", "clip_id", "observed")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_validate_matches_batch(spark, tiny_dir, tiny_run, tmp_path):
    """The streamed row violations equal the batch engine's, row for row
    (uniq:clip_id is table-scope, so batch-only).  Both build facts through
    ``plans.facts.build_facts``.  The retired single-join decode differed
    from it only on ``snr_db`` for sha-equal rows whose fixture PCM was
    missing or had zero samples: null there versus the lossless sentinel
    here, and both lie outside the ``audio:snr`` rule's reach."""
    out = str(tmp_path / "viol")
    ckpt = str(tmp_path / "ckpt")
    q = stream_validate(
        spark,
        clips_stream_dir=f"{tiny_dir}/clips",
        fixtures_dir=tiny_dir,
        out_dir=out,
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(300)
    viol = spark.read.parquet(out)
    counts = {r["rule_id"]: r["n"] for r in viol.groupBy("rule_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    # same row-rule counts as the batch engine golden (uniq is global-only)
    assert counts["audio:undecodable"] == 2
    assert counts["audio:snr"] == 2
    assert counts["ref:fixture_missing"] == 100
    batch = spark.read.parquet(tiny_run.violations_path).filter(
        F.col("rule_id") != "uniq:clip_id"
    )
    assert _viol_tuples(viol) == _viol_tuples(batch)
    # exactly-once: re-running the same stream adds nothing
    q2 = stream_validate(
        spark,
        clips_stream_dir=f"{tiny_dir}/clips",
        fixtures_dir=tiny_dir,
        out_dir=out,
        checkpoint_dir=ckpt,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(out).count() == viol.count()


def test_windowed_violation_counts(spark):
    rows = [
        ("2024-01-01 10:05:00", "audio:snr"),
        ("2024-01-01 10:55:00", "audio:snr"),
        ("2024-01-01 11:05:00", "audio:snr"),
    ]
    df = spark.createDataFrame(rows, ["ts", "rule_id"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {
        (r["window_start"], r["rule_id"]): r["n"]
        for r in windowed_violation_counts(df).collect()
    }
    assert got == {
        ("2024-01-01 10:00", "audio:snr"): 2,
        ("2024-01-01 11:00", "audio:snr"): 1,
    }


def test_stateful_stream_dedup_first_seen(spark, tmp_path):
    """Cross-batch stateful dedup (applyInPandasWithState): a clip_id seen
    in an earlier micro-batch is flagged duplicate in later batches; state
    survives across batches within the run."""
    from codeclone_spark.streaming.stateful import run_stream_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    # file 0: a, b, c   file 1: b (dup across batches), d   file 2: a, a
    batches = [["a", "b", "c"], ["b", "d"], ["a", "a"]]
    for i, ids in enumerate(batches):
        spark.createDataFrame(
            [(cid, bytearray(b"\x00\x00"), 16000, 10, "pcm_s16le", "t") for cid in ids],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, transcript string",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(src, f"f{i}"))

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # stream over the individual batch dirs' files: use glob parent
    q = run_stream_dedup(spark, src + "/*", out, ckpt, max_files_per_trigger=1)
    q.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    # per (clip_id, batch) update rows; 'b' and 'a' flagged dup once re-seen
    by_key = {}
    for r in rows:
        by_key.setdefault(r["clip_id"], []).append(r)
    # a: first occurrence unique, later batch (2 copies) duplicate
    a_rows = sorted(by_key["a"], key=lambda r: r["seen_before"])
    assert a_rows[0]["seen_before"] == 0
    assert any(r["is_duplicate"] for r in a_rows)
    # b: seen in two different batches -> second update flags duplicate
    b_rows = sorted(by_key["b"], key=lambda r: r["seen_before"])
    assert len(b_rows) >= 2 and b_rows[-1]["is_duplicate"]
    assert b_rows[-1]["seen_before"] >= 1
    # c, d: never duplicated
    assert not any(r["is_duplicate"] for r in by_key["c"] + by_key["d"])


def test_stream_drift_monitor(spark, tiny_dir, tmp_path):
    """Per-micro-batch PSI vs the persisted baseline: self-baseline passes
    with near-zero drift; a shifted baseline trips every batch verdict."""
    import json

    from codeclone_spark.plans import baseline as bl
    from codeclone_spark.plans.runner import RunConfig, run
    from codeclone_spark.streaming import stream_drift_monitor

    base = str(tmp_path / "baseline.json")
    run(
        spark,
        RunConfig(
            data_dir=tiny_dir, out_dir=str(tmp_path / "accept"),
            baseline_path=base, update_baseline=True,
        ),
    )
    out, ckpt = str(tmp_path / "drift"), str(tmp_path / "ckpt")
    q = stream_drift_monitor(spark, f"{tiny_dir}/clips", base, out, ckpt)
    assert q.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    assert rows and all(r["pass"] for r in rows)
    assert all(r["psi"] <= 0.05 for r in rows)
    assert sum(r["rows"] for r in rows) == 2004  # every clip scored once

    # Idempotent sink layout: one batch_id=<id> dir per micro-batch, written
    # with overwrite — a foreachBatch retry (at-least-once) re-running the
    # same batch_id replaces its own dir instead of appending duplicates.
    assert any(d.startswith("batch_id=") for d in os.listdir(out))
    n_before = spark.read.parquet(out).count()
    one = spark.createDataFrame(
        [(1, "drift:psi:dur_ms", 0.0, True)],
        "rows long, rule_id string, psi double, pass boolean",
    )
    bdir = os.path.join(
        out, sorted(d for d in os.listdir(out) if d.startswith("batch_id="))[0]
    )
    one.write.mode("overwrite").parquet(bdir)  # simulate the batch retry
    assert spark.read.parquet(out).count() == n_before

    # shift the baseline histogram -> every batch fails the gate
    doc = json.load(open(base))
    counts = doc["histograms"]["dur_ms"]["counts"]
    doc["histograms"]["dur_ms"]["counts"] = counts[::-1]
    minor = int(doc["meta"]["schema_version"].split(".")[1])
    payload = {k: doc[k] for k in bl.payload_keys(minor)}
    doc["meta"]["payload_sha256"] = bl.payload_sha256(payload)
    json.dump(doc, open(base, "w"))
    out2, ckpt2 = str(tmp_path / "drift2"), str(tmp_path / "ckpt2")
    q2 = stream_drift_monitor(spark, f"{tiny_dir}/clips", base, out2, ckpt2)
    assert q2.awaitTermination(300)
    rows2 = spark.read.parquet(out2).collect()
    assert rows2 and all(not r["pass"] for r in rows2)

    # untrusted baseline fails closed before starting the stream
    doc["meta"]["payload_sha256"] = "0" * 64
    json.dump(doc, open(base, "w"))
    import pytest

    with pytest.raises(ValueError, match="untrusted baseline"):
        stream_drift_monitor(spark, f"{tiny_dir}/clips", base, out2, ckpt2)


def test_stream_neardup_row_keys_match_batch(spark):
    """The per-row (streaming-safe) band keys must equal the batch
    pipeline's aggregated keys bit-for-bit — same md5 base, same affine
    family, same banding — including dropping docs shorter than one
    shingle (no fabricated empty-key buckets)."""
    from codeclone_spark.operators.dedup import _banded_signatures
    from codeclone_spark.streaming.neardup import row_banded_keys

    docs = spark.createDataFrame(
        [
            ("d1", "the quick brown fox jumps over the lazy dog"),
            ("d2", "the quick brown fox jumps over the lazy dog"),
            ("d3", "a completely different transcript body here"),
            ("d4", "tiny"),  # < k: no shingles, must vanish on BOTH paths
            ("d5", "exact"),  # == k: exactly one shingle
        ],
        ["doc_id", "text"],
    )
    batch = {
        (r["id"], r["band"], r["key"])
        for r in _banded_signatures(docs, "doc_id", "text", 5, 8, 2).collect()
    }
    stream_shape = {
        (r["id"], r["band"], r["key"])
        for r in row_banded_keys(docs, "doc_id", "text").collect()
    }
    assert stream_shape == batch
    assert not any(i == "d4" for i, _, _ in batch)


def test_stream_neardup_candidates_cross_batch(spark, tmp_path):
    """A document landing in a bucket an earlier micro-batch populated is
    flagged against that bucket's first-seen anchor; same-batch
    collisions are flagged too (sorted -> min id anchors); unique docs
    are never flagged."""
    from codeclone_spark.streaming.neardup import run_stream_neardup

    t_shared = "shared boilerplate sentence used by every replica doc"
    t_pair = "another duplicated transcript for the same batch pair"
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [("a1", t_shared), ("u1", "zq08 vlmk 77xd pong erratic owl stew")],
        [("a2", t_shared), ("u2", "brine falcon 41jk mosaic dune harp 9t")],
        [("a3", t_shared), ("b1", t_pair), ("b2", t_pair)],
    ]
    for i, docs in enumerate(batches):
        spark.createDataFrame(
            [
                (cid, bytearray(b"\x00\x00"), 16000, 10, "pcm_s16le", text, "p0")
                for cid, text in docs
            ],
            "clip_id string, bytes binary, sr_hz int, dur_ms int, "
            "codec string, transcript string, part string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(src, f"f{i}")
        )

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = run_stream_neardup(spark, src + "/*", out, ckpt, max_files_per_trigger=1)
    assert q.awaitTermination(300)
    rows = spark.read.parquet(out).collect()
    flagged = {(r["id"], r["anchor_id"]) for r in rows}
    # identical texts collide in EVERY band -> one flag per band, same pair
    assert {p for p in flagged} == {("a2", "a1"), ("a3", "a1"), ("b2", "b1")}
    # exactly-once per (band, doc): 4 bands x 3 flagged docs
    assert len(rows) == 12
    assert not any(r["id"].startswith("u") for r in rows)


def test_stateful_sinks_retry_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the SAME batch_id through
    the one streaming sink must leave the sink contents identical for both
    stateful row shapes (the old append-mode sinks double-counted
    replays)."""
    from codeclone_spark.streaming.micro_batch import batch_sink

    dd_rows = spark.createDataFrame(
        [("a", 1, 0, False), ("b", 2, 1, True)],
        "clip_id string, n_batch long, seen_before long, is_duplicate boolean",
    )
    out1 = str(tmp_path / "dedup_out")
    sink1 = batch_sink(out1)
    sink1(dd_rows, 3)
    first = sorted(map(tuple, spark.read.parquet(out1).collect()))
    sink1(dd_rows, 3)  # simulate the at-least-once replay
    assert sorted(map(tuple, spark.read.parquet(out1).collect())) == first

    nd_rows = spark.createDataFrame(
        [(0, "k", "d2", "d1", 2)],
        "band int, bucket_key string, id string, anchor_id string, nth long",
    )
    out2 = str(tmp_path / "nd_out")
    sink2 = batch_sink(out2)
    sink2(nd_rows, 5)
    first2 = sorted(map(tuple, spark.read.parquet(out2).collect()))
    sink2(nd_rows, 5)
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == first2

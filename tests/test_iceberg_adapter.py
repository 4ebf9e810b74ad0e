"""Iceberg source adapter: fallback behavior without a catalog jar (the
sandbox case) — the engine stays source-agnostic either way."""

from __future__ import annotations

from codeclone_spark.sources import iceberg as ib


def test_iceberg_not_available_locally(spark):
    # no Iceberg runtime on this classpath
    assert ib.iceberg_available(spark) is False


def test_read_table_parquet_fallback(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(p)
    assert ib.read_table(spark, p).count() == 5


def test_snapshot_id_none_without_catalog(spark):
    assert ib.current_snapshot_id(spark, "db.tbl") is None
    assert ib.snapshot_data_signature(spark, "db.tbl") is None


def test_snapshot_id_drives_resume_validity(spark, tiny_dir, tmp_path, monkeypatch):
    """With a (stubbed) live catalog the resume data signature is the
    table-wide snapshot id: same snapshot -> full resume; a new snapshot
    invalidates EVERY done entry (one catalog call, no per-partition
    scandir)."""
    from codeclone_spark.plans.runner import RunConfig, run

    sid = {"v": 111}
    monkeypatch.setattr(ib, "iceberg_available", lambda _s: True)
    monkeypatch.setattr(ib, "current_snapshot_id", lambda _s, _i: sid["v"])

    out = str(tmp_path / "run")
    cfg = RunConfig(
        data_dir=tiny_dir, out_dir=out, gating=False,
        iceberg_table="cat.db.clips",
    )
    r1 = run(spark, cfg)
    n_parts = r1.report["inventory"]["partitions"]
    assert n_parts > 0 and r1.report["inventory"]["partitions_resumed"] == 0

    # same snapshot: every partition resumes (pruned at the scan)
    r2 = run(spark, cfg)
    assert r2.report["inventory"]["partitions_resumed"] == n_parts
    assert r2.report["integrity"]["run_digest"] == r1.report["integrity"]["run_digest"]

    # a new snapshot invalidates ALL done entries — full re-validation
    sid["v"] = 222
    r3 = run(spark, cfg)
    assert r3.report["inventory"]["partitions_resumed"] == 0
    assert r3.report["integrity"]["run_digest"] == r1.report["integrity"]["run_digest"]

    # catalog gone (e.g. submitted without the runtime jar): falls back to
    # the local file-metadata fold, which mismatches the snap:* entries ->
    # conservative full re-run, then resumes under the local signature
    monkeypatch.setattr(ib, "iceberg_available", lambda _s: False)
    monkeypatch.setattr(ib, "current_snapshot_id", lambda _s, _i: None)
    r4 = run(spark, cfg)
    assert r4.report["inventory"]["partitions_resumed"] == 0
    r5 = run(spark, cfg)
    assert r5.report["inventory"]["partitions_resumed"] == n_parts

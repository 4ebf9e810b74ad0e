"""Resume-validity semantics: segmented ledger, data signatures, baseline
identity, and the distributed accepted-set side table.

Reference parity: the warm path keys its cache on a content signature, not
mere key existence (core/discovery.py:118-190, core/worker.py:75-78) — a
partition whose data changed after its ledger entry was written must be
re-validated, and a known/new split computed against a baseline that has
since changed must be re-derived.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from codeclone_spark import EXIT_CONTRACT_ERROR, EXIT_GATE_FAILURE, EXIT_OK
from codeclone_spark.plans import baseline as bl
from codeclone_spark.plans.ledger import (
    Ledger,
    accepted_set_sha,
    partition_data_signature,
)
from codeclone_spark.plans.runner import RunConfig, run


def _mutate_partition(data_dir: str, part: str) -> None:
    """Rewrite one parquet file byte-identically but with a new mtime —
    the minimal 'data changed' probe a signature must catch."""
    pdir = os.path.join(data_dir, "clips", f"part={part}")
    files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
    fp = os.path.join(pdir, sorted(files)[0])
    with open(fp, "rb") as f:
        blob = f.read()
    with open(fp, "wb") as f:
        f.write(blob)


def test_data_signature_detects_mutation(tiny_dir, tmp_path):
    data = str(tmp_path / "sig_data")
    shutil.copytree(tiny_dir, data)
    clips_root = os.path.join(data, "clips")
    part = sorted(
        d.split("=", 1)[1] for d in os.listdir(clips_root) if "=" in d
    )[0]
    s1 = partition_data_signature(clips_root, part)
    _mutate_partition(data, part)
    s2 = partition_data_signature(clips_root, part)
    assert s1 != s2
    assert partition_data_signature(clips_root, "no-such-part") == "absent"


def test_mutated_partition_revalidates_on_resume(
    spark, tiny_dir, tmp_path_factory, tmp_path
):
    data = str(tmp_path / "data")
    shutil.copytree(tiny_dir, data)
    out = str(tmp_path_factory.mktemp("mut_resume"))
    r1 = run(spark, RunConfig(data_dir=data, out_dir=out))
    n_parts = r1.report["inventory"]["partitions"]
    led = Ledger(os.path.join(out, "ledger"))
    target = sorted(led.partitions)[3]
    _mutate_partition(data, target)
    r2 = run(spark, RunConfig(data_dir=data, out_dir=out))
    # exactly one partition re-validated, everything else scan-pruned
    assert r2.report["inventory"]["partitions_resumed"] == n_parts - 1
    # the fresh entry carries the new signature and the run converges
    led2 = Ledger(os.path.join(out, "ledger"))
    assert led2.partitions[target]["data_sig"] == partition_data_signature(
        os.path.join(data, "clips"), target
    )
    assert (
        r2.report["integrity"]["run_digest"]
        == r1.report["integrity"]["run_digest"]
    )


def test_baseline_change_invalidates_split(spark, tiny_dir, tmp_path_factory):
    """Entries persist the accepted-set identity their known/new split used;
    a changed baseline makes them not-done (fail-open prevention: removed
    accepted keys must not stay 'known' on resume)."""
    out1 = str(tmp_path_factory.mktemp("blc_accept"))
    base = os.path.join(out1, "baseline.json")
    run(
        spark,
        RunConfig(
            data_dir=tiny_dir, out_dir=out1, baseline_path=base,
            update_baseline=True,
        ),
    )
    out = str(tmp_path_factory.mktemp("blc_run"))
    r1 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out, baseline_path=base))
    assert r1.exit_code == EXIT_OK  # all debt accepted
    # shrink the accepted set (governance removes keys) and re-stamp trust
    doc = json.load(open(base))
    kept = [k for k in doc["accepted_violations"] if not k.startswith("audio:snr")]
    assert len(kept) < len(doc["accepted_violations"])
    doc["accepted_violations"] = kept
    minor = int(doc["meta"]["schema_version"].split(".")[1])
    payload = {k: doc[k] for k in bl.payload_keys(minor)}
    doc["meta"]["payload_sha256"] = bl.payload_sha256(payload)
    json.dump(doc, open(base, "w"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out, baseline_path=base))
    # every partition re-validated (stale split discarded) and the removed
    # keys now gate as NEW violations
    assert r2.report["inventory"]["partitions_resumed"] == 0
    assert r2.exit_code == EXIT_GATE_FAILURE
    failed_rules = {g["rule_id"] for g in r2.report["findings"]["failed_gates"]}
    assert "audio:snr" in failed_rules


def test_ledger_segments_are_o_of_wave(spark, tiny_dir, tmp_path_factory):
    """Each wave commit appends ONE segment bounded by wave size — the save
    cost no longer grows with completed-partition count."""
    out = str(tmp_path_factory.mktemp("seg"))
    run(spark, RunConfig(data_dir=tiny_dir, out_dir=out, wave_size=4))
    root = os.path.join(out, "ledger")
    segs = sorted(f for f in os.listdir(root) if f.endswith(".jsonl"))
    assert len(segs) == 4  # 16 partitions / wave_size 4
    for s in segs:
        with open(os.path.join(root, s)) as f:
            lines = f.readlines()
        # header + at most wave_size entries
        assert 2 <= len(lines) <= 5
    # tombstones round-trip
    led = Ledger(root)
    led.forget(["flac-b00"])
    led.save(tag="forget")
    led2 = Ledger(root)
    assert "flac-b00" not in led2.partitions
    assert len(led2.partitions) == 15


def test_ledger_ignores_incompatible_segments(tmp_path):
    root = str(tmp_path / "ledger")
    led = Ledger(root)
    led.record("p1", {"rows": 1})
    led.save()
    # write a segment from a hypothetical future schema
    with open(os.path.join(root, "segment-000009-future.jsonl"), "w") as f:
        f.write(json.dumps({"ledger_schema_version": "99.0"}) + "\n")
        f.write(json.dumps({"part": "p2", "entry": {"rows": 7}}) + "\n")
    led2 = Ledger(root)
    assert "p1" in led2.partitions and "p2" not in led2.partitions
    # done_parts honors signatures when asked
    led2.record("p3", {"rows": 0, "data_sig": "abc", "baseline_sha": "x"})
    assert led2.done_parts({"p3": "abc"}, "x") == {"p3"}
    assert led2.done_parts({"p3": "CHANGED"}, "x") == set()
    assert led2.done_parts({"p3": "abc"}, "y") == set()
    # legacy entries without signatures are conservatively re-run
    assert "p1" not in led2.done_parts({"p1": "whatever"}, "x")


def test_accepted_sidecar_roundtrip(spark, tmp_path):
    """10^5 keys: written sorted+distributed, verified by streamed digest,
    never a driver-side list (the baseline JSON stays small and inline-empty)."""
    base = str(tmp_path / "baseline.json")
    keys = spark.range(100_000).select(
        F.concat_ws(
            "|", F.lit("audio:snr"), F.lit("p0"), F.col("id").cast("string")
        ).alias("vkey")
    )
    ref = bl.write_accepted_sidecar(keys, base)
    assert ref["count"] == 100_000
    doc = bl.write_baseline(
        base,
        stats={}, histograms={}, uniqueness={},
        accepted_violations=[], accepted_ref=ref,
    )
    assert doc["accepted_violations"] == []
    assert os.path.getsize(base) < 64 * 1024  # keys not inlined
    snap, trust = bl.load_baseline(base)
    assert trust.trusted, trust.reason
    # tamper: drop a row group's worth of data by truncating the parquet
    side = os.path.join(str(tmp_path), ref["path"])
    pf = [f for f in os.listdir(side) if f.endswith(".parquet")][0]
    os.remove(os.path.join(side, pf))
    snap, trust = bl.load_baseline(base)
    assert not trust.trusted


def test_update_baseline_sidecar_end_to_end(
    spark, tiny_dir, tmp_path_factory, monkeypatch
):
    """An inline maximum of 0 forces the sidecar path; the gated re-run
    accepts the debt through the distributed anti-join and stays green."""
    from codeclone_spark.plans import runner

    monkeypatch.setattr(runner, "ACCEPTED_INLINE_MAX", 0)
    out1 = str(tmp_path_factory.mktemp("sc_accept"))
    base = os.path.join(out1, "baseline.json")
    r1 = run(
        spark,
        RunConfig(
            data_dir=tiny_dir, out_dir=out1, baseline_path=base,
            update_baseline=True,
        ),
    )
    assert r1.exit_code == EXIT_OK
    doc = json.load(open(base))
    assert doc["accepted_violations"] == []
    assert doc["accepted_ref"]["count"] > 0
    out2 = str(tmp_path_factory.mktemp("sc_read"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out2, baseline_path=base))
    assert r2.exit_code == EXIT_OK, r2.report["findings"]["failed_gates"]
    assert r2.report["baseline"]["trusted"]
    # tampered sidecar fails closed under gating
    side = os.path.join(out1, doc["accepted_ref"]["path"])
    pf = sorted(f for f in os.listdir(side) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(side, pf))
    out3 = str(tmp_path_factory.mktemp("sc_tampered"))
    r3 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out3, baseline_path=base))
    assert r3.exit_code == EXIT_CONTRACT_ERROR


def test_table_scope_rules_not_lane_bypassed(spark, tiny_dir, tmp_path_factory):
    """uniq:clip_id is attributed to min(part) for reporting only — a lane
    pattern matching that partition must not bypass the gate, and a
    partition-scoped suppression on it is rejected."""
    led_out = str(tmp_path_factory.mktemp("lane_uniq"))
    r = run(
        spark,
        RunConfig(
            data_dir=tiny_dir,
            out_dir=led_out,
            test_lane_pattern=".*",  # everything in the lane
        ),
    )
    failed_rules = {g["rule_id"] for g in r.report["findings"]["failed_gates"]}
    # row rules are lane-bypassed, the table-scope rule still gates
    assert failed_rules == {"uniq:clip_id"}
    with pytest.raises(ValueError, match="table-scope"):
        run(
            spark,
            RunConfig(
                data_dir=tiny_dir,
                out_dir=str(tmp_path_factory.mktemp("lane_supp")),
                suppressions=["uniq:clip_id:flac-b00"],
            ),
        )


def test_second_column_joins_stats_family(spark, tiny_dir, tiny_run, tmp_path_factory):
    """rms gets the full declarative treatment: report stats + quantiles,
    baseline snapshot carries them, and a gated run emits the
    drift:quantile:rms verdict (VERDICT r2 item 7)."""
    st = tiny_run.report["metrics"]["stats"]
    assert "rms" in st and st["rms"]["quantiles"]["p50"] is not None
    assert 0.0 < st["rms"]["quantiles"]["p50"] <= 1.0
    out1 = str(tmp_path_factory.mktemp("rms_accept"))
    base = os.path.join(out1, "baseline.json")
    run(
        spark,
        RunConfig(
            data_dir=tiny_dir, out_dir=out1, baseline_path=base,
            update_baseline=True,
        ),
    )
    snap = json.load(open(base))
    assert snap["stats"]["rms"]["quantiles"]["p95"] is not None
    out2 = str(tmp_path_factory.mktemp("rms_gated"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out2, baseline_path=base))
    assert r2.exit_code == EXIT_OK
    assert "drift:quantile:rms" in r2.report["metrics"]["drift"]
    assert r2.report["metrics"]["drift"]["drift:quantile:rms"] <= 1e-9


def test_update_baseline_bypasses_exemplar_cap(
    spark, tiny_dir, tmp_path_factory, monkeypatch
):
    """The accepted keys of a baseline update must be complete, so that run
    writes every violation row whatever the cap, and suppresses none."""
    from codeclone_spark.plans import runner

    monkeypatch.setattr(runner, "EXEMPLAR_CAP", 1)
    out = str(tmp_path_factory.mktemp("cap_bypass"))
    res = run(spark, RunConfig(
        data_dir=tiny_dir, out_dir=out,
        baseline_path=os.path.join(out, "baseline.json"), update_baseline=True,
    ))
    assert res.report["findings"]["suppressed_exemplars"] == 0
    viol = spark.read.parquet(res.violations_path)
    assert viol.count() == res.report["findings"]["total_violations"]

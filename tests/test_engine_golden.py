"""End-to-end golden tests on the tiny corpus (reference test strategy:
fixed fixture project -> committed expected ids -> exact comparison,
tests/test_detector_golden.py:50-71)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from codeclone_spark import EXIT_CONTRACT_ERROR, EXIT_GATE_FAILURE, EXIT_OK
from codeclone_spark.plans.ledger import Ledger
from codeclone_spark.plans.runner import RunConfig, run

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "tiny_violations.json")


def test_exit_code_gate_failure(tiny_run):
    # planted violations + no baseline -> gates fail
    assert tiny_run.exit_code == EXIT_GATE_FAILURE


def test_gate_invariants(tiny_run, check_gate_invariants):
    check_gate_invariants(tiny_run)


def test_counts_match_planted_truth(tiny_run, tiny_manifest):
    by_rule = tiny_run.report["findings"]["by_rule"]
    pc = tiny_manifest["planted_counts"]
    assert by_rule["uniq:clip_id"] == pc["dup_clip_id"]
    assert by_rule["audio:undecodable"] == pc["undecodable"]
    assert by_rule["audio:snr"] == pc["low_snr"]
    assert by_rule["audio:len_consistency"] == pc["sr_mismatch"] + pc["dur_mismatch"]
    assert by_rule["stats:null:dur_ms"] == pc["dur_null"]
    assert by_rule["stats:null:transcript"] == pc["transcript_null"]
    assert by_rule["audio:transcript_eq"] == pc["transcript_mismatch"]
    assert by_rule["ref:fixture_missing"] == pc["fixture_missing"]


def test_violating_clip_ids_match_planted(spark, tiny_run, tiny_manifest):
    viol = spark.read.parquet(tiny_run.violations_path)
    planted = tiny_manifest["planted"]
    checks = {
        "audio:undecodable": "undecodable",
        "audio:snr": "low_snr",
        "audio:transcript_eq": "transcript_mismatch",
        "ref:fixture_missing": "fixture_missing",
        "uniq:clip_id": "dup_clip_id",
    }
    for rule_id, plant in checks.items():
        got = sorted(
            r["clip_id"]
            for r in viol.filter(F.col("rule_id") == rule_id).select("clip_id").collect()
        )
        assert got == sorted(planted[plant]), rule_id


def test_golden_snapshot(spark, tiny_run):
    """Exact sorted violation rows vs committed golden JSON."""
    viol = (
        spark.read.parquet(tiny_run.violations_path)
        .orderBy("rule_id", "partition", "clip_id", "observed")
        .collect()
    )
    got = [[r["rule_id"], r["partition"], r["clip_id"], r["observed"]] for r in viol]
    if not os.path.exists(GOLDEN):  # bootstrap once; committed thereafter
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(got, f, indent=0)
        pytest.skip("golden bootstrapped — commit tests/golden/tiny_violations.json")
    with open(GOLDEN) as f:
        expect = json.load(f)
    assert got == expect


def test_verdict_grid_dense(spark, tiny_run, tiny_manifest):
    from codeclone_spark.operators.rules import ROW_RULE_IDS, TABLE_RULE_IDS

    verd = spark.read.parquet(tiny_run.verdicts_path)
    n_parts = len(tiny_manifest["partitions"])
    n_rules = len(ROW_RULE_IDS) + len(TABLE_RULE_IDS)
    # per-partition rule grid + table-level drift and schema rows
    from codeclone_spark.operators.rules import DRIFT_RULE_IDS, SCHEMA_RULE_IDS

    assert verd.count() == n_parts * n_rules + len(DRIFT_RULE_IDS) + len(
        SCHEMA_RULE_IDS
    )
    fails = verd.filter(~F.col("pass"))
    assert fails.count() == len(tiny_run.report["findings"]["failed_gates"])
    novel = {r["novelty"] for r in verd.collect()}
    assert novel <= {"new", "known"}


def test_partitioned_sinks_same_digest_parallel_layout(
    spark, tiny_dir, tiny_run, tmp_path_factory
):
    """RunConfig.partitioned_sinks fans the final violation/verdict writes
    out across rule_id directories (no single-task funnel) while the
    per-rule run digest — layout-independent by construction — stays
    bit-identical to the single-file layout's."""
    out = str(tmp_path_factory.mktemp("psinks"))
    res = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out, partitioned_sinks=True),
    )
    # parallel layout: one rule_id=<val> dir per rule that produced rows
    vdirs = [
        d for d in os.listdir(res.violations_path) if d.startswith("rule_id=")
    ]
    assert len(vdirs) > 1
    assert any(
        d.startswith("rule_id=") for d in os.listdir(res.verdicts_path)
    )
    # identical run identity and findings vs the default-layout tiny_run
    assert (
        res.report["integrity"]["run_digest"]
        == tiny_run.report["integrity"]["run_digest"]
    )
    assert res.report["findings"]["by_rule"] == tiny_run.report["findings"]["by_rule"]
    assert res.report["findings"]["failed_gates"] == (
        tiny_run.report["findings"]["failed_gates"]
    )
    # read-back recovers rule_id (partition column) with full fidelity
    viol = spark.read.parquet(res.violations_path)
    assert viol.count() == spark.read.parquet(tiny_run.violations_path).count()
    got_rules = {r["rule_id"] for r in viol.select("rule_id").distinct().collect()}
    assert "audio:undecodable" in got_rules  # ':' survives dir-name escaping
    # the driver-side SARIF renderer recovers rule_id from the dir layout
    from codeclone_spark.plans.render import render_outputs

    (sarif_path,) = render_outputs(out, ["sarif"])
    results = json.load(open(sarif_path))["runs"][0]["results"]
    n_expected = res.report["findings"]["total_violations"] + len(
        res.report["findings"]["failed_gates"]
    )
    assert len(results) == n_expected
    assert all(r["properties"]["rule_id"] for r in results)


def test_baseline_accept_then_green(spark, tiny_dir, tmp_path_factory):
    out1 = str(tmp_path_factory.mktemp("bl_write"))
    base = os.path.join(out1, "baseline.json")
    r1 = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out1, baseline_path=base, update_baseline=True),
    )
    assert r1.exit_code == EXIT_OK
    out2 = str(tmp_path_factory.mktemp("bl_read"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out2, baseline_path=base))
    # all planted violations accepted as legacy debt -> gates green
    assert r2.exit_code == EXIT_OK
    assert r2.report["baseline"]["trusted"]
    # drift vs self is zero
    assert all(v <= 1e-9 for v in r2.report["metrics"]["drift"].values())
    # tamper -> fail closed with CONTRACT_ERROR
    with open(base) as f:
        doc = json.load(f)
    doc["accepted_violations"] = []
    with open(base, "w") as f:
        json.dump(doc, f)
    out3 = str(tmp_path_factory.mktemp("bl_tampered"))
    r3 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out3, baseline_path=base))
    assert r3.exit_code == EXIT_CONTRACT_ERROR


def test_resume_converges(spark, tiny_dir, tiny_run, tmp_path_factory):
    from codeclone_spark.plans.ledger import Ledger

    out = str(tmp_path_factory.mktemp("resume"))
    r1 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out, wave_size=6))
    led = Ledger(os.path.join(out, "ledger"))
    assert len(led.partitions) == 16
    # simulate a crash: forget half the partitions, re-run
    led.forget(sorted(led.partitions)[8:])
    led.save(tag="test-forget")
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out, wave_size=6))
    assert r2.report["inventory"]["partitions_resumed"] == 8
    # identical outputs vs the single-wave fresh run (determinism contract)
    assert (
        r2.report["integrity"]["run_digest"]
        == r1.report["integrity"]["run_digest"]
        == tiny_run.report["integrity"]["run_digest"]
    )


def test_exemplar_cap_preserves_true_counts(
    spark, tiny_dir, tmp_path_factory, tiny_manifest, monkeypatch
):
    """A cap of 1 exemplar per (rule, partition) must not change gate
    verdicts, report totals, or the run digest's determinism: true counts
    come from the pre-cap aggregation and the excess is reported as
    suppressed_exemplars."""
    from codeclone_spark.plans import runner

    monkeypatch.setattr(runner, "EXEMPLAR_CAP", 1)
    out = str(tmp_path_factory.mktemp("capped_run"))
    res = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out))
    by_rule = res.report["findings"]["by_rule"]
    pc = tiny_manifest["planted_counts"]
    # true totals survive the cap
    assert by_rule["audio:snr"] == pc["low_snr"]
    assert by_rule["stats:null:dur_ms"] == pc["dur_null"]
    assert res.report["findings"]["suppressed_exemplars"] > 0
    # written exemplars are actually capped (<= 1 per rule x partition)
    viol = spark.read.parquet(res.violations_path)
    over = (
        viol.filter(F.col("rule_id") != "uniq:clip_id")
        .groupBy("rule_id", "partition")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert over == 0
    assert res.exit_code == EXIT_GATE_FAILURE
    # Each ledger cell's wave wrote exactly min(n_viol, cap) rows, and the
    # entry's suppressed count is what the cap dropped from them.
    ledger = Ledger(os.path.join(out, "ledger"))
    for part in sorted(p for p in ledger.partitions if not p.startswith("\x00")):
        entry = ledger.partitions[part]
        written: dict[str, int] = {}
        for r in (
            spark.read.parquet(os.path.join(out, "waves", entry["wave"], "violations"))
            .filter(F.col("partition") == part)
            .collect()
        ):
            written[r["rule_id"]] = written.get(r["rule_id"], 0) + 1
        counts = {rid: n_viol for rid, (n_viol, _n_new) in entry["rule_counts"].items()}
        assert written == {rid: min(n, 1) for rid, n in counts.items()}, part
        assert entry["suppressed"] == sum(counts.values()) - sum(written.values()), part


def test_ledger_entry_fields(tiny_run):
    """A partition's ledger entry carries exactly the fields that resume,
    the table stats and the findings read: no write-only fields."""
    led = Ledger(os.path.join(os.path.dirname(tiny_run.violations_path), "ledger"))
    assert len(led.partitions) == 16
    for part, entry in led.partitions.items():
        assert sorted(entry) == sorted([
            "status", "wave", "data_sig", "baseline_sha", "rows",
            "transcript_null", "undecodable", "dur_hist", "colstats",
            "sr_counts", "suppressed", "rule_counts",
        ]), part


def test_zero_row_partition_resumes(spark, tiny_dir, tmp_path_factory, tmp_path):
    """A listed part= directory with zero rows gets a zero ledger entry and
    does not crash the run (or any resume of it)."""
    import shutil

    data = str(tmp_path / "data")
    shutil.copytree(tiny_dir, data)
    empty = os.path.join(data, "clips", "part=zz-empty")
    os.makedirs(empty, exist_ok=True)
    out = str(tmp_path_factory.mktemp("zero_row_run"))
    res = run(spark, RunConfig(data_dir=data, out_dir=out))
    assert res.exit_code == EXIT_GATE_FAILURE  # planted violations still fail
    from codeclone_spark.plans.ledger import Ledger

    ledger = Ledger(os.path.join(out, "ledger"))
    assert ledger.partitions["zz-empty"]["rows"] == 0
    # resume over the same out_dir converges without touching the empty part
    res2 = run(spark, RunConfig(data_dir=data, out_dir=out))
    assert res2.report["inventory"]["partitions_resumed"] == len(
        ledger.partitions
    )


def test_quantiles_roundtrip_and_drift_gate(spark, tiny_dir, tmp_path_factory):
    """Quantiles flow end-to-end: report stats -> baseline snapshot ->
    quantile-drift verdict; a shifted baseline trips the gate."""
    from codeclone_spark.plans import baseline as bl

    out1 = str(tmp_path_factory.mktemp("q_write"))
    base = os.path.join(out1, "baseline.json")
    r1 = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out1, baseline_path=base, update_baseline=True),
    )
    q = r1.report["metrics"]["stats"]["dur_ms"]["quantiles"]
    assert q["p50"] is not None and q["p50"] <= q["p95"] <= q["p99"]
    doc = json.load(open(base))
    assert doc["stats"]["dur_ms"]["quantiles"] == pytest.approx(
        {k: round(v, 6) for k, v in q.items()}
    )
    # self-comparison: quantile drift present and green
    out2 = str(tmp_path_factory.mktemp("q_read"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out2, baseline_path=base))
    assert r2.exit_code == EXIT_OK
    assert r2.report["metrics"]["drift"]["drift:quantile:dur_ms"] <= 1e-9
    # shift the snapshot's quantiles by 2x (re-signed) -> gate fails
    shifted = json.loads(json.dumps(doc["stats"]))
    shifted["dur_ms"]["quantiles"] = {k: v * 2 for k, v in q.items()}
    bl.write_baseline(
        base,
        stats=shifted,
        histograms=doc["histograms"],
        uniqueness=doc["uniqueness"],
        accepted_violations=doc["accepted_violations"],
    )
    out3 = str(tmp_path_factory.mktemp("q_drift"))
    r3 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out3, baseline_path=base))
    failed_rules = {f["rule_id"] for f in r3.report["findings"]["failed_gates"]}
    assert "drift:quantile:dur_ms" in failed_rules
    assert r3.exit_code == EXIT_GATE_FAILURE


def test_schema_evolution_gate(spark, tiny_dir, tmp_path_factory):
    """A baseline whose schema snapshot no longer matches the table fails
    the schema:removed / schema:type_change gates; matching schema passes
    and records the snapshot columns."""
    from codeclone_spark.plans import baseline as bl

    out1 = str(tmp_path_factory.mktemp("sch_write"))
    base = os.path.join(out1, "baseline.json")
    r1 = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out1, baseline_path=base, update_baseline=True),
    )
    doc = json.load(open(base))
    cols = doc["schema"]["columns"]
    assert cols["clip_id"] == "VARCHAR" and cols["bytes"] == "BLOB"
    # matching schema -> both schema gates pass
    out2 = str(tmp_path_factory.mktemp("sch_ok"))
    r2 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out2, baseline_path=base))
    assert r2.exit_code == EXIT_OK
    assert r2.report["metrics"]["schema"] == {
        "removed": [], "type_changed": [], "added": []
    }
    # simulate evolution: baseline expects a column the table lost + a type
    # change (re-signed so trust still holds -> the DIFF must catch it)
    mutated = dict(cols)
    mutated["loudness_lufs"] = "DOUBLE"
    mutated["dur_ms"] = "BIGINT"
    bl.write_baseline(
        base,
        stats=doc["stats"],
        histograms=doc["histograms"],
        uniqueness=doc["uniqueness"],
        accepted_violations=doc["accepted_violations"],
        schema={"columns": mutated, "partition_keys": ["part"]},
    )
    out3 = str(tmp_path_factory.mktemp("sch_broken"))
    r3 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out3, baseline_path=base))
    assert r3.exit_code == EXIT_GATE_FAILURE
    failed_rules = {f["rule_id"] for f in r3.report["findings"]["failed_gates"]}
    assert {"schema:removed", "schema:type_change"} <= failed_rules
    assert r3.report["metrics"]["schema"]["removed"] == ["loudness_lufs"]
    assert r3.report["metrics"]["schema"]["type_changed"] == [
        ["dur_ms", "BIGINT", "INTEGER"]
    ]


def test_suppression_directives(
    spark, tiny_dir, tmp_path_factory, tiny_manifest, check_gate_invariants
):
    """A per-(rule, partition) suppression turns that gate green while the
    violation rows stay in the output and the suppressed count is reported
    (reference suppressions index semantics)."""
    # find one partition with a planted low-snr violation
    out0 = str(tmp_path_factory.mktemp("supp_probe"))
    r0 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out0))
    snr_parts = sorted(
        f["partition"]
        for f in r0.report["findings"]["failed_gates"]
        if f["rule_id"] == "audio:snr"
    )
    assert snr_parts
    target = snr_parts[0]
    out1 = str(tmp_path_factory.mktemp("supp_one"))
    r1 = run(
        spark,
        RunConfig(
            data_dir=tiny_dir,
            out_dir=out1,
            suppressions=[f"audio:snr:{target}"],
        ),
    )
    failed1 = {
        (f["partition"], f["rule_id"]) for f in r1.report["findings"]["failed_gates"]
    }
    assert (target, "audio:snr") not in failed1
    # other partitions' snr gates still fail; violations still reported
    for p in snr_parts[1:]:
        assert (p, "audio:snr") in failed1
    assert r1.report["findings"]["by_rule"]["audio:snr"] == r0.report[
        "findings"
    ]["by_rule"]["audio:snr"]
    assert r1.report["findings"]["suppressed_by_directive"] > 0
    # wildcard suppresses the rule everywhere
    out2 = str(tmp_path_factory.mktemp("supp_all"))
    r2 = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out2, suppressions=["audio:snr:*"]),
    )
    failed2 = {f["rule_id"] for f in r2.report["findings"]["failed_gates"]}
    assert "audio:snr" not in failed2
    check_gate_invariants(r2)


def test_test_lane_is_informational(spark, tiny_dir, tmp_path_factory, tiny_manifest):
    """Test-lane partitions are validated and reported but never gate the
    run (reference is_test_filepath lane routing)."""
    out0 = str(tmp_path_factory.mktemp("lane_probe"))
    r0 = run(spark, RunConfig(data_dir=tiny_dir, out_dir=out0))
    failing_parts = sorted(
        {
            f["partition"]
            for f in r0.report["findings"]["failed_gates"]
            if f["partition"] != "<table>"
        }
    )
    assert failing_parts
    target = failing_parts[0]
    out1 = str(tmp_path_factory.mktemp("lane_run"))
    r1 = run(
        spark,
        RunConfig(data_dir=tiny_dir, out_dir=out1, test_lane_pattern=f"^{target}$"),
    )
    failed_parts1 = {f["partition"] for f in r1.report["findings"]["failed_gates"]}
    assert target not in failed_parts1
    assert r1.report["inventory"]["partitions_test_lane"] == 1
    assert r1.report["inventory"]["rows_test_lane"] > 0
    # violations of the lane partition are still reported
    assert (
        r1.report["findings"]["total_violations"]
        == r0.report["findings"]["total_violations"]
    )
    # the informational verdict row carries the marker
    verd = spark.read.parquet(r1.verdicts_path)
    marked = verd.filter(
        (F.col("partition") == target) & F.col("reason").contains("test-lane")
    )
    assert marked.count() > 0 and all(r["pass"] for r in marked.collect())

"""Unit tests: rule evaluation over tiny in-memory facts frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from codeclone_spark.operators.rules import (
    GateConfig,
    build_verdicts,
    evaluate_row_rules,
    evaluate_uniqueness,
    partition_aggregates,
)
from codeclone_spark.plans.facts import FACTS_OUT_SCHEMA


def _facts(spark, rows):
    """rows: list of dicts with overrides; defaults are a healthy clip."""
    base = {
        "clip_id": "c1",
        "sr_hz": 16000,
        "dur_ms": 500,
        "codec": "pcm_s16le",
        "transcript": "hello world",
        "part": "pcm_s16le-b00",
        "fx_sha256": "f" * 64,
        "expected_transcript": "hello world",
        "expected_dur_ms": 500,
        "decode_ok": True,
        "error_kind": None,
        "decoded_samples": 8000,
        "decoded_dur_ms": 500.0,
        "pcm_sha256": "f" * 64,
        "rms": 0.2,
        "peak": 0.5,
        "clipping_ratio": 0.0,
        "silence_ratio": 0.05,
        "spectral_flatness": 0.2,
        "dominant_freq_hz": 440.0,
        "band_energies": [0.0] * 8,
        "snr_db": 999.0,
        "fixture_status": "checked",
        "transcript_match": True,
    }
    data = [{**base, **r} for r in rows]
    return spark.createDataFrame(data, schema=FACTS_OUT_SCHEMA)


def _rule_ids(df):
    return sorted(r["rule_id"] for r in df.collect())


def test_healthy_row_no_violations(spark):
    f = _facts(spark, [{}])
    assert evaluate_row_rules(f).count() == 0


def test_undecodable(spark):
    f = _facts(
        spark,
        [{"decode_ok": False, "error_kind": "undecodable", "snr_db": None,
          "decoded_dur_ms": None, "fixture_status": "undecodable"}],
    )
    assert _rule_ids(evaluate_row_rules(f)) == ["audio:undecodable"]


def test_len_and_snr(spark):
    f = _facts(spark, [{"decoded_dur_ms": 480.0, "snr_db": 12.5}])
    assert _rule_ids(evaluate_row_rules(f)) == ["audio:len_consistency", "audio:snr"]


def test_len_tolerance_boundary(spark):
    ok = _facts(spark, [{"decoded_dur_ms": 504.9}])
    bad = _facts(spark, [{"decoded_dur_ms": 505.1}])
    assert evaluate_row_rules(ok).count() == 0
    assert _rule_ids(evaluate_row_rules(bad)) == ["audio:len_consistency"]


def test_transcript_rules(spark):
    f = _facts(
        spark,
        [
            {"clip_id": "a", "transcript": None, "transcript_match": False},
            {"clip_id": "b", "transcript": "", "transcript_match": False},
            {"clip_id": "c", "transcript": "wrong", "transcript_match": False},
        ],
    )
    got = evaluate_row_rules(f).groupBy("rule_id").count().collect()
    counts = {r["rule_id"]: r["count"] for r in got}
    assert counts == {"stats:null:transcript": 2, "audio:transcript_eq": 1}


def test_fixture_missing_and_domains(spark):
    f = _facts(
        spark,
        [
            {"fixture_status": "missing_fixture", "fx_sha256": None,
             "expected_transcript": None, "transcript_match": None, "snr_db": None},
            {"sr_hz": 12345},
            {"codec": "opus"},
            {"dur_ms": 10, "decoded_dur_ms": 10.0},
        ],
    )
    ids = _rule_ids(evaluate_row_rules(f))
    assert ids == [
        "ref:fixture_missing",
        "stats:domain:codec",
        "stats:domain:sr_hz",
        "stats:range:dur_ms",
    ]


def test_null_dur(spark):
    f = _facts(spark, [{"dur_ms": None}])
    assert _rule_ids(evaluate_row_rules(f)) == ["stats:null:dur_ms"]


def test_uniqueness(spark):
    f = _facts(
        spark,
        [{"clip_id": "x"}, {"clip_id": "x"}, {"clip_id": "y"}],
    )
    rows = evaluate_uniqueness(f).collect()
    assert len(rows) == 1
    assert rows[0]["clip_id"] == "x"
    assert rows[0]["observed"] == "count=2"
    assert rows[0]["severity"] == "error"


def test_facts_schema_is_build_facts_output(spark, tiny_dir):
    """The synthetic facts frames above use FACTS_OUT_SCHEMA; the engine's
    only facts path must produce exactly that shape (names, types, order)
    so the rule tests exercise the real frame."""
    from codeclone_spark.plans.facts import (
        build_facts,
        read_clips,
        read_fixtures_meta,
        read_fixtures_pcm,
    )

    facts, decoded = build_facts(
        read_clips(spark, tiny_dir),
        read_fixtures_meta(spark, tiny_dir),
        read_fixtures_pcm(spark, tiny_dir),
    )
    decoded.unpersist()
    assert [(f.name, f.dataType) for f in facts.schema] == [
        (f.name, f.dataType) for f in FACTS_OUT_SCHEMA
    ]


def test_partition_aggregates_histogram(spark):
    f = _facts(
        spark,
        [
            {"clip_id": "a", "dur_ms": 300},
            {"clip_id": "b", "dur_ms": 450},
            {"clip_id": "c", "dur_ms": None},
        ],
    )
    row = partition_aggregates(f).collect()[0]
    assert row["rows"] == 3
    assert row["dur_ms_null"] == 1
    # the registry's second column gets the same quartet
    assert "rms_null" in row.asDict() and "rms_mean" in row.asDict()
    # 300 -> bin [250,400); 450 -> bin [400,600)
    assert row["dur_hist"][1] == 1 and row["dur_hist"][2] == 1
    assert row["sr_16000"] == 3


def test_verdicts_gates_and_novelty(spark):
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 2, 2), ("p1", "uniq:clip_id", 1, 0)],
        ["partition", "rule_id", "n_viol", "n_new"],
    )
    part_rows = spark.createDataFrame([("p1", 100), ("p2", 50)], ["part", "rows"])
    v = build_verdicts(counts, part_rows, GateConfig()).collect()
    by = {(r["partition"], r["rule_id"]): r for r in v}
    # dense grid: every partition x rule pair exists
    from codeclone_spark.operators.rules import ROW_RULE_IDS, TABLE_RULE_IDS

    assert len(v) == 2 * (len(ROW_RULE_IDS) + len(TABLE_RULE_IDS))
    assert not by[("p1", "audio:snr")]["pass"]
    assert by[("p1", "audio:snr")]["novelty"] == "new"
    # all violations accepted by baseline -> pass, known
    assert by[("p1", "uniq:clip_id")]["pass"]
    assert by[("p1", "uniq:clip_id")]["novelty"] == "known"
    assert by[("p2", "audio:snr")]["pass"]
    assert "ok (0 violations)" in by[("p2", "audio:snr")]["reason"]


def test_gate_budget(spark):
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 3, 3)], ["partition", "rule_id", "n_viol", "n_new"]
    )
    part_rows = spark.createDataFrame([("p1", 100)], ["part", "rows"])
    g = GateConfig(max_count={"audio:snr": 5})
    v = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, g).collect()}
    assert v["audio:snr"]["pass"]


def test_gate_zero_budget_huge_partition(spark):
    """1 new violation in a 10M-row partition must FAIL a zero-tolerance
    gate: the permille rounds to 0.000 but the count budget (0) is exceeded,
    and pass requires BOTH budgets to hold (reference evaluator semantics:
    fail when EITHER is exceeded)."""
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 1, 1)], ["partition", "rule_id", "n_viol", "n_new"]
    )
    part_rows = spark.createDataFrame([("p1", 10_000_000)], ["part", "rows"])
    v = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, GateConfig()).collect()}
    assert not v["audio:snr"]["pass"]
    assert "exceed budget" in v["audio:snr"]["reason"]


def test_gate_unrounded_permille(spark):
    """A configured permille budget compares against the UNROUNDED rate:
    4 violations / 10M rows = 0.0004 permille > max_permille=0.0003 must
    fail even though both round to 0.000."""
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 4, 4)], ["partition", "rule_id", "n_viol", "n_new"]
    )
    part_rows = spark.createDataFrame([("p1", 10_000_000)], ["part", "rows"])
    g = GateConfig(
        max_count={"audio:snr": 100}, max_permille={"audio:snr": 0.0003}
    )
    v = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, g).collect()}
    assert not v["audio:snr"]["pass"]


def test_gate_both_budgets_must_hold(spark):
    """Count within budget but permille exceeded -> fail (AND, not OR)."""
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 3, 3)], ["partition", "rule_id", "n_viol", "n_new"]
    )
    part_rows = spark.createDataFrame([("p1", 100)], ["part", "rows"])
    g = GateConfig(max_count={"audio:snr": 5}, max_permille={"audio:snr": 10.0})
    v = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, g).collect()}
    assert not v["audio:snr"]["pass"]  # 30 permille > 10
    g2 = GateConfig(max_count={"audio:snr": 5}, max_permille={"audio:snr": 50.0})
    v2 = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, g2).collect()}
    assert v2["audio:snr"]["pass"]


def test_gate_count_only_config_ignores_permille(spark):
    """A max_count-only config must not be tightened by an implicit
    0-permille cap: 3 violations in 100 rows (30 permille) passes when
    max_count=5 and no permille budget is configured."""
    counts = spark.createDataFrame(
        [("p1", "audio:snr", 3, 3)], ["partition", "rule_id", "n_viol", "n_new"]
    )
    part_rows = spark.createDataFrame([("p1", 100)], ["part", "rows"])
    g = GateConfig(max_count={"audio:snr": 5})
    v = {r["rule_id"]: r for r in build_verdicts(counts, part_rows, g).collect()}
    assert v["audio:snr"]["pass"]

"""Unit tests: rule evaluation over tiny in-memory facts frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from codeclone_spark.operators.rules import (
    GateConfig,
    build_verdicts,
    evaluate_row_rules,
    evaluate_uniqueness,
    gate_verdict,
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
    rows = {"p1": 100, "p2": 50}
    evaluated = [
        (p, rid, *gate_verdict(GateConfig(), rid, n_viol, n_new, rows[p]))
        for p, rid, n_viol, n_new in (
            ("p1", "audio:snr", 2, 2), ("p1", "uniq:clip_id", 1, 0)
        )
    ]
    v = build_verdicts(spark, sorted(rows), evaluated).collect()
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


def test_gate_budget():
    g = GateConfig(max_count={"audio:snr": 5})
    assert gate_verdict(g, "audio:snr", 3, 3, 100)[0]


def test_gate_zero_budget_huge_partition():
    """1 new violation in a 10M-row partition must FAIL a zero-tolerance
    gate: the permille rounds to 0.000 but the count budget (0) is exceeded,
    and pass requires BOTH budgets to hold (reference evaluator semantics:
    fail when EITHER is exceeded)."""
    passed, reason, _ = gate_verdict(GateConfig(), "audio:snr", 1, 1, 10_000_000)
    assert not passed
    assert "exceed budget" in reason


def test_gate_unrounded_permille():
    """A configured permille budget compares against the UNROUNDED rate:
    4 violations / 10M rows = 0.0004 permille > max_permille=0.0003 must
    fail even though both round to 0.000."""
    g = GateConfig(
        max_count={"audio:snr": 100}, max_permille={"audio:snr": 0.0003}
    )
    assert not gate_verdict(g, "audio:snr", 4, 4, 10_000_000)[0]


def test_gate_both_budgets_must_hold():
    """Count within budget but permille exceeded -> fail (AND, not OR)."""
    g = GateConfig(max_count={"audio:snr": 5}, max_permille={"audio:snr": 10.0})
    assert not gate_verdict(g, "audio:snr", 3, 3, 100)[0]  # 30 permille > 10
    g2 = GateConfig(max_count={"audio:snr": 5}, max_permille={"audio:snr": 50.0})
    assert gate_verdict(g2, "audio:snr", 3, 3, 100)[0]


def test_gate_count_only_config_ignores_permille():
    """A max_count-only config must not be tightened by an implicit
    0-permille cap: 3 violations in 100 rows (30 permille) passes when
    max_count=5 and no permille budget is configured."""
    g = GateConfig(max_count={"audio:snr": 5})
    assert gate_verdict(g, "audio:snr", 3, 3, 100)[0]


@pytest.mark.parametrize("budgets", [
    {"max_count": {"audio:snr": -1}},
    {"max_permille": {"audio:snr": -0.5}},
    {"max_permille": {"audio:snr": float("nan")}},
    {"max_count": {"audio:sr_allowed": 1}},
])
def test_gate_config_rejects_bad_budgets(budgets):
    """A negative budget once read as "unset" in the grid (the cell passed
    with new violations) and as "always fail" in the near-dup verdict;
    budgets are now checked once, at construction."""
    with pytest.raises(ValueError):
        GateConfig(**budgets)

_UNSET_FAIL = "exceed budget (max_count=0, max_permille=unset)"

# (gates, rule_id, n_viol, n_new, rows, in_lane) -> (pass, reason, novelty).
# Literal reasons: they reach report_sha256 through failed_gates and the
# golden report text, so the permille and budget renderings are pinned
# (HALF_UP rounding, Java double-to-string forms such as 3.0E-4).
VERDICT_CASES = {
    "zero_cell": (
        GateConfig(), "audio:snr", 0, 0, 100, False,
        (True, "audio:snr: ok (0 violations)", "known"),
    ),
    "within_budget": (
        GateConfig(max_count={"audio:snr": 5}), "audio:snr", 3, 3, 100, False,
        (True, "audio:snr: ok (3 violation(s), 3 new, within budget)", "new"),
    ),
    "count_fail": (
        GateConfig(), "audio:snr", 2, 2, 100, False,
        (False, f"audio:snr: 2 new violation(s) (20.0 permille) {_UNSET_FAIL}",
         "new"),
    ),
    "permille_fail": (
        GateConfig(max_permille={"audio:snr": 0.0003}),
        "audio:snr", 4, 4, 10_000_000, False,
        (False, "audio:snr: 4 new violation(s) (0.0 permille) exceed budget "
         "(max_count=unset, max_permille=3.0E-4)", "new"),
    ),
    "half_up": (
        GateConfig(), "audio:snr", 1, 1, 80_000, False,
        (False, f"audio:snr: 1 new violation(s) (0.013 permille) {_UNSET_FAIL}",
         "new"),
    ),
    "thirty_permille": (
        GateConfig(max_count={"audio:snr": 5}, max_permille={"audio:snr": 10.0}),
        "audio:snr", 3, 3, 100, False,
        (False, "audio:snr: 3 new violation(s) (30.0 permille) exceed budget "
         "(max_count=5, max_permille=10.0)", "new"),
    ),
    "large_budget": (
        GateConfig(max_count={"audio:snr": 0}, max_permille={"audio:snr": 1e7}),
        "audio:snr", 1, 1, 100, False,
        (False, "audio:snr: 1 new violation(s) (10.0 permille) exceed budget "
         "(max_count=0, max_permille=1.0E7)", "new"),
    ),
    "no_rows": (
        GateConfig(), "uniq:clip_id", 20_000, 20_000, 0, False,
        (False, f"uniq:clip_id: 20000 new violation(s) (2.0E7 permille) "
         f"{_UNSET_FAIL}", "new"),
    ),
    "accepted_only": (
        GateConfig(), "uniq:clip_id", 1, 0, 100, False,
        (True, "uniq:clip_id: ok (1 violation(s), 0 new, within budget)",
         "known"),
    ),
    "lane_row_rule": (
        GateConfig(), "audio:snr", 2, 2, 100, True,
        (True, "test-lane (informational): audio:snr: 2 new violation(s) "
         f"(20.0 permille) {_UNSET_FAIL}", "new"),
    ),
    "lane_table_rule": (
        GateConfig(), "uniq:clip_id", 1, 1, 100, True,
        (False, f"uniq:clip_id: 1 new violation(s) (10.0 permille) {_UNSET_FAIL}",
         "new"),
    ),
}


@pytest.mark.parametrize("case", sorted(VERDICT_CASES))
def test_gate_verdict_literals(case):
    *cell, want = VERDICT_CASES[case]
    assert gate_verdict(*cell) == want


@pytest.mark.parametrize("gates, budget", [
    (GateConfig(), "max_count=0"),
    (GateConfig(max_permille={"neardup:transcript": 0.0}),
     "max_count=unset, max_permille=0.0"),
    (GateConfig(max_count={"neardup:transcript": 3},
                max_permille={"neardup:transcript": 0.0003}),
     "max_count=3, max_permille=3.0E-4"),
])
def test_neardup_verdict_names_failing_budget(gates, budget):
    """The near-dup verdict's own wording names every configured budget;
    the default one is unchanged, so default reports keep their bytes."""
    from codeclone_spark.plans.runner import _neardup_verdict

    counts = [("p0", "audio:snr", 1, 1), ("p0", "neardup:transcript", 26, 26)]
    verdict = _neardup_verdict(gates, {"n_clusters": 26, "n_new": 26}, counts, 2_004)
    assert verdict[2:4] == (
        False,
        f"neardup:transcript: 26 new near-dup cluster(s) exceed budget ({budget})",
    )

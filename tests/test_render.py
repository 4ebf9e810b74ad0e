"""Renderer tests: SARIF / Markdown are pure projections of the canonical
report document (reference single-document discipline,
report/renderers/sarif.py rule-id mapping)."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from codeclone_spark.operators.rules import RULE_SEVERITY, RULES, rule_spec
from codeclone_spark.plans.render import (
    render_markdown,
    render_outputs,
    render_sarif,
)

GOLDEN_SARIF = os.path.join(
    os.path.dirname(__file__), "golden", "tiny_report_sarif.json"
)


def test_every_engine_rule_has_a_stable_sarif_id():
    # EVERY rule that can appear in a verdict or violation row must map to
    # a stable external id — row, table, near-dup, drift AND schema rules
    # (a failed drift gate rendering as the CCSV999 fallback would break
    # the external rule-id contract).
    assert {r.scope for r in RULES} == {"row", "table", "neardup", "drift", "schema"}
    missing = [r.rule_id for r in RULES if rule_spec(r.rule_id) is not r]
    assert not missing, f"rules without a registry record: {missing}"
    ids = [r.sarif_id for r in RULES]
    assert len(ids) == len(set(ids))  # no duplicates
    assert len(RULES) == len({r.rule_id for r in RULES})
    assert all(i.startswith("CCSV") for i in ids)
    # fallback never collides with a mapped id
    assert rule_spec("no:such:rule").sarif_id == "CCSV999"
    assert "CCSV999" not in ids


def test_rendered_levels_follow_report_severity(tiny_run):
    """The SARIF rule level and the markdown severity column agree with the
    canonical report: for every rule in ``findings.by_rule`` both equal the
    level derived from the rule's report severity (error -> error,
    warn -> warning)."""
    out_dir = os.path.dirname(tiny_run.violations_path)
    md_path, sarif_path = render_outputs(out_dir, ["md", "sarif"])
    md_levels = {}
    for line in open(md_path).read().splitlines():
        cells = [c.strip() for c in line.strip("|").split("|")]
        if len(cells) == 4 and cells[1].startswith("CCSV"):
            md_levels[cells[0]] = cells[3]
    sarif_levels = {
        r["properties"]["engine_rule_id"]: r["defaultConfiguration"]["level"]
        for r in json.load(open(sarif_path))["runs"][0]["tool"]["driver"]["rules"]
    }
    # severities as the report's own rows carry them: exemplar violation
    # rows and the review queue
    rows = pq.read_table(tiny_run.violations_path, columns=["rule_id", "severity"])
    report_sev = {row["rule_id"]: row["severity"] for row in rows.to_pylist()}
    for q in tiny_run.report["derived"]["review_queue"]:
        report_sev[q["rule_id"]] = q["severity"]
    by_rule = tiny_run.report["findings"]["by_rule"]
    assert "ref:fixture_missing" in by_rule  # the rule the tables disagreed on
    for rid in by_rule:
        sev = report_sev.get(rid, RULE_SEVERITY[rid])
        want = "error" if sev == "error" else "warning"
        assert sarif_levels[rid] == want, rid
        assert md_levels[rid] == want, rid


def test_render_outputs_golden(tiny_run, tmp_path):
    out_dir = os.path.dirname(tiny_run.violations_path)
    written = render_outputs(out_dir, ["md", "sarif"])
    assert sorted(os.path.basename(w) for w in written) == [
        "report.md", "report.sarif",
    ]
    md = open(os.path.join(out_dir, "report.md")).read()
    assert "validation report" in md.splitlines()[0]
    assert "| uniq:clip_id | CCSV009 |" in md
    assert "## Failed gates" in md

    sarif = json.load(open(os.path.join(out_dir, "report.sarif")))
    assert sarif["version"] == "2.1.0"
    run0 = sarif["runs"][0]
    # every result's ruleId resolves to a declared rule
    declared = {r["id"] for r in run0["tool"]["driver"]["rules"]}
    assert {r["ruleId"] for r in run0["results"]} <= declared
    # exemplar results = written violation rows; plus one per failed gate
    n_viol = tiny_run.report["findings"]["total_violations"]
    n_gates = len(tiny_run.report["findings"]["failed_gates"])
    assert len(run0["results"]) == n_viol + n_gates  # tiny: cap not hit
    assert run0["properties"]["run_digest"] == (
        tiny_run.report["integrity"]["run_digest"]
    )

    # golden snapshot of the result set (order-stable: violations parquet is
    # written in deterministic total order, gates sorted)
    got = [
        [r["ruleId"], r["level"], r["properties"]["partition"],
         r["properties"].get("clip_id")]
        for r in run0["results"]
    ]
    if not os.path.exists(GOLDEN_SARIF):  # bootstrap once; committed after
        os.makedirs(os.path.dirname(GOLDEN_SARIF), exist_ok=True)
        with open(GOLDEN_SARIF, "w") as f:
            json.dump(got, f, indent=0)
        pytest.skip("golden bootstrapped — commit tests/golden/tiny_report_sarif.json")
    assert got == json.load(open(GOLDEN_SARIF))


GOLDEN_TEXT = os.path.join(
    os.path.dirname(__file__), "golden", "tiny_report_text.txt"
)


def test_review_queue_ranked_and_weighted(tiny_run):
    q = tiny_run.report["derived"]["review_queue"]
    assert q  # planted violations -> non-empty queue
    scores = [e["score"] for e in q]
    assert scores == sorted(scores, reverse=True)  # (-score, ...) order
    for e in q:
        w = 3 if e["severity"] == "error" else 1
        assert e["score"] == e["n_new"] * w
        assert e["n_new"] > 0
        # every entry carries a remediation hint (reference suggestions.py)
        assert e["action"]


def test_render_review_queue_surfaces(tiny_run):
    out_dir = os.path.dirname(tiny_run.violations_path)
    md_path, sarif_path = render_outputs(out_dir, ["md", "sarif"])
    md = open(md_path).read()
    assert "## Review queue (triage first)" in md
    top = tiny_run.report["derived"]["review_queue"][0]
    assert f"| 1 | {top['partition']} | {top['rule_id']} |" in md
    # SARIF: ranked cells carry normalized rank, top cell = 100
    sarif = json.load(open(sarif_path))
    ranks = [r["rank"] for r in sarif["runs"][0]["results"] if "rank" in r]
    assert ranks and max(ranks) == 100.0
    assert all(0 <= r <= 100 for r in ranks)


def test_render_text_golden(tiny_run):
    out_dir = os.path.dirname(tiny_run.violations_path)
    (p,) = render_outputs(out_dir, ["text"])
    txt = open(p).read()
    assert os.path.basename(p) == "report.txt"
    assert "validation summary" in txt
    assert "failed gates:" in txt and "review queue" in txt
    # digest line varies with any report change; golden pins the rest
    body = "\n".join(
        ln for ln in txt.splitlines() if "run_digest" not in ln
    )
    if not os.path.exists(GOLDEN_TEXT):  # bootstrap once; committed after
        os.makedirs(os.path.dirname(GOLDEN_TEXT), exist_ok=True)
        with open(GOLDEN_TEXT, "w") as f:
            f.write(body)
        pytest.skip("golden bootstrapped — commit tests/golden/tiny_report_text.txt")
    assert body == open(GOLDEN_TEXT).read()


def test_render_markdown_green_run():
    report = {
        "inventory": {"partitions": 2, "partitions_resumed": 2, "rows": 10},
        "findings": {"total_violations": 0, "by_rule": {}, "failed_gates": []},
        "metrics": {"health": {"score": 100, "grade": "A"}, "drift": {}},
        "baseline": {"trusted": True},
        "integrity": {"run_digest": "d" * 64, "report_sha256": "e" * 64},
    }
    md = render_markdown(report)
    assert "none — run is green." in md
    sarif = render_sarif(report, None)
    assert sarif["runs"][0]["results"] == []
    assert sarif["runs"][0]["tool"]["driver"]["rules"] == []

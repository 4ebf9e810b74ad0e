"""Renderers over the canonical report document.

The engine computes ONE canonical document (``report.json``, written by
``plans/runner.py``); every other surface renders from it without touching
Spark — the reference's single-document / many-renderers discipline
(``report/renderers/{json,markdown,sarif,text}.py``: JSON is canonical,
the rest are pure projections).

- :func:`render_markdown` — human triage summary.
- :func:`render_sarif` — SARIF 2.1.0 with a stable external rule-id
  mapping (reference ``report/renderers/sarif.py:175-343`` maps internal
  finding kinds to ``CCLONE001``-style ids with per-rule severity and
  taxonomy; ours maps validation rule_ids to ``CCSV###``, read from the
  rule registry ``operators.rules.RULES``, with the level derived from the
  rule's severity).  Violation exemplar rows come from the violations
  parquet via pyarrow — a driver-side render bounded by the exemplar cap,
  no Spark session needed.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

from codeclone_spark import ENGINE_NAME, ENGINE_VERSION
from codeclone_spark.operators.rules import TABLE_SCOPE, Rule, rule_spec
from codeclone_spark.plans.baseline import parquet_files

SARIF_VERSION = "2.1.0"
SARIF_SCHEMA = "https://json.schemastore.org/sarif-2.1.0.json"


def _level(severity: str) -> str:
    """SARIF level of a rule severity: ``error`` stays, ``warn`` -> ``warning``."""
    return "error" if severity == "error" else "warning"


def _iter_violation_rows(violations_path: str) -> Iterator[dict[str, Any]]:
    """Stream violation exemplar rows from the parquet sink via pyarrow
    (bounded by the exemplar cap; no Spark needed to render).  Handles both
    sink layouts: flat files, and the cluster-scale ``rule_id=<val>``
    hive-partitioned layout (RunConfig.partitioned_sinks), where the
    partition column lives percent-encoded in the directory name instead
    of the data file."""
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    for fp in parquet_files(violations_path):
        part_cols = {
            k: unquote(v)
            for seg in os.path.relpath(fp, violations_path).split(os.sep)[:-1]
            if "=" in seg
            for k, v in (seg.split("=", 1),)
        }
        for batch in pq.ParquetFile(fp).iter_batches():
            for row in batch.to_pylist():
                yield {**part_cols, **row}


def render_sarif(
    report: dict[str, Any], violations_path: str | None = None
) -> dict[str, Any]:
    """SARIF 2.1.0 document: driver tool metadata + one rule entry per
    mapped rule + one result per violation exemplar row (when the parquet
    sink is supplied) plus one result per failed gate."""
    used: dict[str, Rule] = {}
    results: list[dict[str, Any]] = []
    # derived.review_queue -> SARIF result `rank` (0..100, higher = triage
    # first): results in a ranked (partition, rule) cell carry the cell's
    # normalized severity-weighted score
    queue = report.get("derived", {}).get("review_queue", [])
    max_score = max((q["score"] for q in queue), default=0)
    ranks = {
        (q["rule_id"], q["partition"]): round(100.0 * q["score"] / max_score, 2)
        for q in queue
        if max_score
    }

    def _result(rule_id: str, message: str, partition: str,
                clip_id: str | None, level: str) -> None:
        spec = rule_spec(rule_id)
        used.setdefault(rule_id, spec)
        logical = [{"name": partition, "kind": "partition"}]
        if clip_id:
            logical.append({"name": clip_id, "kind": "member"})
        rank = ranks.get((rule_id, partition))
        results.append(
            {
                "ruleId": spec.sarif_id,
                "level": level,
                "message": {"text": message},
                "locations": [{"logicalLocations": logical}],
                **({"rank": rank} if rank is not None else {}),
                "properties": {"rule_id": rule_id, "partition": partition,
                               **({"clip_id": clip_id} if clip_id else {})},
            }
        )

    if violations_path:
        for row in _iter_violation_rows(violations_path):
            _result(
                row["rule_id"],
                f"{row['rule_id']}: observed={row.get('observed')} "
                f"expected={row.get('expected')}",
                row.get("partition") or TABLE_SCOPE,
                row.get("clip_id"),
                _level(row.get("severity") or "error"),
            )
    for g in report.get("findings", {}).get("failed_gates", []):
        _result(g["rule_id"], g["reason"], g["partition"], None, "error")

    rules = [
        {
            "id": spec.sarif_id,
            "name": rid.replace(":", "_"),
            "shortDescription": {"text": spec.short},
            "fullDescription": {"text": spec.full},
            "defaultConfiguration": {"level": _level(spec.severity)},
            "properties": {"family": spec.family, "engine_rule_id": rid},
        }
        for rid, spec in sorted(used.items(), key=lambda kv: kv[1].sarif_id)
    ]
    return {
        "$schema": SARIF_SCHEMA,
        "version": SARIF_VERSION,
        "runs": [
            {
                "tool": {
                    "driver": {
                        "name": ENGINE_NAME,
                        "version": ENGINE_VERSION,
                        "informationUri": "https://spark.apache.org/",
                        "rules": rules,
                    }
                },
                "properties": {
                    "report_sha256": report.get("integrity", {}).get(
                        "report_sha256"
                    ),
                    "run_digest": report.get("integrity", {}).get("run_digest"),
                },
                "results": results,
            }
        ],
    }


def render_markdown(report: dict[str, Any]) -> str:
    """Human triage summary — pure projection of the canonical document."""
    inv = report.get("inventory", {})
    fnd = report.get("findings", {})
    met = report.get("metrics", {})
    health = met.get("health", {})
    lines = [
        f"# {ENGINE_NAME} validation report",
        "",
        f"- engine: {ENGINE_NAME} {ENGINE_VERSION}",
        f"- partitions: {inv.get('partitions', 0)} "
        f"(resumed {inv.get('partitions_resumed', 0)}, "
        f"test-lane {inv.get('partitions_test_lane', 0)})",
        f"- rows: {inv.get('rows', 0)}",
        f"- health: {health.get('score', 'n/a')} "
        f"(grade {health.get('grade', 'n/a')})",
        f"- baseline: {'trusted' if report.get('baseline', {}).get('trusted') else report.get('baseline', {}).get('reason', 'none')}",
        "",
        "## Findings",
        "",
        f"- total violations: {fnd.get('total_violations', 0)}",
        f"- suppressed exemplars: {fnd.get('suppressed_exemplars', 0)}",
        f"- suppressed by directive: {fnd.get('suppressed_by_directive', 0)}",
        "",
        "| rule | sarif | count | severity |",
        "|---|---|---:|---|",
    ]
    by_rule = fnd.get("by_rule", {})
    for rid in sorted(by_rule):
        spec = rule_spec(rid)
        lines.append(
            f"| {rid} | {spec.sarif_id} | {by_rule[rid]} | {_level(spec.severity)} |"
        )
    failed = fnd.get("failed_gates", [])
    lines += ["", f"## Failed gates ({len(failed)})", ""]
    if failed:
        lines += ["| partition | rule | reason |", "|---|---|---|"]
        for g in failed:
            lines.append(
                f"| {g['partition']} | {g['rule_id']} | {g['reason']} |"
            )
    else:
        lines.append("none — run is green.")
    queue = report.get("derived", {}).get("review_queue", [])
    if queue:
        lines += [
            "",
            "## Review queue (triage first)",
            "",
            "| # | partition | rule | new | severity | score | suggested action |",
            "|---:|---|---|---:|---|---:|---|",
        ]
        for i, q in enumerate(queue, 1):
            lines.append(
                f"| {i} | {q['partition']} | {q['rule_id']} | {q['n_new']} "
                f"| {q['severity']} | {q['score']} | {q.get('action', '')} |"
            )
    drift = met.get("drift", {})
    if drift:
        lines += ["", "## Drift", ""]
        for k in sorted(drift):
            lines.append(f"- {k}: {drift[k]}")
    warnings = report.get("warnings", [])
    if warnings:
        lines += ["", "## Warnings", ""] + [f"- {w}" for w in warnings]
    integ = report.get("integrity", {})
    lines += [
        "",
        "---",
        f"run_digest `{integ.get('run_digest', '')[:16]}` · "
        f"report_sha256 `{integ.get('report_sha256', '')[:16]}`",
        "",
    ]
    return "\n".join(lines)


def render_text(report: dict[str, Any]) -> str:
    """Terminal summary — the reference's text renderer surface
    (``report/renderers/text.py``: run summary, failed gates, top rules)
    as a pure projection of the canonical document."""
    inv = report.get("inventory", {})
    fnd = report.get("findings", {})
    met = report.get("metrics", {})
    health = met.get("health", {})
    bar = "=" * 64
    lines = [
        bar,
        f"{ENGINE_NAME} {ENGINE_VERSION} — validation summary",
        bar,
        f"partitions : {inv.get('partitions', 0)} "
        f"(resumed {inv.get('partitions_resumed', 0)}, "
        f"test-lane {inv.get('partitions_test_lane', 0)})",
        f"rows       : {inv.get('rows', 0)}",
        f"violations : {fnd.get('total_violations', 0)} "
        f"(suppressed exemplars {fnd.get('suppressed_exemplars', 0)}, "
        f"by directive {fnd.get('suppressed_by_directive', 0)})",
        f"health     : {health.get('score', 'n/a')} "
        f"(grade {health.get('grade', 'n/a')})",
        f"baseline   : "
        f"{'trusted' if report.get('baseline', {}).get('trusted') else report.get('baseline', {}).get('reason', 'none')}",
    ]
    by_rule = fnd.get("by_rule", {})
    if by_rule:
        lines += ["", "top rules (by violation count):"]
        top = sorted(by_rule.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        width = max(len(r) for r, _n in top)
        for rid, n in top:
            spec = rule_spec(rid)
            lines.append(f"  {rid.ljust(width)}  {n:>8}  [{spec.sarif_id}]")
    failed = fnd.get("failed_gates", [])
    lines += ["", f"failed gates: {len(failed)}"]
    for g in failed[:20]:
        lines.append(f"  FAIL {g['partition']} {g['rule_id']}: {g['reason']}")
    if len(failed) > 20:
        lines.append(f"  ... and {len(failed) - 20} more")
    queue = report.get("derived", {}).get("review_queue", [])
    if queue:
        lines += ["", "review queue (triage first):"]
        for i, q in enumerate(queue, 1):
            lines.append(
                f"  {i:>2}. {q['partition']} {q['rule_id']} "
                f"new={q['n_new']} sev={q['severity']} score={q['score']}"
            )
            if q.get("action"):
                lines.append(f"      -> {q['action']}")
    integ = report.get("integrity", {})
    lines += [
        "",
        f"run_digest {integ.get('run_digest', '')[:16]} · "
        f"report_sha256 {integ.get('report_sha256', '')[:16]}",
        "",
    ]
    return "\n".join(lines)


def render_outputs(out_dir: str, formats: list[str]) -> list[str]:
    """Render ``report.{md,sarif,txt}`` next to the canonical
    ``report.json``.  Returns the written paths.  Pure file-to-file:
    usable long after the Spark session is gone."""
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)
    vpath = os.path.join(out_dir, "violations")
    written = []
    for fmt in formats:
        if fmt == "md":
            out = os.path.join(out_dir, "report.md")
            with open(out, "w") as f:
                f.write(render_markdown(report))
        elif fmt == "text":
            out = os.path.join(out_dir, "report.txt")
            with open(out, "w") as f:
                f.write(render_text(report))
        elif fmt == "sarif":
            out = os.path.join(out_dir, "report.sarif")
            doc = render_sarif(
                report, vpath if os.path.isdir(vpath) else None
            )
            with open(out, "w") as f:
                json.dump(doc, f, sort_keys=True, indent=1)
        else:
            raise ValueError(f"unknown render format {fmt!r} (md|sarif|text)")
        written.append(out)
    return written

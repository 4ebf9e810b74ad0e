"""Scoped queries over a completed run's persisted outputs.

The reference answers operator questions against the persisted report
document without re-analysis (``surfaces/cli/blast_radius.py``,
``surfaces/cli/patch_verify.py`` — "one compute, many surfaces",
README:191-206).  Same contract here: this module reads ``report.json``
plus the violations/verdicts parquet sinks with pyarrow only — no
SparkSession, no recompute — so "which partitions fail rule X" or "what is
new vs the baseline" costs a metadata-sized read even for a run that
validated 10^6 partitions.

Scale note: with the cluster-scale ``rule_id=<val>`` sink layout
(``RunConfig.partitioned_sinks``) a ``rule`` filter prunes at the
DIRECTORY level — only that rule's files are opened.  On the flat layout
it degrades to a streamed scan with a row filter (bounded by the exemplar
cap either way).
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator
from urllib.parse import quote

from codeclone_spark.operators.rules import TABLE_SCOPE
from codeclone_spark.plans.render import _iter_violation_rows


def _sink_rows(path: str, rule: str | None = None) -> Iterator[dict[str, Any]]:
    """Layout-aware row stream over a violations/verdicts sink, pruning to
    the ``rule_id=<encoded>`` directory when the partitioned layout offers
    one (the writer percent-encodes ``:`` etc. in the dir name)."""
    if rule is not None:
        pruned = os.path.join(path, f"rule_id={quote(rule, safe='')}")
        if os.path.isdir(pruned):
            for row in _iter_violation_rows(pruned):
                yield {"rule_id": rule, **row}
            return
    for row in _iter_violation_rows(path):
        if rule is None or row.get("rule_id") == rule:
            yield row


def query_run(
    out_dir: str,
    *,
    rule: str | None = None,
    partition: str | None = None,
    new_only: bool = False,
    failed_only: bool = False,
    limit: int = 20,
) -> dict[str, Any]:
    """Answer a scoped question from a completed run's outputs.

    Returns the matching verdict cells (every one — the grid is
    O(partitions x rules) metadata rows) and up to *limit* violation
    exemplar rows (``limit <= 0`` = all), plus the TRUE pre-cap totals
    from the canonical report so a capped exemplar list is never mistaken
    for the full count.  *new_only* keeps verdict cells whose novelty is
    ``new`` and confines exemplars to those cells (a table-scope NEW
    verdict admits every partition of its rule — table rules attribute
    exemplars to min(part) for reporting only)."""
    with open(os.path.join(out_dir, "report.json")) as f:
        report = json.load(f)

    verdicts: list[dict[str, Any]] = []
    for row in _sink_rows(os.path.join(out_dir, "verdicts"), rule):
        if partition is not None and row["partition"] != partition:
            continue
        if new_only and row.get("novelty") != "new":
            continue
        if failed_only and row.get("pass"):
            continue
        verdicts.append(row)
    verdicts.sort(key=lambda r: (r["partition"], r["rule_id"]))

    cells: set[tuple[str, str]] | None = None
    if new_only or failed_only:
        cells = {(r["partition"], r["rule_id"]) for r in verdicts}
        open_rules = {r for p, r in cells if p == TABLE_SCOPE}
    n_exemplars = 0
    exemplars: list[dict[str, Any]] = []
    for row in _sink_rows(os.path.join(out_dir, "violations"), rule):
        if partition is not None and row["partition"] != partition:
            continue
        if cells is not None and (
            (row["partition"], row["rule_id"]) not in cells
            and row["rule_id"] not in open_rules
        ):
            continue
        n_exemplars += 1
        if limit <= 0 or len(exemplars) < limit:
            exemplars.append(row)

    by_rule = report.get("findings", {}).get("by_rule", {})
    return {
        "meta": report.get("meta", {}),
        "filters": {
            "rule": rule,
            "partition": partition,
            "new_only": new_only,
            "failed_only": failed_only,
            "limit": limit,
        },
        "verdicts": {"n": len(verdicts), "rows": verdicts},
        "violations": {
            # exemplar rows are capped at write time; true totals come
            # from the report's pre-cap ledger tallies
            "n_exemplar_rows": n_exemplars,
            "rows": exemplars,
            "true_totals_by_rule": (
                {rule: by_rule.get(rule, 0)} if rule else dict(by_rule)
            ),
        },
    }

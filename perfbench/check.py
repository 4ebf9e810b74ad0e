"""Output check applied to every timed op, and its self-test.

An op passes when
- its exit code is the workload's (``EXIT_OK`` when it writes the trusted
  baseline, ``EXIT_GATE_FAILURE`` when it runs without one),
- ``findings.by_rule`` equals the generator's planted truth (the mapping
  of ``tests/test_engine_golden.py::test_counts_match_planted_truth``),
- its ``run_digest`` starts with the reference digest: a pinned prefix
  where one is known, else the digest of the sequence's first op,
- with the near-dup stage on, its cluster count equals the pinned count
  where one is known.
"""

from __future__ import annotations

import copy
from dataclasses import dataclass
from typing import Any

# rule_id -> planted defect kinds whose counts it must report
PLANTED_RULES: dict[str, tuple[str, ...]] = {
    "uniq:clip_id": ("dup_clip_id",),
    "audio:undecodable": ("undecodable",),
    "audio:snr": ("low_snr",),
    "audio:len_consistency": ("sr_mismatch", "dur_mismatch"),
    "stats:null:dur_ms": ("dur_null",),
    "stats:null:transcript": ("transcript_null",),
    "audio:transcript_eq": ("transcript_mismatch",),
    "ref:fixture_missing": ("fixture_missing",),
}


@dataclass
class Expect:
    planted_counts: dict[str, int]
    digest: str | None = None
    n_clusters: int | None = None
    exit_code: int = 0


def digest_of(report: dict[str, Any]) -> str:
    return report.get("integrity", {}).get("run_digest", "")


def clusters_of(report: dict[str, Any]) -> int | None:
    nd = report.get("metrics", {}).get("neardup")
    return None if nd is None else nd.get("n_clusters")


def problems(exit_code: int, report: dict[str, Any], exp: Expect) -> list[str]:
    """Every way this op's output differs from what is expected; empty
    when it is correct."""
    out = []
    if exit_code != exp.exit_code:
        out.append(f"exit code {exit_code} != {exp.exit_code}")
    by_rule = report.get("findings", {}).get("by_rule", {})
    for rule, kinds in PLANTED_RULES.items():
        want = sum(exp.planted_counts[k] for k in kinds)
        if by_rule.get(rule) != want:
            out.append(f"by_rule[{rule}] = {by_rule.get(rule)} != planted {want}")
    if exp.digest is not None and not digest_of(report).startswith(exp.digest):
        out.append(f"run_digest {digest_of(report)[:16]} != {exp.digest[:16]}")
    if exp.n_clusters is not None and clusters_of(report) != exp.n_clusters:
        out.append(f"near-dup clusters {clusters_of(report)} != {exp.n_clusters}")
    return out


def self_test(exit_code: int, report: dict[str, Any], exp: Expect) -> list[str]:
    """The check must pass a good op and fail each doctored copy of it:
    one by_rule count off by one, another digest, an unexpected exit code.
    Returns the failures of the check itself (empty when it works)."""
    fails = []
    if problems(exit_code, report, exp):
        fails.append("check rejects the good op")
    off_by_one = copy.deepcopy(report)
    off_by_one["findings"]["by_rule"]["audio:snr"] += 1
    other_digest = copy.deepcopy(report)
    other_digest["integrity"]["run_digest"] = "0" * 64
    doctored = {
        "by_rule off by one": (exit_code, off_by_one),
        "different digest": (exit_code, other_digest),
        "unexpected exit code": (exit_code + 3, report),
    }
    for name, (code, rep) in doctored.items():
        if not problems(code, rep, exp):
            fails.append(f"check accepts a doctored op ({name})")
    return fails

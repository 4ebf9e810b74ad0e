from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from codeclone_spark.session import get_spark  # noqa: E402
from codeclone_spark.synth import ensure_profile  # noqa: E402

CLIPS_BASE = "/root/repo/testclips"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="ccspark-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_dir() -> str:
    return ensure_profile(CLIPS_BASE, "tiny")


@pytest.fixture(scope="session")
def tiny_manifest(tiny_dir) -> dict:
    import json

    with open(os.path.join(tiny_dir, "manifest.json")) as f:
        return json.load(f)


@pytest.fixture(scope="session")
def tiny_run(spark, tiny_dir, tmp_path_factory):
    """One shared full validation run over the tiny corpus."""
    from codeclone_spark.plans.runner import RunConfig, run

    out = str(tmp_path_factory.mktemp("tiny_run"))
    return run(spark, RunConfig(data_dir=tiny_dir, out_dir=out))


@pytest.fixture(scope="session")
def check_gate_invariants(spark):
    """Assert the invariants that tie a run's gate outputs to each other:
    ``findings.by_rule`` is the ledger's summed true counts for row rules
    and the sink's row count for the cross-partition rules (one row per
    duplicate group or near-dup cluster); the review queue is the
    ``(-score, partition, rule_id)``-ordered top-k with score = severity
    weight x ``n_new``; every queued cell's verdict has novelty ``new``."""
    from pyspark.sql import functions as F

    from codeclone_spark.operators.rules import CROSS_PARTITION_SCOPES, RULES
    from codeclone_spark.plans.ledger import Ledger
    from codeclone_spark.plans.runner import REVIEW_QUEUE_K

    table_rules = [r.rule_id for r in RULES if r.scope in CROSS_PARTITION_SCOPES]
    weight = {"error": 3, "warn": 1}

    def check(res) -> None:
        ledger = Ledger(os.path.join(os.path.dirname(res.violations_path), "ledger"))
        want: dict[str, int] = {}
        for entry in ledger.partitions.values():
            for rid, (n_viol, _n_new) in entry.get("rule_counts", {}).items():
                want[rid] = want.get(rid, 0) + n_viol
        viol = spark.read.parquet(res.violations_path)
        for r in (
            viol.filter(F.col("rule_id").isin(table_rules))
            .groupBy("rule_id").count().collect()
        ):
            want[r["rule_id"]] = r["count"]
        assert res.report["findings"]["by_rule"] == dict(sorted(want.items()))

        queue = res.report["derived"]["review_queue"]
        assert len(queue) <= REVIEW_QUEUE_K
        assert queue == sorted(
            queue, key=lambda e: (-e["score"], e["partition"], e["rule_id"])
        )
        for e in queue:
            assert e["n_new"] > 0
            assert e["score"] == weight[e["severity"]] * e["n_new"], e
        novelty = {
            (r["partition"], r["rule_id"]): r["novelty"]
            for r in spark.read.parquet(res.verdicts_path).collect()
        }
        for e in queue:
            assert novelty[(e["partition"], e["rule_id"])] == "new", e

    return check

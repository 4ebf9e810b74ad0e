"""Traced replay of the layers that ``run()`` hides.

Each public layer function is called in pipeline order on the workload's
own corpus, forced by one action and persisted (or written) for the next,
inside a ``LayerProbe`` span.  The replay never changes the engine: it
calls the same functions ``plans.runner.run`` calls, with the runner's
parameters.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import functions as F

from codeclone_spark.operators.dedup import (
    lsh_candidate_pairs,
    lsh_suppressed_buckets,
    lsh_verified_pairs,
)
from codeclone_spark.operators.graph import connected_components
from codeclone_spark.operators.rules import (
    NUMERIC_STATS_COLUMNS,
    evaluate_row_rules,
    evaluate_uniqueness,
    partition_aggregates,
    qsketch_counts_multi,
)
from codeclone_spark.plans.baseline import load_baseline
from codeclone_spark.plans.facts import (
    assemble_facts,
    decode_stage,
    join_meta,
    read_clips,
    read_fixtures_meta,
    read_fixtures_pcm,
    suspect_filter,
)
from codeclone_spark.plans.ledger import Ledger
from codeclone_spark.plans.runner import RunConfig

from probes import LayerProbe, counting_calls

_RUNNER = RunConfig(data_dir="", out_dir="")  # the runner's own parameters


def _shuffle_mb(*spans: dict[str, Any]) -> float:
    return sum(
        s["attrs"]["shuffle_read_mb"] + s["attrs"]["shuffle_write_mb"] for s in spans
    )


def validation(spark, data_dir: str, probe: LayerProbe) -> dict[str, float]:
    """``functions.audio`` via ``plans.facts.decode_stage``, facts phases
    B+C and ``operators.rules`` over the whole corpus."""
    clips = read_clips(spark, data_dir)
    fx_meta = read_fixtures_meta(spark, data_dir)
    fx_pcm = read_fixtures_pcm(spark, data_dir)

    with probe.layer("audio.decode_stage") as dec:
        decoded = decode_stage(clips).persist()
        rows = decoded.count()
    undecodable = decoded.filter(~F.col("decode_ok")).count()

    with probe.layer("facts.assemble_facts") as fac:
        suspects = suspect_filter(join_meta(decoded, fx_meta))
        sus_parts = sorted(
            r["part"] for r in suspects.select("part").distinct().collect()
        )
        facts = assemble_facts(
            decoded, clips, fx_meta, fx_pcm, suspect_parts=sus_parts
        ).persist()
        facts.count()
    suspect_rows = suspects.count()

    with probe.layer("rules.evaluate_row_rules") as rr:
        viol = evaluate_row_rules(facts).persist()
        n_viol = viol.count()
    snr_viol = viol.filter(F.col("rule_id") == "audio:snr").count()
    with probe.layer("rules.partition_aggregates") as pa:
        partition_aggregates(facts).collect()
    with probe.layer("rules.qsketch_counts_multi") as qs:
        qsketch_counts_multi(facts, NUMERIC_STATS_COLUMNS).collect()
    with probe.layer("rules.evaluate_uniqueness") as un:
        evaluate_uniqueness(facts).collect()
    for df in (viol, facts, decoded):
        df.unpersist()

    a = dec["attrs"]
    return {
        "audio.decode_s": a["wall_s"],
        "audio.rows": float(rows),
        "audio.undecodable_rows": float(undecodable),
        "audio.pyworker_cpu_s": a["pyworker_cpu_s"],
        "audio.executor_run_s": a["executor_run_s"],
        "audio.input_mb": a["input_mb"],
        "facts.assemble_s": fac["attrs"]["wall_s"],
        "facts.suspect_rows": float(suspect_rows),
        "facts.suspect_parts": float(len(sus_parts)),
        "facts.snr_yield": snr_viol / max(suspect_rows, 1),
        "facts.shuffle_mb": _shuffle_mb(fac),
        "facts.pyworker_cpu_s": fac["attrs"]["pyworker_cpu_s"],
        "rules.row_rules_s": rr["attrs"]["wall_s"],
        "rules.violation_rows": float(n_viol),
        "rules.partition_aggs_s": pa["attrs"]["wall_s"],
        "rules.qsketch_s": qs["attrs"]["wall_s"],
        "rules.uniqueness_s": un["attrs"]["wall_s"],
        "rules.shuffle_mb": _shuffle_mb(rr, pa, qs, un),
    }


def ladder(spark, data_dir: str, scratch: str, probe: LayerProbe) -> dict[str, float]:
    """``operators.dedup`` LSH -> exact verify and ``operators.graph``
    connected components over the corpus transcripts, as the runner's
    near-dup stage builds them.  The components are checked against a
    union-find over the verified edges."""
    docs = (
        read_clips(spark, data_dir)
        .select(F.col("clip_id").alias("doc_id"), "part", "transcript")
        .filter(F.col("transcript").isNotNull() & (F.length("transcript") > 0))
    )
    cap = _RUNNER.neardup_max_bucket
    cands_path = os.path.join(scratch, "cands")
    edges_path = os.path.join(scratch, "verified")

    with probe.layer("dedup.lsh_candidate_pairs") as cand:
        lsh_candidate_pairs(docs, "doc_id", "transcript", max_bucket=cap).write.mode(
            "overwrite"
        ).parquet(cands_path)
    n_cands = spark.read.parquet(cands_path).count()
    with probe.layer("dedup.lsh_suppressed_buckets") as sup:
        n_suppressed = lsh_suppressed_buckets(
            docs, "doc_id", "transcript", max_bucket=cap
        ).count()
    # lsh_verified_pairs recomputes its own candidates: verify time is its
    # wall minus the candidate stage's
    with probe.layer("dedup.lsh_verified_pairs") as ver:
        lsh_verified_pairs(
            docs,
            "doc_id",
            "transcript",
            max_bucket=cap,
            threshold=_RUNNER.neardup_threshold,
            scratch_dir=os.path.join(scratch, "ladder"),
        ).write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    # one convergence probe (DataFrame.isEmpty) per CC round
    with counting_calls(type(edges), "isEmpty") as rounds:
        with probe.layer("graph.connected_components") as cc:
            comps = connected_components(
                edges, scratch_dir=os.path.join(scratch, "cc")
            )
    labels = {r["id"]: r["cluster_id"] for r in comps.collect()}
    if labels != _min_id_components(
        (r["id_a"], r["id_b"]) for r in edges.select("id_a", "id_b").collect()
    ):
        raise RuntimeError("connected_components disagrees with a union-find")
    n_clusters = len(set(labels.values()))

    return {
        "dedup.candidates_s": cand["attrs"]["wall_s"],
        "dedup.candidate_pairs": float(n_cands),
        "dedup.suppressed_buckets": float(n_suppressed),
        "dedup.verify_s": max(ver["attrs"]["wall_s"] - cand["attrs"]["wall_s"], 0.0),
        "dedup.verified_pairs": float(n_edges),
        "dedup.verify_yield": n_edges / max(n_cands, 1),
        "dedup.shuffle_mb": _shuffle_mb(cand, sup, ver),
        "graph.cc_s": cc["attrs"]["wall_s"],
        "graph.cc_rounds": float(rounds[0]),
        "graph.cc_edges": float(n_edges),
        "graph.clusters": float(n_clusters),
    }


def _min_id_components(edges) -> dict[Any, Any]:
    """node -> smallest node id of its component, by union-find."""
    parent: dict[Any, Any] = {}

    def root(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: root(x) for x in parent}


def ledger_and_baseline(
    out_dir: str, scratch: str, baseline_path: str | None, probe: LayerProbe
) -> dict[str, float]:
    """``plans.ledger`` load and save of an op's ledger, and
    ``plans.baseline.load_baseline`` of the workload's baseline, if any
    (``baseline.load_s`` reads 0 without one)."""
    root = os.path.join(out_dir, "ledger")
    with probe.layer("ledger.Ledger") as load:
        led = Ledger(root)
    segments = [n for n in os.listdir(root) if n.endswith(".jsonl")]
    copy = Ledger(os.path.join(scratch, "ledger"))
    with probe.layer("ledger.save") as save:
        for part, entry in sorted(led.partitions.items()):
            copy.record(part, entry)
        copy.save()
    written = sum(
        os.path.getsize(os.path.join(copy.root, n)) for n in os.listdir(copy.root)
    )
    out = {
        "ledger.load_s": load["attrs"]["wall_s"],
        "ledger.save_s": save["attrs"]["wall_s"],
        "ledger.segments": float(len(segments)),
        "ledger.bytes_written": float(written),
        "baseline.load_s": 0.0,
    }
    if baseline_path is not None:
        with probe.layer("baseline.load_baseline") as base:
            _, trust = load_baseline(baseline_path)
        if not trust.trusted:
            raise RuntimeError(f"workload baseline untrusted: {trust.reason}")
        out["baseline.load_s"] = base["attrs"]["wall_s"]
    return out

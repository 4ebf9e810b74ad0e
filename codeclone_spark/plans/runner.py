"""End-to-end validation run: the reference pipeline re-expressed on Spark.

Stage map (reference §3.1 lifecycle -> ours):

1. bootstrap       -> RunConfig
2. discover        -> partition listing minus ledger's done set (pruning)
3. process (map)   -> facts stage (plans.facts.build_facts): map-only
                      decode, fixture meta join, SNR for sha suspects
4. analyze (reduce)-> one-pass row rules, one-groupBy partition partials,
                      global exact uniqueness (column-pruned scan)
5. baseline diff   -> accepted-violation anti-join (broadcast), drift KS/PSI
6. report          -> canonical JSON document with integrity digest
7. gate            -> per-(partition, rule) verdicts; exit codes 0/2/3

Waves: partitions process in deterministic chunks; each wave durably writes
its violations + ledger entries before the next starts, so a killed run
resumes by pruning done partitions at the scan (reference warm-path
semantics, core/discovery.py:118-190).  Default is one wave = full cluster
parallelism; waves exist for resumability, not scheduling.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from codeclone_spark import (
    EXIT_CONTRACT_ERROR,
    EXIT_GATE_FAILURE,
    EXIT_OK,
    REPORT_SCHEMA_VERSION,
    ENGINE_NAME,
    ENGINE_VERSION,
)
from codeclone_spark.operators.rules import (
    ALLOWED_SR,
    CROSS_PARTITION_SCOPES,
    DRIFT_RULE_IDS,
    DUR_BIN_EDGES,
    NEARDUP_RULE_ID,
    NUMERIC_STATS_COLUMNS,
    RULE_BY_ID,
    RULE_SEVERITY,
    SCHEMA_RULE_IDS,
    TABLE_SCOPE,
    GateConfig,
    _java_double,
    build_verdicts,
    evaluate_row_rules,
    evaluate_uniqueness,
    gate_verdict,
    partition_aggregates,
    qsketch_counts_multi,
    violation_key,
)
from codeclone_spark.operators.schema_diff import canonical_schema, schema_diff
from codeclone_spark.plans import baseline as bl
from codeclone_spark.plans import health
from codeclone_spark.plans.facts import (
    build_facts,
    read_clips,
    read_fixtures_meta,
    read_fixtures_pcm,
)
from codeclone_spark.plans.ledger import (
    Ledger,
    accepted_set_sha,
    merge_partials,
    partition_data_signature,
)
from codeclone_spark.schema import local_frame
from codeclone_spark.sources import validate_clips_schema, validate_data_dir

# Ranked triage queue length (reference hotlist caps, report/suggestions.py)
REVIEW_QUEUE_K = 10
# Violation exemplar rows written per (rule, partition): an all-null column
# at 10^12 rows must not write 10^12 rows.  Gates and report totals use the
# true pre-cap counts; the excess is findings.suppressed_exemplars
# (reference suppressed_* counts, SURVEY §2.8).
EXEMPLAR_CAP = 10_000
_SEV_WEIGHT = {"error": 3, "warn": 1}


@dataclass
class RunConfig:
    data_dir: str
    out_dir: str
    baseline_path: str | None = None
    gating: bool = True
    update_baseline: bool = False
    wave_size: int | None = None  # None -> single wave (max parallelism)
    # Partitions matching this regex are the TEST lane (reference
    # is_test_filepath routing): fully validated and reported, but their
    # gate verdicts are informational — they never fail a run.
    test_lane_pattern: str | None = None
    # Per-(rule, partition) suppression directives (reference
    # analysis/suppressions.py index, applied in metrics/dead_code.py:82-101):
    # each entry is "rule_id:partition" ("*" partition = all partitions).
    # Matching NEW violations are treated as accepted debt for gating —
    # still reported, counted under findings.suppressed_by_directive.
    suppressions: list[str] = field(default_factory=list)
    # Iceberg catalog identifier of the clips table (e.g. "cat.db.clips").
    # When set AND an Iceberg catalog is live, resume validity uses the
    # table's current snapshot id (one catalog call for all partitions)
    # instead of the local file-metadata fold — object stores don't provide
    # the stable mtimes the local fold depends on.
    iceberg_table: str | None = None
    # Final report sinks: False (default) writes one deterministically
    # sorted file per sink (golden-stable local layout); True partitions
    # both sinks by rule_id so the write fans out across tasks — at 10^6
    # partitions the dense verdict grid is O(partitions x rules) rows and
    # must not funnel through one writer.  The run digest is per-rule and
    # layout-independent either way (verified equal in tests).
    partitioned_sinks: bool = False
    # Near-dup transcript clone groups (the reference's core clone-group
    # loop: pairwise matches -> transitive groups -> baseline diff ->
    # fail-on-new gate, baseline/diff.py:23-32 + findings.py:96-115).
    # Opt-in: the stage adds an LSH + verify + connected-components pass
    # over every transcript, a separately-benched cost the headline
    # validation pass should not silently absorb.
    neardup_transcript: bool = False
    # exact-Jaccard acceptance threshold for a verified near-dup pair
    neardup_threshold: float = 0.9
    # LSH bucket cap (caps as backpressure) for the candidate stage
    neardup_max_bucket: int = 1024
    gates: GateConfig = field(default_factory=GateConfig)

    def __post_init__(self) -> None:
        # each would silently validate nothing: no wave (wave size < 1), no
        # LSH bucket (negative cap), no verified pair (threshold > 1)
        if self.wave_size is not None and self.wave_size < 1:
            raise ValueError(f"wave_size {self.wave_size} < 1")
        if self.neardup_max_bucket < 0:
            raise ValueError(f"neardup_max_bucket {self.neardup_max_bucket} < 0")
        if not 0 < self.neardup_threshold <= 1:
            raise ValueError(
                f"neardup_threshold {self.neardup_threshold} outside (0, 1]"
            )


@dataclass
class RunResult:
    exit_code: int
    report: dict[str, Any]
    violations_path: str
    verdicts_path: str


def _chunks(items: list[str], size: int | None) -> list[list[str]]:
    if not items:
        return []
    if size is None or size >= len(items):
        return [items]
    return [items[i : i + size] for i in range(0, len(items), size)]


def _round_floats(obj: Any, nd: int = 6) -> Any:
    if isinstance(obj, float):
        return round(obj, nd)
    if isinstance(obj, dict):
        return {k: _round_floats(v, nd) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_round_floats(v, nd) for v in obj]
    return obj


def run(spark: SparkSession, cfg: RunConfig) -> RunResult:
    """One validation run.  The stages, in order:

    1. suppression directives and baseline trust, both checked before any
       cluster compute is spent
    2. discovery: partition listing, data signatures, the ledger's done set
    3. one wave per chunk of undone partitions: ``build_facts``, row rules
       and the exemplar cap (``_wave_violations``), partition partials
       (``_wave_partials``), then the ledger commit (``_ledger_entries``)
    4. table scope: exact uniqueness, the opt-in near-dup clusters
       (``_neardup_stage``) and the count table (``_gate_counts``)
    5. verdicts: ``gate_verdict`` on each of the count table's
       (partition, rule) cells, the table-scope drift, schema and near-dup
       verdicts, and the review queue; the failed gates come from these
       driver rows, the verdicts sink adds the grid's zero cells
    6. sinks (``_write_sinks``), the report (``_rule_digests``,
       ``_findings``, ``_stats_doc``, ``_seal_report``), then either the
       baseline update (``_update_baseline``) or the gate's exit code
    """
    t0 = time.monotonic()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.monotonic()
        phases[name] = round(phases.get(name, 0.0) + (now - _last[0]), 3)
        _last[0] = now

    directives = _parse_suppressions(cfg.suppressions)
    os.makedirs(cfg.out_dir, exist_ok=True)
    ledger = Ledger(os.path.join(cfg.out_dir, "ledger"))

    # --- baseline trust (checked BEFORE compute: fail-closed must not
    # waste a cluster run; reference baseline_state.py:138-170)
    snapshot, trust = (None, bl.Trust(False, "no baseline configured"))
    warnings: list[str] = []
    if cfg.baseline_path:
        snapshot, trust = bl.load_baseline(cfg.baseline_path)
        if not trust.trusted:
            if snapshot is None and trust.reason == "baseline missing":
                warnings.append("baseline missing: diff/drift disabled")
                snapshot = None
            elif cfg.gating and not cfg.update_baseline:
                # fail closed: untrusted baseline + gating requested
                report = {
                    "report_schema_version": REPORT_SCHEMA_VERSION,
                    "meta": _meta(cfg),
                    "error": f"CONTRACT_ERROR: {trust.reason}",
                }
                return RunResult(EXIT_CONTRACT_ERROR, report, "", "")
            else:
                warnings.append(f"untrusted baseline ({trust.reason}): degraded")
                snapshot = None
    accepted = sorted((snapshot or {}).get("accepted_violations", []))
    accepted_ref = (snapshot or {}).get("accepted_ref") or {}

    validate_data_dir(cfg.data_dir)
    clips = read_clips(spark, cfg.data_dir)
    validate_clips_schema(clips)
    current_schema = canonical_schema(clips)
    fixtures_meta = read_fixtures_meta(spark, cfg.data_dir)
    fixtures_pcm = read_fixtures_pcm(spark, cfg.data_dir)

    # --- discovery
    all_parts, data_sigs = _discover(spark, cfg, clips)
    # Baseline identity for the ledger's known/new split validity: sidecar
    # baselines carry their own streamed sha, inline sets hash here.
    accepted_sha = (
        accepted_ref["sha256"][:16] if accepted_ref else accepted_set_sha(accepted)
    )
    _mark("discovery")
    done = ledger.done_parts(data_sigs, accepted_sha) & set(all_parts)
    todo = [p for p in all_parts if p not in done]

    # --- waves
    waves_dir = os.path.join(cfg.out_dir, "waves")
    acc_df = _accepted_keys(spark, cfg, accepted, accepted_ref)
    # --update-baseline bypasses the cap: accepted keys must be complete
    cap = None if cfg.update_baseline else EXEMPLAR_CAP
    for wave in _chunks(todo, cfg.wave_size):
        wave_name = "wave-" + hashlib.sha1("|".join(wave).encode()).hexdigest()[:12]
        in_wave = F.col("part").isin(wave)
        facts, decoded = build_facts(
            clips.filter(in_wave), fixtures_meta, fixtures_pcm.filter(in_wave)
        )
        facts = facts.persist()
        rule_stats = _wave_violations(
            facts, acc_df, cap, os.path.join(waves_dir, wave_name, "violations"),
            n_files=1 if len(wave) <= 8 else 8,
        )
        _mark("wave_facts_and_row_rules")
        aggs, qsk_by_col = _wave_partials(facts)
        _mark("wave_partition_aggs")
        entries = _ledger_entries(wave, aggs, qsk_by_col, rule_stats, cap)
        for part, entry in entries.items():
            ledger.record(part, {
                "wave": wave_name,
                "data_sig": data_sigs.get(part, "absent"),
                "baseline_sha": accepted_sha,
                **entry,
            })
        facts.unpersist()
        decoded.unpersist()
        ledger.save()  # durable commit point: wave outputs + entries together
        _mark("wave_ledger_digests")

    # missing-from-ledger guard (a part listed but never processed)
    entries = [ledger.partitions[p] for p in all_parts if p in ledger.partitions]
    table_stats = merge_partials(entries)

    # --- global exact uniqueness — column-pruned scan over ALL partitions
    # (dups can span waves/partitions; reading 2 string cols of a 100 TB
    # table is cheap relative to decode, and Catalyst prunes to just those
    # columns — verified in tests via ReadSchema).
    ids_only = clips.select("clip_id", "part")
    approx_ndv = ids_only.agg(
        F.approx_count_distinct("clip_id").alias("ndv")
    ).collect()[0]["ndv"]
    # Persisted: the gate counts, the violations write and the baseline
    # update each read this frame, and each would otherwise re-scan the
    # full corpus ids and redo the dup groupBy; the frame itself is tiny
    # (dup exemplars only).  Unpersisted after its last consumer, the
    # baseline update.
    uniq_viol = evaluate_uniqueness(ids_only).persist()

    neardup_clusters = neardup_viol = None
    neardup_metrics: dict[str, Any] = {}
    if cfg.neardup_transcript:
        clones = (snapshot or {}).get("clones") or {}
        neardup_clusters, neardup_viol, neardup_metrics = _neardup_stage(
            spark, cfg, clips, ledger, data_sigs, clones.get(NEARDUP_RULE_ID, [])
        )
        _mark("neardup_clusters")

    # Assemble row violations from the waves the ledger references — each
    # wave dir FILTERED to the partitions the ledger assigns to it.  After a
    # crash-resume, a partition can be re-processed in a new wave while its
    # old wave's dir still holds stale rows for it; the filter makes resume
    # idempotent (verified by test_resume_converges).
    wave_parts: dict[str, list[str]] = {}
    for p in all_parts:
        e = ledger.partitions.get(p)
        if e and "wave" in e:
            wave_parts.setdefault(e["wave"], []).append(p)
    all_viol = uniq_viol
    for w, parts in sorted(wave_parts.items()):
        all_viol = all_viol.unionByName(
            spark.read.parquet(os.path.join(waves_dir, w, "violations")).filter(
                F.col("partition").isin(parts)
            )
        )
    if neardup_viol is not None:
        all_viol = all_viol.unionByName(neardup_viol)

    counts, n_suppressed_directive = _gate_counts(
        uniq_viol, acc_df, ledger, all_parts, neardup_metrics, directives
    )
    _mark("uniqueness_and_ndv")

    # --- verdicts: one per count-table cell of a partition (the near-dup
    # cell is table-scope), then one row per table-scope rule
    part_rows = {p: int(ledger.partitions.get(p, {}).get("rows", 0)) for p in all_parts}
    lane_parts: set[str] = set()
    if cfg.test_lane_pattern:
        lane_rx = re.compile(cfg.test_lane_pattern)
        lane_parts = {p for p in all_parts if lane_rx.search(p)}
    verdict_rows = [
        (p, rid, *gate_verdict(
            cfg.gates, rid, n_viol, n_new, part_rows[p], p in lane_parts
        ))
        for p, rid, n_viol, n_new in counts
        if p in part_rows
    ]
    quantiles_by_col = _table_quantiles(table_stats)
    drift_rows, drift_metrics = _drift_verdicts(
        cfg.gates, snapshot, table_stats, quantiles_by_col
    )
    schema_rows, schema_metrics, schema_warns = _schema_verdicts(
        current_schema, snapshot
    )
    warnings += schema_warns
    verdict_rows += drift_rows + schema_rows
    if cfg.neardup_transcript:
        verdict_rows.append(_neardup_verdict(
            cfg.gates, neardup_metrics, counts, table_stats.get("rows", 0)
        ))
    failed = sorted(
        (p, rid, reason) for p, rid, ok, reason, _ in verdict_rows if not ok
    )
    verdicts = build_verdicts(spark, all_parts, verdict_rows)
    review_queue = _review_queue(counts)

    # --- canonical, deterministically-ordered outputs
    violations_path, verdicts_path = _write_sinks(cfg, all_viol, verdicts)
    _mark("final_writes")

    run_digest = _rule_digests(spark.read.parquet(violations_path))
    findings = _findings(ledger, all_parts, counts, n_suppressed_directive, failed)
    stats_doc, histograms = _stats_doc(table_stats, quantiles_by_col)
    metrics = {
        "stats": stats_doc,
        "histograms": histograms,
        "uniqueness": {
            "clip_id_approx_ndv": int(approx_ndv),  # HLL++ fast path
            "clip_id_exact_dup_groups": int(
                findings["by_rule"].get("uniq:clip_id", 0)
            ),
        },
        "drift": drift_metrics,
        "schema": schema_metrics,
        # 0-100 scalar + grade (reference metrics/health.py:95-162)
        "health": health.health_score(
            rows=table_stats.get("rows", 0),
            violations=findings["total_violations"],
            undecodable=int(table_stats.get("undecodable", 0)),
        ),
    }
    if cfg.neardup_transcript:
        # present only when the stage ran (report schema 1.2): absence
        # means "not computed", never "zero clusters"
        metrics["neardup"] = neardup_metrics
    report = {
        "report_schema_version": REPORT_SCHEMA_VERSION,
        "meta": _meta(cfg),
        "inventory": {
            "partitions": len(all_parts),
            "partitions_resumed": len(done),
            "partitions_test_lane": len(lane_parts),
            "rows": table_stats.get("rows", 0),
            "rows_test_lane": sum(part_rows[p] for p in lane_parts),
        },
        "findings": findings,
        "metrics": metrics,
        "derived": {"review_queue": review_queue},
        "baseline": {"trusted": trust.trusted, "reason": trust.reason},
        "warnings": warnings,
        "elapsed_sec": round(time.monotonic() - t0, 3),
        "phases": {**phases, "report_aggs": round(time.monotonic() - _last[0], 3)},
    }
    _seal_report(report, run_digest, cfg.out_dir)

    if cfg.update_baseline and cfg.baseline_path:
        _update_baseline(
            cfg, all_viol, snapshot, neardup_clusters, current_schema, metrics
        )
        exit_code = EXIT_OK
    else:
        exit_code = EXIT_GATE_FAILURE if failed else EXIT_OK
    uniq_viol.unpersist()
    return RunResult(exit_code, report, violations_path, verdicts_path)


def _parse_suppressions(suppressions: list[str]) -> list[tuple[str, str]]:
    """Parse and validate ``rule_id:partition`` directives up front: a
    malformed or ill-scoped directive must fail before any cluster compute
    is spent."""
    directives: list[tuple[str, str]] = []
    for s in suppressions:
        # rule ids contain ':' themselves — split on the LAST colon
        rid, _, part = s.rpartition(":")
        if not rid or not part or not re.match(r"^[A-Za-z0-9:_\-]+$", rid):
            raise ValueError(f"malformed suppression {s!r} (rule_id:partition)")
        # a directive naming no registered rule would suppress nothing
        # while the run looks suppressed
        if rid not in RULE_BY_ID:
            raise ValueError(f"suppression {s!r}: unknown rule id {rid!r}")
        # Partition-scoped directives never match table-scope rules:
        # uniq:clip_id (and near-dup clusters) are attributed to
        # min(part) for reporting only, so "rule:<part>" would suppress
        # groups spanning OTHER partitions.  Only '*' may suppress them.
        if part != "*" and RULE_BY_ID[rid].scope in CROSS_PARTITION_SCOPES:
            raise ValueError(
                f"suppression {rid}:{part}: table-scope rules accept "
                "only the '*' partition"
            )
        directives.append((rid, part))
    return directives


def _discover(
    spark: SparkSession, cfg: RunConfig, clips: DataFrame
) -> tuple[list[str], dict[str, str]]:
    """Sorted partition values and each partition's data signature.

    For local hive layouts, partition values come from the directory
    listing (pure metadata, no Spark job — the Iceberg analog reads the
    partition manifest); otherwise a partition-column scan.  A ledger entry
    is reused only while its data signature still matches (reference
    cache-probe semantics, core/discovery.py:118-190: a cache hit requires
    the content signature to match, not just the key to exist).  A live
    Iceberg catalog supplies ONE table-wide snapshot id (immutable; any
    commit changes it) — the authoritative content signature on the
    production target, where file mtimes are meaningless.  Otherwise fold
    local (name, size, mtime_ns) triples per partition (plans/ledger.py).
    """
    clips_root = os.path.join(cfg.data_dir, "clips")
    if os.path.isdir(clips_root):
        all_parts = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(clips_root)
            if d.startswith("part=")
        )
    else:
        all_parts = sorted(
            r["part"] for r in clips.select("part").distinct().collect()
        )
    snap_sig = None
    if cfg.iceberg_table:
        from codeclone_spark.sources import iceberg as _ice

        snap_sig = _ice.snapshot_data_signature(spark, cfg.iceberg_table)
    if snap_sig is not None:
        return all_parts, {p: snap_sig for p in all_parts}
    return all_parts, {p: partition_data_signature(clips_root, p) for p in all_parts}


def _accepted_keys(
    spark: SparkSession, cfg: RunConfig, accepted: list[str],
    accepted_ref: dict[str, Any],
) -> DataFrame:
    """Baseline-accepted violation keys as a ``(vkey, accepted)`` frame.

    It joins once per wave to split true violation counts into known/new
    BEFORE the exemplar cap, so gate arithmetic never sees truncated counts
    (``_gate_counts`` reuses it).  Inline sets are a broadcast
    local relation; sidecar sets (large debt) are a parquet scan joined
    distributively — the keys never materialize on the driver."""
    if accepted_ref:
        base_dir = os.path.dirname(cfg.baseline_path) or "."
        return (
            spark.read.parquet(os.path.join(base_dir, accepted_ref["path"]))
            .select("vkey")
            .withColumn("accepted", F.lit(True))
        )
    return F.broadcast(
        local_frame(
            spark, [(k,) for k in accepted] or [("\x00never",)], "vkey string"
        ).withColumn("accepted", F.lit(True))
    )


def _wave_violations(
    facts: DataFrame, acc_df: DataFrame, cap: int | None, out_path: str, n_files: int
) -> list[Any]:
    """Row rules over one wave's facts, read by two jobs that share only the
    cached facts and so overlap (guide §2.6).  One counts, uncapped, each
    (partition, rule) cell's ``n_viol`` and ``n_new`` (keys the baseline
    does not accept): gates, report totals and the ledger read these.  The
    other writes the cell's first *cap* rows by (clip_id, observed) to
    *out_path*: the cap bounds output only (SURVEY §2.8)."""

    def _count() -> list[Any]:
        viol = evaluate_row_rules(facts)
        viol = viol.withColumn("vkey", violation_key(viol)).join(acc_df, "vkey", "left")
        return viol.groupBy("partition", "rule_id").agg(
            F.count(F.lit(1)).alias("n_viol"),
            F.count(F.when(F.col("accepted").isNull(), 1)).alias("n_new"),
        ).collect()

    def _write() -> None:
        viol = evaluate_row_rules(facts)
        if cap is not None:
            cell = Window.partitionBy("rule_id", "partition")
            rank = F.row_number().over(cell.orderBy("clip_id", "observed"))
            viol = viol.withColumn("_rk", rank).filter(F.col("_rk") <= cap).drop("_rk")
        viol.repartition(n_files).write.mode("overwrite").parquet(out_path)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_count, f_write = pool.submit(_count), pool.submit(_write)
        f_write.result()
        return f_count.result()


def _wave_partials(
    facts: DataFrame,
) -> tuple[list[Any], dict[str, dict[str, list[int]]]]:
    """The wave's partition aggregates and its quantile-sketch count arrays
    (column -> partition -> per-bin counts).  Both read the already-filled
    facts cache and are independent, so they overlap (guide §2.6); see
    rules.qsk_bin for why the sketch is a separate groupBy."""
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_aggs = pool.submit(lambda: partition_aggregates(facts).collect())
        f_qsk = pool.submit(
            lambda: qsketch_counts_multi(facts, NUMERIC_STATS_COLUMNS).collect()
        )
        aggs = f_aggs.result()
        qsk_rows = f_qsk.result()
    nbins_by_col = {s.name: s.nbins for s in NUMERIC_STATS_COLUMNS}
    qsk_by_col: dict[str, dict[str, list[int]]] = {
        s.name: {} for s in NUMERIC_STATS_COLUMNS
    }
    for r in qsk_rows:
        arr = qsk_by_col[r["col"]].setdefault(
            r["part"], [0] * nbins_by_col[r["col"]]
        )
        arr[int(r["bin"])] = int(r["n"])
    return aggs, qsk_by_col


def _empty_partials() -> dict[str, Any]:
    """``partition_aggregates``' row for a partition with zero rows."""
    d: dict[str, Any] = {
        "rows": 0,
        "transcript_null": 0,
        "undecodable": 0,
        "dur_hist": [0] * (len(DUR_BIN_EDGES) - 1),
    }
    for spec in NUMERIC_STATS_COLUMNS:
        d[f"{spec.name}_null"] = 0
        for stat in ("min", "max", "mean"):
            d[f"{spec.name}_{stat}"] = None
    return d | {f"sr_{v}": 0 for v in ALLOWED_SR}


def _ledger_entries(
    wave: list[str], aggs: list[Any], qsk_by_col: dict[str, dict[str, list[int]]],
    rule_stats: list[Any], cap: int | None,
) -> dict[str, dict[str, Any]]:
    """Fold one wave's per-rule counts and partition partials into one
    ledger entry per partition (driver-side, wave-sized).  ``suppressed`` is
    exact: the write ranks each (rule, partition) cell 1..n_viol and keeps
    min(n_viol, cap) rows.  A listed part= directory with ZERO rows produces
    no aggregate row; it still gets an entry, or every resume would KeyError
    on it and the run could never converge."""
    part_rules: dict[str, dict[str, list[int]]] = {}
    for r in rule_stats:
        part_rules.setdefault(r["partition"], {})[r["rule_id"]] = [
            int(r["n_viol"]), int(r["n_new"])
        ]
    partials = {r["part"]: r.asDict() for r in aggs}
    out: dict[str, dict[str, Any]] = {}
    for part in wave:
        d = partials.get(part) or _empty_partials()
        rules = part_rules.get(part, {})
        out[part] = {
            "rows": d["rows"],
            "transcript_null": d["transcript_null"],
            "undecodable": d["undecodable"],
            "dur_hist": [int(x) for x in d["dur_hist"]],
            "colstats": {
                spec.name: {
                    "null": int(d[f"{spec.name}_null"]),
                    "min": d[f"{spec.name}_min"],
                    "max": d[f"{spec.name}_max"],
                    "mean": (
                        float(d[f"{spec.name}_mean"])
                        if d[f"{spec.name}_mean"] is not None
                        else None
                    ),
                    "qsk": qsk_by_col[spec.name].get(part, [0] * spec.nbins),
                }
                for spec in NUMERIC_STATS_COLUMNS
            },
            "sr_counts": {str(v): int(d[f"sr_{v}"]) for v in ALLOWED_SR},
            "suppressed": 0 if cap is None else sum(
                max(nv - cap, 0) for nv, _n_new in rules.values()
            ),
            "rule_counts": rules,
        }
    return out


def _neardup_stage(
    spark: SparkSession, cfg: RunConfig, clips: DataFrame, ledger: Ledger,
    data_sigs: dict[str, str], accepted_clones: list[str],
) -> tuple[DataFrame, DataFrame, dict[str, Any]]:
    """Near-dup transcript clone groups: the cluster frame, its violation
    rows and the report's ``metrics.neardup`` section.

    This is the reference's core clone-group loop (pairwise matches ->
    transitive groups -> baseline diff -> fail-on-new gate,
    baseline/diff.py:23-32 + report/document/findings.py:96-115) over the
    composed dedup ladder.  Clusters are keyed "<min_member_id>|<size>"
    (the sorted-group-id convention, clone_baseline.py:511-527; SIZE is
    part of the identity, so a cluster that grows or shrinks re-gates as
    NEW), diffed against the baseline's accepted `clones` section, and
    surfaced as one violation row per cluster plus ONE table-scope verdict
    (drift-rule convention — clusters span partitions, so the dense
    per-partition grid must not claim them; `partition` on the violation
    row is min(part) for reporting only).

    The ladder (LSH -> exact verify -> connected components) is the run's
    most expensive stage and is CORPUS-GLOBAL, so it gets its own
    signature-keyed resume: the baseline-independent cluster frame
    (cluster_id, size, partition) is materialized once per (corpus data
    signature, ladder config) and reused on re-runs — only the cheap
    known/new join against the baseline's clones section re-derives (a
    baseline accept cycle must NOT force a re-cluster; neither must a crash
    between sinks).  The ledger entry rides a reserved pseudo-partition key
    (NUL byte — can't collide with a directory name) in the same
    append-only segments, and resume additionally demands the parquet
    _SUCCESS marker so a torn write never passes."""
    nd_key = "\x00neardup"
    nd_scratch = os.path.join(cfg.out_dir, "neardup_scratch")
    nd_clusters_path = os.path.join(cfg.out_dir, "neardup_clusters")
    nd_config = {
        "sigs": data_sigs,
        "threshold": cfg.neardup_threshold,
        "max_bucket": cfg.neardup_max_bucket,
    }
    nd_sig = hashlib.sha256(json.dumps(nd_config, sort_keys=True).encode()).hexdigest()
    nd_prev = ledger.partitions.get(nd_key)
    nd_resumed = bool(
        nd_prev
        and nd_prev.get("neardup_sig") == nd_sig
        and os.path.exists(os.path.join(nd_clusters_path, "_SUCCESS"))
    )
    if not nd_resumed:
        from codeclone_spark.operators.dedup import lsh_verified_pairs
        from codeclone_spark.operators.graph import connected_components

        ndocs = clips.select(
            F.col("clip_id").alias("doc_id"), "part", "transcript"
        ).filter(F.col("transcript").isNotNull() & (F.length("transcript") > 0))
        # one scratch dir for the whole ladder: the verified-pairs stage
        # materializes its LSH candidates there ("cands" — exchange reuse
        # does NOT survive AQE at scale, see lsh_verified_pairs docstring)
        # and connected_components roots its iteration there ("edges",
        # "round=<k>") — filenames are disjoint by construction
        nd_edges = lsh_verified_pairs(
            ndocs, "doc_id", "transcript",
            max_bucket=cfg.neardup_max_bucket or None,
            threshold=cfg.neardup_threshold,
            scratch_dir=nd_scratch,
        )
        comps = connected_components(nd_edges, scratch_dir=nd_scratch)
        comps.join(
            ndocs.select(F.col("doc_id").alias("id"), "part"), "id"
        ).groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("size"),
            F.min("part").alias("partition"),
        ).write.mode("overwrite").parquet(nd_clusters_path)
        shutil.rmtree(nd_scratch)  # resume keys on the clusters, not on it
        ledger.record(nd_key, {"neardup_sig": nd_sig})
        ledger.save("neardup")
    acc_ck = F.broadcast(
        local_frame(
            spark,
            [(k,) for k in sorted(accepted_clones)] or [("\x00never",)],
            "ckey string",
        ).withColumn("known", F.lit(True))
    )
    # every consumer (summary agg, violation sink, baseline keys) reads the
    # materialized cluster frame — a tiny parquet scan + one broadcast
    # join, no persist to leak
    clusters = (
        spark.read.parquet(nd_clusters_path)
        .withColumn(
            "ckey",
            F.concat_ws("|", "cluster_id", F.col("size").cast("string")),
        )
        .join(acc_ck, "ckey", "left")
    )
    ndr = clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("n_new"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("n_members"),
        F.coalesce(F.max("size"), F.lit(0)).alias("largest"),
    ).collect()[0]
    metrics = {
        "resumed": nd_resumed,
        "threshold": cfg.neardup_threshold,
        "n_clusters": int(ndr["n_clusters"]),
        "n_new": int(ndr["n_new"]),
        "n_known": int(ndr["n_clusters"]) - int(ndr["n_new"]),
        "n_members": int(ndr["n_members"]),
        "largest_cluster": int(ndr["largest"]),
    }
    # observed carries only baseline-independent facts (size), so the run
    # digest is stable across accept cycles — known/new lives in the
    # verdict + metrics, exactly like the vkey-accepted rules
    viol = clusters.select(
        F.lit(NEARDUP_RULE_ID).alias("rule_id"),
        "partition",
        F.col("cluster_id").alias("clip_id"),
        F.concat_ws("", F.lit("size="), F.col("size").cast("string")).alias(
            "observed"
        ),
        F.lit("near-dup cluster accepted in baseline clones").alias("expected"),
        F.lit(RULE_SEVERITY[NEARDUP_RULE_ID]).alias("severity"),
    )
    return clusters, viol, metrics


def _gate_counts(
    uniq_viol: DataFrame, acc_df: DataFrame, ledger: Ledger, all_parts: list[str],
    neardup_metrics: dict[str, Any], directives: list[tuple[str, str]],
) -> tuple[list[tuple[str, str, int, int]], int]:
    """The run's count table and the number of new violations suppression
    directives turned into debt.

    The table is one ``(partition, rule_id, n_viol, n_new)`` tuple per
    (partition, rule) cell with a violation, plus the near-dup cell when
    that stage ran, already net of directives.
    The verdict grid, the near-dup verdict, the review queue and the
    findings totals all read it.  It is as large as the ledger's rule
    counts, which the driver holds anyway.  Its cells come from:

    - row rules: the ledger's TRUE tallies, aggregated before the exemplar
      cap in the wave pass
    - ``uniq:clip_id``, which never passes through a wave: diffed here
      against the accepted keys (the reference's diff_clone_groups set
      difference, baseline/diff.py:23-32) and collected from the groupBy
    - near-dup clusters: one TABLE_SCOPE cell from the stage's metrics,
      zero clusters included.
      Their acceptance lives in the baseline `clones` section keyed
      "<min_id>|<size>" (a vkey lacks the size, so a grown cluster would
      silently stay accepted).  The dense verdict grid drops this cell
      (TABLE_SCOPE is not a partition); ``_neardup_verdict`` reads it.

    A directive zeroes ``n_new`` of every cell it matches: a gate-level
    allowlist, the violation rows stay in the output."""
    uniq_keyed = uniq_viol.withColumn("vkey", violation_key(uniq_viol))
    cells = sorted(
        (r["partition"], r["rule_id"], int(r["n_viol"]), int(r["n_new"]))
        for r in uniq_keyed.join(acc_df, "vkey", "left")
        .groupBy("partition", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_viol"),
            F.sum(
                F.when(F.col("accepted").isNull(), 1).otherwise(0)
            ).alias("n_new"),
        )
        .collect()
    )
    cells += [
        (p, rid, int(nv), int(nn))
        for p in all_parts
        if p in ledger.partitions
        for rid, (nv, nn) in sorted(
            ledger.partitions[p].get("rule_counts", {}).items()
        )
    ]
    if neardup_metrics:
        cells.append((
            TABLE_SCOPE,
            NEARDUP_RULE_ID,
            neardup_metrics["n_clusters"],
            neardup_metrics["n_new"],
        ))
    counts: list[tuple[str, str, int, int]] = []
    n_suppressed = 0
    for part, rid, n_viol, n_new in cells:
        if any(d == rid and d_part in ("*", part) for d, d_part in directives):
            n_suppressed += n_new
            n_new = 0
        counts.append((part, rid, n_viol, n_new))
    return counts, n_suppressed


def _table_quantiles(table_stats: dict[str, Any]) -> dict[str, dict[str, Any]]:
    """Table-level p50/p95/p99 per registry column from the merged
    fixed-bin sketches (mergeable across waves/resumes — the ledger never
    rescans completed partitions)."""
    colstats = table_stats.get("colstats", {})
    return {
        spec.name: {
            p: bl.sketch_quantile(
                colstats.get(spec.name, {}).get("qsk", []), spec.bin_width, q
            )
            for p, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
        }
        for spec in NUMERIC_STATS_COLUMNS
    }


def _skipped(rule_id: str, why: str) -> tuple:
    """A passing table-scope verdict for a check that could not run."""
    return (TABLE_SCOPE, rule_id, True, f"{rule_id}: skipped ({why})", "known")


def _drift_verdicts(
    gates: GateConfig, snapshot: dict[str, Any] | None, table_stats: dict[str, Any],
    quantiles_by_col: dict[str, dict[str, Any]],
) -> tuple[list[tuple], dict[str, float]]:
    """Table-scope drift verdicts and their statistics: driver-side math on
    the merged mergeable partials against the snapshot."""
    if snapshot is None:
        return [_skipped(rid, "no trusted baseline") for rid in DRIFT_RULE_IDS], {}
    verdicts: list[tuple] = []
    metrics: dict[str, float] = {}
    b_hist = snapshot["histograms"]["dur_ms"]["counts"]
    c_hist = table_stats["dur_hist"]
    b_sr = snapshot["histograms"]["sr_hz"]["counts"]
    c_sr = [table_stats["sr_counts"].get(str(v), 0) for v in ALLOWED_SR]
    checks = [
        ("drift:psi:dur_ms", bl.psi(b_hist, c_hist), gates.psi_max),
        ("drift:ks:dur_ms", bl.ks_stat(b_hist, c_hist), gates.ks_max),
        ("drift:psi:sr_hz", bl.psi(b_sr, c_sr), gates.psi_max),
    ]
    # quantile drift per registry column: max relative delta of p50/p95/p99
    # vs snapshot (reference numeric-delta gating, baseline/diff.py:35-108);
    # a baseline written before a column joined the registry simply skips
    # that column's gate
    for spec in NUMERIC_STATS_COLUMNS:
        rid = f"drift:quantile:{spec.name}"
        b_q = (snapshot["stats"].get(spec.name) or {}).get("quantiles") or {}
        if not b_q:
            verdicts.append(_skipped(rid, "baseline has no quantiles"))
            continue
        rel = 0.0
        for p in ("p50", "p95", "p99"):
            bq, cq = b_q.get(p), quantiles_by_col[spec.name].get(p)
            if bq is not None and cq is not None:
                # floor the denominator at one sketch bin: deltas below
                # the sketch's resolution are not meaningful drift
                rel = max(rel, abs(cq - bq) / max(abs(bq), spec.bin_width))
        checks.append((rid, rel, gates.quantile_rel_max))
    for rid, val, mx in checks:
        ok = val <= mx
        metrics[rid] = round(val, 6)
        reason = (
            f"{rid}: ok (stat={val:.6f} <= max={mx:g})"
            if ok
            else f"{rid}: stat={val:.6f} exceeds max={mx:g}"
        )
        verdicts.append((TABLE_SCOPE, rid, ok, reason, "new" if not ok else "known"))
    return verdicts, metrics


def _schema_verdicts(
    current_schema: dict[str, str], snapshot: dict[str, Any] | None
) -> tuple[list[tuple], dict[str, Any], list[str]]:
    """Schema-evolution verdicts vs the snapshot, the diff itself and any
    warnings (reference api_surface comparison wired into
    baseline/diff.py:84-89: removed/type-change are breaking verdicts,
    added is informational)."""
    baseline_cols = ((snapshot or {}).get("schema") or {}).get("columns") or {}
    if not baseline_cols:
        return [_skipped(rid, "no baseline schema") for rid in SCHEMA_RULE_IDS], {}, []
    sdiff = schema_diff(current_schema, baseline_cols)
    verdicts = []
    for rid, changes in (
        ("schema:removed", sdiff["removed"]),
        ("schema:type_change", [f"{c}:{b}->{n}" for c, b, n in sdiff["type_changed"]]),
    ):
        ok = not changes
        reason = (
            f"{rid}: ok (no breaking schema change)"
            if ok
            else f"{rid}: {', '.join(changes)}"
        )
        verdicts.append((TABLE_SCOPE, rid, ok, reason, "known" if ok else "new"))
    warnings = []
    if sdiff["added"]:
        warnings.append(
            "schema: added columns (non-breaking): " + ", ".join(sdiff["added"])
        )
    return verdicts, sdiff, warnings


def _neardup_verdict(
    gates: GateConfig, neardup_metrics: dict[str, Any],
    counts: list[tuple[str, str, int, int]], rows: int,
) -> tuple:
    """ONE table-scope near-dup verdict over the table's *rows*, failing
    on NEW clusters (reference fail_on_new semantics,
    surfaces/cli/execution.py) by ``gate_verdict``'s budget check, in the
    stage's own wording.  The new count is the count table's near-dup
    cell, so a '*'-scoped suppression directive has already turned new
    clusters into accepted debt."""
    nd_n, nd_new = neardup_metrics["n_clusters"], neardup_metrics["n_new"]
    nd_eff = next(nn for _p, rid, _nv, nn in counts if rid == NEARDUP_RULE_ID)
    nd_ok, _, novelty = gate_verdict(gates, NEARDUP_RULE_ID, nd_n, nd_eff, rows)
    nd_budget, nd_pm = gates.budget(NEARDUP_RULE_ID)
    if nd_ok and nd_n == 0:
        reason = f"{NEARDUP_RULE_ID}: ok (0 clusters)"
    elif nd_ok:
        reason = (
            f"{NEARDUP_RULE_ID}: ok ({nd_n} cluster(s), {nd_eff} new"
            + (", suppressed by directive" if nd_eff < nd_new else "")
            + ", within budget)"
        )
    else:
        reason = (
            f"{NEARDUP_RULE_ID}: {nd_eff} new near-dup cluster(s) "
            f"exceed budget (max_count={'unset' if nd_budget is None else nd_budget}"
            + ("" if nd_pm is None else f", max_permille={_java_double(nd_pm)}")
            + ")"
        )
    return (TABLE_SCOPE, NEARDUP_RULE_ID, nd_ok, reason, novelty)


def _review_queue(counts: list[tuple[str, str, int, int]]) -> list[dict[str, Any]]:
    """Derived triage queue: the top-k (partition, rule) cells of the count
    table ranked by severity-weighted NEW-violation count (reference
    review-queue / hotlist surfaces, report/suggestions.py +
    report/document/derived.py, sorted (-count, id) like
    _findings_groups.py:231).  A driver-side sort of the count table, which
    is already net of suppression directives, so accepted/allowlisted debt
    never ranks.  Python orders ``str`` by code point, as Spark's binary
    string order does."""
    scored = [
        (_SEV_WEIGHT[RULE_SEVERITY[rid]] * n_new, part, rid, n_new)
        for part, rid, _n_viol, n_new in counts
        if n_new > 0
    ]
    scored.sort(key=lambda c: (-c[0], c[1], c[2]))
    return [
        {
            "partition": part,
            "rule_id": rid,
            "n_new": n_new,
            "severity": RULE_SEVERITY[rid],
            "score": score,
            "action": RULE_BY_ID[rid].action,
        }
        for score, part, rid, n_new in scored[:REVIEW_QUEUE_K]
    ]


def _write_sinks(
    cfg: RunConfig, all_viol: DataFrame, verdicts: DataFrame
) -> tuple[str, str]:
    """Write the violations and verdicts sinks; returns their paths.

    Default: repartition(1)+sortWithinPartitions = deterministic total
    order without orderBy's range-sampling pre-job; right for the tiny
    report tables a single-tenant run produces.  ``partitioned_sinks``:
    the cluster-scale shape — hash-distribute rows by rule_id (Exchange
    hashpartitioning, never SinglePartition) and write a rule_id=<id>
    directory per rule, so writers run in parallel and per-rule consumers
    prune at the directory level.  Rows stay deterministically sorted
    WITHIN each rule; the run digest folds per-rule digests, so it is
    independent of the layout."""
    violations_path = os.path.join(cfg.out_dir, "violations")
    verdicts_path = os.path.join(cfg.out_dir, "verdicts")

    def _write(df: DataFrame, path: str, *order: str) -> None:
        if cfg.partitioned_sinks:
            df.repartition(F.col("rule_id")).sortWithinPartitions(
                *order
            ).write.partitionBy("rule_id").mode("overwrite").parquet(path)
        else:
            df.repartition(1).sortWithinPartitions(*order).write.mode(
                "overwrite"
            ).parquet(path)

    verdict_order = (
        ("rule_id", "partition") if cfg.partitioned_sinks else ("partition", "rule_id")
    )
    # The two sink jobs are independent (different inputs past the shared
    # cached frames, different output dirs): submit both and let the second
    # back-fill the first's straggler tail (guide §2.6 overlapping
    # independent jobs).  Each write's own commit protocol is untouched.
    viol_order = ("rule_id", "partition", "clip_id", "observed")
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(_write, all_viol, violations_path, *viol_order),
            pool.submit(_write, verdicts, verdicts_path, *verdict_order),
        ]
        for fut in futs:
            fut.result()
    return violations_path, verdicts_path


def _rule_digests(final_viol: DataFrame) -> str:
    """The run digest: per-rule digests over the sorted rows, folded on the
    driver, so it is independent of the sink layout."""
    row = F.concat_ws("|", "rule_id", "partition", "clip_id", "observed")
    rule_rows = final_viol.groupBy("rule_id").agg(
        F.sha2(F.concat_ws(";", F.sort_array(F.collect_list(row))), 256).alias(
            "digest"
        ),
    ).collect()
    folded = ";".join(sorted(f"{r['rule_id']}:{r['digest']}" for r in rule_rows))
    return hashlib.sha256(folded.encode()).hexdigest()


def _findings(
    ledger: Ledger, all_parts: list[str], counts: list[tuple[str, str, int, int]],
    n_suppressed_directive: int, failed: list[tuple[str, str, str]],
) -> dict[str, Any]:
    """The report's ``findings`` section.  True totals: the count table's
    per-rule ``n_viol`` (pre-cap for row rules, one per duplicate group or
    near-dup cluster for the table-scope rules)."""
    by_rule: dict[str, int] = {}
    for _part, rid, n_viol, _n_new in counts:
        if n_viol:
            by_rule[rid] = by_rule.get(rid, 0) + n_viol
    by_severity: dict[str, int] = {}
    for rid, n in by_rule.items():
        sev = RULE_SEVERITY[rid]
        by_severity[sev] = by_severity.get(sev, 0) + n
    return {
        "total_violations": sum(by_rule.values()),
        # exemplar rows beyond the per-(rule, partition) cap are counted
        # here, never silently dropped (reference suppressed_* counts)
        "suppressed_exemplars": sum(
            int(ledger.partitions.get(p, {}).get("suppressed", 0)) for p in all_parts
        ),
        # new violations allowlisted by suppression directives
        "suppressed_by_directive": int(n_suppressed_directive),
        "by_rule": dict(sorted(by_rule.items())),
        "by_severity": dict(sorted(by_severity.items())),
        "failed_gates": [
            {"partition": p, "rule_id": r, "reason": reason} for p, r, reason in failed
        ],
    }


def _stats_doc(
    table_stats: dict[str, Any], quantiles_by_col: dict[str, dict[str, Any]]
) -> tuple[dict[str, Any], dict[str, Any]]:
    """The report's (and baseline's) per-column stats and histograms."""
    colstats = table_stats.get("colstats", {})
    rows = table_stats.get("rows", 0)
    stats_doc: dict[str, Any] = {
        spec.name: {
            "count": rows,
            "null_permille": round(
                1000.0 * colstats.get(spec.name, {}).get("null", 0) / max(rows, 1),
                3,
            ),
            "min": colstats.get(spec.name, {}).get("min"),
            "max": colstats.get(spec.name, {}).get("max"),
            "mean": colstats.get(spec.name, {}).get("mean"),
            "quantiles": quantiles_by_col[spec.name],
        }
        for spec in NUMERIC_STATS_COLUMNS
    }
    stats_doc["transcript"] = {
        "count": rows,
        "null_or_empty_permille": round(
            1000.0 * table_stats.get("transcript_null", 0) / max(rows, 1), 3
        ),
    }
    histograms = {
        "dur_ms": {"bin_edges": DUR_BIN_EDGES, "counts": table_stats.get("dur_hist", [])},
        "sr_hz": {
            "values": list(ALLOWED_SR),
            "counts": [table_stats.get("sr_counts", {}).get(str(v), 0) for v in ALLOWED_SR],
        },
    }
    return stats_doc, histograms


def _seal_report(report: dict[str, Any], run_digest: str, out_dir: str) -> None:
    """Add the integrity digests to the canonical report (timings stay
    outside ``report_sha256``) and write it to ``report.json``."""
    body = _round_floats(
        {k: v for k, v in report.items() if k not in ("elapsed_sec", "phases")}
    )
    report["integrity"] = {
        "run_digest": run_digest,
        "report_sha256": hashlib.sha256(
            json.dumps(body, sort_keys=True, separators=(",", ":")).encode()
        ).hexdigest(),
    }
    with open(os.path.join(out_dir, "report.json"), "w") as f:
        json.dump(report, f, sort_keys=True, indent=1)


# --update-baseline inlines accepted sets up to this size in the baseline JSON;
# larger ones go to a parquet side table, anti-joined off the driver.
ACCEPTED_INLINE_MAX = 10_000


def _update_baseline(
    cfg: RunConfig, all_viol: DataFrame, snapshot: dict[str, Any] | None,
    neardup_clusters: DataFrame | None, current_schema: dict[str, str],
    metrics: dict[str, Any],
) -> None:
    """Write this run's snapshot as the new baseline (§3.2: an explicit
    governance action; gates are not enforced against the snapshot just
    written)."""
    novkey = all_viol.filter(F.col("rule_id") != NEARDUP_RULE_ID)
    distinct_keys = (
        novkey.withColumn("vkey", violation_key(novkey)).select("vkey").distinct()
    )
    # one bounded action decides inline vs sidecar: at most
    # ACCEPTED_INLINE_MAX + 1 keys ever reach the driver
    all_keys = [
        r["vkey"]
        for r in distinct_keys.orderBy("vkey")
        .limit(ACCEPTED_INLINE_MAX + 1)
        .collect()
    ]
    ref = None
    if len(all_keys) > ACCEPTED_INLINE_MAX:
        # large debt set: sorted parquet side table, written and
        # digest-folded entirely executor-side (never O(keys) driver)
        ref = bl.write_accepted_sidecar(distinct_keys, cfg.baseline_path)
        all_keys = []
    # clones section: replace this run's family when the stage ran, CARRY
    # FORWARD families from the prior snapshot otherwise — an update run
    # with the stage disabled must not silently un-accept previously
    # accepted clone groups.  Keys are one per clone GROUP (not per member;
    # the reference inlines exactly these in its baseline JSON,
    # clone_baseline.py:511-527), so the driver collect is
    # group-cardinality — orders of magnitude below row counts.
    clones_out = dict(((snapshot or {}).get("clones") or {}))
    if neardup_clusters is not None:
        clones_out[NEARDUP_RULE_ID] = sorted(
            r["ckey"] for r in neardup_clusters.select("ckey").collect()
        )
    bl.write_baseline(
        cfg.baseline_path,
        stats=metrics["stats"],
        histograms=metrics["histograms"],
        uniqueness=metrics["uniqueness"],
        accepted_violations=all_keys,
        schema={"columns": current_schema, "partition_keys": ["part"]},
        accepted_ref=ref,
        clones=clones_out,
    )


def _meta(cfg: RunConfig) -> dict[str, Any]:
    return {
        "generator": {"name": ENGINE_NAME, "version": ENGINE_VERSION},
        "data_dir": cfg.data_dir,
        "gating": cfg.gating,
        "created_at": bl.DEFAULT_CREATED_AT,
    }

"""Physical-plan assertions: the plans we demand at 100 TB must be visible
in .explain output at test scale — partition pruning, column pruning,
broadcast-vs-SMJ join choice, and single-scan (shuffle-free) rule evaluation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from codeclone_spark.operators.rules import evaluate_row_rules
from codeclone_spark.plans.facts import (
    build_facts,
    read_clips,
    read_fixtures_meta,
    read_fixtures_pcm,
)


def _plan(df, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def test_partition_pruning_on_part_filter(spark, tiny_dir):
    clips = read_clips(spark, tiny_dir)
    pruned = clips.filter(F.col("part").isin(["pcm_s16le-b00"]))
    plan = _plan(pruned.select("clip_id"))
    assert "PartitionFilters" in plan
    # the partition filter must actually contain the part predicate
    assert "part" in plan.split("PartitionFilters")[1][:200]


def test_column_pruning_uniqueness_scan(spark, tiny_dir):
    clips = read_clips(spark, tiny_dir)
    ids_only = clips.select("clip_id", "part")
    plan = _plan(ids_only)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # the heavy binary column must NOT be read for the uniqueness pass
    assert "bytes" not in read_schema
    assert "clip_id" in read_schema


def test_fixture_join_broadcast_small(spark, tiny_dir):
    clips = read_clips(spark, tiny_dir)
    facts, decoded = build_facts(
        clips, read_fixtures_meta(spark, tiny_dir), read_fixtures_pcm(spark, tiny_dir)
    )
    plan = _plan(facts)
    decoded.unpersist()
    assert "BroadcastHashJoin" in plan  # tiny fixture meta fits the threshold


def test_fixture_join_sort_merges_under_broadcast_conf(spark, tiny_dir):
    """The phase-B fixture meta join is broadcast by default and
    sort-merged once ``spark.sql.autoBroadcastJoinThreshold=-1`` (the
    cluster-scale fixtures path), with identical facts either way."""
    from codeclone_spark.plans.facts import decode_stage, join_meta

    clips = read_clips(spark, tiny_dir)
    meta = read_fixtures_meta(spark, tiny_dir)
    pcm = read_fixtures_pcm(spark, tiny_dir)

    def meta_join_plan() -> str:
        return _plan(join_meta(decode_stage(clips), meta)).split(
            "== Physical Plan =="
        )[-1]

    def facts_rows() -> list[str]:
        facts, decoded = build_facts(clips, meta, pcm)
        rows = sorted(map(repr, facts.collect()))  # repr: NaN-safe equality
        decoded.unpersist()
        return rows

    default_plan = meta_join_plan()
    assert "BroadcastHashJoin" in default_plan
    assert "SortMergeJoin" not in default_plan
    default_rows = facts_rows()
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        smj_plan = meta_join_plan()
        smj_rows = facts_rows()
    finally:
        spark.conf.set(key, prev)
    assert "SortMergeJoin" in smj_plan
    assert "BroadcastHashJoin" not in smj_plan
    assert smj_rows == default_rows


def test_two_phase_decode_is_map_only(spark, tiny_dir):
    """Phase A of the two-phase facts plan: decode runs directly over the
    scan — the heavy `bytes` column must never enter an Exchange."""
    from codeclone_spark.functions.audio import decode_map_in_pandas
    from codeclone_spark.plans.facts import DECODE_OUT_SCHEMA

    clips = read_clips(spark, tiny_dir)
    decoded = clips.mapInPandas(decode_map_in_pandas, schema=DECODE_OUT_SCHEMA)
    body = _plan(decoded).split("== Physical Plan ==")[-1]
    assert "Exchange" not in body
    assert "MapInPandas" in body


def test_row_rules_are_single_pass_no_shuffle(spark, tiny_dir):
    """All row rules evaluate in one projection+generate over facts — an
    Exchange added by the rule pass would mean a per-rule shuffle creep.
    The facts plan itself shuffles (SNR aggregation, suspect join), so the
    rule plan may hold exactly the facts plan's hash exchanges, no more.
    Counted in the simple explain, which prints each as
    ``Exchange hashpartitioning(...)``."""
    clips = read_clips(spark, tiny_dir)
    facts, decoded = build_facts(
        clips, read_fixtures_meta(spark, tiny_dir), read_fixtures_pcm(spark, tiny_dir)
    )
    facts_body = _plan(facts, "simple").split("== Physical Plan ==")[-1]
    body = _plan(evaluate_row_rules(facts), "simple").split("== Physical Plan ==")[-1]
    decoded.unpersist()
    shuffles = facts_body.count("Exchange hashpartitioning")
    assert shuffles > 0  # the probe sees the facts plan's own shuffles
    assert body.count("Exchange hashpartitioning") == shuffles
    assert "Generate explode" in body


def test_stats_registry_width_adds_zero_wave_jobs(spark):
    """qsketch_counts_multi's claim: EVERY registry column's quantile
    sketch folds into ONE wave job — adding a NumericColSpec (e.g. the
    round-4 spectral_flatness) must not change the Spark job count of the
    sketch pass."""
    from codeclone_spark.operators.rules import (
        NUMERIC_STATS_COLUMNS,
        qsketch_counts_multi,
    )

    assert len(NUMERIC_STATS_COLUMNS) >= 3  # dur_ms, rms, spectral_flatness
    rows = [(f"p{i % 4}", float(i * 40), i / 100.0, i / 200.0) for i in range(64)]
    df = spark.createDataFrame(
        rows, "part string, dur_ms double, rms double, spectral_flatness double"
    )
    sc = spark.sparkContext

    def jobs_for(specs, group):
        sc.setJobGroup(group, "sketch job-count probe")
        try:
            qsketch_counts_multi(df, specs).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    narrow = jobs_for(NUMERIC_STATS_COLUMNS[:2], "qsk_narrow")
    wide = jobs_for(NUMERIC_STATS_COLUMNS, "qsk_wide")
    assert wide == narrow  # zero marginal jobs per added registry column


def test_lsh_verified_pairs_index_is_candidate_confined(spark, tmp_path):
    """The composed LSH→exact-verify plan must confine the inverted shingle
    index with broadcast semi-joins (candidate docs, then candidate pairs)
    BEFORE the quadratic shingle self-join — the property that keeps exact
    verification off the full corpus at 100 TB."""
    from codeclone_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"shared boilerplate text block number {i % 3}") for i in range(24)],
        ["doc_id", "text"],
    )
    pairs = dd.lsh_verified_pairs(
        docs, "doc_id", "text", scratch_dir=str(tmp_path)
    )
    body = _plan(pairs).split("== Physical Plan ==")[-1]
    # shingle index ⋉ candidate ids under each side of the array join
    # (broadcast while the candidate set is small; a shuffled semi-join is
    # the correct fallback when candidates are most of a dup-heavy corpus)
    assert body.count("LeftSemi") >= 2
    assert "CartesianProduct" not in body
    # the doc-CONTENT array side is explicitly shuffle-hash joined: its
    # compressed size fools the broadcast heuristic while its serialized
    # form is whole-corpus text (measured >1 GiB driver abort at 601k docs)
    assert "ShuffledHashJoin" in body


def test_lsh_verified_pairs_scratch_runs_minhash_once(spark, tmp_path):
    """The candidate pairs come from a parquet materialization in
    scratch_dir, so the verify plan contains NO MinHash pipeline at all
    (md5 appears only in MinHash base hashing — the shingle-array side is
    md5-free)."""
    from codeclone_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(i, f"shared boilerplate text block number {i % 3}") for i in range(24)],
        ["doc_id", "text"],
    )
    mat = dd.lsh_verified_pairs(
        docs, "doc_id", "text", scratch_dir=str(tmp_path)
    )
    body = _plan(mat).split("== Physical Plan ==")[-1]
    assert "md5" not in body  # upstream consumed exactly once, via scratch


def test_filter_pushdown_to_parquet(spark, tiny_dir):
    clips = read_clips(spark, tiny_dir)
    q = clips.filter(F.col("sr_hz") == 16000).select("clip_id")
    plan = _plan(q)
    assert "PushedFilters" in plan
    assert "sr_hz" in plan.split("PushedFilters")[1][:200]


def test_text_queries_prune_document_columns(spark):
    """Text/dedup operators over `documents` must read only the columns
    they use (ReadSchema pruned to doc_id/text), not the whole table."""
    from codeclone_spark.operators import dedup as dd

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert len(d.columns) > 2  # the pruning claim is non-trivial
    sigs = dd.minhash_signatures(dd.char_shingles(d, "doc_id", "text", dedupe=False))
    plan = sigs._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan and "ReadSchema: struct<doc_id:bigint,text:string>" in scan[0], scan


def test_local_frame_matches_create_dataframe(spark):
    """``schema.local_frame`` returns what ``createDataFrame(rows, schema)``
    returns, but plans as a JVM-held local relation: no Python-worker
    ``Scan ExistingRDD`` under any action."""
    from codeclone_spark.schema import local_frame

    ddl = "s string, n long, b boolean, ns string, v array<double>"
    rows = [
        ("a", 1, True, None, [1.0, 2.5]),
        ("b", 2**40, False, "x", []),
        ("c", -3, None, None, None),
    ]
    for data in (rows, []):
        got, want = local_frame(spark, data, ddl), spark.createDataFrame(data, ddl)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        body = _plan(got, "simple").split("== Physical Plan ==")[-1]
        assert "LocalTableScan" in body
        assert "ExistingRDD" not in body


def test_runner_driver_frames_are_local_relations(spark, tiny_dir, tiny_run):
    """The run's driver-built frames (inline accepted keys, and the
    verdicts sink: the driver-evaluated cells and the grid's partition and
    rule lists) are local relations: an ``ExistingRDD`` leaf would pickle
    them through Python workers on every action that reads them."""
    from codeclone_spark.operators.rules import (
        GateConfig,
        build_verdicts,
        evaluate_uniqueness,
        gate_verdict,
    )
    from codeclone_spark.plans.ledger import Ledger
    from codeclone_spark.plans.runner import RunConfig, _accepted_keys, _gate_counts

    out_dir = os.path.dirname(tiny_run.violations_path)
    cfg = RunConfig(data_dir=tiny_dir, out_dir=out_dir)
    acc_df = _accepted_keys(spark, cfg, ["k0", "k1"], {})
    ledger = Ledger(os.path.join(out_dir, "ledger"))
    all_parts = sorted(ledger.partitions)
    ids_only = read_clips(spark, tiny_dir).select("clip_id", "part")
    counts, _ = _gate_counts(
        evaluate_uniqueness(ids_only), acc_df, ledger, all_parts,
        {"n_clusters": 1, "n_new": 1}, [],
    )
    assert ("<table>", "neardup:transcript", 1, 1) in counts
    evaluated = [
        (p, rid, *gate_verdict(GateConfig(), rid, n_viol, n_new, 1))
        for p, rid, n_viol, n_new in counts
    ]
    verdicts = build_verdicts(spark, all_parts, evaluated)
    for df in (acc_df, verdicts):
        body = _plan(df, "simple").split("== Physical Plan ==")[-1]
        assert "ExistingRDD" not in body
        assert "LocalTableScan" in body


def test_runs_leave_nothing_persisted(spark, tiny_dir, tmp_path):
    """A gated run, a baseline update and a near-dup run each release every
    frame they persist — including the uniqueness frame, whose last
    consumer is the baseline update."""
    from codeclone_spark.plans.runner import RunConfig, run

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    base = str(tmp_path / "baseline.json")
    for name, kw in (
        ("gated", {}),
        ("update", {"baseline_path": base, "update_baseline": True}),
        ("neardup", {"neardup_transcript": True}),
    ):
        run(spark, RunConfig(data_dir=tiny_dir, out_dir=str(tmp_path / name), **kw))
        assert persisted() <= before, name


# Spark jobs one tiny gated run() launches.  A ratchet: lower it when a
# change removes jobs; a change that adds jobs raises it and says why.
RUN_JOB_BUDGET = 44
# Spark jobs one connected_components call launches on the three-round
# graph of test_connected_components_job_budget.  A ratchet, like
# RUN_JOB_BUDGET.
CC_JOB_BUDGET = 24


def _newest_job(spark) -> int:
    """Id of the newest job in the status store; counting by job-id range,
    since the runner's pooled threads set no job group to count by."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()  # job starts reach the store async
    jobs = sc.statusStore().jobsList(None)  # newest first
    return int(jobs.apply(0).jobId()) if jobs.size() else -1


def test_run_job_budget(spark, tiny_dir, tiny_run, tmp_path):
    """Counts the jobs of one tiny ``run()``."""
    from codeclone_spark.plans.runner import RunConfig, run

    mark = _newest_job(spark)
    run(spark, RunConfig(data_dir=tiny_dir, out_dir=str(tmp_path / "out")))
    n_jobs = _newest_job(spark) - mark
    assert n_jobs <= RUN_JOB_BUDGET, n_jobs


def test_connected_components_job_budget(spark, tmp_path):
    """Counts the jobs of one ``connected_components`` call on near-dup
    pairs plus a 3-hop chain, which takes three rounds: labeled after two,
    confirmed by the third."""
    from codeclone_spark.operators.graph import connected_components
    from codeclone_spark.schema import local_frame

    pairs = [(f"d{i:02d}a", f"d{i:02d}b") for i in range(20)]
    chain = [("c0", "c1"), ("c1", "c2"), ("c2", "c3")]
    edges = local_frame(spark, pairs + chain, "id_a string, id_b string")
    mark = _newest_job(spark)
    comps = connected_components(edges, scratch_dir=str(tmp_path / "cc"))
    n_jobs = _newest_job(spark) - mark
    assert n_jobs <= CC_JOB_BUDGET, n_jobs
    # one edge write, one write per round
    assert sorted(os.listdir(tmp_path / "cc")) == [
        "edges", "round=0", "round=1", "round=2",
    ]
    assert {r["id"]: r["cluster_id"] for r in comps.collect()} == {
        **{a: a for a, _ in pairs},
        **{b: a for a, b in pairs},
        **dict.fromkeys(("c0", "c1", "c2", "c3"), "c0"),
    }

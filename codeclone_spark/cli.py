"""spark-submit entry point.

    spark-submit --py-files codeclone_spark.zip cli.py run \
        --data-dir s3://bucket/clips --out-dir s3://bucket/run1 \
        --baseline baseline.json [--update-baseline] [--wave-size 64]

Exit codes (reference contracts/__init__.py:112-116):
0 ok, 2 contract error (untrusted baseline under gating, unreadable input),
3 gate failure, 5 usage error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from codeclone_spark import EXIT_CONTRACT_ERROR, EXIT_USAGE_ERROR
from codeclone_spark.operators.rules import GateConfig


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="codeclone-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="full validation run")
    r.add_argument("--data-dir", required=True)
    r.add_argument("--out-dir", required=True)
    r.add_argument("--baseline", default=None)
    r.add_argument("--update-baseline", action="store_true")
    r.add_argument("--no-gating", action="store_true")
    r.add_argument("--wave-size", type=int, default=None)
    r.add_argument("--max-count", action="append", default=[],
                   metavar="RULE=N", help="per-rule violation budget")
    r.add_argument("--test-lane-pattern", default=None, metavar="REGEX",
                   help="partitions matching REGEX are the test lane:"
                        " validated + reported, never gate the run")
    r.add_argument("--suppress", action="append", default=[],
                   metavar="RULE:PART",
                   help="suppress new violations of RULE in partition PART"
                        " ('*' = all partitions); repeatable")
    r.add_argument("--partitioned-sinks", action="store_true",
                   help="write violations/verdicts partitioned by rule_id "
                        "(parallel writers; cluster-scale layout) instead "
                        "of one sorted file per sink")
    r.add_argument("--iceberg-table", default=None, metavar="CAT.DB.TBL",
                   help="Iceberg identifier of the clips table: resume "
                        "validity then keys on the table snapshot id "
                        "(one catalog call) instead of local file mtimes")
    r.add_argument("--neardup-transcript", action="store_true",
                   help="near-dup transcript clone groups: LSH -> exact "
                        "verify -> connected components, diffed new-vs-"
                        "known against the baseline 'clones' section; "
                        "NEW clusters gate (accept with --update-baseline)")
    r.add_argument("--neardup-threshold", type=float, default=0.9,
                   metavar="J", help="exact-Jaccard acceptance threshold "
                                     "for a verified near-dup pair")
    r.add_argument("--neardup-max-bucket", type=int, default=1024,
                   help="LSH bucket cap for the candidate stage")
    r.add_argument("--cores", type=int, default=None)
    r.add_argument("--render", default=None, metavar="FMT[,FMT]",
                   help="also render report.md / report.sarif / report.txt "
                        "from the canonical report.json (formats: md, "
                        "sarif, text)")

    d = sub.add_parser(
        "render",
        help="render md/sarif from an existing run's report.json (no Spark)",
    )
    d.add_argument("--out-dir", required=True)
    d.add_argument("--formats", default="md,sarif", metavar="FMT[,FMT]")

    q = sub.add_parser(
        "query",
        help="scoped questions over a completed run's persisted outputs "
             "(report.json + sinks; pyarrow only — no Spark, no "
             "re-analysis; --rule prunes partitioned sinks at the "
             "directory level)",
    )
    q.add_argument("--out-dir", required=True)
    q.add_argument("--rule", default=None, metavar="RULE_ID")
    q.add_argument("--partition", default=None, metavar="PART")
    q.add_argument("--new-only", action="store_true",
                   help="only verdict cells with novelty=new (and their "
                        "exemplar rows): 'what is new vs the baseline'")
    q.add_argument("--failed-gates", action="store_true",
                   help="only failing verdict cells: 'which partitions "
                        "fail rule X'")
    q.add_argument("--limit", type=int, default=20,
                   help="max exemplar rows returned (<=0 = all; true "
                        "totals are always reported)")

    g = sub.add_parser("synth", help="generate synthetic corpus")
    g.add_argument("--out-dir", required=True)
    g.add_argument("--profile", default="tiny")
    g.add_argument("--seed", type=int, default=42)

    k = sub.add_parser(
        "dedup",
        help="near-dup survivor manifest: LSH -> exact verify -> clusters "
             "-> (id, cluster_id, keep, reason) parquet",
    )
    k.add_argument("--input", required=True,
                   help="parquet path of the corpus to deduplicate")
    k.add_argument("--id-col", required=True)
    k.add_argument("--text-col", required=True)
    k.add_argument("--out-dir", required=True)
    k.add_argument("--threshold", type=float, default=0.6,
                   help="exact-Jaccard verification threshold")
    k.add_argument("--max-bucket", type=int, default=1024,
                   help="LSH bucket cap (caps as backpressure)")
    k.add_argument("--cores", type=int, default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    try:
        args = build_parser().parse_args(argv)
    except SystemExit as e:
        return EXIT_USAGE_ERROR if e.code not in (0, None) else 0

    if args.cmd == "synth":
        from codeclone_spark.synth import generate

        m = generate(args.out_dir, profile=args.profile, seed=args.seed)
        print(json.dumps({k: v for k, v in m.items() if k != "planted"}))
        return 0

    if args.cmd == "dedup":
        from pyspark.sql import functions as F

        from codeclone_spark.operators.dedup import lsh_verified_pairs
        from codeclone_spark.operators.graph import (
            connected_components,
            keep_list,
        )
        from codeclone_spark.session import get_spark

        spark = get_spark(app_name="codeclone-spark-dedup", cores=args.cores)
        try:
            df = spark.read.parquet(args.input)
            for c in (args.id_col, args.text_col):
                if c not in df.columns:
                    print(f"CONTRACT_ERROR: column {c!r} not in input",
                          file=sys.stderr)
                    return EXIT_CONTRACT_ERROR
            # one scratch dir for the ladder (candidates + CC rounds)
            scratch = f"{args.out_dir.rstrip('/')}/scratch"
            pairs = lsh_verified_pairs(
                df, args.id_col, args.text_col,
                max_bucket=args.max_bucket, threshold=args.threshold,
                scratch_dir=scratch,
            )
            manifest = keep_list(
                df, args.id_col, connected_components(pairs, scratch_dir=scratch)
            )
            out = f"{args.out_dir.rstrip('/')}/keep_list"
            # partitioned by verdict so purge consumers prune at the
            # directory level (read only reason=near_duplicate)
            (
                manifest.repartition(F.col("reason"))
                .sortWithinPartitions("reason", "id")
                .write.partitionBy("reason")
                .mode("overwrite")
                .parquet(out)
            )
            # nothing reads the scratch once keep_list is written (a
            # remote out dir, such as s3://, keeps it)
            if os.path.isdir(scratch):
                shutil.rmtree(scratch)
            counts = {
                r["reason"]: int(r["n"])
                for r in spark.read.parquet(out)
                .groupBy("reason")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        except Exception as e:
            print(f"CONTRACT_ERROR: {type(e).__name__}: {e}", file=sys.stderr)
            return EXIT_CONTRACT_ERROR
        print(json.dumps({"manifest": out, "by_reason": counts}, sort_keys=True))
        return 0

    if args.cmd == "query":
        from codeclone_spark.plans.report_query import query_run

        try:
            res = query_run(
                args.out_dir,
                rule=args.rule,
                partition=args.partition,
                new_only=args.new_only,
                failed_only=args.failed_gates,
                limit=args.limit,
            )
        except (OSError, ValueError, json.JSONDecodeError, KeyError) as e:
            print(f"CONTRACT_ERROR: {type(e).__name__}: {e}", file=sys.stderr)
            return EXIT_CONTRACT_ERROR
        print(json.dumps(res, sort_keys=True, indent=1))
        return 0

    if args.cmd == "render":
        from codeclone_spark.plans.render import render_outputs

        try:
            written = render_outputs(
                args.out_dir, [f.strip() for f in args.formats.split(",") if f.strip()]
            )
        except (OSError, ValueError, json.JSONDecodeError) as e:
            print(f"CONTRACT_ERROR: {type(e).__name__}: {e}", file=sys.stderr)
            return EXIT_CONTRACT_ERROR
        print(json.dumps({"rendered": written}))
        return 0

    from codeclone_spark.plans.runner import RunConfig, _parse_suppressions, run

    try:  # usage errors exit before any Spark session starts
        gates = GateConfig(max_count={
            k: int(v) for k, _, v in (spec.partition("=") for spec in args.max_count)
        })
    except ValueError as e:
        print(f"usage error: --max-count expects RULE=N, a registered RULE and "
              f"an integer N >= 0 ({e})", file=sys.stderr)
        return EXIT_USAGE_ERROR
    try:
        _parse_suppressions(args.suppress)
    except ValueError as e:
        print(f"usage error: --suppress expects RULE:PART ({e})", file=sys.stderr)
        return EXIT_USAGE_ERROR
    try:
        cfg = RunConfig(
            data_dir=args.data_dir,
            out_dir=args.out_dir,
            baseline_path=args.baseline,
            gating=not args.no_gating,
            update_baseline=args.update_baseline,
            wave_size=args.wave_size,
            test_lane_pattern=args.test_lane_pattern,
            suppressions=list(args.suppress),
            iceberg_table=args.iceberg_table,
            partitioned_sinks=args.partitioned_sinks,
            neardup_transcript=args.neardup_transcript,
            neardup_threshold=args.neardup_threshold,
            neardup_max_bucket=args.neardup_max_bucket,
            gates=gates,
        )
    except ValueError as e:
        print(f"usage error: {e}", file=sys.stderr)
        return EXIT_USAGE_ERROR

    from codeclone_spark.session import get_spark

    spark = get_spark(app_name="codeclone-spark-run", cores=args.cores)
    try:
        res = run(spark, cfg)
    except Exception as e:  # unreadable input etc. -> contract error
        print(f"CONTRACT_ERROR: {type(e).__name__}: {e}", file=sys.stderr)
        return EXIT_CONTRACT_ERROR
    if args.render and res.violations_path:
        from codeclone_spark.plans.render import render_outputs

        render_outputs(
            args.out_dir,
            [f.strip() for f in args.render.split(",") if f.strip()],
        )
    summary = {
        "exit_code": res.exit_code,
        "violations": res.report.get("findings", {}).get("total_violations"),
        "failed_gates": len(res.report.get("findings", {}).get("failed_gates", [])),
        "report": f"{args.out_dir}/report.json",
    }
    print(json.dumps(summary))
    return res.exit_code


if __name__ == "__main__":
    raise SystemExit(main())

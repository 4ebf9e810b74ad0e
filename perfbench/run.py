"""Benchmark of the validation engine, driven through ``plans.runner.run``.

Usage (from the repository root):

    python3 perfbench/run.py --workload incremental --seed 1 --seconds 30 --trace 0

One process per run, as the CLI runs: a ``get_spark(cores=<cpus>)``
session with the engine's defaults and a corpus generated from ``--seed``
(set-up), then the workload's ``run()`` calls, timed.  The first of them is
the first ``run()`` in the process, so the timing includes the JVM's
warm-up, as every CLI invocation does.  Because only one sequence per
process can start cold, a run times exactly one sequence; ``--seconds`` is
its nominal length.  Every ``run()`` is checked (see ``check.py``).
``--trace 1`` runs the same sequence under spans and then replays the
hidden layers (see ``layers.py``); it prints the per-layer metrics instead
of the end-to-end ones.  The last stdout line is the result object; the
line before it, and a file under ``.perfbench_work/``, hold the full
record.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from typing import Any  # noqa: E402

from probes import SparkJobs  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROFILE = "small"  # 32 part= partitions (4 codecs x 8 buckets)
N_CLIPS = 2000  # base rows; the generator adds the planted duplicates
FORGET_SHARE = 0.25

# run_digest prefixes known for (workload, seed, base rows); 20,000 rows is
# the full "small" profile
PINNED_DIGESTS = {
    ("incremental", 42, 2000): "9b0de893d601d493",
    ("incremental", 42, 20000): "7b2a98eb1f229575",
    ("neardup_baseline", 42, 2000): "1446775198ed5623",
}
# near-dup clusters (run() with neardup_transcript=True, and the replayed
# ladder) for (seed, base rows)
PINNED_CLUSTERS = {(42, 2000): 26, (7, 2000): 16}


@dataclass(frozen=True)
class Workload:
    neardup: bool  # RunConfig.neardup_transcript
    update_baseline: bool  # write the trusted baseline (else run ungated)
    resume: bool  # then forget a quarter of the partitions and resume
    why: str


WORKLOADS = {
    "incremental": Workload(
        neardup=False,
        update_baseline=False,
        resume=True,
        why="a cold validation of the whole corpus, then a resume after "
        "forgetting a seed-chosen quarter of the partitions: decode, facts, "
        "row rules, wave aggregates, sinks, the ledger's write and read paths",
    ),
    "neardup_baseline": Workload(
        neardup=True,
        update_baseline=True,
        resume=False,
        why="a cold validation with the near-dup ladder (LSH, exact verify, "
        "connected components) that writes the trusted baseline; no resume",
    ),
}

END_TO_END = {
    "validate_s": "s",
    "clips_per_s": "1/s",
    "setup_s": "s",
}

RUNNER_PHASES = (
    "discovery",
    "wave_facts_and_row_rules",
    "wave_partition_aggs",
    "wave_ledger_digests",
    "neardup_clusters",
    "uniqueness_and_ndv",
    "final_writes",
    "report_aggs",
)
SPARK_FIELDS = SparkJobs.FIELDS + ("core_busy_ratio",)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = [f"runner.{p}_s" for p in RUNNER_PHASES]
    names += [f"spark.{f}" for f in SPARK_FIELDS]
    names.append("pyworker.cpu_s")
    names += LAYER_METRICS
    names += ["mem.peak_rss_mb", "trace.span_coverage", "trace.overhead_ratio"]
    return names


LAYER_METRICS = [
    "audio.decode_s",
    "audio.rows",
    "audio.undecodable_rows",
    "audio.pyworker_cpu_s",
    "audio.executor_run_s",
    "audio.input_mb",
    "facts.assemble_s",
    "facts.suspect_rows",
    "facts.suspect_parts",
    "facts.snr_yield",
    "facts.shuffle_mb",
    "facts.pyworker_cpu_s",
    "rules.row_rules_s",
    "rules.violation_rows",
    "rules.suppressed_exemplars",
    "rules.partition_aggs_s",
    "rules.qsketch_s",
    "rules.uniqueness_s",
    "rules.shuffle_mb",
    "ledger.load_s",
    "ledger.save_s",
    "ledger.segments",
    "ledger.bytes_written",
    "ledger.hit_ratio",
    "baseline.load_s",
    "dedup.candidates_s",
    "dedup.candidate_pairs",
    "dedup.suppressed_buckets",
    "dedup.verify_s",
    "dedup.verified_pairs",
    "dedup.verify_yield",
    "dedup.shuffle_mb",
    "graph.cc_s",
    "graph.cc_rounds",
    "graph.cc_edges",
    "graph.clusters",
]


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith(("_ratio", "_yield", "_coverage")):
        return "ratio"
    return "bytes" if last == "bytes_written" else "count"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--clips", type=int, default=N_CLIPS,
        help="base rows of the generated corpus (default %(default)s)",
    )
    return ap.parse_args(argv)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
    )


def corpus_properties(data_dir: str, manifest: dict[str, Any]) -> dict[str, Any]:
    """Input properties a claim can cite (read with pyarrow, no Spark)."""
    import numpy as np
    import pyarrow.dataset as pa_ds

    tbl = pa_ds.dataset(
        os.path.join(data_dir, "clips"), format="parquet", partitioning="hive"
    ).to_table(columns=["dur_ms", "transcript"])
    dur = np.array([d for d in tbl.column("dur_ms").to_pylist() if d is not None])
    texts = [t for t in tbl.column("transcript").to_pylist() if t]
    return {
        "clips": manifest["n_total_rows"],
        "partitions": len(manifest["partitions"]),
        "clip_bytes": _dir_bytes(os.path.join(data_dir, "clips")),
        "dur_ms_quantiles": {
            f"p{q}": float(np.percentile(dur, q)) for q in (10, 50, 90, 99)
        },
        "transcript_exact_copy_share": 1.0 - len(set(texts)) / max(len(texts), 1),
    }


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.work = work
        self.data = os.path.join(work, "corpus")
        self.baseline = os.path.join(work, "baseline", "baseline.json")
        self.out = os.path.join(work, "op-out")
        self.ops: list[dict[str, Any]] = []
        self.check_self_test = ["no op returned a report"]
        self.setup: dict[str, Any] = {}
        self.spark = None

    # ---------------------------------------------------------------- set-up
    def start(self) -> None:
        from probes import ProcTree, RssSampler

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        os.makedirs(os.path.dirname(self.baseline))
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        # every JVM (the spark-submit launcher too) keeps its temp files in
        # the checkout; -UsePerfData stops HotSpot writing /tmp/hsperfdata_*
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.tree = ProcTree()
        self.rss = RssSampler(self.tree)

        from codeclone_spark import synth
        from codeclone_spark.session import get_spark

        t = time.monotonic()
        self.cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(app_name="perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session_s"] = time.monotonic() - t

        t = time.monotonic()
        self.manifest = synth.generate(
            self.data, profile=PROFILE, seed=self.args.seed, n_rows=self.args.clips
        )
        self.setup["generate_s"] = time.monotonic() - t
        self.props = corpus_properties(self.data, self.manifest)
        parts = sorted(self.manifest["partitions"])
        n_forget = max(1, round(len(parts) * FORGET_SHARE))
        self.forget = sorted(random.Random(self.args.seed).sample(parts, n_forget))
        if self.wl.resume:
            self.props["forgotten_partition_share"] = len(self.forget) / len(parts)

        from check import Expect
        from codeclone_spark import EXIT_GATE_FAILURE, EXIT_OK

        # without a baseline nothing is accepted debt, so the planted
        # violations fail the gate: that is the expected outcome
        self.expect = Expect(
            self.manifest["planted_counts"],
            exit_code=EXIT_OK if self.wl.update_baseline else EXIT_GATE_FAILURE,
            digest=PINNED_DIGESTS.get((self.args.workload, self.args.seed, self.args.clips)),
            n_clusters=(
                PINNED_CLUSTERS.get((self.args.seed, self.args.clips))
                if self.wl.neardup
                else None
            ),
        )
        self.setup["setup_s"] = time.monotonic() - T_PROCESS

    def _run(self):
        from codeclone_spark.plans.runner import RunConfig, run

        cfg = RunConfig(
            data_dir=self.data,
            out_dir=self.out,
            baseline_path=self.baseline if self.wl.update_baseline else None,
            update_baseline=self.wl.update_baseline,
            neardup_transcript=self.wl.neardup,
        )
        return run(self.spark, cfg)

    # ------------------------------------------------------------ timed ops
    def sequence(self, probe=None) -> float:
        """The workload's timed ``run()`` calls: a cold run into a fresh out
        dir and, for a resume workload, a resume once the seed-chosen
        quarter of the partitions is forgotten (untimed).  Returns their
        summed wall."""
        from codeclone_spark.plans.ledger import Ledger

        if not self._op("full", probe) or not self.wl.resume:
            return sum(r["wall_s"] for r in self.ops)
        led = Ledger(os.path.join(self.out, "ledger"))
        led.forget(self.forget)
        led.save(tag="bench-forget")
        self._op("resume", probe)
        return sum(r["wall_s"] for r in self.ops)

    def _op(self, name: str, probe) -> bool:
        """One checked ``run()``; returns False if it raised."""
        from check import clusters_of, digest_of, problems, self_test
        from probes import busy_probe, cpu_steal, steal_pct

        rec: dict[str, Any] = {"op": name, "traced": probe is not None}
        rec["busy_probe_s"] = busy_probe()
        st0 = cpu_steal()
        res = None
        t0 = time.monotonic()
        try:
            if probe is None:
                res = self._run()
            else:
                with probe.layer(f"op.{name}") as sp:
                    res = self._run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["problems"] = ["raised: " + traceback.format_exc(limit=1)]
        rec["wall_s"] = time.monotonic() - t0
        rec["steal_pct"] = steal_pct(st0, cpu_steal())
        if res is not None:
            rep = res.report
            rec["problems"] = problems(res.exit_code, rep, self.expect)
            if not self.ops:
                # every later op must reproduce the first op's digest
                self.expect.digest = self.expect.digest or digest_of(rep)
                self.check_self_test = self_test(res.exit_code, rep, self.expect)
            rec["exit_code"] = res.exit_code
            rec["phases"] = rep.get("phases", {})
            rec["partitions_resumed"] = rep["inventory"]["partitions_resumed"]
            rec["partitions"] = rep["inventory"]["partitions"]
            rec["suppressed_exemplars"] = rep["findings"]["suppressed_exemplars"]
            rec["run_digest"] = rep["integrity"]["run_digest"][:16]
            rec["neardup_clusters"] = clusters_of(rep)
            if probe is not None:
                # the runner's own phase marks, laid end to end from the op
                # start, are the op span's children
                at = sp["t0"]
                for phase, secs in rec["phases"].items():
                    probe.tracer.add(f"runner.{phase}", at, at + secs, sp["id"])
                    at += secs
                rec["span"] = sp["id"]
                rec["spark"] = {k: sp["attrs"][k] for k in SparkJobs.FIELDS}
                rec["pyworker_cpu_s"] = sp["attrs"]["pyworker_cpu_s"]
        self.ops.append(rec)
        return res is not None

    def measure(self) -> None:
        with self.rss.running():
            self.measured_s = self.sequence()

    # ---------------------------------------------------------------- trace
    def trace(self) -> dict[str, float]:
        import layers
        from probes import LayerProbe, Tracer

        self.tracer = Tracer()
        probe = LayerProbe(self.spark, self.tree, self.tracer)
        with self.rss.running():
            wall = self.sequence(probe)
        if any(r["problems"] for r in self.ops):
            raise RuntimeError("an op failed its check; no trace")

        # op figures are summed over the sequence's run() calls
        m: dict[str, float] = dict.fromkeys(per_layer_names(), 0.0)
        for rec in self.ops:
            for p in RUNNER_PHASES:
                m[f"runner.{p}_s"] += float(rec["phases"].get(p, 0.0))
            for f in SparkJobs.FIELDS:
                m[f"spark.{f}"] += float(rec["spark"][f])
            m["pyworker.cpu_s"] += rec["pyworker_cpu_s"]
        m["spark.core_busy_ratio"] = m["spark.executor_run_s"] / (wall * self.cores)
        last = self.ops[-1]
        m["ledger.hit_ratio"] = last["partitions_resumed"] / last["partitions"]
        m["rules.suppressed_exemplars"] = float(self.ops[0]["suppressed_exemplars"])
        m["mem.peak_rss_mb"] = self.rss.peak / (1024.0 * 1024.0)
        m["trace.span_coverage"] = min(
            self.tracer.coverage(r["span"]) for r in self.ops
        )
        # the probe's own reads, made just before and after each span
        m["trace.overhead_ratio"] = probe.overhead_s / wall

        scratch = os.path.join(self.work, "replay")
        baseline = self.baseline if self.wl.update_baseline else None
        m.update(layers.ledger_and_baseline(self.out, scratch, baseline, probe))
        m.update(layers.validation(self.spark, self.data, probe))
        m.update(layers.ladder(self.spark, self.data, scratch, probe))
        found = self.ops[0]["neardup_clusters"]
        if found is None:  # the ladder is off in run()
            found = PINNED_CLUSTERS.get((self.args.seed, self.args.clips))
        if found is not None and m["graph.clusters"] != found:
            raise RuntimeError(
                f"replayed ladder found {m['graph.clusters']:.0f} clusters, "
                f"expected {found}"
            )
        self.props["suspect_share"] = (
            m["facts.suspect_rows"] / m["audio.rows"] if m["audio.rows"] else None
        )
        return m

    # -------------------------------------------------------------- metrics
    def end_to_end(self) -> dict[str, float]:
        return {
            "validate_s": self.measured_s,
            "clips_per_s": self.props["clips"] / self.measured_s,
            "setup_s": self.setup["setup_s"],
        }

    # ------------------------------------------------------------- shutdown
    def stop(self) -> list[int]:
        """Stop the session, end the JVM and wait for every process this
        run started; returns any that had to be killed."""
        if self.spark is None:
            return []
        import subprocess

        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        left = self.tree.wait_gone(30)
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        return left


def _remove_stale(base: str) -> None:
    """Delete work dirs left by runs that were killed (their pid is gone)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "codeclone_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _remove_stale(base)
    os.makedirs(work)

    bench = Bench(args, work)
    try:
        bench.start()
        if args.trace:
            metrics = bench.trace()
            names = per_layer_names()
            units = {n: unit_of(n) for n in names}
        else:
            bench.measure()
            metrics = bench.end_to_end()
            names = list(END_TO_END)
            units = END_TO_END
    finally:
        killed = bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for s in bench.ops if s["problems"])
    correct = not failed and not bench.check_self_test and not killed
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "cores": bench.cores,
        "base_rows": args.clips,
        "properties": bench.props,
        "setup": bench.setup,
        "ops": bench.ops,
        "check_self_test": bench.check_self_test,
        "killed_pids": killed,
        "peak_rss_mb": bench.rss.peak / (1024.0 * 1024.0),
        "metrics": metrics,
    }
    if args.trace:
        record["spans"] = bench.tracer.export()
    else:
        record["measured_s"] = bench.measured_s
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(base, "results", name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    result = {
        "correct": correct,
        "attempted": len(bench.ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
    }
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

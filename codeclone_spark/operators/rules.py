"""Declarative rule registry + single-pass evaluation.

Modeled on the reference's ``METRIC_FAMILIES`` registry
(``metrics/registry.py:678-783``): each family supplies a *compute* (partial,
per-partition) and an *aggregate* (final) step plus baseline/gate keys.  Here:

- **One registry**: every rule — row, table, near-dup, drift, schema — is
  one :class:`Rule` record in :data:`RULES` carrying its scope, severity,
  SARIF mapping and remediation hint.  The id lists and lookups below are
  derived from it, never written a second time.
- **Row rules** are (predicate, observed, expected) column triples over the
  facts frame.  ALL row rules evaluate in ONE scan: each rule becomes a
  ``when(pred, struct(...))`` element of an array column that is filtered and
  exploded — no per-rule unions, no repeated scans.  At 100 TB this is the
  difference between 1 pass and N passes.
- **Partition aggregates** (counts, null counts, min/max/mean, histogram
  partials) compute in ONE ``groupBy("part")`` — Spark's partial+final hash
  aggregation is exactly the reference's compute/aggregate fold.
- **Uniqueness** is its own shuffle (groupBy clip_id) — exact, like the
  reference's exact fingerprint grouping (``findings/clones/grouping.py:38-45``).

Rule-id scheme mirrors ``findings/ids.py:10-23``: ``family:detail[:column]``.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from codeclone_spark.functions.audio import DUR_TOLERANCE_MS, SNR_MIN_DB
from codeclone_spark.schema import local_frame

ALLOWED_SR = [8000, 16000, 22050, 44100, 48000]
ALLOWED_CODECS = ["pcm_s16le", "flac", "mp3", "vorbis"]
DUR_BOUNDS_MS = (50, 60_000)

# Fixed histogram bin edges (baseline drift contract; bin design follows the
# reference's log-scaled cluster-size buckets, analytics/partition_metrics.py:72-88).
DUR_BIN_EDGES = [0.0, 250.0, 400.0, 600.0, 900.0, 1400.0, 2100.0, 3200.0, 1e9]


@dataclass(frozen=True)
class Rule:
    """One validation rule, declared once in :data:`RULES`: the id lists,
    the severity lookup, the SARIF rule map and the review queue's
    remediation hints all derive from the registry."""

    rule_id: str
    # where the rule is evaluated: "row" (the single facts pass), "table"
    # (its own shuffle), "neardup" (the opt-in clone stage), "drift" or
    # "schema" (driver-side, against the baseline snapshot)
    scope: str
    # Rule-intrinsic triage severity (reference risk/severity classes:
    # errors are correctness breaks, warns are quality signals).  Gating is
    # budget-driven either way — severity buckets the triage report and
    # sets the SARIF level, it does not bypass gates.
    severity: str
    # Stable external SARIF id: appending a rule gets a NEW id; existing
    # ids never renumber (the reference keeps CCLONE/CSTRUCT/CDEAD ids
    # stable the same way so downstream SARIF consumers can pin them).
    sarif_id: str
    short: str
    full: str
    family: str
    # Remediation hint (reference report/suggestions.py maps finding kinds
    # to suggested actions the same way).  Deterministic — it lands in the
    # canonical report's review queue and its golden snapshots.
    action: str = "inspect exemplar violations and file a data-quality issue"
    # row rules only: the expected text, and a builder of (predicate,
    # observed, applicable-or-None) — Column expressions need a live
    # session, so they are built per evaluation, never at import
    expected: str = ""
    exprs: Callable[[], tuple[Column, Column, Column | None]] | None = None


def _s(c: Column) -> Column:
    return c.cast("string")


# The registry.  Row-rule order is part of the output contract
# (deterministic evaluation order).
RULES: tuple[Rule, ...] = (
    Rule(
        "audio:undecodable", "row", "error",
        "CCSV001", "Undecodable audio payload",
        "The clip's bytes failed to decode under its declared codec within "
        "resource limits.", "audio",
        action="re-encode or quarantine the payloads; audit the ingest codec "
        "pipeline for this partition",
        expected="decodable audio payload",
        exprs=lambda: (
            F.col("error_kind").isNotNull(),
            F.col("error_kind"),
            None,
        ),
    ),
    Rule(
        "audio:len_consistency", "row", "error",
        "CCSV003", "Sample-rate / duration inconsistency",
        "Declared sr_hz/dur_ms disagree with the decoded sample count.",
        "audio",
        action="recompute header dur_ms/sr_hz from the decoded stream at "
        "ingest",
        expected=f"within {DUR_TOLERANCE_MS:g}ms of header dur_ms",
        exprs=lambda: (
            F.abs(F.col("decoded_dur_ms") - F.col("dur_ms")) > DUR_TOLERANCE_MS,
            F.concat_ws(
                "",
                F.lit("decoded_dur_ms="),
                F.round("decoded_dur_ms", 2).cast("string"),
            ),
            F.col("decoded_dur_ms").isNotNull() & F.col("dur_ms").isNotNull(),
        ),
    ),
    Rule(
        "audio:snr", "row", "error",
        "CCSV002", "Decoded PCM below SNR threshold",
        "Decoded PCM does not match the reference fixture within the "
        "configured SNR floor (allclose at SNR>=30dB).", "audio",
        action="re-master from source or refresh the reference fixture PCM "
        "for these clips",
        expected=f"SNR >= {SNR_MIN_DB:g} dB vs fixture PCM",
        exprs=lambda: (
            F.col("snr_db") < SNR_MIN_DB,
            F.concat_ws("", F.lit("snr_db="), F.round("snr_db", 2).cast("string")),
            F.col("snr_db").isNotNull(),
        ),
    ),
    Rule(
        "audio:transcript_eq", "row", "error",
        "CCSV004", "Transcript mismatch vs fixture",
        "Transcript differs from the reference fixture (exact, NFC-"
        "canonicalized equality).", "audio",
        action="re-run transcription or update fixtures if the new "
        "transcripts are authoritative",
        expected="exact (NFC) match with fixture transcript",
        exprs=lambda: (
            ~F.col("transcript_match"),
            F.col("transcript"),
            # null/empty transcripts belong to stats:null:transcript, not here
            F.col("transcript_match").isNotNull()
            & F.col("transcript").isNotNull()
            & (F.length("transcript") > 0),
        ),
    ),
    Rule(
        "audio:silence", "row", "warn",
        "CCSV016", "Silent audio",
        "Decoded PCM is effectively silent (RMS below floor).", "audio",
        action="review capture gain staging; drop or re-record silent clips",
        expected="audible content (silence_ratio <= 0.98)",
        exprs=lambda: (
            F.col("silence_ratio") > 0.98,
            F.concat_ws(
                "", F.lit("silence_ratio="), F.round("silence_ratio", 4).cast("string")
            ),
            F.col("silence_ratio").isNotNull(),
        ),
    ),
    Rule(
        "audio:clipping", "row", "warn",
        "CCSV017", "Clipped audio",
        "Decoded PCM clips (peak-saturation ratio above ceiling).", "audio",
        action="review capture gain staging; re-normalize clipped clips",
        expected="clipping_ratio <= 0.02",
        exprs=lambda: (
            F.col("clipping_ratio") > 0.02,
            F.concat_ws(
                "", F.lit("clipping_ratio="), F.round("clipping_ratio", 4).cast("string")
            ),
            F.col("clipping_ratio").isNotNull(),
        ),
    ),
    Rule(
        "ref:fixture_missing", "row", "error",
        "CCSV008", "Missing reference fixture",
        "No fixture row exists for this clip_id (referential anti-join).",
        "referential",
        action="regenerate reference fixtures for this partition (or gate "
        "ingest on fixture delivery)",
        expected="fixture row present for clip_id",
        exprs=lambda: (
            F.col("fixture_status") == "missing_fixture",
            F.lit("missing_fixture"),
            None,
        ),
    ),
    Rule(
        "stats:null:dur_ms", "row", "warn",
        "CCSV005", "Null dur_ms", "dur_ms is NULL.", "stats",
        action="backfill dur_ms upstream or drop rows at ingest",
        expected="non-null dur_ms",
        exprs=lambda: (F.col("dur_ms").isNull(), F.lit("<null>"), None),
    ),
    Rule(
        "stats:null:transcript", "row", "warn",
        "CCSV006", "Null or empty transcript",
        "transcript is NULL or empty after canonicalization.", "stats",
        action="backfill transcripts upstream or route to the transcription "
        "queue",
        expected="non-empty transcript",
        exprs=lambda: (
            F.col("transcript").isNull() | (F.length("transcript") == 0),
            F.when(F.col("transcript").isNull(), F.lit("<null>")).otherwise(
                F.lit("<empty>")
            ),
            None,
        ),
    ),
    Rule(
        "stats:range:dur_ms", "row", "error",
        "CCSV018", "dur_ms out of range",
        "dur_ms is outside the configured validity range.", "stats",
        action="clamp or quarantine out-of-range durations at ingest",
        expected=f"dur_ms in [{DUR_BOUNDS_MS[0]}, {DUR_BOUNDS_MS[1]}]",
        exprs=lambda: (
            (F.col("dur_ms") < DUR_BOUNDS_MS[0]) | (F.col("dur_ms") > DUR_BOUNDS_MS[1]),
            _s(F.col("dur_ms")),
            F.col("dur_ms").isNotNull(),
        ),
    ),
    Rule(
        "stats:domain:sr_hz", "row", "error",
        "CCSV007", "Sample rate outside allowed set",
        "sr_hz is not one of the allowed sample rates.", "stats",
        action="resample to an allowed rate or extend the allowed set "
        "deliberately",
        expected=f"sr_hz in {ALLOWED_SR}",
        exprs=lambda: (
            ~F.col("sr_hz").isin(ALLOWED_SR),
            _s(F.col("sr_hz")),
            F.col("sr_hz").isNotNull(),
        ),
    ),
    Rule(
        "stats:domain:codec", "row", "error",
        "CCSV019", "Codec outside allowed set",
        "codec is not one of the allowed codec names.", "stats",
        action="transcode to an allowed codec or extend the allowed set "
        "deliberately",
        expected=f"codec in {ALLOWED_CODECS}",
        exprs=lambda: (
            ~F.col("codec").isin(ALLOWED_CODECS),
            F.coalesce(F.col("codec"), F.lit("<null>")),
            None,
        ),
    ),
    # evaluated outside the single row pass (its own shuffle)
    Rule(
        "uniq:clip_id", "table", "error",
        "CCSV009", "Duplicate clip_id",
        "clip_id occurs more than once across the table (exact global "
        "uniqueness).", "uniqueness",
        action="deduplicate at ingest; add a clip_id uniqueness constraint "
        "upstream",
    ),
    # Near-dup clone-group rule (opt-in stage, RunConfig.neardup_transcript):
    # table-scope like uniq:clip_id — clusters span partitions, so the
    # finding is attributed to min(part) for reporting only and
    # partition-scoped suppressions are rejected.  NOT in TABLE_RULE_IDS: the
    # dense verdict grid must not assert "ok (0 violations)" for a stage that
    # never ran; the rule gets one table-scope verdict row when enabled
    # (drift-rule convention).
    Rule(
        "neardup:transcript", "neardup", "warn",
        "CCSV022", "New near-dup transcript cluster",
        "A transitive near-duplicate transcript cluster (LSH + exact-"
        "Jaccard verified) whose '<min_id>|<size>' key is not in the "
        "baseline's accepted clones section.", "uniqueness",
        action="review the new clone groups; purge via the dedup keep-list "
        "manifest or accept them with --update-baseline",
    ),
    Rule(
        "drift:psi:dur_ms", "drift", "warn",
        "CCSV010", "dur_ms PSI drift",
        "Population Stability Index of the dur_ms histogram vs the "
        "baseline snapshot exceeds the gate.", "drift",
    ),
    Rule(
        "drift:ks:dur_ms", "drift", "warn",
        "CCSV011", "dur_ms KS drift",
        "KS statistic of the dur_ms histogram vs baseline exceeds the "
        "gate.", "drift",
    ),
    Rule(
        "drift:psi:sr_hz", "drift", "warn",
        "CCSV012", "sr_hz PSI drift",
        "PSI of the sr_hz distribution vs baseline exceeds the gate.",
        "drift",
    ),
    Rule(
        "drift:quantile:dur_ms", "drift", "warn",
        "CCSV013", "dur_ms quantile drift",
        "Relative delta of p50/p95/p99 vs baseline exceeds the gate.",
        "drift",
    ),
    Rule(
        "drift:quantile:rms", "drift", "warn",
        "CCSV020", "rms quantile drift",
        "Relative delta of decoded-PCM RMS p50/p95/p99 vs baseline exceeds "
        "the gate.", "drift",
    ),
    Rule(
        "drift:quantile:spectral_flatness", "drift", "warn",
        "CCSV021", "spectral flatness quantile drift",
        "Relative delta of decoded-PCM spectral-flatness p50/p95/p99 vs "
        "baseline exceeds the gate.", "drift",
    ),
    # schema-evolution verdicts vs the baseline snapshot (breaking changes
    # only; added columns are informational, reported not gated)
    Rule(
        "schema:removed", "schema", "error",
        "CCSV014", "Schema column removed",
        "A column present in the baseline schema is gone (breaking).",
        "schema",
    ),
    Rule(
        "schema:type_change", "schema", "error",
        "CCSV015", "Schema column type changed",
        "A column's type differs from the baseline schema (breaking).",
        "schema",
    ),
)
RULE_BY_ID = {r.rule_id: r for r in RULES}
RULE_SEVERITY = {r.rule_id: r.severity for r in RULES}


def _ids(scope: str) -> list[str]:
    return [r.rule_id for r in RULES if r.scope == scope]


ROW_RULE_IDS = _ids("row")
TABLE_RULE_IDS = _ids("table")
(NEARDUP_RULE_ID,) = _ids("neardup")
DRIFT_RULE_IDS = _ids("drift")
SCHEMA_RULE_IDS = _ids("schema")
# scopes whose findings span partitions: attributed to min(part) for
# reporting only, so partition-scoped suppressions never match them
CROSS_PARTITION_SCOPES = ("table", "neardup")
# partition value of table-scope verdicts and findings
TABLE_SCOPE = "<table>"

# Fallback for ids outside the registry: renders as CCSV999.
UNMAPPED_RULE = Rule(
    "", "unmapped", "warn", "CCSV999", "Unmapped validation rule",
    "Violation of a rule without a stable SARIF id mapping.", "other",
)


def rule_spec(rule_id: str) -> Rule:
    return RULE_BY_ID.get(rule_id, UNMAPPED_RULE)


# Fixed-bin mergeable quantile sketch for dur_ms: 25 ms bins up to 3,200 ms
# + one overflow bin.  Per-partition count arrays merge by element-wise sum
# across waves/resumes (the property a t-digest would give; Spark's
# percentile_approx state is not ledger-persistable).  The sketch is the only
# quantile path: no percentile_approx runs anywhere.  Its 3,200 ms ceiling
# clamps longer clips into the overflow bin, a known defect tracked in
# ROADMAP.md (item 6).
QSK_BIN_MS = 25
QSK_MAX_MS = 3200
QSK_NBINS = QSK_MAX_MS // QSK_BIN_MS + 1  # + overflow


@dataclass(frozen=True)
class NumericColSpec:
    """One declarative entry of the per-column stats family: the column
    gets null/min/max/mean partials, a mergeable fixed-bin quantile
    sketch, baseline quantiles, and a drift:quantile:<name> gate — the
    reference's METRIC_FAMILIES breadth (metrics/registry.py:678-783)
    expressed as data, not code."""

    name: str        # facts column
    bin_width: float  # sketch bin width (column units)
    nbins: int       # bins incl. one overflow bin


NUMERIC_STATS_COLUMNS: tuple[NumericColSpec, ...] = (
    NumericColSpec("dur_ms", float(QSK_BIN_MS), QSK_NBINS),
    # decoded-PCM RMS lives in [0, ~1]: 1/128 resolution + overflow
    NumericColSpec("rms", 1.0 / 128.0, 130),
    # spectral flatness lives in [0, 1]: same 1/128 lattice + overflow.
    # Third registry column: adding it costs ZERO extra wave jobs
    # (qsketch_counts_multi folds all columns into one aggregation —
    # asserted by test_plans_physical) — only this declaration plus a
    # RULES record for its drift gate.
    NumericColSpec("spectral_flatness", 1.0 / 128.0, 130),
)
# every registry column carries a quantile-drift gate
assert all(
    f"drift:quantile:{s.name}" in DRIFT_RULE_IDS for s in NUMERIC_STATS_COLUMNS
)


def evaluate_row_rules(facts: DataFrame) -> DataFrame:
    """ONE pass: facts -> violations(rule_id, partition, clip_id, observed,
    expected).  Builds an array of nullable violation structs, drops nulls,
    explodes.  Catalyst keeps this inside a single WholeStageCodegen project +
    generate — no joins, no extra shuffles."""
    elems = []
    for r in RULES:
        if r.scope != "row":
            continue
        pred, observed, applicable = r.exprs()
        if applicable is not None:
            pred = applicable & pred
        elems.append(
            F.when(
                pred,
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.coalesce(observed.cast("string"), F.lit("<null>")).alias(
                        "observed"
                    ),
                    F.lit(r.expected).alias("expected"),
                    F.lit(r.severity).alias("severity"),
                ),
            )
        )
    arr = F.filter(F.array(*elems), lambda x: x.isNotNull())
    return (
        facts.select(
            F.col("part").alias("partition"),
            F.col("clip_id"),
            F.explode(arr).alias("v"),
        )
        .select(
            F.col("v.rule_id").alias("rule_id"),
            "partition",
            "clip_id",
            F.col("v.observed").alias("observed"),
            F.col("v.expected").alias("expected"),
            F.col("v.severity").alias("severity"),
        )
    )


def evaluate_uniqueness(facts: DataFrame) -> DataFrame:
    """Exact duplicate detection on clip_id (reference ``build_groups``
    grouping.py:38-45 keeps groups with size > 1).  clip_id is a high-card
    uniform hash key, so this shuffle has no skew; map-side partial counts
    make it one efficient exchange.  Reads only ``clip_id`` and ``part``, so
    the runner feeds it a column-pruned scan of the whole table."""
    dups = (
        facts.groupBy("clip_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("part").alias("partition"),  # deterministic representative
        )
        .filter(F.col("n") > 1)
    )
    return dups.select(
        F.lit("uniq:clip_id").alias("rule_id"),
        F.col("partition"),
        F.col("clip_id"),
        F.concat_ws("", F.lit("count="), F.col("n").cast("string")).alias("observed"),
        F.lit("unique clip_id").alias("expected"),
        F.lit(RULE_SEVERITY["uniq:clip_id"]).alias("severity"),
    )


# ------------------------------------------------------ partition partials --
def _hist_expr(col: str, edges: list[float]) -> Column:
    """Mergeable histogram partial: array<long> of per-bin counts."""
    buckets = []
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        buckets.append(
            F.sum(
                F.when(
                    F.col(col).isNotNull()
                    & (F.col(col) >= lo)
                    & (F.col(col) < hi),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
        )
    return F.array(*buckets)


def qsk_bin(spec: NumericColSpec) -> Column:
    """Quantile-sketch bin index for a non-negative numeric column (last
    bin = overflow); null for null/negative values (excluded from the
    sketch).  The sketch itself is aggregated as groupBy(part, bin).count()
    — one array<long> of nbins counts per partition after the driver-side
    reshape — NOT as nbins separate aggregate expressions: that shape
    generated so much code that Janino compilation (~5 s per fresh plan)
    dwarfed the actual aggregation (~0.3 s)."""
    idx = F.least(
        (F.col(spec.name) / F.lit(spec.bin_width)).cast("int"),
        F.lit(spec.nbins - 1),
    )
    return F.when(F.col(spec.name).isNotNull() & (F.col(spec.name) >= 0), idx)


def qsketch_counts_multi(
    facts: DataFrame, specs: tuple[NumericColSpec, ...]
) -> DataFrame:
    """(part, col, bin, n) sketch partials for EVERY registry column in one
    Spark job: the per-column bin indices explode from one array, so adding
    a column to the registry costs zero extra wave jobs (the groupBy key
    grows by the tiny `col` dimension instead)."""
    entries = F.array(
        *[
            F.struct(F.lit(s.name).alias("col"), qsk_bin(s).alias("bin"))
            for s in specs
        ]
    )
    return (
        facts.select("part", F.explode(entries).alias("e"))
        .select("part", F.col("e.col").alias("col"), F.col("e.bin").alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("part", "col", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def partition_aggregates(facts: DataFrame) -> DataFrame:
    """Per-partition stats in one groupBy (partial+final hash agg); only
    the fine-grained quantile sketch lives in its own tiny aggregation
    (:func:`qsketch_counts_multi` — codegen-size reasons).  Histogram partials
    are mergeable arrays so drift can be computed from the ledger across
    resumable waves without rescanning data."""
    sr_cats = [F.sum((F.col("sr_hz") == v).cast("long")).alias(f"sr_{v}") for v in ALLOWED_SR]
    # one (null, min, max, mean) quartet per registry column — the
    # mergeable quantile SKETCH is aggregated separately (qsketch_counts_multi)
    # to keep this plan's codegen unit small
    col_aggs = []
    for spec in NUMERIC_STATS_COLUMNS:
        c = spec.name
        col_aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_null"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.avg(c).alias(f"{c}_mean"),
        ]
    return facts.groupBy("part").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            (F.col("transcript").isNull() | (F.length("transcript") == 0)).cast("long")
        ).alias("transcript_null"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("undecodable"),
        _hist_expr("dur_ms", DUR_BIN_EDGES).alias("dur_hist"),
        *col_aggs,
        *sr_cats,
    )


@dataclass(frozen=True)
class GateConfig:
    """Per-rule violation budgets (reference ``MetricGateConfig`` /
    ``report/gates/evaluator.py``).  ``max_count`` is an absolute cap,
    ``max_permille`` a rate cap — a rule fails its partition when EITHER is
    exceeded.  Defaults are strict (0 tolerance) like ``--ci`` mode.  A
    budget names a registered rule and is a finite number >= 0; anything
    else is rejected here, at construction."""

    max_count: dict[str, int] = field(default_factory=dict)
    max_permille: dict[str, float] = field(default_factory=dict)
    # drift gates
    psi_max: float = 0.25
    ks_max: float = 0.25
    # max relative delta of any of p50/p95/p99 vs the baseline snapshot
    quantile_rel_max: float = 0.25

    def __post_init__(self) -> None:
        for rid, v in [*self.max_count.items(), *self.max_permille.items()]:
            if rid not in RULE_BY_ID or not (math.isfinite(v) and v >= 0):
                raise ValueError(f"bad budget {rid}={v!r}")

    def budget(self, rule_id: str) -> tuple[int | None, float | None]:
        """Configured budgets for *rule_id*; ``None`` = constraint unset.

        A rule configured in neither dict gets the strict-CI default: a
        zero count budget (any new violation fails).  A rule configured in
        only one dict is constrained by that budget alone — a
        max_count-only config must not be silently tightened by an
        implicit 0-permille cap (or vice versa)."""
        has_n = rule_id in self.max_count
        has_pm = rule_id in self.max_permille
        if not has_n and not has_pm:
            return (0, None)
        return (
            int(self.max_count[rule_id]) if has_n else None,
            float(self.max_permille[rule_id]) if has_pm else None,
        )


def _java_double(x: float) -> str:
    """A non-negative *x* as Java's ``Double.toString`` (Spark's cast to
    string) prints it, the form reasons carry into ``report_sha256`` and
    the goldens: plain decimals in [1e-3, 1e7), else
    ``<d>.<digits>E<exp>`` such as ``3.0E-4``.  Digits are the shortest
    round-trip form, which JDK 17 also prints for all but rare values
    such as 1e23."""
    if x == 0 or 1e-3 <= x < 1e7:
        return repr(x)
    d = Decimal(repr(x)).normalize()
    digits = "".join(map(str, d.as_tuple().digits))
    return f"{digits[0]}.{digits[1:] or '0'}E{d.adjusted()}"


def gate_verdict(
    gates: GateConfig, rule_id: str, n_viol: int, n_new: int, rows: int,
    in_lane: bool = False,
) -> tuple[bool, str, str]:
    """The gate's ``(pass, reason, novelty)`` for one count-table cell:
    *n_viol* violations of *rule_id*, *n_new* of them new, in a partition
    of *rows* rows.  The whole cell policy lives here, evaluated once per
    cell on the driver.  *in_lane* cells are the test lane's (reference
    is_test_filepath lane routing, analysis/units.py:151,176): reported,
    but a failing verdict passes with an informational reason."""
    max_n, max_pm = gates.budget(rule_id)
    # Accepted (baseline-known) violations don't trip the gate: only NEW ones
    # count against the budget (reference diff-gating: fail_on_new).
    # Compare the UNROUNDED rate: rounding to 3 decimals first would let up
    # to 0.0005 permille (e.g. 4 violations in a 10^7-row partition) slip
    # under a zero-tolerance budget.  Round only for the reason string.
    pm = n_new * 1000.0 / max(rows, 1)
    # A rule fails when EITHER configured budget is exceeded (reference
    # report/gates/evaluator.py:500-521) -> pass requires BOTH to hold.
    passed = (max_n is None or n_new <= max_n) and (max_pm is None or pm <= max_pm)
    novelty = "new" if n_new > 0 else "known"
    if passed:
        detail = f"{n_viol} violation(s), {n_new} new, within budget"
        return True, f"{rule_id}: ok ({detail if n_viol else '0 violations'})", novelty
    # printed as Spark's round() gives it (HALF_UP on the shortest decimal
    # form), which report_sha256 and the goldens pin
    pm_3 = float(Decimal(repr(pm)).quantize(Decimal("0.001"), ROUND_HALF_UP))
    reason = (
        f"{rule_id}: {n_new} new violation(s) ({_java_double(pm_3)} permille) "
        f"exceed budget (max_count={'unset' if max_n is None else max_n}, "
        f"max_permille={'unset' if max_pm is None else _java_double(max_pm)})"
    )
    # Table-scope rules (uniq:clip_id) are attributed to min(part) only
    # for reporting; a duplicate group can span lane and production
    # partitions, so the lane pass-through must never apply to them.
    if in_lane and rule_id not in TABLE_RULE_IDS:
        return True, "test-lane (informational): " + reason, novelty
    return False, reason, novelty


def build_verdicts(
    spark: SparkSession, parts: list[str], verdicts: list[tuple]
) -> DataFrame:
    """The verdicts sink: the driver-evaluated *verdicts* — ``(partition,
    rule_id, pass, reason, novelty)`` rows — plus the zero cells of the
    dense (*parts* x row and table rules) grid, so a clean partition still
    asserts an explicit pass, as the reference's gate evaluator enumerates
    every configured gate.  A zero cell can get only one verdict, whatever
    the budgets, so the grid stays in Spark and never reaches the driver."""
    evaluated = local_frame(
        spark, verdicts,
        "`partition` string, rule_id string, pass boolean, reason string, "
        "novelty string",
    )
    zero_by_rule = local_frame(
        spark,
        [(r, *gate_verdict(GateConfig(), r, 0, 0, 0))
         for r in ROW_RULE_IDS + TABLE_RULE_IDS],
        "rule_id string, pass boolean, reason string, novelty string",
    )
    zero_cells = (
        local_frame(spark, [(p,) for p in parts], "`partition` string")
        .crossJoin(F.broadcast(zero_by_rule))
        .join(evaluated, ["partition", "rule_id"], "left_anti")
    )
    return evaluated.unionByName(zero_cells)


def violation_key(df: DataFrame) -> Column:
    """Stable identity of a violation for baseline accepted-set matching
    (analog of the reference's sorted clone-group id sets,
    clone_baseline.py:511-527)."""
    return F.concat_ws(
        "|", df["rule_id"], df["partition"], F.coalesce(df["clip_id"], F.lit("-"))
    )

"""Baseline snapshot: persisted accepted-state with integrity + trust.

Contract mirrors the reference baseline (``baseline/clone_baseline.py``):
versioned meta + ``payload_sha256`` recomputed on load and compared with
``hmac.compare_digest`` (clone_baseline.py:316-359).  An untrusted baseline
*degrades* (drift checks disabled, warning) unless gating is requested, in
which case the run *fails closed* with a contract error
(surfaces/cli/baseline_state.py:138-170).

Shape (FIXTURES.md §3)::

    meta: {generator {name, version}, schema_version, engine_version,
           created_at, payload_sha256}
    stats: per column -> {count, null_permille, min, max, mean,
                          quantiles {p50, p95, p99}}
    histograms: {dur_ms: {bin_edges, counts}, sr_hz: {values, counts}}
    uniqueness: {clip_id_approx_ndv, clip_id_exact_dup_groups}
    accepted_violations: [violation_key, ...]
    accepted_ref: {} | {path, count, sha256}   (schema minor >= 2)

Accepted-set scaling: inline ``accepted_violations`` is right up to ~10^4
keys (driver-broadcast anti-join).  Past that the keys live in a parquet
SIDE TABLE next to the baseline file (``accepted_ref`` — written by Spark
as one sorted partition, never materialized on the driver) and the runner
anti-joins it distributively.  Trust for the sidecar = count + streamed
sha256 over the sorted key stream (pyarrow batch iteration, bounded driver
memory).

Drift math (KS / PSI) runs on the tiny collected histogram frames on the
driver — never a distributed op; the distributed part is the mergeable
histogram partials in ``partition_aggregates``.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import math
import os
import re
from dataclasses import dataclass
from typing import Any

from codeclone_spark import BASELINE_SCHEMA_VERSION, ENGINE_NAME, ENGINE_VERSION

MAX_BASELINE_BYTES = 8 * 1024 * 1024  # bounded read (contracts/__init__.py:82)
DEFAULT_CREATED_AT = "1970-01-01T00:00:00Z"  # fixed: outputs stay deterministic


def _canonical(payload: dict[str, Any]) -> bytes:
    return json.dumps(payload, sort_keys=True, separators=(",", ":")).encode()


def payload_sha256(payload: dict[str, Any]) -> str:
    return hashlib.sha256(_canonical(payload)).hexdigest()


@dataclass(frozen=True)
class Trust:
    trusted: bool
    reason: str


def write_baseline(
    path: str,
    stats: dict[str, Any],
    histograms: dict[str, Any],
    uniqueness: dict[str, Any],
    accepted_violations: list[str],
    schema: dict[str, Any] | None = None,
    accepted_ref: dict[str, Any] | None = None,
    clones: dict[str, list[str]] | None = None,
) -> dict[str, Any]:
    payload = {
        "stats": stats,
        "histograms": histograms,
        "uniqueness": uniqueness,
        "accepted_violations": sorted(accepted_violations),
        # table schema snapshot for evolution diffs ({columns, partition_keys})
        "schema": schema or {},
        # large accepted sets live in a parquet side table (see module doc)
        "accepted_ref": accepted_ref or {},
        # accepted near-dup cluster keys per family (schema minor >= 3):
        # family -> sorted ["<min_member_id>|<size>", ...] — the reference's
        # clone-group baseline section (sorted-group-id convention,
        # clone_baseline.py:511-527).  A cluster that grows or shrinks gets
        # a NEW key (size is part of the identity), so changed clusters
        # re-gate as new.
        "clones": {f: sorted(ks) for f, ks in sorted((clones or {}).items())},
    }
    doc = {
        "meta": {
            "generator": {"name": ENGINE_NAME, "version": ENGINE_VERSION},
            "schema_version": BASELINE_SCHEMA_VERSION,
            "engine_version": ENGINE_VERSION,
            "created_at": DEFAULT_CREATED_AT,
            "payload_sha256": payload_sha256(payload),
        },
        **payload,
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:  # atomic (reference _atomic_write_json)
        json.dump(doc, f, sort_keys=True, indent=1)
    os.replace(tmp, path)
    return doc


_KEY_RULE_RE = re.compile(r"^[A-Za-z0-9:_\-]{1,64}$")
MAX_VKEY_LEN = 512


def _parse_version(v: Any) -> tuple[int, int] | None:
    if not isinstance(v, str):
        return None
    parts = v.split(".")
    if len(parts) < 2 or not all(p.isdigit() for p in parts[:2]):
        return None
    return int(parts[0]), int(parts[1])


def _valid_vkey(k: Any) -> bool:
    """Accepted-violation key shape: 'rule_id|partition|clip_id' with a
    bounded, rule-charset first field (reference validates baseline ID
    regexes the same way, clone_baseline.py:42-43)."""
    if not isinstance(k, str) or len(k) > MAX_VKEY_LEN:
        return False
    parts = k.split("|")
    return len(parts) >= 3 and bool(_KEY_RULE_RE.match(parts[0]))


_CKEY_RE = re.compile(r"^[^|]{1,256}\|\d{1,12}$")


def _valid_ckey(k: Any) -> bool:
    """Accepted-cluster key shape: '<min_member_id>|<size>'."""
    return isinstance(k, str) and bool(_CKEY_RE.match(k))


def payload_keys(minor: int) -> list[str]:
    """Signed payload keys carried by a baseline of schema minor *minor*
    (additive per minor — the single source of truth for signing and
    verification; tests re-signing mutated docs must use this too)."""
    keys = ["stats", "histograms", "uniqueness", "accepted_violations"]
    if minor >= 1:
        keys.append("schema")
    if minor >= 2:
        keys.append("accepted_ref")
    if minor >= 3:
        keys.append("clones")
    return keys


def load_baseline(path: str) -> tuple[dict[str, Any] | None, Trust]:
    """Returns (snapshot, trust). snapshot is None when absent/unreadable.
    Trust semantics: missing -> untrusted('missing'); tampered/mismatched ->
    untrusted with reason; caller decides degrade vs fail-closed.

    Trust matrix (reference clone_baseline.py:316-359 semantics):
    - schema_version: same major required; minor <= current accepted
      (older minors lack newer payload keys, which stay optional), newer
      minor rejected (written by a newer engine).
    - engine_version: must parse and share the current engine's major.
    - accepted_violations: every key must be a shape-valid violation key.
    - payload_sha256: recomputed over the keys that baseline's minor
      carries; constant-time compare."""
    if not os.path.exists(path):
        return None, Trust(False, "baseline missing")
    if os.path.getsize(path) > MAX_BASELINE_BYTES:
        return None, Trust(False, "baseline exceeds size bound")
    try:
        with open(path) as f:
            doc = json.load(f)
    except (OSError, json.JSONDecodeError) as e:
        return None, Trust(False, f"baseline unreadable: {e}")

    meta = doc.get("meta")
    if not isinstance(meta, dict):
        return None, Trust(False, "baseline meta missing")

    cur = _parse_version(BASELINE_SCHEMA_VERSION)
    got = _parse_version(meta.get("schema_version"))
    if got is None or got[0] != cur[0] or got[1] > cur[1]:
        return doc, Trust(
            False,
            f"schema_version incompatible: {meta.get('schema_version')!r} "
            f"vs engine {BASELINE_SCHEMA_VERSION!r}",
        )
    eng = _parse_version(meta.get("engine_version"))
    cur_eng = _parse_version(ENGINE_VERSION)
    if eng is None or eng[0] != cur_eng[0]:
        return doc, Trust(
            False,
            f"engine_version incompatible: {meta.get('engine_version')!r} "
            f"vs {ENGINE_VERSION!r}",
        )

    required = payload_keys(got[1])
    if any(k not in doc for k in required):
        return doc, Trust(False, "baseline payload keys missing")
    payload = {k: doc[k] for k in required}
    expect = meta.get("payload_sha256", "")
    actual = payload_sha256(payload)
    if not hmac.compare_digest(str(expect), actual):
        return doc, Trust(False, "payload_sha256 mismatch (tampered baseline)")
    acc = doc["accepted_violations"]
    if not isinstance(acc, list) or any(not _valid_vkey(k) for k in acc):
        return doc, Trust(False, "accepted_violations key shape invalid")
    clones = doc.get("clones") or {}
    if clones and (
        not isinstance(clones, dict)
        or any(
            not isinstance(f, str)
            or not _KEY_RULE_RE.match(f)
            or not isinstance(ks, list)
            or any(not _valid_ckey(k) for k in ks)
            for f, ks in clones.items()
        )
    ):
        return doc, Trust(False, "clones key shape invalid")
    ref = doc.get("accepted_ref") or {}
    if ref:
        ok, reason = _verify_accepted_ref(path, ref)
        if not ok:
            return doc, Trust(False, reason)
    return doc, Trust(True, "ok")


# ------------------------------------------------- accepted-set side table --
def sidecar_stream_sha(keys) -> str:
    """Identity of a sorted accepted-key stream: sha256 folded over
    ``key + '\\n'`` per key.  Computable incrementally (pyarrow batches on
    the driver, mapPartitions on an executor) without materializing the set."""
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode())
        h.update(b"\n")
    return h.hexdigest()


def accepted_sidecar_name(baseline_path: str) -> str:
    return os.path.basename(baseline_path) + ".accepted.parquet"


def write_accepted_sidecar(keys_df: Any, baseline_path: str) -> dict[str, Any]:
    """Write the accepted-violation keys as a sorted single-partition parquet
    side table next to the baseline and return its ``accepted_ref`` dict.

    The keys never touch the driver: the sort+write and the (count, sha)
    fold both run executor-side (the fold via mapPartitions over the
    written, re-sorted single partition — reference contrast:
    clone_baseline.py persists accepted groups inline because its sets are
    small by construction; a 10^12-row table's debt set is not).
    """
    from pyspark.sql import functions as F  # lazy: keep module driver-pure

    spark = keys_df.sparkSession
    rel = accepted_sidecar_name(baseline_path)
    out = os.path.join(os.path.dirname(baseline_path) or ".", rel)
    (
        keys_df.select(F.col("vkey").cast("string"))
        .distinct()
        .repartition(1)
        .sortWithinPartitions("vkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    # fold (count, sha) over what was actually written, executor-side with
    # O(1) memory (the iterator never materializes)
    def _fold(it):
        h = hashlib.sha256()
        n = 0
        for r in it:
            h.update(r["vkey"].encode())
            h.update(b"\n")
            n += 1
        yield (n, h.hexdigest())

    folded = (
        spark.read.parquet(out)
        .coalesce(1)
        .sortWithinPartitions("vkey")
        .rdd.mapPartitions(_fold)
        .collect()
    )
    n, sha = folded[0] if folded else (0, sidecar_stream_sha(iter(())))
    return {"path": rel, "count": int(n), "sha256": sha}


def parquet_files(root: str) -> list[str]:
    """Sorted data files of the parquet dataset under *root*, hive
    subdirectories included; ``_SUCCESS`` and hidden files skipped."""
    files = []
    for dirpath, _dirs, names in os.walk(root):
        for n in sorted(names):
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files.append(os.path.join(dirpath, n))
    return sorted(files)


def _verify_accepted_ref(
    baseline_path: str, ref: dict[str, Any]
) -> tuple[bool, str]:
    """Trust probe for the accepted-set side table: bounded-shape fields, a
    path confined to the baseline's directory, and a streamed count+sha256
    re-computation (pyarrow batch iteration — O(n) IO, O(batch) memory)."""
    rel = ref.get("path")
    if (
        not isinstance(rel, str)
        or os.path.isabs(rel)
        or ".." in rel.split(os.sep)
        or not isinstance(ref.get("count"), int)
        or not isinstance(ref.get("sha256"), str)
    ):
        return False, "accepted_ref shape invalid"
    root = os.path.join(os.path.dirname(baseline_path) or ".", rel)
    if not os.path.isdir(root):
        return False, "accepted_ref side table missing"
    try:
        import pyarrow.parquet as pq

        h = hashlib.sha256()
        n = 0
        for fp in parquet_files(root):
            for batch in pq.ParquetFile(fp).iter_batches(columns=["vkey"]):
                for k in batch.column(0).to_pylist():
                    if not _valid_vkey(k):
                        return False, "accepted_ref key shape invalid"
                    h.update(k.encode())
                    h.update(b"\n")
                    n += 1
    except Exception as e:  # unreadable/corrupt sidecar = untrusted
        return False, f"accepted_ref unreadable: {e}"
    if n != ref["count"] or not hmac.compare_digest(h.hexdigest(), ref["sha256"]):
        return False, "accepted_ref digest mismatch (tampered side table)"
    return True, "ok"


# ------------------------------------------------------------------ drift --
def psi(expected: list[int], observed: list[int], eps: float = 1e-6) -> float:
    """Population Stability Index over aligned histogram bins."""
    te = float(sum(expected)) or 1.0
    to = float(sum(observed)) or 1.0
    val = 0.0
    for e, o in zip(expected, observed):
        pe = max(e / te, eps)
        po = max(o / to, eps)
        val += (po - pe) * math.log(po / pe)
    return val


def ks_stat(expected: list[int], observed: list[int]) -> float:
    """Two-sample KS statistic approximated from aligned histogram CDFs."""
    te = float(sum(expected)) or 1.0
    to = float(sum(observed)) or 1.0
    ce = co = 0.0
    d = 0.0
    for e, o in zip(expected, observed):
        ce += e / te
        co += o / to
        d = max(d, abs(ce - co))
    return d


def sketch_quantile(counts: list[int], bin_width: float, q: float) -> float | None:
    """Quantile from a uniform fixed-bin sketch (last bin = overflow):
    linear interpolation within the target bin, the same continuous-rank
    convention as DuckDB quantile_cont / Spark percentile.  Returns None on
    an empty sketch.  Overflow-bin hits clamp to the sketch ceiling."""
    total = sum(counts)
    if total == 0:
        return None
    rank = q * (total - 1)
    cum = 0
    for i, c in enumerate(counts):
        if c == 0:
            continue
        if cum + c > rank:
            ceiling = (len(counts) - 1) * bin_width
            lo = i * bin_width
            if lo >= ceiling:  # overflow bin: no upper edge, clamp
                return ceiling
            frac = (rank - cum) / c
            return lo + frac * bin_width
        cum += c
    return (len(counts) - 1) * bin_width

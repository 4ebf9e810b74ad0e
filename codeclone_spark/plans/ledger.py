"""Per-partition checkpoint ledger — the resume mechanism.

Analog of the reference's incremental cache: a durable map
``partition -> {status, wave, data_sig, baseline_sha, rule_counts,
suppressed, partials}`` (cache-signature semantics of
``core/discovery.py:118-190``).  A partition is *done* only after
its wave's outputs AND the ledger entry are durably written (atomic rename,
reference ``_atomic_write_json`` clone_baseline.py:394-400); a re-run prunes
done partitions at the SCAN level (partition-column filter → zero bytes read)
and converges to identical final outputs.

Layout: a DIRECTORY of append-only segment files, one per wave commit —
``ledger/segment-<seq>-<tag>.jsonl``.  Each ``save()`` writes ONLY the
entries recorded since the last save (O(wave), not O(all partitions)); a
load unions the segments in sequence order, later entries overriding
earlier ones.  At 10^6 partitions the per-wave commit cost is therefore
bounded by wave size, and a crashed run leaves only whole, atomically
renamed segments behind.  ``forget()`` appends tombstone records instead of
rewriting history (the same mechanism invalidation uses).

Entries carry two validity signatures checked on resume:

- ``data_sig`` — a fold of the partition's data files' (name, size,
  mtime_ns), the reference's cache content-signature probe
  (``core/discovery.py:118-190``, ``core/worker.py:75-78``).  For Iceberg
  tables the caller passes the snapshot id instead (``sources/iceberg.py``).
  A partition whose data changed after its entry was written is re-validated.
- ``baseline_sha`` — hash of the accepted-violation set the entry's
  known/new split (``rule_counts``) was computed against.  If the baseline
  changes between runs sharing an out_dir, the persisted split is stale
  (removed keys would stay "known" and fail open); such entries are treated
  as not-done and re-derived.

Partials stored per partition are MERGEABLE (counts, sums, min/max, histogram
arrays) so table-level stats/drift never rescan completed partitions.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any, Iterable

from codeclone_spark import LEDGER_SCHEMA_VERSION

_SEG_PREFIX = "segment-"


def partition_data_signature(clips_root: str, part: str) -> str:
    """Content signature of one hive partition directory: sha-fold of the
    sorted (file name, size, mtime_ns) triples of its data files.  Pure
    driver-side metadata (os.scandir — the local analog of reading an
    Iceberg partition manifest; with a real catalog the snapshot id serves
    instead, see sources/iceberg.py:54)."""
    pdir = os.path.join(clips_root, f"part={part}")
    triples = []
    try:
        with os.scandir(pdir) as it:
            for de in it:
                if de.name.startswith((".", "_")):
                    continue  # _SUCCESS markers, hidden/tmp files
                st = de.stat()
                triples.append(f"{de.name}|{st.st_size}|{st.st_mtime_ns}")
    except FileNotFoundError:
        return "absent"
    h = hashlib.sha256("\n".join(sorted(triples)).encode())
    return h.hexdigest()[:16]


def accepted_set_sha(accepted: Iterable[str]) -> str:
    """Identity of the accepted-violation set a known/new split was computed
    against (order-insensitive)."""
    h = hashlib.sha256("\n".join(sorted(accepted)).encode())
    return h.hexdigest()[:16]


class Ledger:
    """Segmented checkpoint ledger rooted at a directory.

    ``record()`` buffers entries; ``save()`` durably commits the buffer as
    one new segment (atomic rename).  Loading replays segments in sequence
    order.
    """

    def __init__(self, root: str):
        self.root = root
        self.partitions: dict[str, dict[str, Any]] = {}
        self._pending: dict[str, dict[str, Any] | None] = {}
        self._next_seq = 0
        if os.path.isdir(root):
            for name in sorted(os.listdir(root)):
                if not (name.startswith(_SEG_PREFIX) and name.endswith(".jsonl")):
                    continue
                seq = int(name[len(_SEG_PREFIX):].split("-", 1)[0])
                self._next_seq = max(self._next_seq, seq + 1)
                with open(os.path.join(root, name)) as f:
                    header = json.loads(f.readline())
                    if header.get("ledger_schema_version") != LEDGER_SCHEMA_VERSION:
                        continue  # incompatible segment: ignore wholesale
                    for line in f:
                        rec = json.loads(line)
                        if rec.get("tombstone"):
                            self.partitions.pop(rec["part"], None)
                        else:
                            self.partitions[rec["part"]] = rec["entry"]

    def done_parts(self, data_sigs: dict[str, str], baseline_sha: str) -> set[str]:
        """Partitions safe to skip: status done AND both the data signature
        and the baseline identity still match what the entry was computed
        against.  Entries written before signatures existed (no data_sig
        field) are conservatively re-run."""
        return {
            p for p, e in self.partitions.items()
            if e.get("status") == "done"
            and e.get("data_sig") == data_sigs.get(p)
            and e.get("baseline_sha") == baseline_sha
        }

    def record(self, part: str, entry: dict[str, Any]) -> None:
        full = {"status": "done", **entry}
        self.partitions[part] = full
        self._pending[part] = full

    def forget(self, parts: Iterable[str]) -> None:
        """Invalidate entries via tombstones (used by tests/bench to model a
        crash, and available for operational cache-busting)."""
        for p in parts:
            self.partitions.pop(p, None)
            self._pending[p] = None

    def save(self, tag: str = "wave") -> None:
        """Durably commit pending entries as ONE new segment — O(pending),
        independent of how many partitions are already done."""
        if not self._pending:
            return
        os.makedirs(self.root, exist_ok=True)
        name = f"{_SEG_PREFIX}{self._next_seq:06d}-{tag}.jsonl"
        tmp = os.path.join(self.root, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(
                json.dumps({"ledger_schema_version": LEDGER_SCHEMA_VERSION})
                + "\n"
            )
            for p in sorted(self._pending):
                e = self._pending[p]
                if e is None:
                    f.write(json.dumps({"part": p, "tombstone": True}) + "\n")
                else:
                    f.write(
                        json.dumps({"part": p, "entry": e}, sort_keys=True)
                        + "\n"
                    )
        os.replace(tmp, os.path.join(self.root, name))
        self._next_seq += 1
        self._pending = {}


def _merge_colstats(
    entries: list[dict[str, Any]],
) -> dict[str, dict[str, Any]]:
    """Fold per-partition numeric-column partials ({null, min, max, mean,
    qsk}) for every column present in the entries — the ledger stays
    agnostic of WHICH columns the stats registry declares."""
    names = sorted(
        {c for e in entries for c in (e.get("colstats") or {})}
    )
    out: dict[str, dict[str, Any]] = {}
    for name in names:
        subs = [
            (e["rows"], e["colstats"][name])
            for e in entries
            if name in (e.get("colstats") or {})
        ]
        nulls = sum(s["null"] for _r, s in subs)
        mins = [s["min"] for _r, s in subs if s["min"] is not None]
        maxs = [s["max"] for _r, s in subs if s["max"] is not None]
        # mean from per-partition (mean, non-null count) weighted fold
        wsum = sum(
            s["mean"] * (r - s["null"]) for r, s in subs if s["mean"] is not None
        )
        nn = sum(r - s["null"] for r, s in subs)
        qsk = [0] * max((len(s.get("qsk", [])) for _r, s in subs), default=0)
        for _r, s in subs:
            for i, c in enumerate(s.get("qsk", [])):
                qsk[i] += c
        out[name] = {
            "null": nulls,
            "min": min(mins) if mins else None,
            "max": max(maxs) if maxs else None,
            "mean": round(wsum / nn, 6) if nn else None,
            "qsk": qsk,
        }
    return out


def merge_partials(entries: list[dict[str, Any]]) -> dict[str, Any]:
    """Fold per-partition partials into table-level stats (the reference's
    MetricFamily.aggregate step, metrics/registry.py:678-783)."""
    if not entries:
        return {}
    rows = sum(e["rows"] for e in entries)
    tr_null = sum(e["transcript_null"] for e in entries)
    undec = sum(e["undecodable"] for e in entries)
    hist = [0] * len(entries[0]["dur_hist"])
    for e in entries:
        for i, c in enumerate(e["dur_hist"]):
            hist[i] += c
    sr_counts: dict[str, int] = {}
    for e in entries:
        for k, v in e["sr_counts"].items():
            sr_counts[k] = sr_counts.get(k, 0) + v
    return {
        "rows": rows,
        "transcript_null": tr_null,
        "undecodable": undec,
        "dur_hist": hist,
        "sr_counts": dict(sorted(sr_counts.items())),
        "colstats": _merge_colstats(entries),
    }

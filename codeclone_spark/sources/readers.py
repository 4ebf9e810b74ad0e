"""Source guards: directory allowlisting + schema validation before a
single executor spins up (fail fast on the driver, like the reference's
resolved_path_under_root + sensitive-dir checks and its strict baseline
schema validation before use)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from codeclone_spark.schema import CLIPS_SCHEMA

REQUIRED_CLIPS_COLUMNS = {
    f.name: f.dataType.simpleString() for f in CLIPS_SCHEMA.fields
}

SENSITIVE_PREFIXES = ("/etc", "/proc", "/sys", "/dev", "/root/.ssh")
# carve-outs under otherwise-sensitive prefixes: /dev/shm is a plain tmpfs
# (RAM-staged datasets), not device nodes
ALLOWED_CARVEOUTS = ("/dev/shm",)


def validate_data_dir(data_dir: str, allowed_roots: list[str] | None = None) -> str:
    """Resolve + guard the input directory.  Raises ValueError on escape."""
    resolved = os.path.realpath(data_dir)
    in_carveout = any(
        resolved == ok or resolved.startswith(ok + os.sep)
        for ok in ALLOWED_CARVEOUTS
    )
    for bad in SENSITIVE_PREFIXES:
        if not in_carveout and (
            resolved == bad or resolved.startswith(bad + os.sep)
        ):
            raise ValueError(f"refusing sensitive path {resolved!r}")
    if allowed_roots:
        roots = [os.path.realpath(r) for r in allowed_roots]
        if not any(resolved == r or resolved.startswith(r + os.sep) for r in roots):
            raise ValueError(f"{resolved!r} not under allowed roots {roots}")
    return resolved


def validate_clips_schema(df: DataFrame) -> None:
    """Strict required-column/type check (names + simpleString types)."""
    have = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    missing = [c for c in REQUIRED_CLIPS_COLUMNS if c not in have]
    if missing:
        raise ValueError(f"clips table missing columns: {missing}")
    wrong = {
        c: (have[c], t)
        for c, t in REQUIRED_CLIPS_COLUMNS.items()
        if have[c] != t
    }
    if wrong:
        raise ValueError(f"clips table column type mismatches: {wrong}")

"""Import-layering rules over the package's own module graph — the
reference's architecture-test layer (tests/test_architecture.py,
SURVEY §5): the dependency DIRECTION is the architecture, so freezing it
makes an upward import (an operator reaching into the engine runner, a
pure-function module growing a plans dependency) an explicit test
failure instead of silent coupling.

Layers, bottom to top (lower may never import higher):

    schema / synth  →  functions  →  operators  →  plans  →  streaming
                         sources  ──────────────↗

`cli` and `entry_queries` are top-level surfaces: anything may be
imported BY them, nothing inside the package may import THEM.
"""

from __future__ import annotations

import ast
import os
import re

import codeclone_spark

PKG_ROOT = os.path.dirname(codeclone_spark.__file__)

# package -> internal sub-packages/modules it may import
ALLOWED = {
    "functions": {"functions", "schema", "synth"},
    "operators": {"operators", "functions", "schema"},
    "sources": {"sources", "schema"},
    "plans": {
        "plans", "operators", "sources", "functions", "schema", "synth", "",
    },
    "streaming": {
        "streaming", "plans", "operators", "functions", "schema",
    },
}
SURFACES = {"cli", "entry_queries"}  # importable by tests/users only


def _imports_of(path: str) -> set[str]:
    with open(path) as f:
        tree = ast.parse(f.read())
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            mod = node.module
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("codeclone_spark"):
                    out.add(a.name)
            continue
        else:
            continue
        if mod.startswith("codeclone_spark"):
            out.add(mod)
    return out


def _first_component(mod: str) -> str:
    rest = mod.split("codeclone_spark", 1)[1].lstrip(".")
    return rest.split(".", 1)[0] if rest else ""


def test_layering():
    violations = []
    for pkg, allowed in ALLOWED.items():
        pdir = os.path.join(PKG_ROOT, pkg)
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".py"):
                continue
            for mod in _imports_of(os.path.join(pdir, fn)):
                comp = _first_component(mod)
                if comp not in allowed:
                    violations.append(f"{pkg}/{fn} imports {mod}")
    assert not violations, "\n".join(violations)


def test_surfaces_not_imported_internally():
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, fn), PKG_ROOT)
            if rel.replace(".py", "") in SURFACES:
                continue
            for mod in _imports_of(os.path.join(root, fn)):
                if _first_component(mod) in SURFACES:
                    violations.append(f"{rel} imports {mod}")
    assert not violations, "\n".join(violations)


RULE_KEY = re.compile(r"^(audio|stats|ref|uniq|neardup|drift|schema):")
REGISTRY = os.path.join("operators", "rules.py")


def test_rule_metadata_lives_only_in_the_registry():
    """A dict literal keyed by rule ids outside ``operators/rules.py`` is a
    second, hand-synced rule table: per-rule metadata belongs on the
    ``RULES`` record, and lookups derive from it."""
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            if not fn.endswith(".py") or rel == REGISTRY:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if not isinstance(node, ast.Dict):
                    continue
                keys = [
                    k.value
                    for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                ]
                hits = [k for k in keys if RULE_KEY.match(k)]
                if hits:
                    violations.append(f"{rel}:{node.lineno} keys {hits[:3]}")
    assert not violations, "\n".join(violations)


def test_driver_rows_enter_spark_only_through_local_frame():
    """``createDataFrame`` over a driver list plans as ``Scan ExistingRDD``
    and re-runs the rows through Python workers on every action; driver
    rows go through ``schema.local_frame``, which is the one call site."""
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            if not fn.endswith(".py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            allowed: set[int] = set()
            if rel == "schema.py":
                for node in ast.walk(tree):
                    if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                        allowed |= {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed
                ):
                    violations.append(f"{rel}:{node.lineno}")
    assert not violations, "\n".join(violations)


ENV_READER = "session.py"


def test_env_reads_only_in_session():
    """Process environment is read in one place, the session factory: an
    env var read deeper in the package is a hidden knob that no
    ``RunConfig`` field, CLI flag or session conf shows."""
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            if not fn.endswith(".py") or rel == ENV_READER:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "os"
                ) or (
                    isinstance(node, ast.ImportFrom)
                    and node.module == "os"
                    and {a.name for a in node.names} & {"environ", "getenv"}
                ):
                    violations.append(f"{rel}:{node.lineno}")
    assert not violations, "\n".join(violations)


def test_session_conf_written_only_in_session():
    """Session conf is written in one place, the session factory: a
    ``conf.set`` deeper in the package changes a setting every other
    thread's jobs on the shared session read meanwhile (the runner runs
    stages on thread pools).  Size a stage's shuffles on its own frames."""
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            if not fn.endswith(".py") or rel == ENV_READER:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("set", "unset")
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "conf"
                ):
                    violations.append(f"{rel}:{node.lineno}")
    assert not violations, "\n".join(violations)


DECLARER = os.path.join("functions", "audio.py")
# Every decode pass in ``functions/`` reports per-row errors through these
# two columns (the image and video passes too), so the names alone do not
# mark a copy of the audio row.
ERROR_CHANNEL = {"decode_ok", "error_kind"}


def test_decode_columns_declared_once():
    """The per-clip decode row is declared once, in ``functions/audio.py``:
    a ``StructField`` named after a column the decode derives anywhere else
    in the package is a second, hand-synced copy of that row.  Downstream
    schemas (the facts row, the decode stage's output) derive from the one
    declaration instead."""
    from codeclone_spark.functions import audio
    from codeclone_spark.plans.facts import DECODE_OUT_SCHEMA
    from codeclone_spark.schema import CLIPS_SCHEMA

    derived = set(DECODE_OUT_SCHEMA.names) - set(CLIPS_SCHEMA.names) - ERROR_CHANNEL
    assert derived, "the decode row derives no columns"
    violations = []
    for root, _dirs, files in os.walk(PKG_ROOT):
        for fn in sorted(files):
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, PKG_ROOT)
            if not fn.endswith(".py") or rel == DECLARER:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "id", getattr(node.func, "attr", None))
                    == "StructField"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and node.args[0].value in derived
                ):
                    violations.append(f"{rel}:{node.lineno} {node.args[0].value}")
    assert not violations, "\n".join(violations)
    assert DECODE_OUT_SCHEMA is audio.DECODE_OUT_SCHEMA

"""codeclone_spark — a from-scratch PySpark-native schema + constraint
validation engine over audio clip + transcript tables.

Semantics derive from the public reference ``orenlab/codeclone`` (a
structural change controller for Python repos): canonicalize each item,
derive per-item facts, aggregate into findings, diff against a persisted
integrity-checked baseline, evaluate gates into pass/fail verdicts, emit one
canonical report.  Here the items are audio clips, the facts come from a
vectorized Arrow decode UDF, and the findings are data-quality violations.

Layout
------
- ``session``     SparkSession factory (Arrow on, UTC, AQE)
- ``schema``      the clips input schema + ``local_frame`` (driver rows)
- ``synth``       deterministic synthetic clips/fixtures generator
- ``functions``   audio decode/codec UDFs, text analytics, vector math
- ``operators``   rule registry + stats/uniqueness/referential/drift/audio
                  rules, dedup (minhash/simhash), similarity search
- ``plans``       engine runner: facts stage -> rules -> violations/verdicts,
                  baseline snapshot, gates, checkpoint ledger, report
- ``sources``     readers for clips/fixtures/baseline with validation
- ``streaming``   incremental/streaming analogs (micro-batch validation)

Engine contracts (versioned like the reference's
``codeclone/contracts/__init__.py:12-17``).
"""

ENGINE_NAME = "codeclone_spark"
ENGINE_VERSION = "0.5.0"

# Versioned persisted-artifact contracts (reference: contracts/__init__.py)
# 1.3: adds the accepted near-dup cluster section ("clones" — the
# reference's clone-group baseline, clone_baseline.py:511-527)
BASELINE_SCHEMA_VERSION = "1.3"
# 1.2: adds metrics.neardup (present when the near-dup stage runs)
# 1.1: adds the derived.review_queue triage section (additive)
REPORT_SCHEMA_VERSION = "1.2"
LEDGER_SCHEMA_VERSION = "2.0"

# Exit codes (reference: contracts/__init__.py:112-116)
EXIT_OK = 0
EXIT_CONTRACT_ERROR = 2
EXIT_GATE_FAILURE = 3
EXIT_USAGE_ERROR = 5

"""Contract snapshot of the CLI surface — the reference freezes its CLI
help text as a contract file (tests/fixtures/contract_snapshots/
cli_help.txt, SURVEY §5): any flag rename/removal must show up as an
explicit golden diff, not a silent break for spark-submit wrappers.
The run's usage errors are part of the contract too: exit 5, before any
Spark session starts.
"""

from __future__ import annotations

import os

import pytest

from codeclone_spark import EXIT_USAGE_ERROR, session
from codeclone_spark.cli import build_parser, main

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "cli_help.txt")


def _render_help() -> str:
    os.environ["COLUMNS"] = "100"  # argparse wraps to terminal width
    parser = build_parser()
    chunks = [parser.format_help()]
    subactions = next(
        a for a in parser._actions if hasattr(a, "choices") and a.choices
    )
    for name, sub in sorted(subactions.choices.items()):
        chunks.append(f"\n===== {name} =====\n{sub.format_help()}")
    return "".join(chunks)


def test_cli_help_contract():
    rendered = _render_help()
    if not os.path.exists(GOLDEN):  # first run: write the contract
        with open(GOLDEN, "w") as f:
            f.write(rendered)
    with open(GOLDEN) as f:
        assert rendered == f.read(), (
            "CLI surface changed — if intentional, delete "
            "tests/golden/cli_help.txt and re-run to re-freeze the contract"
        )


@pytest.mark.parametrize("spec", [
    "audio:snr",           # no '='
    "audio:snr=two",       # not an integer
    "audio:snr=1.5",
    "audio:snr=-1",        # negative: once read as "no budget" by the grid
    "audio:sr_allowed=1",  # no such rule: once silently ignored
])
def test_run_rejects_bad_max_count_before_spark(spec, monkeypatch, capsys):
    def no_spark(*_a, **_k):
        raise AssertionError("a Spark session started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    rc = main(["run", "--data-dir", "d", "--out-dir", "o", "--max-count", spec])
    assert rc == EXIT_USAGE_ERROR
    assert "usage error: --max-count" in capsys.readouterr().err


@pytest.mark.parametrize("directive", [
    "audio:sr_allowed:*",    # no such rule
    "audio:snr:",            # malformed: empty partition
    "uniq:clip_id:flac-b01",  # table-scope rules accept only '*'
])
def test_run_rejects_bad_suppression_before_spark(directive, monkeypatch, capsys):
    def no_spark(*_a, **_k):
        raise AssertionError("a Spark session started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    rc = main(["run", "--data-dir", "d", "--out-dir", "o", "--suppress", directive])
    assert rc == EXIT_USAGE_ERROR
    assert "usage error: --suppress" in capsys.readouterr().err


@pytest.mark.parametrize("flags", [
    ["--wave-size", "-2"],  # once chunked the partitions into no wave
    ["--wave-size", "0"],   # once a ValueError from range(), exit 2
    ["--neardup-max-bucket", "-1"],  # would drop every LSH bucket
    ["--neardup-threshold", "1.5"],  # would verify no pair
    ["--neardup-threshold", "0"],
])
def test_run_rejects_bad_settings_before_spark(flags, monkeypatch, capsys):
    def no_spark(*_a, **_k):
        raise AssertionError("a Spark session started")

    monkeypatch.setattr(session, "get_spark", no_spark)
    rc = main(["run", "--data-dir", "d", "--out-dir", "o", *flags])
    assert rc == EXIT_USAGE_ERROR
    assert f"usage error: {flags[0][2:].replace('-', '_')}" in capsys.readouterr().err


@pytest.mark.parametrize("kwargs", [
    {"wave_size": 0},
    {"wave_size": -2},
    {"neardup_max_bucket": -1},
    {"neardup_threshold": 0.0},
    {"neardup_threshold": 1.0001},
])
def test_run_config_rejects_settings_that_validate_nothing(kwargs):
    from codeclone_spark.plans.runner import RunConfig

    with pytest.raises(ValueError, match=next(iter(kwargs))):
        RunConfig(data_dir="d", out_dir="o", **kwargs)


def test_run_config_accepts_the_edges_of_its_ranges():
    from codeclone_spark.plans.runner import RunConfig

    RunConfig(data_dir="", out_dir="")  # the defaults
    RunConfig(
        data_dir="d", out_dir="o", wave_size=1, neardup_max_bucket=0,
        neardup_threshold=1.0,
    )


def test_suppression_of_unknown_rule_is_rejected():
    """A directive for a rule the registry lacks would suppress nothing
    while the run looks suppressed."""
    from codeclone_spark.plans.runner import _parse_suppressions

    with pytest.raises(ValueError, match="unknown rule id"):
        _parse_suppressions(["audio:sr_allowed:*"])
    assert _parse_suppressions(["audio:snr:*", "stats:range:dur_ms:flac-b01"]) == [
        ("audio:snr", "*"), ("stats:range:dur_ms", "flac-b01"),
    ]

"""Argument rules of the 14 maintained-store subcommands, pinned without
a Spark job: ``cli.get_spark`` is replaced by a function that raises a
sentinel, so every invocation ends in one of three ways:

- ``refuse``: a ``SystemExit`` whose message starts with the subcommand
  name, raised before any session would start;
- ``usage``: argparse rejects a flag the store does not define (exit 2);
- ``session``: the arguments pass every rule and the handler asks for
  its Spark session.

Plus a static check that the shared store flags are defined once."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from data_ingestion_lambda_spark import cli

REFUSE, USAGE, SESSION = "refuse", "usage", "session"

CASES = {
    "batch_without_date": ["--batch", "b.parquet"],
    "date_without_batch": ["--date", "2025-01-01"],
    "stream_without_checkpoint": ["--stream-source", "drops"],
    "stream_with_batch": [
        "--stream-source", "drops", "--checkpoint", "ckpt",
        "--batch", "b.parquet", "--date", "2025-01-01",
    ],
    "no_action": [],
    "one_valid_action": ["--batch", "b.parquet", "--date", "2025-01-01"],
}

# Outcomes in CASES order. dedup-gate used to start its session before
# checking anything, so every row read `session` there; its refusals now
# run first, like every other store's, and --stream-source with --batch
# refuses there as in the other streamed stores.
EXPECTED = {
    "dedup-gate": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "vocab": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "ann-index": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "search-index": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "drift-monitor": (REFUSE, REFUSE, USAGE, USAGE, SESSION, SESSION),
    "feature-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "hh-store": (REFUSE, REFUSE, USAGE, USAGE, SESSION, SESSION),
    "cms-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "bloom-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "dsir-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "touch-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "markov-store": (REFUSE, REFUSE, USAGE, USAGE, REFUSE, SESSION),
    "session-store": (REFUSE, REFUSE, REFUSE, REFUSE, REFUSE, SESSION),
    "attribution-store": (REFUSE, REFUSE, REFUSE, SESSION, REFUSE, SESSION),
}


class _SessionStart(Exception):
    pass


def _no_session(*args, **kwargs):
    raise _SessionStart


def _outcome(store: str, case: list[str]) -> str:
    directory = ["--vocab", "vocab"] if store == "vocab" else ["--index", "idx"]
    try:
        cli.main([store, *directory, *case])
    except _SessionStart:
        return SESSION
    except SystemExit as exc:
        if exc.code == 2:
            return USAGE
        assert str(exc.code).startswith(f"{store}: "), exc.code
        return REFUSE
    raise AssertionError(f"{store} {case} returned without a session")


@pytest.mark.parametrize("store", sorted(EXPECTED))
def test_store_argument_rules(store, monkeypatch, capsys):
    monkeypatch.setattr(cli, "get_spark", _no_session)
    got = {name: _outcome(store, case) for name, case in CASES.items()}
    assert got == dict(zip(CASES, EXPECTED[store]))


# Store-specific refusals that read only arguments, so they must come
# before the session: nothing may land before the command is refused.
OWN_REFUSALS = [
    ("feature-store", ["--decayed-out", "d.parquet"]),
    ("feature-store", ["--as-of", "2025-01-01", "--compact-before", "2025-01-01"]),
    (
        "feature-store",
        ["--batch", "b.parquet", "--date", "2025-01-01", "--decayed-out", "d.parquet"],
    ),
]


@pytest.mark.parametrize("store,case", OWN_REFUSALS)
def test_store_refuses_before_the_session(store, case, monkeypatch):
    monkeypatch.setattr(cli, "get_spark", _no_session)
    assert _outcome(store, case) == REFUSE


def test_shared_store_flags_are_defined_once():
    tree = ast.parse(Path(cli.__file__).read_text())
    counts = {"--batch": 0, "--date": 0, "--compact-keep-from": 0, "--stream-source": 0}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "add_argument"
        ):
            for arg in node.args:
                if isinstance(arg, ast.Constant) and arg.value in counts:
                    counts[arg.value] += 1
    assert counts == dict.fromkeys(counts, 1)

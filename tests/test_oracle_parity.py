"""Every registered query must hash-match its DuckDB oracle at sf0.001
(the driver runs the same comparison at sf0.01).

Fast-by-default split (VERDICT r13 item 2: the full 410-query sweep
plus the rest of the suite outruns the driver's verify window): the
default run (`-m "not slow"`, pytest.ini) keeps the 50 names of the
round's _PRIORITY correctness window — exactly the names the driver
will gate on — and marks the remaining ~360 `slow`.  The builder's
pre-commit gate runs the FULL suite (`-m ""`); the rotation rule
guarantees every name re-enters the fast set at least every ~9 rounds.

Regenerating the window must not drop the names it replaces from the
default run in the same commit, so the fast set also keeps the names
the newest git-tracked CORRECTNESS_r*.json ledger witnessed (the
previous window) until the next ledger is tracked.
"""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

import pytest

from osm_changesets_to_parquet_spark import queries as Q
from tests.oracle_utils import compare


def _last_witnessed() -> set[str]:
    """Names in the newest git-tracked correctness ledger."""
    tool = Path(__file__).resolve().parent.parent / "tools" / "next_window.py"
    spec = importlib.util.spec_from_file_location("next_window", tool)
    nw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(nw)
    paths = nw.ledger_paths(tracked_only=True)
    if not paths:
        return set()
    with open(max(paths, key=nw._round_of)) as f:
        return set(json.load(f))


Q.load_all_modules()
_WINDOW = set(Q._PRIORITY[:50]) | _last_witnessed()
ORACLE_QUERIES = sorted(
    name for name, spec in Q.REGISTRY.items() if spec.oracle is not None
)
NO_ORACLE = sorted(name for name, spec in Q.REGISTRY.items() if spec.oracle is None)


def _window_first(names):
    return [
        n if n in _WINDOW else pytest.param(n, marks=pytest.mark.slow)
        for n in names
    ]


@pytest.mark.parametrize("name", _window_first(ORACLE_QUERIES))
def test_oracle_parity(spark, sf_dir, name):
    spec = Q.REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    problems = compare(df, spec.oracle, sf_dir, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", _window_first(NO_ORACLE))
def test_rows_only(spark, sf_dir, name):
    spec = Q.REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0

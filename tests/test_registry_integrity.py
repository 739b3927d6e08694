"""Registry-wide structural invariants (no Spark session needed).

Pinned after the round-10 family regrouping: relocating a query
between modules can leave a function whose body references a global
that exists in the OLD module but not the new one — the import
succeeds (module-level constants evaluate fine) and the break only
surfaces when the query RUNS.  This scan caught two such latent
NameErrors during the round-10 split (_contrastive_argmax used by
q135 from ann_embeddings, pagerank used by q335 from graph_apps), so
it is a permanent gate now.
"""

from __future__ import annotations

import builtins
import dis
import json
import subprocess
import sys
import types
from pathlib import Path

import pytest


def _load_registry():
    from osm_changesets_to_parquet_spark import queries as Q

    Q.load_all_modules()
    return Q


def test_every_query_fn_resolves_all_globals_in_its_module():
    Q = _load_registry()
    bad = []
    for name, spec in Q.REGISTRY.items():
        mod = sys.modules[spec.fn.__module__]
        codes, seen = [spec.fn.__code__], set()
        while codes:
            c = codes.pop()
            if id(c) in seen:
                continue
            seen.add(id(c))
            codes += [k for k in c.co_consts if isinstance(k, types.CodeType)]
            for ins in dis.get_instructions(c):
                if (
                    ins.opname == "LOAD_GLOBAL"
                    and not hasattr(mod, ins.argval)
                    and not hasattr(builtins, ins.argval)
                ):
                    bad.append((name, spec.fn.__module__, ins.argval))
    assert not bad, f"unresolvable globals (latent NameErrors): {bad}"


def test_every_module_helper_resolves_all_globals():
    """Same scan for NON-registered module-level functions (runtime
    helpers called from query bodies, SQL builders, pandas closures)."""
    Q = _load_registry()
    mods = {spec.fn.__module__ for spec in Q.REGISTRY.values()}
    bad = []
    for mname in sorted(mods):
        mod = sys.modules[mname]
        for attr, val in vars(mod).items():
            if not isinstance(val, types.FunctionType) or val.__module__ != mname:
                continue
            codes, seen = [val.__code__], set()
            while codes:
                c = codes.pop()
                if id(c) in seen:
                    continue
                seen.add(id(c))
                codes += [k for k in c.co_consts if isinstance(k, types.CodeType)]
                for ins in dis.get_instructions(c):
                    if (
                        ins.opname == "LOAD_GLOBAL"
                        and not hasattr(mod, ins.argval)
                        and not hasattr(builtins, ins.argval)
                    ):
                        bad.append((mname, attr, ins.argval))
    assert not bad, f"unresolvable helper globals: {bad}"


def test_registry_contract_shape():
    """Every declared query carries an oracle (zero rows-only — the
    current contract) and the correctness window is exactly 50 names."""
    Q = _load_registry()
    qs = Q.queries()
    osql = Q.oracle_sql()
    assert set(osql) == set(qs), set(qs) - set(osql)
    assert len(list(qs)[:50]) == 50


def test_registry_is_frozen_at_410_names():
    """``register()`` writes into a dict, so a pasted duplicate name
    silently replaces a query; the frozen count catches that (and any
    new registration)."""
    Q = _load_registry()
    assert len(Q.REGISTRY) == 410


_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _ledger(tmp_path, rnd: int, rows: dict) -> Path:
    path = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
    path.write_text(json.dumps(rows))
    return path


def test_witness_order_oldest_first_ties_by_name(tmp_path):
    from osm_changesets_to_parquet_spark.queries import witness_order

    ledgers = [
        _ledger(tmp_path, 1, {"b": _GREEN, "c": _GREEN, "a": _GREEN}),
        _ledger(tmp_path, 2, {"a": _GREEN}),
    ]
    assert witness_order(["a", "b", "c"], ledgers) == ["b", "c", "a"]
    # ledger order does not matter: the latest green round wins
    assert witness_order(["a", "b", "c"], ledgers[::-1]) == ["b", "c", "a"]


@pytest.mark.parametrize(
    "bad",
    [
        {"rows_match": False},
        {"schema_match": False},
        {"hash_match": False},
        {"err": "AnalysisException"},
    ],
)
def test_witness_order_non_green_row_is_no_witness(tmp_path, bad):
    from osm_changesets_to_parquet_spark.queries import witness_order

    ledgers = [
        _ledger(tmp_path, 1, {"a": _GREEN, "b": _GREEN}),
        _ledger(tmp_path, 2, {"a": _GREEN, "b": {**_GREEN, **bad}}),
    ]
    assert witness_order(["a", "b"], ledgers) == ["b", "a"]


def test_witness_order_unwitnessed_name_sorts_first(tmp_path):
    from osm_changesets_to_parquet_spark.queries import witness_order

    ledgers = [_ledger(tmp_path, 1, {"a": _GREEN, "b": _GREEN})]
    assert witness_order(["a", "b", "z"], ledgers) == ["z", "a", "b"]
    assert witness_order(["b", "a"], []) == ["a", "b"]


def test_new_ledger_moves_the_window(tmp_path, monkeypatch):
    """Dropping the next round's ledger at the root reorders the
    registry on the next load, with no source edit."""
    Q = _load_registry()
    monkeypatch.setattr(Q, "_LEDGER_DIR", tmp_path)
    names = sorted(Q.REGISTRY)
    half = len(names) // 2
    _ledger(tmp_path, 1, {n: _GREEN for n in names})
    try:
        Q.load_all_modules()
        assert list(Q.REGISTRY)[:50] == names[:50]
        _ledger(tmp_path, 2, {n: _GREEN for n in names[:half]})
        Q.load_all_modules()
        assert list(Q.REGISTRY)[:50] == names[half : half + 50]
    finally:
        monkeypatch.undo()
        Q.load_all_modules()


def test_window_does_not_depend_on_the_cwd(tmp_path):
    """The correctness check imports ``__spark_entry__`` by file path
    from another directory; the ledgers are found from the package, not
    the cwd."""
    repo = Path(__file__).resolve().parent.parent
    code = (
        "import importlib.util, sys\n"
        "spec = importlib.util.spec_from_file_location('__spark_entry__', sys.argv[1])\n"
        "mod = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(mod)\n"
        "print(*list(mod.queries())[:50])\n"
    )

    def first_50(cwd):
        out = subprocess.run(
            [sys.executable, "-c", code, str(repo / "__spark_entry__.py")],
            cwd=cwd,
            capture_output=True,
            text=True,
        )
        assert out.returncode == 0, out.stderr
        return out.stdout.split()

    from_tmp = first_50(tmp_path)
    assert len(from_tmp) == 50
    assert from_tmp == first_50(repo)

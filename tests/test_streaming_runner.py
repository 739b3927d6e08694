"""The stream runner and the derived-store cache: replays and query
stores (``catalog.table_store``) are keyed on the source table, not on
its directory name, so same-named fixture dirs and a table rewritten
in place each get their own; only ``catalog.py`` spells the ready
marker or a temp path built from ``sf_dir``; a failed stream leaves the
session's shuffle-partition count as it was; and every stream starts
through ``_start_stream``."""

from __future__ import annotations

import ast
import tempfile
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark import queries as Q
from osm_changesets_to_parquet_spark.streaming import jobs
from tests.oracle_utils import compare

_KEY = "spark.sql.shuffle.partitions"


def _write_events(sf: Path, n: int, seed: int) -> None:
    t0 = datetime(2024, 1, 1)
    types = ("click", "view", "purchase", "error")
    sf.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [t0 + timedelta(minutes=13 * i) for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([(7 * i + seed) % 41 for i in range(n)], pa.int64()),
                "event_type": pa.array([types[(i + seed) % 4] for i in range(n)]),
                "value": pa.array([float((37 * i + 11 * seed) % 400) for i in range(n)]),
            }
        ),
        sf / "events.parquet",
    )


def _write_orders(sf: Path, n: int, seed: int) -> None:
    d0 = datetime(1995, 1, 1)
    sf.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(1, n + 1), pa.int64()),
                "o_custkey": pa.array([(13 * i + seed) % 120 for i in range(n)], pa.int64()),
                # whole prices: sums are exact in any order
                "o_totalprice": pa.array([float(100 + (79 * i + seed) % 900) for i in range(n)]),
                "o_orderdate": pa.array(
                    [d0 + timedelta(days=(17 * i) % 1460) for i in range(n)],
                    pa.timestamp("us"),
                ),
            }
        ),
        sf / "orders.parquet",
    )


_WRITERS = {"events": _write_events, "orders": _write_orders}
_STORE_QUERIES = (
    "s4a_watermark_ontime",
    "q154_incremental_agg",
    "q159_manifest_skipping",
    "q163_zorder_skipping",
    "q167_targeted_delete",
    "q191_dynamic_partition_pruning",
)


@pytest.mark.parametrize(
    "name, in_place",
    [(q, False) for q in _STORE_QUERIES] + [("q167_targeted_delete", True)],
    ids=[*_STORE_QUERIES, "q167_targeted_delete-rewritten_in_place"],
)
def test_same_named_fixture_dirs_get_their_own_replay(
    spark, tmp_path, monkeypatch, name, in_place
):
    # the stores land under this test's tmp dir, so none outlives it
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    Q.load_all_modules()
    spec = Q.REGISTRY[name]
    a, b = tmp_path / "a" / "sf", tmp_path / "b" / "sf"
    for seed, d in enumerate([a, a] if in_place else [a, b]):
        for t in spec.tables:
            _WRITERS[t](d, 200 + 37 * seed, seed)
        assert compare(spec.fn(spark, str(d)), spec.oracle, str(d), spec.name) == []


def test_failed_stream_restores_shuffle_partitions(spark, sf_dir):
    counts = (
        jobs._read_stream(spark, jobs.prepare_replay_dir(spark, sf_dir))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seen = []

    def body(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(_KEY))
        raise RuntimeError("injected sink failure")

    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "13")
    try:
        with pytest.raises(StreamingQueryException, match="injected sink failure"):
            jobs._start_stream(counts, body=body)
        assert spark.conf.get(_KEY) == "13"
    finally:
        spark.conf.set(_KEY, prev)
    # the stream ran on its own pinned copy of the session conf
    assert seen == [jobs.STREAM_SHUFFLE_PARTITIONS]


def test_s23_crash_and_restart_restore_shuffle_partitions(spark, sf_dir):
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "13")
    try:
        rows = jobs.run_s23_crash_recovery(spark, sf_dir).collect()
        assert spark.conf.get(_KEY) == "13"
    finally:
        spark.conf.set(_KEY, prev)
    assert rows and all(r.recovered for r in rows)


def test_streams_start_through_one_runner():
    tree = ast.parse(Path(jobs.__file__).read_text())
    write_stream = {
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "writeStream"
    }
    conf_sets = {
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "set"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == _KEY
    }
    assert len(write_stream) <= 1 and len(conf_sets) <= 2, (
        f"streaming/jobs.py: {len(write_stream)} code lines call writeStream "
        f"(cap 1) and {len(conf_sets)} set {_KEY} (cap 2: one pin and its "
        "restore). Start every stream through _start_stream, which owns the "
        "checkpoint dir, the state-partition pin and its restore, and the wait."
    )


def _sf_dir_temp_paths(tree: ast.AST) -> set[int]:
    """Lines that pass ``gettempdir()`` and ``sf_dir``, or a name
    assigned from it in the same function, to one call."""

    def names(node):
        return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}

    def is_gettempdir(node):
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and "gettempdir" in (
            getattr(f, "attr", None),
            getattr(f, "id", None),
        )

    lines = set()
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        derived = {"sf_dir"}
        assigns = [n for n in ast.walk(fn) if isinstance(n, ast.Assign)]
        while new := {
            t
            for a in assigns
            if names(a.value) & derived
            for t in set().union(*map(names, a.targets)) - derived
        }:
            derived |= new
        lines |= {
            c.lineno
            for c in ast.walk(fn)
            if isinstance(c, ast.Call)
            and any(is_gettempdir(n) for arg in c.args for n in ast.walk(arg))
            and any(names(arg) & derived for arg in c.args)
        }
    return lines


def test_stores_are_keyed_in_catalog_only():
    pkg = Path(jobs.__file__).resolve().parents[1]
    found = []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "catalog.py" and path.parent == pkg:
            continue
        tree = ast.parse(path.read_text())
        rel = path.relative_to(pkg)
        found += [
            f"{rel}:{n.lineno} spells a ready marker"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and "_READY" in n.value
        ]
        found += [
            f"{rel}:{line} builds a temp path from sf_dir"
            for line in sorted(_sf_dir_temp_paths(tree))
        ]
    assert not found, (
        "derive stores through catalog.table_store, which keys them on the "
        "source table and owns the ready marker, and per-call dirs through "
        "catalog.temp_dir: " + "; ".join(found)
    )

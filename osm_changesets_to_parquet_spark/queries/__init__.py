"""Declared query surface (SURVEY.md §2.B) — the executable contract.

Each :class:`QuerySpec` pairs a Spark implementation (a callable taking
``(spark, sf_dir)`` and returning a DataFrame) with the ANSI-SQL oracle
string DuckDB runs on the same parquet tables.  The driver hash-matches
the two at sf0.01 (CORRECTNESS_r{N}.json); ``tests/test_oracle_parity.py``
runs the same comparison locally at sf0.001.

Determinism discipline (SURVEY.md §2.B rules 1-5):
- every query's output has a unique total order key (for LIMIT queries,
  the ORDER BY is total);
- every floating aggregate is ROUND()ed, with the rounding applied to
  the *same* double on both sides;
- time arithmetic is over integer epoch micros (``catalog.load_table``
  normalizes ``events.ts`` to a ``ts_us`` long whatever physical unit a
  fixture generation carries — the current fixtures are
  TIMESTAMP(MICROS); integer micros is the Spark/DuckDB shared domain);
- column names are aliased identically on both sides (the driver sorts
  columns by name before hashing).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class FixtureGateError(ValueError):
    """A calibration-pinned query refusing an uncalibrated fixture.

    Recall-property queries (a51/a52/q135/q146/q150/q151) verify their
    approximate path against a brute-force oracle only on fixtures
    where the parameters were swept to recall 1.0; on any other
    fixture they fail fast with THIS error instead of letting a
    spurious mismatch be recorded.  A dedicated type (ADVICE r09) lets
    bench.py record the refusal as a ``tier2_skipped`` entry while any
    other ValueError — a genuine bug — still crashes the bench loudly.
    Subclasses ValueError so pre-r10 callers' handling is unchanged.
    """


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver does a weaker rows-only check
    doc: str = ""
    tables: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tables: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tables=tables)
        return fn

    return deco


# The external correctness check records rows in registry order and
# gates each round on the first 50, so the order is part of the
# verification contract.  Every checked round leaves a
# CORRECTNESS_r{N}.json ledger at the repo root; the registry puts the
# names whose latest green witness is oldest first, so each name
# re-enters the window within ~410/50 rounds.  The ledgers are found
# from this file, never from the cwd: the checker imports the package
# from another directory.
_LEDGER_DIR = Path(__file__).resolve().parents[2]
_LEDGER_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")


def ledger_paths() -> list[Path]:
    """Every ``CORRECTNESS_r{N}.json`` at the repo root, oldest round first."""
    found = (
        (int(m.group(1)), p)
        for p in _LEDGER_DIR.glob("CORRECTNESS_r*.json")
        if (m := _LEDGER_NAME.fullmatch(p.name))
    )
    return [p for _, p in sorted(found)]


def witness_order(names: Iterable[str], ledgers: Iterable[Path]) -> list[str]:
    """``names`` sorted by (latest round with a green row, name).

    A row is green when rows match, schema and hash are not known to
    differ, and the query raised nothing.  A name no ledger witnessed
    sorts first (round 0).
    """
    latest: dict[str, int] = {}
    for path in ledgers:
        rnd = int(_LEDGER_NAME.fullmatch(Path(path).name).group(1))
        for name, row in json.loads(Path(path).read_text()).items():
            if (
                row.get("rows_match")
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
                and row.get("err") is None
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return sorted(names, key=lambda n: (latest.get(n, 0), n))


def load_all_modules() -> None:
    """Import every query module so REGISTRY is fully populated."""
    from osm_changesets_to_parquet_spark.queries import (  # noqa: F401
        analytics,
        analytics_metrics,
        ann,
        ann_embeddings,
        ann_ranking,
        bucketing,
        conversion,
        curation,
        dedup_sim,
        governance,
        graph,
        graph_apps,
        llm_ops,
        ml_corpus,
        ml_experiments,
        ml_model_eval,
        ml_model_fit,
        ml_stat_tests,
        ml_timeseries,
        multimodal,
        quality,
        relational,
        relational_ext,
        sketches,
        sources_roundtrip,
        stats,
        stats_inference,
        streaming_jobs,
        temporal,
        udfs,
        windows_streaming,
    )

    ordered = {n: REGISTRY[n] for n in witness_order(REGISTRY, ledger_paths())}
    REGISTRY.clear()
    REGISTRY.update(ordered)


def queries() -> dict[str, QueryFn]:
    load_all_modules()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    load_all_modules()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}

"""Local replica of the driver's DuckDB-oracle comparison.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, canonicalizes both frames (columns sorted by name,
rows sorted by all columns, NaN->None, timestamps to ISO strings) and
compares values exactly — the same discipline as the driver's
order-insensitive value hash.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import duckdb
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One view per table file present in ``sf_dir`` (a hand-built input
    dir may hold only the tables its query reads)."""
    con = duckdb.connect()
    for t in TABLES:
        if not os.path.exists(f"{sf_dir}/{t}.parquet"):
            continue
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return v
    if isinstance(v, (datetime, pd.Timestamp)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    return v


def canon(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = [tuple(_canon_value(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(type(x)), x) for x in r))


def fetch_frames(spark_df, oracle_sql: str, sf_dir: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Materialize the Spark result and its oracle once, as pandas."""
    sp = spark_df.toPandas()
    con = duckdb_con(sf_dir)
    du = con.execute(oracle_sql).fetchdf()
    con.close()
    return sp, du


def compare(spark_df, oracle_sql: str, sf_dir: str, name: str = "?") -> list[str]:
    """Return a list of problems (empty == match)."""
    sp, du = fetch_frames(spark_df, oracle_sql, sf_dir)
    return compare_frames(sp, du, name)


def compare_frames(sp: pd.DataFrame, du: pd.DataFrame, name: str = "?") -> list[str]:
    problems: list[str] = []
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(f"{name}: column mismatch spark={sorted(sp.columns)} duck={sorted(du.columns)}")
        return problems
    if len(sp) != len(du):
        problems.append(f"{name}: row count spark={len(sp)} duck={len(du)}")
    a, b = canon(sp), canon(du)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y]
        problems.append(
            f"{name}: {len(diffs)} differing rows of {len(a)}; first 3: "
            + "; ".join(f"spark={x} duck={y}" for x, y in diffs[:3])
        )
    return problems

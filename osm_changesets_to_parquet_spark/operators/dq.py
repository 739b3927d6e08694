"""Data-quality / governance operators: referential-integrity audits.

The production shape: before a corpus or warehouse snapshot ships,
every declared foreign key is audited for orphans (child keys with no
parent row) — at scale this is a LEFT ANTI join per constraint, i.e.
one keyed shuffle of the child's KEY COLUMN only (never payloads), and
the parent side is broadcast when it fits (dimension tables always do).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fk_orphans(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
) -> DataFrame:
    """Rows of ``child`` whose ``child_key`` has no match in
    ``parent.parent_key`` (NULL child keys are orphans too — a NULL FK
    that the schema intended as NOT NULL is a violation, and the anti
    join's null-rejecting equality would otherwise silently pass it).
    """
    keys = parent.select(F.col(parent_key).alias("__pk")).where(
        F.col(parent_key).isNotNull()
    ).distinct()
    return child.join(
        keys, child[child_key].eqNullSafe(F.col("__pk")), "left_anti"
    )


def violation_count(name: str, df: DataFrame) -> DataFrame:
    """One-row frame ``(check_name, n_violations)`` for a violation set."""
    return df.agg(
        F.lit(name).alias("check_name"),
        F.count(F.lit(1)).cast("long").alias("n_violations"),
    )


def rule_violations(df: DataFrame, predicate: Column) -> DataFrame:
    """Rows violating a row-level expectation (``predicate`` states the
    EXPECTED invariant; violations are where it is false or NULL)."""
    return df.where(~F.coalesce(predicate, F.lit(False)))

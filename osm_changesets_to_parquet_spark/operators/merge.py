"""MERGE INTO emulation on plain parquet tables (no Delta/Iceberg).

An evolving 100 TB dataset needs upserts; without a table format with
ACID merge, the standard emulation is:

    merged = base ANTI-JOIN updates ON key   (keep unmatched base rows)
             UNION ALL updates               (matched rows replaced,
                                              new rows inserted)

plus, for SCD2 history, window versioning over the union.  Both are
pure Catalyst plans: one keyed anti-join (the only shuffle of base) and
a union — no driver involvement, rewrite cost O(base + updates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def merge_upsert(base: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """Last-writer-wins merge: update rows replace base rows with the
    same key; unmatched update rows are inserts.  Columns must match."""
    keys = [key] if isinstance(key, str) else list(key)
    kept = base.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates)


def scd2_apply(
    history: DataFrame,
    changes: DataFrame,
    key: str | list[str],
    ts_col: str,
    current_flag: str = "is_current",
    valid_to: str = "valid_to_us",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close out current versions that
    a change supersedes, append the new versions as current.

    ``history`` carries (key..., attributes..., ts_col, valid_to,
    current_flag); ``changes`` carries (key..., attributes..., ts_col).
    A closed version's ``valid_to`` is its successor's ``ts_col``; the
    newest version per key is current with valid_to null.  One window
    over (key, ts) — a single shuffle on key.

    Ties on ``ts_col`` are deterministic: a change carrying the same
    timestamp as an existing version (e.g. a reprocessed feed) ranks
    AFTER history, so the incoming row wins the current flag and the
    historical row is closed — lead() never flips between runs.
    """
    keys = [key] if isinstance(key, str) else list(key)
    incoming = changes.withColumn(valid_to, F.lit(None).cast("long")).withColumn(
        current_flag, F.lit(True)
    )
    # __src: 0 = history, 1 = incoming — the equal-ts tie-breaker.
    all_rows = history.withColumn("__src", F.lit(0)).unionByName(
        incoming.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc(), F.col("__src").asc())
    nxt = F.lead(ts_col).over(w)
    return (
        all_rows.withColumn(valid_to, nxt)
        .withColumn(current_flag, nxt.isNull())
        .drop("__src")
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-capture between two table snapshots.

    Full outer join on the key; every non-key column is compared
    null-safely.  Output = key columns + ``old_<c>`` / ``new_<c>`` for
    each compared column + ``change_type`` in {added, removed, changed,
    unchanged}.

    Scale: ONE co-partitioned full-outer shuffle on the key (both sides
    hash-partition identically, AQE handles skew); comparison is
    whole-stage-codegen null-safe equality, no UDFs.  At 100 TB this is
    the standard snapshot-reconciliation plan when no table format
    provides a changelog; if snapshots are bucketed on the key
    (see q111) even that shuffle disappears.
    """
    keys = [key] if isinstance(key, str) else list(key)
    o = old.select(
        *keys, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("__in_old", F.lit(1))
    n = new.select(
        *keys, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("__in_new", F.lit(1))
    j = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.withColumn("change_type", change).drop("__in_old", "__in_new")


# ---------------------------------------------------------------------------
# Incremental materialized aggregate (per-key partial-agg state parquet)
# ---------------------------------------------------------------------------
# The materialized-view maintenance shape: a running per-key aggregate
# over an append-only fact stream must absorb a delta batch WITHOUT
# rescanning history.  (cnt, sum, min, max) are all decomposable, so
# the state stores per-key PARTIALS and a merge is itself an aggregate:
#   cnt' = cnt_state + cnt_delta,  sum' = sum_state + sum_delta,
#   min' = least(...), max' = greatest(...).
# The state is partitioned by a hash bucket of the key so a merge reads
# and rewrites ONLY the buckets the delta's keys hash to — at real
# scale (thousands of buckets, sparse deltas) that is partition pruning
# doing the work; cost is O(|touched state| + |delta|), never O(fact).


def agg_state_build(
    facts: DataFrame,
    key_col: str,
    val_col: str,
    path: str,
    n_buckets: int = 16,
) -> None:
    """Aggregate ``facts`` into per-key partials and persist them
    partitioned by ``__pb = hash_bucket(key, n_buckets)``."""
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    (
        facts.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(val_col).alias("s"),
            F.min(val_col).alias("mn"),
            F.max(val_col).alias("mx"),
        )
        .withColumn("__pb", hash_bucket(key_col, n_buckets))
        .write.partitionBy("__pb")
        .mode("overwrite")
        .parquet(path)
    )


def agg_state_merge(
    spark,
    state_path: str,
    delta: DataFrame,
    key_col: str,
    val_col: str,
    out_path: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Absorb ``delta`` into the persisted state WITHOUT touching
    unaffected buckets; returns the full merged state frame.

    The delta reduces to its own per-key partials first (delta-sized
    shuffle), the state scan is filtered to the buckets those keys hash
    to (PARTITION PRUNING — the scan's partition filter, plan-pinned in
    tests), the touched buckets merge via one more partial aggregate
    and land in ``out_path``; untouched buckets are returned straight
    from ``state_path`` unread-until-consumed.  The only driver action
    is collecting the touched-bucket ids — bounded by ``n_buckets``,
    never by data (the IVF-seed collect discipline,
    operators/similarity.py).

    ``out_path`` should be fresh per call (the s14 runner discipline):
    re-running the same merge then yields byte-identical results
    instead of double-counting the delta.
    """
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    dp = (
        delta.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(val_col).alias("s"),
            F.min(val_col).alias("mn"),
            F.max(val_col).alias("mx"),
        )
        .withColumn("__pb", hash_bucket(key_col, n_buckets))
    )
    touched = sorted(
        r[0] for r in dp.select("__pb").distinct().collect()
    )  # <= n_buckets ids
    state = spark.read.parquet(state_path)
    merged = (
        state.where(F.col("__pb").isin(touched))
        .unionByName(dp)
        .groupBy(key_col, "__pb")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    merged.write.partitionBy("__pb").mode("overwrite").parquet(out_path)
    untouched = state.where(~F.col("__pb").isin(touched))
    return spark.read.parquet(out_path).unionByName(untouched)


def targeted_delete(
    spark,
    state_path: str,
    keys: DataFrame,
    key_col: str,
    out_path: str,
    n_buckets: int = 16,
) -> DataFrame:
    """Erase every row whose ``key_col`` appears in ``keys`` from a
    hash-bucket-partitioned parquet store, rewriting ONLY the buckets
    those keys hash to — the GDPR/right-to-be-forgotten shape on plain
    parquet.

    Physics mirror of :func:`agg_state_merge`: the key list reduces to
    its distinct buckets (a bounded collect, <= ``n_buckets`` ids), the
    store scan partition-prunes to those buckets, the erase is one
    broadcast ANTI-join, and untouched buckets are passed through
    unread.  Cost is O(|touched buckets| + |keys|), never O(store).
    Returns the surviving frame (rewritten touched buckets +
    passthrough untouched).  ``out_path`` fresh per call (the s14
    runner discipline) keeps re-runs byte-identical.
    """
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    kb = keys.select(
        F.col(key_col).alias("__k"), hash_bucket(key_col, n_buckets).alias("__pb")
    ).distinct()
    touched = sorted(r[0] for r in kb.select("__pb").distinct().collect())
    state = spark.read.parquet(state_path)
    rewritten = (
        state.where(F.col("__pb").isin(touched))
        .join(
            kb.select(F.col("__k").alias(key_col)),
            key_col,
            "left_anti",
        )
    )
    rewritten.write.partitionBy("__pb").mode("overwrite").parquet(out_path)
    untouched = state.where(~F.col("__pb").isin(touched))
    # explicit schema: deleting every row of a touched bucket leaves
    # out_path with zero data files, and schema INFERENCE on an empty
    # dir throws — the erase-everything-in-a-bucket case must work
    survivors = spark.read.schema(rewritten.schema).parquet(out_path)
    return survivors.unionByName(untouched)

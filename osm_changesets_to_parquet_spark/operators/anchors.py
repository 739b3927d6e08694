"""Fixed-size anchor sampling and per-anchor top-k — the scale-safe
spelling of "audit a handful of probes against the whole corpus".

VERDICT r06 item 3: the old modulo anchor pattern (``vec_id % 25``)
drew anchors *proportional* to the corpus, so the broadcast-anchors ×
corpus candidate pass was Θ(n²/c) pairs and each anchor's full
candidate list landed on a single reducer via
``Window.partitionBy(qid)``.  This module fixes both defects:

- :func:`fixed_k_anchors` draws a FIXED number of anchors by
  deterministic hash rank (``hash_bucket`` — the engine-wide Knuth
  multiplicative hash from :mod:`operators.quality`), via
  ``orderBy(...).limit(k)`` which Spark executes as
  ``TakeOrderedAndProject`` — an O(n) scan keeping k rows per
  partition, never a full sort.  Anchor count is now independent of
  corpus size, so the candidate pass is Θ(k·n) — linear.
- :func:`per_anchor_topk` ranks candidates in TWO phases: a local
  ``row_number`` over ``(anchor, input-partition)`` prunes each map
  partition to its own top-k (the local top-k of any partition is a
  superset of that partition's contribution to the global top-k, for
  any total order), then the global ``row_number`` over ``anchor``
  runs on at most k·num_partitions rows.  No reducer ever sees a
  corpus-sized window frame.

The oracle-side spelling of the anchor draw orders by
:func:`sql_anchor_order` of the id (its ``sql_hash_bucket`` modulo
``ANCHOR_MOD``), then the id, ``LIMIT k`` — identical integer math in
any engine (see ``operators/quality.py`` for the 31-bit fold overflow
analysis).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.operators.quality import (
    hash_bucket,
    sql_hash_bucket,
)

# A large prime modulus: hash ranks are effectively unique, so the
# (hash, id) order is total and the anchor draw is a uniform-ish
# pseudo-random sample that is STABLE as the corpus grows — new rows
# change which k win only if they hash lower, never the arithmetic.
ANCHOR_MOD = 1_000_000_007


def fixed_k_anchors(df: DataFrame, id_col: str, k: int) -> DataFrame:
    """The k rows with the smallest (hash_bucket(id), id) — a fixed-size
    deterministic anchor sample, executed as TakeOrderedAndProject."""
    return df.orderBy(hash_bucket(id_col, ANCHOR_MOD), F.col(id_col)).limit(k)


def sql_anchor_order(id_expr: str) -> str:
    """The ORDER BY key of :func:`fixed_k_anchors` as ANSI SQL."""
    return sql_hash_bucket(id_expr, ANCHOR_MOD)


def per_anchor_topk(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Global top-k per anchor without a corpus-sized window frame.

    ``order_cols`` must be a total order within each anchor group (the
    callers tie-break on the candidate id) — under a total order the
    two-phase result is exactly the single-window result, with global
    ranks 1..k in ``rank_col``.
    """
    local = df.withColumn("__pid", F.spark_partition_id())
    wl = Window.partitionBy(*part_cols, "__pid").orderBy(*order_cols)
    pruned = (
        local.withColumn("__lrnk", F.row_number().over(wl))
        .where(F.col("__lrnk") <= k)
        .drop("__lrnk", "__pid")
    )
    wg = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return pruned.withColumn(rank_col, F.row_number().over(wg)).where(
        F.col(rank_col) <= k
    )

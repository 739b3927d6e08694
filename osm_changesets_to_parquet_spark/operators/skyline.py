"""2-D skyline (maxima / Pareto front) — the preference-query operator
(Borzsony, Kossmann & Stocker, ICDE 2001 — public).

A point (x, y) is dominated if some other point is >= in both
dimensions and > in at least one; the skyline is the non-dominated set.
The classic single-node algorithm sorts by x desc and keeps points
whose y strictly exceeds the running max — but a partition-less
ORDER BY x window collapses the whole table into ONE task, the same
Spark scale trap global_cumsum exists for.  The spelling here stays
distributed:

1. reduce to DISTINCT (x, y) pairs (+ multiplicity) — duplicates never
   dominate each other, so dedup is lossless and bounds the window
   input;
2. derive a monotone x-range ``__bucket`` from explicit bounds (the
   global_cumsum discipline: any monotone bucketing is correct, bounds
   only affect balance);
3. per-bucket suffix maxima of y over the tiny |buckets|-row frame
   broadcast back as ``__off`` — the max y of every STRICTLY-higher
   bucket;
4. within each bucket, the running max of y over strictly-greater x
   via a bucket-PARTITIONED RANGE frame (integer x: ``x' >= x+1``);
5. survive iff y is the max of its own x column AND y > the greatest
   covering max (NULL-safe).

Integer coordinates are required (the RANGE frame's "strictly greater"
depends on the +1 offset); callers with money scale to cents first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def skyline_2d_max(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bounds: list[float],
) -> DataFrame:
    """Non-dominated (x, y) pairs under maximize-both dominance.

    Returns DISTINCT surviving pairs with their multiplicity
    ``n_points``.  ``bounds``: ascending split points on ``x_col``
    (explicit — no driver-side quantile pass).
    """
    pairs = (
        df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    barr = F.array(*[F.lit(float(b)) for b in sorted(set(bounds))])
    bucketed = pairs.withColumn(
        "__bucket", F.size(F.filter(barr, lambda b: F.col("x") > b))
    )
    # (3) per-bucket max, suffix-maxed over the tiny bucket frame
    totals = bucketed.groupBy("__bucket").agg(F.max("y").alias("__mx"))
    suffix = totals.withColumn(
        "__off",
        F.max("__mx").over(
            Window.orderBy(F.col("__bucket").desc()).rowsBetween(
                Window.unboundedPreceding, -1
            )
        ),
    ).select("__bucket", "__off")
    # (4) strictly-greater-x running max inside the bucket: RANGE frame
    # on x DESC — "1 preceding" in descending integer order is x' >= x+1
    in_bucket = (
        Window.partitionBy("__bucket")
        .orderBy(F.col("x").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    per_x = Window.partitionBy("__bucket", "x")
    scored = (
        bucketed.join(suffix, "__bucket")
        .withColumn("__gmx", F.max("y").over(in_bucket))
        .withColumn("__xmax", F.max("y").over(per_x))
        .withColumn(
            # NULL-safe max of the two covering maxima (greatest()
            # skips NULLs in both engines, but be explicit)
            "__cover",
            F.when(F.col("__gmx").isNull(), F.col("__off"))
            .when(F.col("__off").isNull(), F.col("__gmx"))
            .otherwise(F.greatest("__gmx", "__off")),
        )
    )
    return (
        scored.where(
            (F.col("y") == F.col("__xmax"))
            & (F.col("__cover").isNull() | (F.col("y") > F.col("__cover")))
        )
        .select("x", "y", "n_points")
        .orderBy("x", "y")
    )

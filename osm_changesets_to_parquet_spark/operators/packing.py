"""Sequence packing: assign documents to fixed token-budget bins by
concatenate-then-chunk order (the standard pretraining packing layout:
documents are concatenated in a stable order and the stream is cut
every ``budget`` tokens; a document belongs to the chunk containing its
first token).

The core primitive is a GLOBAL running sum in a stable order — the
classic Spark scale trap, because the obvious spelling
(``Window.orderBy(...)`` with no partition key) collapses the whole
table into ONE task.  ``global_cumsum`` here is the bucketed spelling
that stays distributed with exactly ONE wide shuffle:

1. pick ~``num_partitions`` approximate quantile boundaries of the
   order key (a driver-side action, O(partitions) result — the same
   bounded materialization the IVF seeds use) and derive an explicit
   monotone ``__bucket`` column in the scan stage;
2. per-bucket running sum via a window PARTITIONED BY ``__bucket`` —
   its hash exchange is the one full-data shuffle, and because the
   bucket is an explicit column the per-bucket totals aggregate reuses
   that same distribution with no further exchange (an earlier
   spelling used ``spark_partition_id`` after a range repartition,
   which forced a SECOND full-data exchange for the window);
3. per-bucket totals (one tiny row per bucket) are prefix-summed on a
   single small frame and broadcast back as offsets.

Any monotone bucketing yields the same result, so the output is
deterministic even though the quantile boundaries are approximate.
Nothing ever funnels through a single task; the plan shape is pinned
by ``test_global_cumsum_single_wide_shuffle``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cumsum",
    exclusive: bool = False,
    num_partitions: int | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` in global ``order_col`` order,
    computed without a single-task global window (see module doc).

    ``exclusive=True`` returns the sum of *strictly preceding* rows
    (the first row gets 0).  ``order_col`` must be globally unique and
    numeric — it is the total order that defines "preceding".

    Cost note — this is a TWO-pass operator by default: the bucket
    boundaries come from ``approxQuantile``, a driver-side ACTION over
    the input subtree at construction time, and the subtree is then
    re-evaluated when the result executes.  Persist the input first if
    it is expensive to recompute — or pass ``bounds`` (any ascending
    list of split points on ``order_col``; correctness needs only
    monotonicity, balance only affects parallelism) to skip the
    quantile pass entirely.  Callers that already know the key range
    (monotone ids, event-time watermarks) should always pass bounds.
    """
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if bounds is not None:
        bounds = sorted(set(float(b) for b in bounds))
    elif parts > 1:
        probs = [i / parts for i in range(1, parts)]
        # the sketch error must scale with the bucket width or adjacent
        # boundaries collapse and one bucket absorbs ~(1/parts + 2*err)
        # of all rows — a fixed 0.01 caps granularity at ~2% of the data
        err = max(1e-4, 0.1 / parts)
        bounds = sorted(set(df.stat.approxQuantile(order_col, probs, err)))
    else:
        bounds = []
    # monotone bucket id: number of boundaries strictly below the key —
    # one array literal + in-row filter/size (O(parts) comparisons per
    # row but O(1) expression-tree nodes; a chained-comparison spelling
    # blows up codegen at high parallelism).  Any monotone bucketing is
    # correct; this one is ~balanced.  NULL keys (outside the unique-key
    # contract, but never silently dropped) bucket to -1, consistent
    # with NULLS FIRST window ordering.
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        computed = F.size(F.filter(barr, lambda b: F.col(order_col) > b))
    else:
        computed = F.lit(0)
    bucket = F.when(F.col(order_col).isNull(), F.lit(-1)).otherwise(computed)
    bucketed = df.withColumn("__bucket", bucket)
    in_bucket = Window.partitionBy("__bucket").orderBy(order_col)
    local = bucketed.withColumn("__local", F.sum(value_col).over(in_bucket))
    # same clustering as the window output -> no additional exchange
    totals = local.groupBy("__bucket").agg(F.sum(value_col).alias("__tot"))
    # prefix-sum the per-bucket totals: |buckets| rows — windowing this
    # tiny frame globally is fine (it IS small by construction)
    off = totals.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__tot").over(
                Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__bucket", "__offset")
    shift = F.col(value_col) if exclusive else F.lit(0)
    return (
        local.join(off, "__bucket")
        .withColumn(out_col, (F.col("__local") + F.col("__offset") - shift))
        .drop("__bucket", "__local", "__offset")
    )


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "rank",
    num_partitions: int | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """1-based global row_number in the total order of ``order_cols``,
    computed with the same bucketed discipline as :func:`global_cumsum`
    (one wide shuffle, never a single-task window).

    ``order_cols[0]`` must be numeric — it is the bucketing key; the
    remaining columns only break ties, and since equal first-key values
    always land in the same bucket (the bucket id is a function of the
    key alone), tie-breaking stays local to a bucket.  The combination
    must be a total order for the result to be a unique rank; with ties
    the output is a row_number over an arbitrary-but-deterministic
    bucket-local order, not a SQL RANK.

    Same two-pass caveat as ``global_cumsum``: the default bucket
    boundaries come from ``approxQuantile`` (a driver action over the
    input subtree); pass ``bounds`` when the key range is known.

    NULLS FIRST contract: rows whose first key is NULL land in bucket
    -1 and rank BEFORE every non-null row — Spark's ASC default.  A
    DuckDB/ANSI oracle defaults to NULLS LAST, so a query ranking a
    nullable key must either spell ``NULLS FIRST`` in its oracle's
    ORDER BY or null-filter before ranking; otherwise the divergence
    surfaces as a hash mismatch, not an error (pinned by
    tests/test_packing.py::test_global_rank_nulls_first).
    """
    first = order_cols[0]
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    if bounds is not None:
        bounds = sorted(set(float(b) for b in bounds))
    elif parts > 1:
        probs = [i / parts for i in range(1, parts)]
        err = max(1e-4, 0.1 / parts)
        bounds = sorted(set(df.stat.approxQuantile(first, probs, err)))
    else:
        bounds = []
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        computed = F.size(F.filter(barr, lambda b: F.col(first) > b))
    else:
        computed = F.lit(0)
    bucket = F.when(F.col(first).isNull(), F.lit(-1)).otherwise(computed)
    bucketed = df.withColumn("__bucket", bucket)
    in_bucket = Window.partitionBy("__bucket").orderBy(*order_cols)
    local = bucketed.withColumn(
        "__local", F.row_number().over(in_bucket).cast("long")
    )
    # per-bucket counts reuse the window's clustering (no extra exchange)
    totals = local.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__tot"))
    off = totals.withColumn(
        "__offset",
        F.coalesce(
            F.sum("__tot").over(
                Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__bucket", "__offset")
    return (
        local.join(F.broadcast(off), "__bucket")
        .withColumn(out_col, F.col("__local") + F.col("__offset"))
        .drop("__bucket", "__local", "__offset")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out_col: str = "tile",
    rank_col: str | None = None,
    n_col: str | None = None,
    bounds: list[float] | None = None,
) -> DataFrame:
    """Equal-frequency tiling with exact SQL ``NTILE(k)`` semantics —
    the first ``n mod k`` tiles hold ``ceil(n/k)`` rows, the rest
    ``floor(n/k)`` — computed from :func:`global_rank` + closed-form
    arithmetic instead of the single-task partition-less window Spark's
    builtin ``ntile`` plans.

    ``rank_col``/``n_col`` optionally keep the 1-based global rank and
    the total row count (callers deriving percent_rank/cume_dist want
    both); otherwise they are dropped.  The one extra job is a 1-row
    count aggregate broadcast back.

    Inherits :func:`global_rank`'s NULLS FIRST contract: null first
    keys tile before everything, where ANSI NTILE defaults NULLS LAST.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    ranked = global_rank(df, order_cols, out_col="__gr", bounds=bounds)
    n_row = df.agg(F.count(F.lit(1)).alias("__n"))
    rn, n = F.col("__gr"), F.col("__n")
    q, r = F.floor(n / k), n % k
    in_big = rn <= r * (q + 1)
    tile = (
        F.when(in_big, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - r * (q + 1) - 1) / F.greatest(q, F.lit(1))) + 1)
        .cast("long")
    )
    out = ranked.crossJoin(n_row).withColumn(out_col, tile)
    if rank_col:
        out = out.withColumnRenamed("__gr", rank_col)
    else:
        out = out.drop("__gr")
    if n_col:
        out = out.withColumnRenamed("__n", n_col)
    else:
        out = out.drop("__n")
    return out


def pack_into_bins(
    docs: DataFrame,
    budget: int,
    token_col: str,
    order_col: str = "doc_id",
    bin_col: str = "bin",
    bounds: list[float] | None = None,
) -> DataFrame:
    """Concatenate-then-chunk packing: bin = floor(exclusive-cumsum /
    budget) — the chunk that contains the document's first token.

    ``bounds`` (optional ascending split points on ``order_col``) is
    forwarded to :func:`global_cumsum`, turning the two-pass operator
    into one pass when the id range is already known.
    """
    cum = global_cumsum(
        docs, order_col, token_col, out_col="__cumx", exclusive=True, bounds=bounds
    )
    return cum.withColumn(
        bin_col, F.floor(F.col("__cumx") / F.lit(budget)).cast("long")
    ).drop("__cumx")

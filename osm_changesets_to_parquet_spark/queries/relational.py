"""Relational query surface Q01-Q33 (SURVEY.md §2.B).

The reference delegates all querying to an OLAP engine over its Parquet
output (reference: .github/workflows/process-changesets-r2.yml:198,207 and
scripts/manage-r2.sh:130-152); this module is that query surface made
native, expressed with the DataFrame API so Catalyst plans every one
(predicate pushdown, column pruning, join selection, AQE).

Scale notes are inline per query; the common ones:
- dimension joins (region/nation/supplier) use ``F.broadcast`` — at
  100 TB the fact side never shuffles for those joins;
- aggregations are plain ``groupBy`` — Spark does partial (map-side)
  aggregation automatically, so the shuffle carries one row per
  (partition x key), not per input row;
- window functions partition by high-cardinality keys (user_id,
  custkey) so state per partition stays small and skew is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.catalog import fan_out, load_table
from osm_changesets_to_parquet_spark.operators.similarity import sq_norm, sql_sq_norm
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# Scans, projections, filters, expressions
# ---------------------------------------------------------------------------


@register(
    "q01_count",
    "SELECT COUNT(*) AS cnt FROM lineitem",
    doc="bare table count — metadata-only at scale (parquet row-group stats)",
    tables=("lineitem",),
)
def q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.06
    ORDER BY l_orderkey, l_linenumber
    """,
    doc="filter+project; predicate and column pruning reach the parquet scan",
    tables=("lineitem",),
)
def q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
            & F.col("l_discount").between(0.02, 0.06)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            # DECIMAL arithmetic on both engines: the product of 2-decimal
            # inputs lands on exact .xx5 ties where double ROUND diverges
            # between engines (SURVEY §2.B determinism rule 2 escape hatch)
            F.round(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)")),
                2,
            )
            .cast("double")
            .alias("net"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q03_like_in",
    """
    SELECT o_orderkey FROM orders
    WHERE o_orderpriority LIKE '1-%' OR o_orderstatus IN ('F', 'P')
    ORDER BY o_orderkey
    """,
    doc="LIKE / IN / boolean-op predicates",
    tables=("orders",),
)
def q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.col("o_orderpriority").like("1-%") | F.col("o_orderstatus").isin("F", "P"))
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@register(
    "q04_groupby_agg",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price,
           ROUND(AVG(l_discount), 4) AS avg_disc
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape; partial aggregation makes the shuffle O(keys)",
    tables=("lineitem",),
)
def q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q05_count_distinct",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cnt_cust
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc="exact distinct; Spark expands to a two-stage partial-distinct under AQE",
    tables=("orders",),
)
def q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("cnt_cust"))
        .orderBy("o_orderstatus")
    )


@register(
    "q06_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(o_orderpriority) AS g_prio,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="ROLLUP with GROUPING markers",
    tables=("orders",),
)
def q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_prio"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy(
            "g_status",
            "g_prio",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q07_cube",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    doc="CUBE with GROUPING markers",
    tables=("lineitem",),
)
def q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_rf"),
            F.grouping("l_linestatus").cast("long").alias("g_ls"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy(
            "g_rf",
            "g_ls",
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "q08_approx_count_distinct",
    """
    SELECT COUNT(DISTINCT o_custkey) AS exact_cnt, TRUE AS within_5pct
    FROM orders
    """,
    doc=(
        "HLL++ sketch vs exact (SURVEY Q08, T-mode made hashable: the Spark side "
        "emits the exact count plus a bounded-relative-error flag; the oracle "
        "emits the exact count plus TRUE — they hash-match iff the sketch is "
        "within 5%)"
    ),
    tables=("orders",),
)
def q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    approx = F.approx_count_distinct("o_custkey", rsd=0.01)
    return o.agg(
        F.countDistinct("o_custkey").alias("exact_cnt"),
        (
            F.abs(approx - F.countDistinct("o_custkey"))
            <= 0.05 * F.countDistinct("o_custkey")
        ).alias("within_5pct"),
    )


@register(
    "q09_percentile",
    """
    SELECT ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS median_price,
           TRUE AS approx_ok
    FROM lineitem
    """,
    doc="exact interpolated median hash-matched; approx_percentile checked to 1%",
    tables=("lineitem",),
)
def q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("median_price"),
        (
            F.abs(
                F.expr("approx_percentile(l_extendedprice, 0.5)")
                - F.percentile("l_extendedprice", F.lit(0.5))
            )
            <= 0.01 * F.percentile("l_extendedprice", F.lit(0.5))
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q10_join4_revenue",
    """
    SELECT r_name, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY r_name
    ORDER BY r_name
    """,
    doc=(
        "4-way star join; region/nation fall under Spark's broadcast size "
        "threshold (no shuffle of the fact side for dim joins), "
        "orders<->customer is the only shuffle"
    ),
    tables=("region", "nation", "customer", "orders"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("r_name")
    )


@register(
    "q11_left_join",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
    doc="left outer join preserving zero-order customers",
    tables=("customer", "orders"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
        .orderBy("c_custkey")
    )


@register(
    "q12_full_outer",
    """
    SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
           COUNT(DISTINCT c_custkey) AS n_cust,
           COUNT(DISTINCT s_suppkey) AS n_supp
    FROM customer FULL JOIN supplier ON c_nationkey = s_nationkey
    GROUP BY COALESCE(c_nationkey, s_nationkey)
    ORDER BY nationkey NULLS FIRST
    """,
    doc="full outer join; per-nation presence from both sides",
    tables=("customer", "supplier"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select(
            F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
            "c_custkey",
            "s_suppkey",
        )
        .groupBy("nationkey")
        .agg(
            F.countDistinct("c_custkey").alias("n_cust"),
            F.countDistinct("s_suppkey").alias("n_supp"),
        )
        .orderBy(F.col("nationkey").asc_nulls_first())
    )


@register(
    "q13_semi_join",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="left semi join (EXISTS)",
    tables=("customer", "orders"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey").orderBy("c_custkey")
    )


@register(
    "q14_anti_join",
    """
    SELECT c_custkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    doc="left anti join (NOT EXISTS)",
    tables=("customer", "orders"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey").orderBy("c_custkey")
    )


@register(
    "q15_cross_join",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    ORDER BY r_name, n_name LIMIT 10
    """,
    doc="cross join (BroadcastNestedLoopJoin); total order makes LIMIT deterministic",
    tables=("region", "nation"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name").orderBy("r_name", "n_name").limit(10)


@register(
    "q16_theta_join",
    """
    SELECT p1.p_brand, COUNT(*) AS n_pairs
    FROM part p1 JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
    GROUP BY p1.p_brand ORDER BY p1.p_brand
    """,
    doc="theta join: equi key (brand) + non-equi residual; stays a hash join on brand",
    tables=("part",),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the probe side (guide §2.5): the broadcast join enumerates
    # every intra-brand size< pair in the PROBE stage, which is the
    # single-row-group scan's lone task without the spread
    p1 = fan_out(load_table(spark, sf_dir, "part"), "p_partkey").alias("p1")
    p2 = load_table(spark, sf_dir, "part").alias("p2")
    return (
        p1.join(
            p2,
            (F.col("p1.p_brand") == F.col("p2.p_brand"))
            & (F.col("p1.p_size") < F.col("p2.p_size")),
        )
        .groupBy(F.col("p1.p_brand").alias("p_brand"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("p_brand")
    )


@register(
    "q17_range_join",
    """
    SELECT e1.event_type, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND epoch_us(e2.ts) > epoch_us(e1.ts)
     AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 300000000
    GROUP BY e1.event_type ORDER BY e1.event_type
    """,
    doc=(
        "time-range self join: equi on user_id keeps it a hash join; the 5-min "
        "band is a residual filter. Compared on integer epoch micros (ns-safe)."
    ),
    tables=("events",),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # NO fan_out on the probe side (reverted r14): the r13 exchange was
    # kept on plan shape alone and the driver regressed it 0.58x; the
    # r14 interleaved A/B (min-of-5/arm, one session) reads no-fan
    # 0.86 s vs fan 1.29 s — the probe is a 3-column select whose
    # per-row work is far below the exchange + tiny-batch overhead
    # (the same verdict as the LSH front-ends, guide §2.5 cuts both ways)
    e1 = ev.select("user_id", "event_type", F.col("ts_us").alias("t1"))
    e2 = ev.select(F.col("user_id").alias("u2"), F.col("ts_us").alias("t2"))
    return (
        e1.join(
            e2,
            (e1.user_id == e2.u2) & (e2.t2 > e1.t1) & (e2.t2 <= e1.t1 + 300_000_000),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("event_type")
    )


@register(
    "q18_asof_join",
    """
    SELECT p.event_id,
           (SELECT c.event_id FROM events c
             WHERE c.user_id = p.user_id AND c.event_type = 'click'
               AND epoch_us(c.ts) < epoch_us(p.ts)
             ORDER BY epoch_us(c.ts) DESC, c.event_id DESC LIMIT 1) AS click_event_id
    FROM events p
    WHERE p.event_type = 'purchase'
    ORDER BY p.event_id
    """,
    doc=(
        "as-of join (backward, strict): latest prior click per purchase. "
        "Implemented via operators.asof.merge_asof (union + running last over a "
        "window) — one shuffle on user_id, no row explosion, scales to any "
        "right-side density. Ties broken by (ts_us, event_id) max."
    ),
    tables=("events",),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.asof import merge_asof

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts_us")
    right = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_event_id"), "user_id", "ts_us")
    )
    joined = merge_asof(
        left,
        right,
        on="ts_us",
        by="user_id",
        value_cols=["click_event_id"],
        strict=True,
        tie_break="click_event_id",
    )
    return joined.select("event_id", "click_event_id").orderBy("event_id")


@register(
    "q105_asof_forward",
    """
    SELECT c.event_id,
           (SELECT p.event_id FROM events p
             WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
               AND epoch_us(p.ts) >= epoch_us(c.ts)
             ORDER BY epoch_us(p.ts) ASC, p.event_id DESC LIMIT 1) AS purchase_event_id
    FROM events c
    WHERE c.event_type = 'click'
    ORDER BY c.event_id
    """,
    doc=(
        "as-of join (forward, non-strict): earliest at-or-after purchase per "
        "click. Exercises merge_asof's forward path (first over a following "
        "frame, tie_break desc so the greatest event_id wins at equal ts) — "
        "the direction q18 does not witness. Same single-shuffle union plan."
    ),
    tables=("events",),
)
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.asof import merge_asof

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts_us")
    right = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_event_id"), "user_id", "ts_us")
    )
    joined = merge_asof(
        left,
        right,
        on="ts_us",
        by="user_id",
        value_cols=["purchase_event_id"],
        strict=False,
        tie_break="purchase_event_id",
        direction="forward",
    )
    return joined.select("event_id", "purchase_event_id").orderBy("event_id")


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "q19_rank_topn",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w2 AS rnk,
             DENSE_RANK() OVER w2 AS drnk
      FROM orders
      WINDOW w  AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC),
             w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC)
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="top-N per group via row_number; rank/dense_rank expose tie semantics",
    tables=("orders",),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    w2 = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc())
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w2).cast("long").alias("rnk"),
            F.dense_rank().over(w2).cast("long").alias("drnk"),
        )
        .where(F.col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    )


@register(
    "q20_lag_lead",
    """
    SELECT event_id,
           LAG(event_id)  OVER w AS prev_event_id,
           LEAD(event_id) OVER w AS next_event_id,
           (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) // 1000000 AS gap_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ORDER BY event_id
    """,
    doc="lag/lead per user; gap in whole seconds over integer micros",
    tables=("events",),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select(
            "event_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            F.lead("event_id").over(w).alias("next_event_id"),
            ((F.col("ts_us") - F.lag("ts_us").over(w)) / F.lit(1_000_000))
            .cast("long")
            .alias("gap_s"),
        )
        .orderBy("event_id")
    )


@register(
    "q21_running_sum",
    """
    SELECT event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
    FROM events
    ORDER BY event_id
    """,
    doc="running sum; identical accumulation order on both engines",
    tables=("events",),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", F.round(F.sum("value").over(w), 2).alias("run_sum")
    ).orderBy("event_id")


@register(
    "q22_range_frame",
    """
    SELECT event_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 2) AS trail_sum
    FROM events
    ORDER BY event_id
    """,
    doc="trailing-1h time-range frame over numeric epoch seconds (portable RANGE)",
    tables=("events",),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "t_s", (F.col("ts_us") / F.lit(1_000_000)).cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("t_s").rangeBetween(-3600, 0)
    return ev.select(
        "event_id", F.round(F.sum("value").over(w), 2).alias("trail_sum")
    ).orderBy("event_id")


@register(
    "q23_ntile_percent_rank",
    """
    SELECT o_orderkey,
           NTILE(4) OVER w AS tile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
    doc="ntile/percent_rank over a total order (tie-break orderkey => deterministic)",
    tables=("orders",),
)
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The declared semantics are GLOBAL ntile/percent_rank — but the
    # naive spelling (Window.orderBy with no partition key) funnels the
    # whole table through ONE task.  Instead: operators/packing's
    # global_ntile (range-bucketed global_rank — one wide shuffle,
    # |buckets|-row offset prefix-sum broadcast back — plus closed-form
    # NTILE arithmetic), and percent_rank = (rank-1)/(n-1) since the
    # (price, orderkey) order is total (no ties).
    from osm_changesets_to_parquet_spark.operators.packing import global_ntile

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tiled = global_ntile(
        o, ["o_totalprice", "o_orderkey"], 4, out_col="tile", rank_col="__r", n_col="__n"
    )
    rn, n = F.col("__r"), F.col("__n")
    pr = F.when(n > 1, F.round((rn - 1) / (n - 1), 6)).otherwise(F.lit(0.0))
    return tiled.select("o_orderkey", "tile", pr.alias("pr")).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Sorts, limits, set ops
# ---------------------------------------------------------------------------


@register(
    "q24_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="global top-k: executes as TakeOrderedAndProject (no global sort)",
    tables=("orders",),
)
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q25_union",
    """
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         UNION ALL
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_all,
      (SELECT COUNT(*) FROM (
         SELECT c_custkey FROM customer WHERE c_acctbal > 5000
         UNION
         SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS n_dist
    """,
    doc="UNION ALL vs UNION DISTINCT",
    tables=("customer",),
)
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    a = c.where(F.col("c_acctbal") > 5000).select("c_custkey")
    b = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    n_all = a.unionAll(b).agg(F.count(F.lit(1)).alias("n_all"))
    n_dist = a.union(b).distinct().agg(F.count(F.lit(1)).alias("n_dist"))
    return n_all.crossJoin(n_dist)


@register(
    "q26_intersect",
    """
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
    INTERSECT
    SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
    ORDER BY o_custkey
    """,
    doc="INTERSECT (distinct semantics)",
    tables=("orders",),
)
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    b = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return a.intersect(b).orderBy("o_custkey")


@register(
    "q27_except",
    """
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY o_custkey
    """,
    doc="EXCEPT (distinct semantics)",
    tables=("orders",),
)
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.select("o_custkey")
    b = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.subtract(b).orderBy("o_custkey")  # subtract == EXCEPT DISTINCT


# ---------------------------------------------------------------------------
# Scalar functions
# ---------------------------------------------------------------------------


@register(
    "q28_string_funcs",
    """
    SELECT p_partkey,
           UPPER(p_name) AS up_name,
           SUBSTR(p_name, 1, 5) AS pre5,
           CONCAT(p_brand, '#', p_type) AS brand_type,
           LENGTH(p_name) AS name_len,
           TRIM('  ' || p_name || ' ') AS trimmed,
           REPLACE(p_name, ' ', '_') AS undersc,
           SPLIT_PART(p_name, ' ', 1) AS first_tok,
           REGEXP_EXTRACT(p_type, '^[A-Z]+') AS type_prefix
    FROM part ORDER BY p_partkey
    """,
    doc="string function suite (all JVM-side, codegen'd)",
    tables=("part",),
)
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.substring("p_name", 1, 5).alias("pre5"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("long").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("undersc"),
        F.split(F.col("p_name"), " ").getItem(0).alias("first_tok"),
        F.regexp_extract("p_type", "^[A-Z]+", 0).alias("type_prefix"),
    ).orderBy("p_partkey")


@register(
    "q29_date_funcs",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           strftime(DATE_TRUNC('month', o.o_orderdate), '%Y-%m-%d') AS order_month,
           EXTRACT(year FROM o.o_orderdate) AS order_year,
           EXTRACT(month FROM o.o_orderdate) AS order_mon,
           CAST(DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS ship_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ORDER BY l.l_orderkey, l.l_linenumber
    """,
    doc="date_trunc / extract / datediff across a key join",
    tables=("lineitem", "orders"),
)
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "order_month"
            ),
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_mon"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("ship_days"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "q30_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
           ROUND(LN(l_extendedprice), 6) AS ln_price,
           ROUND(POWER(1 + l_discount, 2), 6) AS pow_disc,
           ABS(CAST(l_quantity AS BIGINT) - 25) AS abs_qty,
           CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS ceil_k,
           CAST(FLOOR(l_extendedprice / 1000) AS BIGINT) AS floor_k,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7
    FROM lineitem ORDER BY l_orderkey, l_linenumber
    """,
    doc="math function suite, rounded to absorb last-ulp libm differences",
    tables=("lineitem",),
)
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt("l_extendedprice"), 6).alias("sqrt_price"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.pow(F.lit(1) + F.col("l_discount"), 2), 6).alias("pow_disc"),
        F.abs(F.col("l_quantity").cast("long") - 25).alias("abs_qty"),
        F.ceil(F.col("l_extendedprice") / 1000).cast("long").alias("ceil_k"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("floor_k"),
        (F.col("l_quantity").cast("long") % 7).alias("qty_mod7"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "q31_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kmod,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_val
    FROM events
    GROUP BY 1 ORDER BY kmod
    """,
    doc="JSON path extraction + numeric cast + agg",
    tables=("events",),
)
def q31(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "kmod", F.get_json_object("props", "$.k").cast("long") % 10
        )
        .groupBy("kmod")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 2).alias("sum_val"))
        .orderBy("kmod")
    )


@register(
    "q32_map_funcs",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events ORDER BY event_id
    """,
    doc="props parsed into MAP<STRING,BIGINT> via from_json, read via element_at",
    tables=("events",),
)
def q32(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select(
        "event_id", F.try_element_at(m, F.lit("k")).alias("k")
    ).orderBy("event_id")


@register(
    "q33_array_funcs",
    f"""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
           ROUND({sql_sq_norm("embedding")}, 4) AS sq_norm
    FROM embeddings ORDER BY vec_id
    """,
    doc=(
        "array size / element_at / lambda fold (operators.similarity."
        "sq_norm, an F.aggregate) over embeddings"
    ),
    tables=("embeddings",),
)
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 4).alias("first_val"),
        F.round(sq_norm(F.col("embedding")), 4).alias("sq_norm"),
    ).orderBy("vec_id")

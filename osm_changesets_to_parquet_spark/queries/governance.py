"""Round-8 governance / data-quality queries: k-anonymity audit and
referential-integrity audit (q304-q305).

The production shapes: a privacy review of a quasi-identifier
combination before a dataset release (k-anonymity: how many rows sit
in equivalence classes smaller than k), and the pre-ship constraint
audit every warehouse snapshot runs (FK orphans + row-level
expectations).  Both are single-pass keyed aggregations / anti-joins —
the key columns shuffle, never payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.dq import (
    fk_orphans,
    rule_violations,
    violation_count,
)
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# q304: k-anonymity audit over a quasi-identifier combination
# ---------------------------------------------------------------------------

_Q304_K = 5

# quasi-identifiers: nation x market segment x $1000 balance band —
# the classic "not identifying alone, identifying together" triple;
# the band FLOOR is over exact cents/1e5 as a double (identical
# expression both engines, negative balances floor toward -inf)
_Q304_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
              AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(SUM(CASE WHEN k < {_Q304_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_classes,
       CAST(SUM(CASE WHEN k < {_Q304_K} THEN k ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       ROUND(CAST(SUM(CASE WHEN k < {_Q304_K} THEN k ELSE 0 END) AS DOUBLE)
             / SUM(k), 6) AS suppression_rate
FROM classes
"""


@register(
    "q304_k_anonymity",
    _Q304_SQL,
    doc=(
        f"k-anonymity audit (k={_Q304_K}) of the quasi-identifier "
        "triple (nation, market segment, $1000 balance band): one "
        "keyed aggregation builds the equivalence classes, one rollup "
        "reports how many classes and rows fall below k — the "
        "suppression rate a release would need.  Two map-side-partial "
        "aggregations; the shuffle carries QI keys + counts only.  A "
        "second aggregation level (not a window) makes the rollup "
        "O(classes), never O(rows)"
    ),
    tables=("customer",),
)
def q304(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(
                F.round(F.col("c_acctbal") * 100).cast("long") / 100000.0
            )
            .cast("long")
            .alias("bal_band"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    small = F.col("k") < _Q304_K
    return classes.agg(
        F.sum("k").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(small, 1).otherwise(0)).cast("long").alias("n_small_classes"),
        F.sum(F.when(small, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.round(
            F.sum(F.when(small, F.col("k")).otherwise(0)).cast("double")
            / F.sum("k"),
            6,
        ).alias("suppression_rate"),
    )


# ---------------------------------------------------------------------------
# q305: referential-integrity + expectation audit
# ---------------------------------------------------------------------------

_Q305_SQL = """
SELECT 'events_user_in_customer' AS check_name, CAST((
  SELECT COUNT(*) FROM events e
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
     OR e.user_id IS NULL) AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem_discount_in_unit', CAST((
  SELECT COUNT(*) FROM lineitem
  WHERE NOT COALESCE(l_discount >= 0 AND l_discount <= 1, FALSE)) AS BIGINT)
UNION ALL
SELECT 'lineitem_order_fk', CAST((
  SELECT COUNT(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
     OR l.l_orderkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem_part_fk', CAST((
  SELECT COUNT(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
     OR l.l_partkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'lineitem_positive_quantity', CAST((
  SELECT COUNT(*) FROM lineitem
  WHERE NOT COALESCE(l_quantity > 0, FALSE)) AS BIGINT)
UNION ALL
SELECT 'lineitem_supplier_fk', CAST((
  SELECT COUNT(*) FROM lineitem l
  WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
     OR l.l_suppkey IS NULL) AS BIGINT)
UNION ALL
SELECT 'orders_customer_fk', CAST((
  SELECT COUNT(*) FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
     OR o.o_custkey IS NULL) AS BIGINT)
ORDER BY check_name
"""


@register(
    "q305_fk_integrity",
    _Q305_SQL,
    doc=(
        "pre-ship constraint audit: five declared foreign keys checked "
        "for orphans via LEFT ANTI joins (operators/dq.fk_orphans — "
        "null-safe so NULL FKs count as violations instead of slipping "
        "through null-rejecting equality) plus two row-level "
        "expectations (positive quantity, discount in [0,1]); each "
        "check shuffles only the key column, and parents broadcast "
        "when under Spark's size threshold.  The "
        "fixtures are constraint-clean (all-zero counts — the honest "
        "pass state); the violation branches are pinned with planted "
        "orphans/NULLs/out-of-range rows in "
        "tests/test_round8_ops.py"
    ),
    tables=("lineitem", "orders", "part", "supplier", "customer", "events"),
)
def q305(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all five lineitem checks ride ONE scan: each parent's key set
    # broadcasts with a marker column, three LEFT joins attach
    # existence flags, and a single aggregate counts every violation
    # class — the naive per-check spelling scans the fact table five
    # times (exactly the multi-consumer recompute trap; the q243/q281
    # round-7 lesson applied at design time)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_discount"
    )

    def key_set(df: DataFrame, key: str, marker: str) -> DataFrame:
        return (
            df.select(F.col(key).alias(f"__{marker}_k"))
            .where(F.col(key).isNotNull())
            .distinct()
            .withColumn(f"__{marker}", F.lit(True))
        )

    orders = load_table(spark, sf_dir, "orders")
    joined = (
        li.join(
            key_set(orders, "o_orderkey", "ord"),
            li["l_orderkey"] == F.col("__ord_k"),
            "left",
        )
        .join(
            key_set(load_table(spark, sf_dir, "part"), "p_partkey", "prt"),
            li["l_partkey"] == F.col("__prt_k"),
            "left",
        )
        .join(
            key_set(
                load_table(spark, sf_dir, "supplier"), "s_suppkey", "sup"
            ),
            li["l_suppkey"] == F.col("__sup_k"),
            "left",
        )
    )

    def n_bad(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    li_counts = joined.agg(
        n_bad(~F.coalesce(F.col("__ord"), F.lit(False))).alias("ord_fk"),
        n_bad(~F.coalesce(F.col("__prt"), F.lit(False))).alias("prt_fk"),
        n_bad(~F.coalesce(F.col("__sup"), F.lit(False))).alias("sup_fk"),
        n_bad(
            ~F.coalesce(F.col("l_quantity") > 0, F.lit(False))
        ).alias("qty"),
        n_bad(
            ~F.coalesce(
                (F.col("l_discount") >= 0) & (F.col("l_discount") <= 1),
                F.lit(False),
            )
        ).alias("disc"),
    )
    li_rows = li_counts.selectExpr(
        "stack(5, 'lineitem_order_fk', ord_fk, 'lineitem_part_fk', prt_fk, "
        "'lineitem_supplier_fk', sup_fk, 'lineitem_positive_quantity', qty, "
        "'lineitem_discount_in_unit', disc) AS (check_name, n_violations)"
    )

    customer = load_table(spark, sf_dir, "customer")
    other = violation_count(
        "orders_customer_fk",
        fk_orphans(orders, "o_custkey", customer, "c_custkey"),
    ).unionByName(
        violation_count(
            "events_user_in_customer",
            fk_orphans(
                load_table(spark, sf_dir, "events"),
                "user_id",
                customer,
                "c_custkey",
            ),
        )
    )
    return li_rows.unionByName(other).orderBy("check_name")


# ---------------------------------------------------------------------------
# q309: l-diversity audit — q304's attribute-disclosure complement
# ---------------------------------------------------------------------------

_Q309_SQL = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
              AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS l,
         CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_debt
  FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_homogeneous,
       CAST(SUM(CASE WHEN l = 1 THEN k ELSE 0 END) AS BIGINT)
         AS rows_disclosed,
       CAST(SUM(CASE WHEN l = 1 AND n_debt = k THEN 1 ELSE 0 END) AS BIGINT)
         AS n_all_debt,
       ROUND(CAST(SUM(CASE WHEN l = 1 THEN k ELSE 0 END) AS DOUBLE)
             / SUM(k), 6) AS disclosure_rate
FROM classes
"""


@register(
    "q309_l_diversity",
    _Q309_SQL,
    doc=(
        "l-diversity audit over q304's quasi-identifier classes with "
        "'in debt' (negative balance) as the sensitive attribute: a "
        "class that is k-anonymous but HOMOGENEOUS in the sensitive "
        "value (l=1) still discloses it for every member — the "
        "Machanavajjhala et al. attack k-anonymity misses; reports "
        "homogeneous-class count, rows disclosed, how many are "
        "all-debt (the damaging direction), and the disclosure rate.  "
        "Same two-level aggregation shape as q304: QI keys + "
        "counts shuffle, rollup is O(classes)"
    ),
    tables=("customer",),
)
def q309(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    debt = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    classes = (
        cust.select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(
                F.round(F.col("c_acctbal") * 100).cast("long") / 100000.0
            )
            .cast("long")
            .alias("bal_band"),
            debt.alias("debt"),
        )
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.count_distinct("debt").cast("long").alias("l"),
            F.sum("debt").cast("long").alias("n_debt"),
        )
    )
    homo = F.col("l") == 1
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.when(homo, 1).otherwise(0)).cast("long").alias("n_homogeneous"),
        F.sum(F.when(homo, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_disclosed"),
        F.sum(F.when(homo & (F.col("n_debt") == F.col("k")), 1).otherwise(0))
        .cast("long")
        .alias("n_all_debt"),
        F.round(
            F.sum(F.when(homo, F.col("k")).otherwise(0)).cast("double")
            / F.sum("k"),
            6,
        ).alias("disclosure_rate"),
    )

# ---------------------------------------------------------------------------
# q313: t-closeness audit (EMD of per-class vs global sensitive dist)
# ---------------------------------------------------------------------------

_Q313_T_BP = 2000  # threshold t = 0.20, held in basis points for integer compares

# Completes the privacy triptych (q304 k-anonymity, q309 l-diversity):
# t-closeness bounds how far any QI equivalence class's SENSITIVE-value
# distribution drifts from the global one.  Sensitive attribute: the
# customer's lifetime-spend band ($1M bands of exact cents; customers
# with no orders band to -1, a real ordered value).  EMD over an
# ordered domain is the L1 distance of the two CDFs / (m-1); with
# integer counts the per-value term is
#   |cum_class * n_total - cum_global * k| / (k * n_total)
# so the numerator sums EXACTLY in BIGINT and floats appear only in the
# final reported ratios.  The t > 0.2 violation count is an integer
# cross-multiplication (10000*num > t_bp*k*n*(m-1)) — no float boundary
# in any counted branch.  BIGINT headroom: cum*n <= k*n and the
# violation compare needs t_bp*k*n*(m-1) < 2^63 — holds to n ~ 3e12
# rows with k <= 100 and m <= 30.
_Q313_SQL = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(FLOOR(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    / 100000000.0) AS BIGINT) AS sv
  FROM orders GROUP BY 1
),
base AS (
  SELECT c.c_nationkey, c.c_mktsegment,
         CAST(FLOOR(CAST(ROUND(c.c_acctbal * 100) AS BIGINT) / 100000.0)
              AS BIGINT) AS bal_band,
         COALESCE(s.sv, -1) AS sv
  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT sv) AS BIGINT) AS m FROM base),
gdist AS (SELECT sv, CAST(COUNT(*) AS BIGINT) AS gq FROM base GROUP BY 1),
cls AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM base GROUP BY 1, 2, 3
),
cell AS (
  SELECT c_nationkey, c_mktsegment, bal_band, sv,
         CAST(COUNT(*) AS BIGINT) AS cp
  FROM base GROUP BY 1, 2, 3, 4
),
grid AS (
  SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_band, cls.k,
         g.sv, g.gq, COALESCE(cell.cp, 0) AS cp
  FROM cls CROSS JOIN gdist g
  LEFT JOIN cell
    ON cell.c_nationkey = cls.c_nationkey
   AND cell.c_mktsegment = cls.c_mktsegment
   AND cell.bal_band = cls.bal_band
   AND cell.sv = g.sv
),
cum AS (
  SELECT c_nationkey, c_mktsegment, bal_band, k,
         SUM(cp) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                       ORDER BY sv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cpc,
         SUM(gq) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                       ORDER BY sv
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cqc
  FROM grid
),
emd AS (
  SELECT c_nationkey, c_mktsegment, bal_band, k,
         CAST(SUM(ABS(cpc * t.n - cqc * k)) AS BIGINT) AS num,
         CAST(MAX(t.n) AS BIGINT) AS n, CAST(MAX(t.m) AS BIGINT) AS m
  FROM cum CROSS JOIN tot t
  GROUP BY 1, 2, 3, 4
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MAX(m) AS BIGINT) AS m_values,
       ROUND(MAX(CAST(num AS DOUBLE)
                 / NULLIF(CAST(k AS DOUBLE) * n * (m - 1), 0.0)), 6)
         AS t_max,
       CAST(SUM(CASE WHEN 10000 * num > {_Q313_T_BP} * k * n * (m - 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_over_t,
       ROUND(AVG(CAST(num AS DOUBLE)
                 / NULLIF(CAST(k AS DOUBLE) * n * (m - 1), 0.0)), 6)
         AS mean_t
FROM emd
"""


@register(
    "q313_t_closeness",
    _Q313_SQL,
    doc=(
        "t-closeness audit (t=0.20) completing the q304/q309 privacy "
        "triptych: per-QI-class EMD between the class's sensitive "
        "lifetime-spend-band distribution and the global one, over the "
        "ORDERED band domain (EMD = L1 of the CDFs / (m-1)).  The CDF "
        "difference is cross-multiplied to the integer "
        "|cum_p*n - cum_q*k| so the per-class numerator is an EXACT "
        "BIGINT sum, and the violation count compares integers "
        "(10000*num vs t_bp*k*n*(m-1)) — floats only in the two "
        "reported ratios.  Shuffles carry QI keys + band counts; the "
        "densified grid is classes x m (m = band-domain size, ~7), "
        "built from a broadcast of the m-row global distribution; "
        "per-class windows run over m-row frames, never over rows.  "
        "Spend bands come from one orders rollup joined to customer on "
        "the dimension key."
    ),
    tables=("customer", "orders"),
)
def q313(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.floor(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100000000.0
        )
        .cast("long")
        .alias("sv")
    )
    base = (
        cust.join(spend, cust["c_custkey"] == spend["o_custkey"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.round(F.col("c_acctbal") * 100).cast("long") / 100000.0)
            .cast("long")
            .alias("bal_band"),
            F.coalesce(F.col("sv"), F.lit(-1)).alias("sv"),
        )
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct("sv").cast("long").alias("m"),
    )
    glob = F.broadcast(
        base.groupBy("sv").agg(F.count(F.lit(1)).cast("long").alias("gq"))
    )
    qi = ["c_nationkey", "c_mktsegment", "bal_band"]
    cls = base.groupBy(*qi).agg(F.count(F.lit(1)).cast("long").alias("k"))
    cell = base.groupBy(*qi, "sv").agg(
        F.count(F.lit(1)).cast("long").alias("cp")
    )
    grid = (
        cls.crossJoin(glob)
        .join(cell, [*qi, "sv"], "left")
        .select(*qi, "k", "sv", "gq", F.coalesce("cp", F.lit(0)).alias("cp"))
    )
    w = (
        Window.partitionBy(*qi)
        .orderBy("sv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        *qi,
        "k",
        F.sum("cp").over(w).alias("cpc"),
        F.sum("gq").over(w).alias("cqc"),
    )
    emd = (
        cum.crossJoin(tot)
        .groupBy(*qi, "k")
        .agg(
            F.sum(F.abs(F.col("cpc") * F.col("n") - F.col("cqc") * F.col("k")))
            .cast("long")
            .alias("num"),
            F.max("n").cast("long").alias("n"),
            F.max("m").cast("long").alias("m"),
        )
    )
    ratio = F.col("num").cast("double") / F.nullif(
        F.col("k").cast("double") * F.col("n") * (F.col("m") - 1), F.lit(0.0)
    )
    over = (
        10000 * F.col("num")
        > _Q313_T_BP * F.col("k") * F.col("n") * (F.col("m") - 1)
    )
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("m").cast("long").alias("m_values"),
        F.round(F.max(ratio), 6).alias("t_max"),
        F.sum(F.when(over, 1).otherwise(0)).cast("long").alias("n_over_t"),
        F.round(F.avg(ratio), 6).alias("mean_t"),
    )


# ---------------------------------------------------------------------------
# q327: differentially-private noisy counts with SEEDED Laplace noise
# ---------------------------------------------------------------------------

# The release mechanism the privacy triptych (q304 k-anonymity, q309
# l-diversity, q313 t-closeness) audits FOR: epsilon-DP counts by the
# Laplace mechanism (Dwork et al. 2006; per-type COUNT has L1
# sensitivity 1, so scale b = 1/eps).  The noise draw must be
# deterministic to be oracle-checkable, so the uniform comes from the
# portable char-hash of the key re-mixed through the Knuth bucket
# (u in (0,1), never exactly 0 or 1), and the Laplace deviate is the
# closed-form inverse CDF -b*sign(u-1/2)*ln(1-2|u-1/2|).  In
# production the hash input would be (key, release_id, secret salt) —
# same plan, secret seed; everything downstream of the COUNT is
# per-key scalar arithmetic on exact integers, so both engines see
# bit-identical doubles.
_Q327_EPS = 1.0

_Q327_CHARHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(event_type, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 1000000007)"
)

_Q327_SQL = f"""
WITH c AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM events GROUP BY 1
),
h AS (
  SELECT event_type, n_true,
         ((({_Q327_CHARHASH} % 2147483648) * 2654435761) % 1000000007) AS b
  FROM c
),
u AS (
  SELECT event_type, n_true,
         (b + 1) * 1.0 / 1000000008 - CAST(0.5 AS DOUBLE) AS t
  FROM h
)
SELECT event_type, n_true,
       CAST({_Q327_EPS} AS DOUBLE) AS epsilon,
       ROUND(-SIGN(t) * LN(1 - 2 * ABS(t)) / {_Q327_EPS}, 4) AS noise,
       ROUND(n_true - SIGN(t) * LN(1 - 2 * ABS(t)) / {_Q327_EPS}, 4)
         AS n_noisy
FROM u ORDER BY event_type
"""


@register(
    "q327_dp_noisy_counts",
    _Q327_SQL,
    doc=(
        "epsilon-differentially-private per-type counts by the "
        "Laplace mechanism (Dwork et al. 2006; COUNT sensitivity 1, "
        f"b = 1/eps, eps = {_Q327_EPS}) — the release mechanism the "
        "q304/q309/q313 privacy audits gate: the noise deviate is the "
        "closed-form Laplace inverse CDF over a DETERMINISTIC uniform "
        "(portable char-hash of the key re-mixed through the Knuth "
        "bucket — in production the hash input gains a secret salt; "
        "the plan is unchanged), so the mechanism is oracle-"
        "checkable.  One keyed aggregate + per-key scalar arithmetic "
        "on exact integers; the audit reports true count, noise, and "
        "release side by side"
    ),
    tables=("events",),
)
def q327(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.dedup import char_hash
    from osm_changesets_to_parquet_spark.operators.quality import (
        hash_bucket,
    )

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    b = hash_bucket(char_hash(F.col("event_type")), 1_000_000_007)
    t = (b + 1) * F.lit(1.0) / F.lit(1_000_000_008) - F.lit(0.5)
    lap = (
        -F.signum(t)
        * F.log(F.lit(1) - F.lit(2) * F.abs(t))
        / F.lit(_Q327_EPS)
    )
    return c.select(
        "event_type",
        "n_true",
        F.lit(float(_Q327_EPS)).alias("epsilon"),
        F.round(lap, 4).alias("noise"),
        F.round(F.col("n_true") + lap, 4).alias("n_noisy"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q341: randomized response — local differential privacy (round 8)
# ---------------------------------------------------------------------------

# Warner (1965) — the LOCAL-DP complement to q327's central Laplace
# mechanism: each user reports their sensitive bit ("high spender":
# lifetime cents >= threshold) truthfully with probability p = 3/4
# and flipped with 1/4 (epsilon = ln(p/(1-p)) = ln 3), and the
# aggregator debiases the observed yes-share with
# pi_hat = (y_obs - (1-p)) / (2p - 1).  The flip coin is the
# deterministic Knuth bucket of the user id (bucket % 4 == 3 lies;
# in production the hash input gains a per-collection salt — same
# plan), so the whole mechanism is oracle-checkable, and the audit
# reports true share, observed share, debiased estimate and its
# error side by side.  One per-user rollup + one scalar row; exact
# integer counts until the final ratios.
_Q341_CENTS = 250_000  # lifetime spend threshold: $2500
_Q341_P_NUM, _Q341_P_DEN = 3, 4  # truth probability p = 3/4

_Q341_SQL = f"""
WITH u AS (
  SELECT user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY user_id
),
r AS (
  SELECT CAST(cents >= {_Q341_CENTS} AS BIGINT) AS truth,
         CAST(((user_id % 2147483648) * 2654435761) % {_Q341_P_DEN}
              = {_Q341_P_DEN - 1} AS BIGINT) AS lie
  FROM u
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(truth) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN lie = 1 THEN 1 - truth ELSE truth END)
              AS BIGINT) AS n_yes
  FROM r
)
SELECT n, ROUND(n_true * 1.0 / n, 6) AS true_share,
       ROUND(n_yes * 1.0 / n, 6) AS observed_yes,
       ROUND((n_yes * 1.0 / n - (1 - {_Q341_P_NUM}.0 / {_Q341_P_DEN}))
             / (2 * {_Q341_P_NUM}.0 / {_Q341_P_DEN} - 1), 6)
         AS estimated_share,
       ROUND(ABS((n_yes * 1.0 / n - (1 - {_Q341_P_NUM}.0 / {_Q341_P_DEN}))
             / (2 * {_Q341_P_NUM}.0 / {_Q341_P_DEN} - 1)
             - n_true * 1.0 / n), 6) AS abs_err,
       ROUND(LN({_Q341_P_NUM}.0 / ({_Q341_P_DEN} - {_Q341_P_NUM})), 4)
         AS epsilon
FROM s
"""


@register(
    "q341_randomized_response",
    _Q341_SQL,
    doc=(
        "randomized response (Warner 1965) — the LOCAL-DP complement "
        "to q327's central Laplace mechanism: each user's sensitive "
        "bit (lifetime spend >= $2500) reports truthfully with "
        "p = 3/4, flipped with 1/4 (epsilon = ln 3), debiased by "
        "(y - (1-p))/(2p - 1); the flip coin is the deterministic "
        "Knuth user-id bucket (production adds a per-collection salt "
        "to the hash — same plan), so the mechanism is oracle-"
        "checkable end to end.  One per-user rollup to a 3-integer "
        "scalar frame; the audit reports true/observed/debiased "
        "shares and the estimator error side by side"
    ),
    tables=("events",),
)
def q341(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    truth = (F.col("cents") >= _Q341_CENTS).cast("long")
    lie = (
        hash_bucket("user_id", _Q341_P_DEN) == (_Q341_P_DEN - 1)
    ).cast("long")
    s = u.select(truth.alias("truth"), lie.alias("lie")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum(
            F.when(F.col("lie") == 1, 1 - F.col("truth")).otherwise(
                F.col("truth")
            )
        )
        .cast("long")
        .alias("n_yes"),
    )
    p = _Q341_P_NUM * 1.0 / _Q341_P_DEN
    yobs = F.col("n_yes") * F.lit(1.0) / F.col("n")
    est = (yobs - (1 - F.lit(_Q341_P_NUM) * 1.0 / _Q341_P_DEN)) / (
        2 * F.lit(_Q341_P_NUM) * 1.0 / _Q341_P_DEN - 1
    )
    import math

    return s.select(
        "n",
        F.round(F.col("n_true") * F.lit(1.0) / F.col("n"), 6).alias(
            "true_share"
        ),
        F.round(yobs, 6).alias("observed_yes"),
        F.round(est, 6).alias("estimated_share"),
        F.round(
            F.abs(est - F.col("n_true") * F.lit(1.0) / F.col("n")), 6
        ).alias("abs_err"),
        F.round(
            F.lit(math.log(_Q341_P_NUM * 1.0 / (_Q341_P_DEN - _Q341_P_NUM))),
            4,
        ).alias("epsilon"),
    )

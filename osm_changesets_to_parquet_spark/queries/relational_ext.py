"""Extended relational surface Q53-Q67 — second coverage ring.

The reference's published query contract is "point an OLAP engine at the
Parquet" (reference: .github/workflows/process-changesets-r2.yml:198,207;
scripts/manage-r2.sh:130-152).  SURVEY.md §2.B declares the core ring
(Q01-Q33); this module adds the rest of the standard OLAP toolbox a user
of that contract reaches for next: pivot/unpivot, GROUPING SETS, scalar /
IN / correlated-EXISTS subqueries, HAVING, CASE/COALESCE/NULLIF,
statistical aggregates, arg-min/arg-max, ordered string aggregation,
window frame functions (first/last/nth_value, cume_dist), conditional
aggregates, and an inline-VALUES dimension lookup join.

Every query is oracle-checked (mode H) under the same determinism rules
as SURVEY.md §2.B: total ORDER BY on a unique key, ROUND on every double
aggregate, explicit tie-breaks wherever an arg-min/arg-max or window
order could tie.

Scale notes:
- the inline lookup join (q65) is an explicit ``F.broadcast`` — the
  canonical small-dim pattern: at 100 TB the fact side never shuffles;
- the scalar-subquery query (q56) broadcasts the 1-row aggregate rather
  than collecting it to the driver, so the plan stays fully distributed;
- pivot is given the explicit value list (no discovery job);
- grouping-sets/pivot/stats aggregates are all single-shuffle hash
  aggregations with map-side partials.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# Pivot / unpivot / grouping sets
# ---------------------------------------------------------------------------


@register(
    "q53_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS cnt_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS cnt_p,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2) AS price_f,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 0), 2) AS price_o,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 0), 2) AS price_p
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="pivot with an explicit value list (no extra distinct-discovery job at scale)",
    tables=("orders",),
)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("price"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F_cnt"), F.lit(0)).alias("cnt_f"),
        F.coalesce(F.col("O_cnt"), F.lit(0)).alias("cnt_o"),
        F.coalesce(F.col("P_cnt"), F.lit(0)).alias("cnt_p"),
        F.coalesce(F.col("F_price"), F.lit(0.0)).alias("price_f"),
        F.coalesce(F.col("O_price"), F.lit(0.0)).alias("price_o"),
        F.coalesce(F.col("P_price"), F.lit(0.0)).alias("price_p"),
    ).orderBy("o_orderpriority")


@register(
    "q54_unpivot",
    """
    SELECT p_partkey, metric, val FROM (
        SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    ) ORDER BY p_partkey, metric
    """,
    doc="unpivot / melt: wide numeric columns -> (key, metric, value) rows",
    tables=("part",),
)
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    ).orderBy("p_partkey", "metric")


@register(
    "q55_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    doc="GROUPING SETS (strict subset of cube) with grouping markers",
    tables=("orders",),
)
def q55(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            (F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")).alias(
                "gid"
            ),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@register(
    "q56_scalar_subquery",
    """
    SELECT o_orderstatus, COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc=(
        "scalar subquery as a 1-row join that Spark broadcasts by size — "
        "no driver-side collect"
    ),
    tables=("orders",),
)
def q56(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg("o_totalprice").alias("_avg_price"))
    return (
        o.join(avg_price)
        .where(F.col("o_totalprice") > F.col("_avg_price"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q57_in_subquery",
    """
    SELECT p_brand, COUNT(*) AS cnt FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 45)
    GROUP BY p_brand ORDER BY p_brand
    """,
    doc="IN-subquery = left-semi join with the predicate pushed into the probe scan",
    tables=("part", "lineitem"),
)
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 45)
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("p_brand")
    )


@register(
    "q58_exists_not_exists",
    """
    SELECT c_custkey FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1995-01-01')
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate < TIMESTAMP '1995-01-01')
    ORDER BY c_custkey
    """,
    doc="correlated EXISTS + NOT EXISTS = semi join chained with anti join",
    tables=("customer", "orders"),
)
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'")
    recent = o.where(F.col("o_orderdate") >= cutoff)
    older = o.where(F.col("o_orderdate") < cutoff)
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_semi")
        .join(older, F.col("c_custkey") == older.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "q59_having",
    """
    SELECT o_custkey, COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 12 AND SUM(o_totalprice) > 100000
    ORDER BY o_custkey
    """,
    doc="HAVING = post-aggregation filter (runs on the already-reduced keys)",
    tables=("orders",),
)
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_totalprice").alias("_raw_sum"),
        )
        .where((F.col("cnt") >= 12) & (F.col("_raw_sum") > 100000))
        .select("o_custkey", "cnt", F.round("_raw_sum", 2).alias("sum_price"))
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Conditional expressions & aggregates
# ---------------------------------------------------------------------------


@register(
    "q60_case_coalesce",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS tier,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
           COUNT(*) AS cnt, ROUND(AVG(c_acctbal), 2) AS avg_bal
    FROM customer GROUP BY 1, 2 ORDER BY tier, seg
    """,
    doc="CASE WHEN / NULLIF / COALESCE scalar conditionals",
    tables=("customer",),
)
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("tier")
    )
    seg = F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
        "seg"
    )
    return (
        c.groupBy(tier, seg)
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("c_acctbal"), 2).alias("avg_bal"))
        .orderBy("tier", "seg")
    )


@register(
    "q61_stats_agg",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
           ROUND(VAR_POP(l_quantity), 4) AS var_qty,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qp,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS covar_qp
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc="statistical aggregates (one-pass distributed moments)",
    tables=("lineitem",),
)
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_pop("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qp"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qp"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q62_argmin_argmax",
    """
    WITH cheap AS (
        SELECT o_orderstatus, o_orderkey AS cheapest_key FROM orders
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY o_totalprice ASC, o_orderkey ASC) = 1
    ), pricey AS (
        SELECT o_orderstatus, o_orderkey AS priciest_key FROM orders
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY o_totalprice DESC, o_orderkey DESC) = 1
    ), agg AS (
        SELECT o_orderstatus, ROUND(MIN(o_totalprice), 2) AS min_price,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderstatus
    )
    SELECT agg.o_orderstatus, cheapest_key, priciest_key, min_price, max_price
    FROM agg JOIN cheap USING (o_orderstatus) JOIN pricey USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
    doc=(
        "arg-min/arg-max via min_by/max_by over a (price, key) struct — the "
        "struct makes ties deterministic (lexicographic tie-break on the key); "
        "single hash agg, no window shuffle on the Spark side"
    ),
    tables=("orders",),
)
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
                "cheapest_key"
            ),
            F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
                "priciest_key"
            ),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "q63_string_agg",
    """
    SELECT lang,
           COUNT(*) AS cnt,
           ARRAY_TO_STRING(LIST_SORT(LIST(DISTINCT source)), ',') AS sources
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="ordered string aggregation (collect_set -> sort -> join: deterministic)",
    tables=("documents",),
)
def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.array_join(F.array_sort(F.collect_set("source")), ",").alias("sources"),
        )
        .orderBy("lang")
    )


@register(
    "q64_conditional_agg",
    """
    SELECT event_type,
           CAST(COUNT_IF(value > 0.5) AS BIGINT) AS n_high,
           BOOL_OR(value > 0.99) AS any_extreme,
           BOOL_AND(value >= 0) AS all_nonneg,
           ROUND(SUM(CASE WHEN value > 0.5 THEN value ELSE 0 END), 2) AS sum_high
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="conditional aggregates: count_if / bool_or / bool_and / filtered sum",
    tables=("events",),
)
def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 0.5).alias("n_high"),
            F.bool_or(F.col("value") > 0.99).alias("any_extreme"),
            F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
            F.round(
                F.sum(F.when(F.col("value") > 0.5, F.col("value")).otherwise(0.0)), 2
            ).alias("sum_high"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Window frame functions
# ---------------------------------------------------------------------------


@register(
    "q65_window_frame_funcs",
    """
    SELECT event_id,
           FIRST_VALUE(event_id) OVER w AS first_id,
           LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id,
           NTH_VALUE(event_id, 2) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_id,
           ROUND(CUME_DIST() OVER w, 4) AS cd
    FROM (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ORDER BY event_id
    """,
    doc="first/last/nth_value with explicit full frame; cume_dist on a unique order key",
    tables=("events",),
)
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return e.select(
        "event_id",
        F.first("event_id").over(w).alias("first_id"),
        F.last("event_id").over(wfull).alias("last_id"),
        F.nth_value("event_id", 2).over(wfull).alias("second_id"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Inline dimension lookup
# ---------------------------------------------------------------------------

_STATUS_NAMES = [("F", "finished"), ("O", "open"), ("P", "pending")]


@register(
    "q66_values_lookup_join",
    """
    SELECT lkp.status_name, COUNT(*) AS cnt
    FROM orders JOIN (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending'))
         lkp(code, status_name)
      ON orders.o_orderstatus = lkp.code
    GROUP BY lkp.status_name ORDER BY lkp.status_name
    """,
    doc="inline VALUES dimension + explicit broadcast: zero-shuffle fact-side join",
    tables=("orders",),
)
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    lkp = spark.createDataFrame(_STATUS_NAMES, ["code", "status_name"])
    return (
        o.join(F.broadcast(lkp), o.o_orderstatus == lkp.code)
        .groupBy("status_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("status_name")
    )


@register(
    "q67_distinct_multicol",
    """
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    ORDER BY c_mktsegment, c_nationkey
    """,
    doc="multi-column DISTINCT (hash agg on the pair; partial dedup map-side)",
    tables=("customer",),
)
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct().orderBy(
        "c_mktsegment", "c_nationkey"
    )


# ---------------------------------------------------------------------------
# Null-safe equality, bag-semantics set ops, paging
# ---------------------------------------------------------------------------


@register(
    "q77_nullsafe_join",
    """
    WITH a AS (
      SELECT NULLIF(l_returnflag, 'R') AS k, COUNT(*) AS cnt_a
      FROM lineitem GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(o_orderstatus, 'F') AS k, COUNT(*) AS cnt_b
      FROM orders GROUP BY 1
    )
    SELECT a.k, cnt_a, cnt_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    ORDER BY a.k NULLS FIRST
    """,
    doc=(
        "null-safe equi-join (<=> / IS NOT DISTINCT FROM): null keys "
        "match each other — a plain equi-join would drop them"
    ),
    tables=("lineitem", "orders"),
)
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    a = (
        li.groupBy(F.nullif("l_returnflag", F.lit("R")).alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        o.groupBy(F.nullif("o_orderstatus", F.lit("F")).alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_b"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select(a["k"], "cnt_a", "cnt_b")
        .orderBy(F.col("k").asc_nulls_first())
    )


@register(
    "q78_bag_setops",
    """
    WITH x AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'),
    y AS (SELECT o_custkey FROM orders WHERE o_orderpriority LIKE '1-%'),
    i AS (SELECT o_custkey FROM x INTERSECT ALL SELECT o_custkey FROM y),
    e AS (SELECT o_custkey FROM x EXCEPT ALL SELECT o_custkey FROM y)
    SELECT (SELECT COUNT(*) FROM i) AS n_intersect_all,
           (SELECT COUNT(*) FROM e) AS n_except_all
    """,
    doc=(
        "bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): multiplicity "
        "preserved, unlike the distinct q26/q27 forms"
    ),
    tables=("orders",),
)
def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    x = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    y = o.where(F.col("o_orderpriority").like("1-%")).select("o_custkey")
    return (
        x.intersectAll(y)
        .agg(F.count(F.lit(1)).alias("n_intersect_all"))
        .crossJoin(x.exceptAll(y).agg(F.count(F.lit(1)).alias("n_except_all")))
    )


@register(
    "q79_limit_offset",
    """
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
    FROM orders ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10 OFFSET 20
    """,
    doc="paging: total order + LIMIT/OFFSET (rows 21-30 by price)",
    tables=("orders",),
)
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .offset(20)
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("price"))
    )


@register(
    "q16b_theta_join_agg_rewrite",
    """
    SELECT p1.p_brand, COUNT(*) AS n_pairs
    FROM part p1 JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
    GROUP BY p1.p_brand ORDER BY p1.p_brand
    """,
    doc=(
        "q16's theta join rewritten without enumerating pairs: group to "
        "(brand, size) counts, suffix-sum window over sizes, then "
        "sum(c * suffix) — O(distinct sizes) work instead of O(pairs); "
        "the oracle is q16's literal pair join, proving equivalence"
    ),
    tables=("part",),
)
def q16b(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    by_size = p.groupBy("p_brand", "p_size").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("p_brand")
        .orderBy("p_size")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    suffix = F.coalesce(F.sum("c").over(w), F.lit(0))
    return (
        by_size.withColumn("pairs", F.col("c") * suffix)
        .groupBy("p_brand")
        .agg(F.sum("pairs").alias("n_pairs"))
        .where(F.col("n_pairs") > 0)
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Q158: semi-structured VARIANT shredding (Spark 4 VariantType)
# ---------------------------------------------------------------------------

# The oracle shreds the same JSON with DuckDB's json_extract; the
# engine's path is Spark 4's binary VARIANT (parse once, typed
# variant_get extraction — the open-format answer to shredded JSON
# columns).  The engine-side schema_of_variant string is pinned as a
# literal on the oracle side: if Spark's inferred shred type ever
# drifts from OBJECT<k: BIGINT>, the hash catches it.
_Q158_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(COUNT(*) FILTER (WHERE json_extract(props, '$.missing') IS NOT NULL)
            AS BIGINT) AS n_with_extra,
       'OBJECT<k: BIGINT>' AS variant_schema
FROM events
GROUP BY event_type ORDER BY event_type
"""


@register(
    "q158_variant_shred",
    _Q158_SQL,
    doc=(
        "semi-structured shredding through Spark 4's VARIANT type: "
        "props parses ONCE to binary variant (parse_json), typed "
        "fields come out via variant_get ($.k as long; the missing-"
        "path probe returns NULL, never errors), and schema_of_variant "
        "reports the shredded type — pinned against a literal in the "
        "oracle so type drift breaks the hash.  Parse + extraction are "
        "per-row JVM expressions (no shuffle before the final "
        "|types|-key aggregate); at 100 TB the binary variant beats "
        "re-parsing JSON text per predicate, which is the point of "
        "the type"
    ),
    tables=("events",),
)
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select("event_type", F.parse_json("props").alias("v"))
    k = F.variant_get("v", "$.k", "long")
    missing = F.variant_get("v", "$.missing", "string")
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.count(missing).cast("long").alias("n_with_extra"),
            F.any_value(F.schema_of_variant("v")).alias("variant_schema"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q161: the plain-SQL surface — ONE ANSI string runs on both engines
# ---------------------------------------------------------------------------

# The reference's entire query contract is "point an OLAP engine at the
# parquet" (scripts/manage-r2.sh:130-152 runs DuckDB SQL on the output).
# This query IS that contract on Spark: the text below is executed
# verbatim by spark.sql over the registered views AND by DuckDB as the
# oracle — no translation layer, the shared-ANSI-subset discipline
# (CAST the COUNT-sum to BIGINT for DuckDB's HUGEINT, ROUND every
# double) is what keeps one string portable.
_Q161_SQL = """
WITH r AS (
  SELECT o_custkey, SUM(o_totalprice) AS rev, COUNT(*) AS n
  FROM orders GROUP BY o_custkey
)
SELECT c_mktsegment,
       COUNT(*) AS n_cust,
       CAST(SUM(n) AS BIGINT) AS n_orders,
       ROUND(SUM(rev), 2) AS revenue,
       ROUND(MAX(rev), 2) AS top_cust_rev,
       CAST(COUNT(CASE WHEN rev > 500000 THEN 1 END) AS BIGINT) AS n_whales
FROM customer JOIN r ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register(
    "q161_sql_surface",
    _Q161_SQL,
    doc=(
        "the plain-SQL entry point: the SAME ANSI string runs verbatim "
        "through spark.sql over catalog.register_views AND through the "
        "DuckDB oracle — zero translation, proving a reference user "
        "can point their existing SQL at this engine.  Catalyst plans "
        "it like any DataFrame query (CTE inlined, partial aggregates, "
        "broadcast customer join at this shape)"
    ),
    tables=("orders", "customer"),
)
def q161(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q161_SQL)


# ---------------------------------------------------------------------------
# Q162: per-group OLS (regression aggregates)
# ---------------------------------------------------------------------------

_Q162_SQL = """
SELECT l_returnflag,
       CAST(REGR_COUNT(l_extendedprice, l_quantity) AS BIGINT) AS n,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 2) AS intercept,
       ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "q162_group_ols",
    _Q162_SQL,
    doc=(
        "closed-form per-group least squares (price ~ quantity per "
        "return flag) via the SQL regression aggregates REGR_SLOPE / "
        "REGR_INTERCEPT / REGR_R2 — one-pass distributed moment "
        "accumulation with map-side partials, the q61 stats family "
        "completed; rounded before compare so last-ulp moment-merge "
        "order can't flip the hash"
    ),
    tables=("lineitem",),
)
def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count("l_extendedprice", "l_quantity").cast("long").alias("n"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(
                F.regr_intercept("l_extendedprice", "l_quantity"), 2
            ).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Q200: TPC-H Q3 (shipping priority) — verbatim shared-ANSI spelling
# ---------------------------------------------------------------------------

# The canonical benchmark query, adapted only where the shared-string
# discipline demands it: revenue arithmetic rides DECIMAL(18,2) (the
# q02 float-tie rule — SUM of 2-decimal products ROUNDs differently per
# engine as raw doubles), the date column prints as its CAST(DATE AS
# VARCHAR) ISO form (raw timestamps never leave a query), and the
# ORDER BY gains l_orderkey so LIMIT is total.  o_shippriority is not
# in the fixture schema; o_orderpriority stands in.
_Q200_SQL = """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
            AS DOUBLE) AS revenue,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR(10)) AS orderdate,
       o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < DATE '1996-06-30'
  AND l_shipdate > DATE '1996-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, orderdate, l_orderkey
LIMIT 10
"""


@register(
    "q200_tpch_q3",
    _Q200_SQL,
    doc=(
        "TPC-H Q3 (shipping priority) run VERBATIM through spark.sql — "
        "the same ANSI string is the DuckDB oracle (q161's shared-"
        "string discipline): two selective dimension filters, the "
        "classic customer-orders-lineitem join (customer side "
        "broadcastable), grouped revenue in exact DECIMAL(18,2) "
        "arithmetic, top-10 as TakeOrderedAndProject"
    ),
    tables=("customer", "orders", "lineitem"),
)
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q200_SQL)


# --- relocated from analytics.py in the round-10 family regrouping
# (join-strategy probes; mechanical move, zero behavior change —
# pre/post registry hash dump) ---
# ---------------------------------------------------------------------------
# Q133: join-key skew profiler (the pre-join diagnostic for q99's salting)
# ---------------------------------------------------------------------------

_Q133_SQL = """
WITH k AS (SELECT o_custkey AS key, COUNT(*) AS c FROM orders GROUP BY o_custkey),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         ROUND(AVG(c), 4) AS avg_c,
         CAST(MAX(c) AS BIGINT) AS max_c,
         ROUND(MAX(c) / AVG(c), 4) AS skew_ratio
  FROM k
)
SELECT t.key, CAST(t.c AS BIGINT) AS cnt,
       ROUND(t.c / (SELECT SUM(c) FROM k), 6) AS share,
       s.n_keys, s.avg_c, s.max_c, s.skew_ratio
FROM (
  SELECT key, c, ROW_NUMBER() OVER (ORDER BY c DESC, key) AS rn FROM k
) t, stats s
WHERE t.rn <= 10
ORDER BY cnt DESC, key
"""


@register(
    "q133_join_skew_profile",
    _Q133_SQL,
    doc=(
        "join-key skew profiler — the diagnostic you run BEFORE "
        "choosing broadcast / salt (q99) / AQE-skew-join for a key: "
        "per-key counts (one map-side-partial aggregate), the top-10 "
        "heavy hitters with corpus share, and the max/avg skew ratio "
        "broadcast onto every row"
    ),
    tables=("orders",),
)
def q133(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.avg("c"), 4).alias("avg_c"),
        F.max("c").alias("max_c"),
        F.round(F.max("c") / F.avg("c"), 4).alias("skew_ratio"),
        F.sum("c").alias("__tot"),
    )
    # top-10 via orderBy().limit() = TakeOrderedAndProject — O(k) per
    # partition, never a single-task global rank window over all keys
    top = k.orderBy(F.col("c").desc(), F.col("key")).limit(10)
    return (
        top.crossJoin(stats)
        .select(
            "key",
            F.col("c").alias("cnt"),
            F.round(F.col("c") / F.col("__tot"), 6).alias("share"),
            "n_keys",
            "avg_c",
            "max_c",
            "skew_ratio",
        )
        .orderBy(F.col("cnt").desc(), "key")
    )


# ---------------------------------------------------------------------------
# Q140: point-in-interval range lookup via grid-bucketed equi-join (round 5)
# ---------------------------------------------------------------------------

_Q140_BANDS = [
    ("bronze", 0, 50_000),
    ("silver", 50_000, 150_000),
    ("gold", 150_000, 300_000),
    ("platinum", 300_000, 1_000_000),
]


_Q140_WIDTH = 50_000


_Q140_SQL = f"""
WITH bands(band, lo, hi) AS (VALUES
  {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _Q140_BANDS)}
)
SELECT band, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS sum_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band ORDER BY band
"""


@register(
    "q140_range_lookup",
    _Q140_SQL,
    doc=(
        "point-in-interval lookup (the IP-to-geo / price-to-tier shape) "
        "via operators/intervals.range_lookup: the non-equi band "
        "predicate becomes an ordinary hash equi-join on a grid bucket "
        "id (intervals explode to covered buckets, each point maps to "
        "exactly one bucket, exact bounds verified in-row) — works at "
        "ANY dimension size where the nested-loop theta join needs the "
        "dimension broadcast and scans it per row; oracle runs the "
        "theta join literally"
    ),
    tables=("orders",),
)
def q140(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.intervals import range_lookup

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.createDataFrame(_Q140_BANDS, "band string, lo long, hi long")
    looked = range_lookup(
        o, bands, "o_totalprice", "lo", "hi", bucket_width=_Q140_WIDTH
    )
    return (
        looked.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Q155: 2-D ε-neighborhood self-join via grid-cell blocking
# ---------------------------------------------------------------------------

_Q155_EPS = 0.02

# Brute-force oracle: the full n² comparison the grid join must equal.
# Both sides CAST the float32 coordinates to DOUBLE before arithmetic,
# so the squared distance is computed bit-identically and the strict
# `< eps²` boundary cannot flip between engines.
_Q155_SQL = f"""
WITH e AS (
  SELECT vec_id,
         CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) < {_Q155_EPS} * {_Q155_EPS}
ORDER BY id_a, id_b
"""


@register(
    "q155_grid_join_2d",
    _Q155_SQL,
    doc=(
        "exact 2-D ε-neighborhood self-join (DBSCAN-neighborhood / "
        "spatial blocking) over the first two embedding dims via "
        "operators/intervals.grid_neighbor_pairs_2d: cell width = ε, "
        "home cell equi-joins the probe side's 3×3 cell explosion, "
        "exact squared-distance verify in-row — one hash join keyed on "
        "the cell id, never a cross join; every true pair collides in "
        "exactly one cell so no DISTINCT.  Oracle runs the n² theta "
        "join literally"
    ),
    tables=("embeddings",),
)
def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.intervals import (
        grid_neighbor_pairs_2d,
    )

    pts = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).alias("x"),
        F.element_at("embedding", 2).alias("y"),
    )
    return grid_neighbor_pairs_2d(pts, "vec_id", "x", "y", _Q155_EPS).orderBy(
        "id_a", "id_b"
    )

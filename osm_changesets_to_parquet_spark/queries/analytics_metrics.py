"""Metric, distribution & time-series analytics over the event stream.

The measurement half of the former analytics.py (round-10 family
regrouping; mechanical relocation, zero behavior change — verified by
the pre/post registry hash dump): resampling with forward-fill, EWMA,
rolling medians/DAU, autocorrelation, TWAP, CUSUM changepoints, ROC
AUC, A/B z-tests, Benford audits, Pareto concentration, column mutual
information, key-Gini, skylines, EMD drift, decile lift, Poisson
bootstrap, weighted medians, linear interpolation, grouped
percentiles, and nearest-score matching.

Scale notes: the window functions here run over per-key time series
(PARTITION BY key ORDER BY time), never an unpartitioned global
window; distribution summaries reduce to bounded histograms or
per-group moments behind map-side partials.  All time arithmetic is
integer epoch micros (catalog ts_us).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000


@register(
    "q82_resample_ffill",
    f"""
    WITH b AS (
      SELECT user_id, epoch_us(ts) // {US_PER_HOUR} AS hr,
             ROUND(AVG(value), 4) AS v
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    ),
    span AS (
      SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM b GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM span
    ),
    j AS (
      SELECT g.user_id, g.hr, b.v FROM grid g
      LEFT JOIN b ON b.user_id = g.user_id AND b.hr = g.hr
    )
    SELECT user_id, hr,
           COALESCE(v, LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS v_filled,
           v IS NULL AS was_gap
    FROM j ORDER BY user_id, hr
    """,
    doc=(
        "time-series densification: per-user hourly grid (sequence + "
        "explode — no driver-side calendar), left join actuals, forward "
        "fill via last(ignorenulls) window; one shuffle on user"
    ),
    tables=("events",),
)
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    b = (
        ev.select(
            "user_id",
            (F.unix_micros("ts") / US_PER_HOUR).cast("long").alias("hr"),
            "value",
        )
        .groupBy("user_id", "hr")
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    span = b.groupBy("user_id").agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("h0", "h1")).alias("hr")
    )
    j = grid.join(b, ["user_id", "hr"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return j.select(
        "user_id",
        "hr",
        F.coalesce(F.col("v"), F.last("v", ignorenulls=True).over(w)).alias("v_filled"),
        F.col("v").isNull().alias("was_gap"),
    ).orderBy("user_id", "hr")


@register(
    "q83_ewma",
    """
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
      WHERE user_id < 10
    ),
    w AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS vs
      FROM o
    )
    SELECT user_id, event_id,
           ROUND(list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc), 4) AS ewma
    FROM w ORDER BY user_id, event_id
    """,
    doc=(
        "recursive EWMA (alpha=0.2) over a trailing 24-row window: "
        "collect_list over the frame + an in-row aggregate fold — the "
        "stateful recurrence without Python, one shuffle on user; the "
        "bounded frame avoids the pow-overflow of the closed form"
    ),
    tables=("events",),
)
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 10)
        .select("user_id", "event_id", F.unix_micros("ts").alias("us"), "value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    vs = F.collect_list("value").over(w)
    ewma = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1).cast("double"),
        lambda acc, x: F.lit(0.2) * x + F.lit(0.8) * acc,
    )
    return ev.select(
        "user_id", "event_id", F.round(ewma, 4).alias("ewma")
    ).orderBy("user_id", "event_id")


# ---------------------------------------------------------------------------
# Q157: exact rolling median (sliding order statistic)
# ---------------------------------------------------------------------------

_Q157_FRAME = 50

# Even-count frames interpolate (mean of the two middle values) on BOTH
# engines — DuckDB's MEDIAN is the continuous quantile; the Spark side
# spells the same interpolation over the sorted frame array.  NULL
# values drop from the frame on both sides (collect_list and MEDIAN
# both ignore them).
_Q157_SQL = f"""
SELECT event_id, event_type,
       ROUND(MEDIAN(value) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN {_Q157_FRAME - 1} PRECEDING AND CURRENT ROW), 6)
         AS roll_med
FROM events ORDER BY event_id
"""


@register(
    "q157_rolling_median",
    _Q157_SQL,
    doc=(
        "exact sliding-window median of event values (the robust "
        "rolling baseline mean/stddev can't give): per-type window, "
        "50-row frame, collect_list over the bounded frame -> in-row "
        "array_sort -> interpolated middle.  O(frame·log frame) per "
        "row with frame a small constant; partitioned by event_type so "
        "no single-task window.  A production build at much larger "
        "frames would keep a two-heap state in a pandas UDF — with a "
        "50-row frame the array spelling stays JVM-side and beats the "
        "Arrow round-trip"
    ),
    tables=("events",),
)
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_Q157_FRAME - 1), 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    ev = ev.withColumn("__a", arr)
    n = F.size("__a")
    mid_hi = F.element_at("__a", (F.floor(n / 2) + 1).cast("int"))
    mid_lo = F.element_at("__a", F.floor((n + 1) / 2).cast("int"))
    med = F.when(n > 0, (mid_lo + mid_hi) / 2.0)
    return ev.select(
        "event_id", "event_type", F.round(med, 6).alias("roll_med")
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Q170: lag autocorrelation per series (periodicity probe)
# ---------------------------------------------------------------------------

_Q170_SQL = """
WITH o AS (
  SELECT event_type, value,
         LAG(value, 1) OVER w AS l1,
         LAG(value, 7) OVER w AS l7
  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type,
       ROUND(CORR(value, l1), 4) AS ac1,
       ROUND(CORR(value, l7), 4) AS ac7
FROM o GROUP BY event_type ORDER BY event_type
"""


@register(
    "q170_autocorrelation",
    _Q170_SQL,
    doc=(
        "lag-1 / lag-7 autocorrelation of event values per type — the "
        "periodicity probe before any seasonal model: one per-type "
        "window shuffle for the lags (event_id tie-break), then the "
        "one-pass distributed CORR moments (the q61 family), rounded "
        "to 4 so moment-merge order can't flip the hash; NULL lag "
        "heads drop from the pairs on both engines"
    ),
    tables=("events",),
)
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id"
    )
    o = ev.select(
        "event_type",
        "value",
        F.lag("value", 1).over(w).alias("l1"),
        F.lag("value", 7).over(w).alias("l7"),
    )
    return (
        o.groupBy("event_type")
        .agg(
            F.round(F.corr("value", "l1"), 4).alias("ac1"),
            F.round(F.corr("value", "l7"), 4).alias("ac7"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q172: ROC-AUC via the Mann-Whitney U statistic (tie-averaged ranks)
# ---------------------------------------------------------------------------

_Q172_SQL = """
WITH s AS (
  SELECT value AS score, COUNT(*) AS cnt,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pos
  FROM events GROUP BY 1
),
c AS (
  SELECT score, cnt, pos,
         COALESCE(SUM(cnt) OVER (
           ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS below
  FROM s
),
t AS (
  SELECT SUM(pos * (below + (cnt + 1) / 2.0)) AS rank_sum,
         SUM(pos) AS npos, SUM(cnt - pos) AS nneg
  FROM c
)
SELECT CAST(npos AS BIGINT) AS n_pos, CAST(nneg AS BIGINT) AS n_neg,
       ROUND((rank_sum - CAST(npos AS DOUBLE) * (npos + 1) / 2.0)
             / (CAST(npos AS DOUBLE) * nneg), 6) AS auc
FROM t
"""


@register(
    "q172_roc_auc",
    _Q172_SQL,
    doc=(
        "ROC-AUC of a score column separating a binary label "
        "(does event value predict 'purchase'), computed as the "
        "Mann-Whitney U rank statistic with exact tie handling: "
        "scores reduce to per-distinct-score (cnt, pos) first — the "
        "cumsum input is O(distinct scores), not O(events) — then the "
        "strictly-below prefix count comes from the range-bucketed "
        "global_cumsum (one wide shuffle, never a single-task window); "
        "the tie-averaged rank of every positive is below+(cnt+1)/2"
    ),
    tables=("events",),
)
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("long").alias("is_pos"),
    )
    s = ev.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("is_pos").alias("pos")
    )
    # scores are bounded money-like doubles; fixed monotone bounds skip
    # the approxQuantile pass (balance only affects parallelism)
    c = global_cumsum(
        s, "score", "cnt", out_col="below", exclusive=True,
        bounds=[16.0 * i for i in range(1, 32)],
    )
    t = c.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + F.lit(1)) / F.lit(2.0))
        ).alias("rank_sum"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nneg"),
    )
    return t.select(
        F.col("npos").cast("long").alias("n_pos"),
        F.col("nneg").cast("long").alias("n_neg"),
        F.round(
            (
                F.col("rank_sum")
                - F.col("npos").cast("double") * (F.col("npos") + F.lit(1)) / F.lit(2.0)
            )
            / (F.col("npos").cast("double") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Q173: A/B experiment readout (two-proportion pooled z-test)
# ---------------------------------------------------------------------------


def _q173_sql() -> str:
    from osm_changesets_to_parquet_spark.operators.quality import sql_hash_bucket

    return f"""
WITH u AS (
  SELECT user_id,
         CASE WHEN {sql_hash_bucket('user_id')} >= 50 THEN 1 ELSE 0 END AS variant,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
g AS (
  SELECT SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS c_a,
         SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS c_b
  FROM u
),
z AS (
  SELECT n_a, n_b, c_a, c_b,
         c_a / CAST(n_a AS DOUBLE) AS r_a,
         c_b / CAST(n_b AS DOUBLE) AS r_b,
         (c_a + c_b) / CAST(n_a + n_b AS DOUBLE) AS p
  FROM g
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(c_a AS BIGINT) AS conv_a, CAST(c_b AS BIGINT) AS conv_b,
       ROUND(r_b - r_a, 6) AS rate_diff,
       ROUND((r_b - r_a)
             / NULLIF(SQRT(p * (1 - p) * (1.0 / n_a + 1.0 / n_b)), 0), 6) AS z_stat
FROM z
"""


@register(
    "q173_ab_ztest",
    _q173_sql(),
    doc=(
        "A/B experiment readout: users split 50/50 by the shared "
        "deterministic id-hash authority (operators.quality.hash_bucket "
        "— identical integer math in both engines), per-user conversion "
        "= any purchase, then the two-proportion pooled z statistic; "
        "two keyed aggregates, every join-free — O(users) shuffle"
    ),
    tables=("events",),
)
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
        )
        .select(
            (hash_bucket("user_id") >= F.lit(50)).cast("long").alias("variant"),
            "conv",
        )
    )
    g = u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias("c_b"),
    )
    r_a = F.col("c_a") / F.col("n_a").cast("double")
    r_b = F.col("c_b") / F.col("n_b").cast("double")
    p = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b")).cast("double")
    return g.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_a").cast("long").alias("conv_a"),
        F.col("c_b").cast("long").alias("conv_b"),
        F.round(r_b - r_a, 6).alias("rate_diff"),
        # a degenerate experiment (p = 0 or 1: no variance) has no z —
        # NULL on both sides, never a divide-by-zero
        F.round(
            F.try_divide(
                r_b - r_a,
                F.nullif(
                    F.sqrt(
                        p * (F.lit(1) - p)
                        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
                    ),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Q181: time-weighted average price (TWAP) per user stream
# ---------------------------------------------------------------------------

_Q181_SQL = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us, event_id,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id < 30
),
g AS (
  SELECT user_id, cents,
         LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
  FROM o
),
t AS (
  SELECT user_id, COUNT(*) AS n_spans, SUM(dt) AS total_dt,
         SUM(CAST(cents AS HUGEINT) * dt) AS wsum
  FROM g WHERE dt IS NOT NULL GROUP BY 1
)
SELECT user_id, CAST(n_spans AS BIGINT) AS n_spans,
       CAST(total_dt AS BIGINT) AS total_dt_us,
       ROUND(CAST(wsum AS DOUBLE) / (CAST(total_dt AS DOUBLE) * 100.0), 6) AS twap
FROM t ORDER BY user_id
"""


@register(
    "q181_twap",
    _Q181_SQL,
    doc=(
        "time-weighted average (the TWAP/sensor-hold metric): each "
        "observation's value holds until the user's next event, so the "
        "weight is the lead-gap in micros; values go through integer "
        "CENTS and the weighted sum through DECIMAL(38,0) — exact "
        "integer accumulation on both engines (a double sum would be "
        "order-dependent, a BIGINT sum overflows at cents x micros "
        "scale); the lead window partitions per user — thousands of "
        "independent partitions, never a global window"
    ),
    tables=("events",),
)
def q181(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 30)
    o = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    g = o.select(
        "user_id", "cents", (F.lead("us").over(w) - F.col("us")).alias("dt")
    ).where(F.col("dt").isNotNull())
    t = g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("dt").alias("total_dt"),
        F.sum(
            (F.col("cents") * F.col("dt")).cast("decimal(38,0)")
        ).alias("wsum"),
    )
    return t.select(
        "user_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("total_dt").cast("long").alias("total_dt_us"),
        F.round(
            F.col("wsum").cast("double")
            / (F.col("total_dt").cast("double") * F.lit(100.0)),
            6,
        ).alias("twap"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Q182: CUSUM change-point detection over the daily value series
# ---------------------------------------------------------------------------

_Q182_SQL = f"""
WITH d AS (
  SELECT event_type, epoch_us(ts) // {US_PER_DAY} AS day,
         ROUND(AVG(value), 4) AS x
  FROM events GROUP BY 1, 2
),
m AS (SELECT event_type, ROUND(AVG(x), 6) AS mu FROM d GROUP BY 1),
c AS (
  SELECT d.event_type, d.day,
         SUM(d.x - m.mu) OVER (
           PARTITION BY d.event_type ORDER BY d.day
         ) AS csum
  FROM d JOIN m ON d.event_type = m.event_type
),
s AS (
  SELECT event_type, day,
         csum - LEAST(0, MIN(csum) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         )) AS cusum
  FROM c
),
r AS (
  SELECT event_type, day, cusum,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY cusum DESC, day
         ) AS rnk
  FROM s
)
SELECT event_type, CAST(day AS BIGINT) AS change_day,
       ROUND(cusum, 4) AS max_cusum
FROM r WHERE rnk = 1 ORDER BY event_type
"""


@register(
    "q182_cusum_changepoint",
    _Q182_SQL,
    doc=(
        "one-sided CUSUM change-point detection (Page 1954, public) "
        "over the per-type DAILY mean series: the stateful recursion "
        "S_t = max(0, S_t-1 + dev_t) rewrites closed-form as "
        "csum_t - min(0, min earlier csum) — two sequential windows, "
        "no recursion; the window input is pre-aggregated to O(days) "
        "rows per type (the raw-event shuffle happens in the keyed "
        "daily aggregate), so the per-type window is bounded by the "
        "calendar, not the data"
    ),
    tables=("events",),
)
def q182(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            (F.unix_micros("ts") / US_PER_DAY).cast("long").alias("day"),
            "value",
        )
        .groupBy("event_type", "day")
        .agg(F.round(F.avg("value"), 4).alias("x"))
    )
    m = d.groupBy("event_type").agg(F.round(F.avg("x"), 6).alias("mu"))
    wc = Window.partitionBy("event_type").orderBy("day")
    c = d.join(m, "event_type").withColumn(
        "csum", F.sum(F.col("x") - F.col("mu")).over(wc)
    )
    wp = wc.rowsBetween(Window.unboundedPreceding, -1)
    s = c.withColumn(
        "cusum",
        F.col("csum") - F.least(F.lit(0.0), F.min("csum").over(wp)),
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("cusum").desc(), "day"
    )
    return (
        s.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("day").cast("long").alias("change_day"),
            F.round("cusum", 4).alias("max_cusum"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q184: Benford first-digit audit (fraud/data-quality screen)
# ---------------------------------------------------------------------------

# expected Benford shares, Python-computed literals shared by both
# engines (the NDCG discipline) — the only runtime float math is the
# observed share division
_BENFORD = [__import__("math").log10(1 + 1 / d) for d in range(1, 10)]


_Q184_SQL = f"""
WITH c AS (
  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
),
d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         COUNT(*) AS n
  FROM c GROUP BY 1
),
t AS (SELECT SUM(n) AS total FROM d)
SELECT digit, CAST(n AS BIGINT) AS n_obs,
       ROUND(n / CAST(t.total AS DOUBLE), 6) AS obs_share,
       ([{", ".join(repr(v) for v in _BENFORD)}])[digit] AS benford_share
FROM d, t ORDER BY digit
"""


@register(
    "q184_benford_audit",
    _Q184_SQL,
    doc=(
        "Benford first-significant-digit audit (Newcomb 1881 / Benford "
        "1938, the standard forensic-accounting data-quality screen): "
        "amounts fold to integer CENTS, the leading digit comes from "
        "the exact integer decimal string (never float log10, whose "
        "boundary ulps flip digits at powers of ten), one keyed "
        "9-row aggregate; expected shares are shared literals"
    ),
    tables=("orders",),
)
def q184(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents")
    )
    d = (
        c.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = d.agg(F.sum("n").alias("total"))
    benford = F.element_at(
        F.array(*[F.lit(v) for v in _BENFORD]), F.col("digit").cast("int")
    )
    return (
        d.crossJoin(t)
        .select(
            "digit",
            F.col("n").cast("long").alias("n_obs"),
            F.round(F.col("n") / F.col("total").cast("double"), 6).alias(
                "obs_share"
            ),
            benford.alias("benford_share"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Q187: Pareto revenue concentration (the 80/20 census)
# ---------------------------------------------------------------------------

_Q187_SQL = """
WITH c AS (
  SELECT o_custkey AS ck,
         CAST(SUM(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
w AS (
  SELECT ck, cents,
         SUM(cents) OVER (ORDER BY cents DESC, ck) AS cum,
         ROW_NUMBER() OVER (ORDER BY cents DESC, ck) AS rnk
  FROM c
),
t AS (SELECT SUM(cents) AS total, COUNT(*) AS n FROM c)
SELECT CAST(t.n AS BIGINT) AS n_customers,
       CAST(t.total AS BIGINT) AS total_cents,
       CAST((SELECT COUNT(*) FROM w, t WHERE 5 * (w.cum - w.cents) < 4 * t.total)
            AS BIGINT) AS k80,
       ROUND((SELECT SUM(cents) FROM w WHERE rnk <= 10)
             / CAST(t.total AS DOUBLE), 6) AS top10_share
FROM t
"""


@register(
    "q187_pareto_concentration",
    _Q187_SQL,
    doc=(
        "revenue-concentration census (the Pareto 80/20 question): "
        "customers rank by integer-cents revenue (float-tie-proof), "
        "k80 = how many top customers cover 80% of revenue — the "
        "cumulative test is pure integer math (5*prev_cum < 4*total) — "
        "plus the top-10 share; rank and running sum go through the "
        "range-bucketed global_rank/global_cumsum (one wide shuffle "
        "each, never a single-task window)"
    ),
    tables=("orders",),
)
def q187(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import (
        global_cumsum,
        global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("cents")
    )
    # descending revenue order == ascending -cents; ck breaks ties
    keyed = c.withColumn("neg", -F.col("cents"))
    ranked = global_rank(keyed, ["neg", "ck"], out_col="rnk")
    w = global_cumsum(ranked, "rnk", "cents", out_col="cum").drop("neg")
    t = c.agg(
        F.sum("cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    wt = w.crossJoin(t)
    k80 = wt.where(
        5 * (F.col("cum") - F.col("cents")) < 4 * F.col("total")
    ).agg(F.count(F.lit(1)).alias("k80"))
    top10 = wt.where(F.col("rnk") <= 10).agg(
        (
            F.sum("cents") / F.first("total").cast("double")
        ).alias("top10_raw")
    )
    return (
        t.crossJoin(k80)
        .crossJoin(top10)
        .select(
            F.col("n").cast("long").alias("n_customers"),
            F.col("total").cast("long").alias("total_cents"),
            F.col("k80").cast("long").alias("k80"),
            F.round(F.col("top10_raw"), 6).alias("top10_share"),
        )
    )


# ---------------------------------------------------------------------------
# Q188: column-pair mutual information (contingency PMI table)
# ---------------------------------------------------------------------------

_Q188_SQL = """
WITH j AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
t AS (SELECT SUM(n) AS total FROM j),
ml AS (SELECT lang, SUM(n) AS nl FROM j GROUP BY 1),
ms AS (SELECT source, SUM(n) AS ns FROM j GROUP BY 1)
SELECT j.lang AS lang, j.source AS source, CAST(j.n AS BIGINT) AS n_joint,
       ROUND(LN((CAST(j.n AS DOUBLE) * t.total) / (CAST(ml.nl AS DOUBLE) * ms.ns)), 6) AS pmi
FROM j CROSS JOIN t
JOIN ml ON ml.lang = j.lang
JOIN ms ON ms.source = j.source
ORDER BY j.lang, j.source
"""


@register(
    "q188_column_mi",
    _Q188_SQL,
    doc=(
        "column-dependence audit: the (lang, source) contingency table "
        "with per-cell pointwise mutual information — the feature-"
        "relevance / leakage screen run before training on categorical "
        "columns.  One keyed count, two tiny marginals that broadcast "
        "by size; the "
        "ln argument is a ratio of exact integer products, so both "
        "engines round the same double"
    ),
    tables=("documents",),
)
def q188(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "source")
    j = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    t = j.agg(F.sum("n").alias("total"))
    ml = j.groupBy("lang").agg(F.sum("n").alias("nl"))
    ms = j.groupBy("source").agg(F.sum("n").alias("ns"))
    return (
        j.crossJoin(F.broadcast(t))
        .join(ml, "lang")
        .join(ms, "source")
        .select(
            "lang",
            "source",
            F.col("n").cast("long").alias("n_joint"),
            F.round(
                F.log(
                    (F.col("n").cast("double") * F.col("total"))
                    / (F.col("nl").cast("double") * F.col("ns"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Q189: Gini coefficient of the join-key frequency distribution
# ---------------------------------------------------------------------------

_Q189_SQL = """
WITH f AS (SELECT l_partkey AS k, COUNT(*) AS x FROM lineitem GROUP BY 1),
r AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, k) AS i FROM f
),
s AS (SELECT SUM(x) AS total, COUNT(*) AS n, SUM(i * x) AS ix FROM r)
SELECT CAST(n AS BIGINT) AS n_keys, CAST(total AS BIGINT) AS total_rows,
       ROUND((2.0 * ix) / (CAST(n AS DOUBLE) * total) - (n + 1.0) / n, 6) AS gini
FROM s
"""


@register(
    "q189_key_gini",
    _Q189_SQL,
    doc=(
        "Gini coefficient of a join key's frequency distribution — the "
        "single-number skew audit complementing q133's per-key "
        "profiler (0 = uniform, 1 = one key owns everything): "
        "frequencies rank ascending through the range-bucketed "
        "global_rank (ties broken by key), and Sum(i*x) is exact "
        "integer math, so the closed-form Gini is the same double on "
        "both engines"
    ),
    tables=("lineitem",),
)
def q189(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_rank

    li = load_table(spark, sf_dir, "lineitem")
    f = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("x")
    )
    r = global_rank(f, ["x", "k"], out_col="i")
    s = r.agg(
        F.sum("x").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i") * F.col("x")).alias("ix"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_keys"),
        F.col("total").cast("long").alias("total_rows"),
        F.round(
            (F.lit(2.0) * F.col("ix"))
            / (F.col("n").cast("double") * F.col("total"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Q190: 2-D skyline / Pareto front (preference query)
# ---------------------------------------------------------------------------

_Q190_SQL = """
WITH c AS (
  SELECT o_custkey AS ck,
         CAST(SUM(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT) AS x,
         COUNT(*) AS y
  FROM orders GROUP BY 1
),
p AS (SELECT x, y, COUNT(*) AS n_customers FROM c GROUP BY 1, 2),
s AS (
  SELECT x, y, n_customers,
         MAX(y) OVER (ORDER BY x DESC
           RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gmx,
         MAX(y) OVER (PARTITION BY x) AS xmax
  FROM p
)
SELECT x AS revenue_cents, CAST(y AS BIGINT) AS n_orders,
       CAST(n_customers AS BIGINT) AS n_customers
FROM s WHERE y = xmax AND (gmx IS NULL OR y > gmx)
ORDER BY revenue_cents, n_orders
"""


@register(
    "q190_skyline",
    _Q190_SQL,
    doc=(
        "2-D skyline / Pareto front (Borzsony-Kossmann-Stocker 2001, "
        "the preference-query operator): customers not dominated on "
        "(revenue, order count), both maximized — revenue in integer "
        "cents so dominance never hinges on a float-sum ulp.  "
        "operators/skyline.py spells the sort-based algorithm WITHOUT "
        "the partition-less window: distinct pairs, x-range buckets, "
        "per-bucket suffix maxima broadcast (|buckets| rows), and a "
        "bucket-partitioned strictly-greater-x RANGE frame; the oracle "
        "runs the single-window textbook form"
    ),
    tables=("orders",),
)
def q190(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.skyline import skyline_2d_max

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    out = skyline_2d_max(c, "x", "y", bounds=[2.0e7 * i for i in range(1, 32)])
    return out.select(
        F.col("x").alias("revenue_cents"),
        F.col("y").cast("long").alias("n_orders"),
        F.col("n_points").cast("long").alias("n_customers"),
    ).orderBy("revenue_cents", "n_orders")


# ---------------------------------------------------------------------------
# Q192: exact 1-D earth-mover drift between two cohorts
# ---------------------------------------------------------------------------

_Q192_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
         CASE WHEN ((epoch_us(ts) // {US_PER_DAY}) + 4) % 7 < 5
              THEN 1 ELSE 0 END AS wk
  FROM events
),
g AS (
  SELECT event_type, v,
         SUM(wk) AS na, SUM(1 - wk) AS nb
  FROM e GROUP BY 1, 2
),
t AS (
  SELECT event_type, SUM(na) AS tna, SUM(nb) AS tnb
  FROM g GROUP BY 1
),
c AS (
  SELECT g.event_type, g.v, t.tna, t.tnb,
         SUM(g.na) OVER (PARTITION BY g.event_type ORDER BY g.v) AS ca,
         SUM(g.nb) OVER (PARTITION BY g.event_type ORDER BY g.v) AS cb,
         LEAD(g.v) OVER (PARTITION BY g.event_type ORDER BY g.v) AS nv
  FROM g JOIN t ON g.event_type = t.event_type
),
s AS (
  SELECT event_type, tna, tnb,
         SUM(CAST(ABS(ca * tnb - cb * tna) * (nv - v) AS HUGEINT)) AS num
  FROM c WHERE nv IS NOT NULL GROUP BY 1, 2, 3
)
SELECT event_type, CAST(tna AS BIGINT) AS n_weekday, CAST(tnb AS BIGINT) AS n_weekend,
       ROUND(CAST(num AS DOUBLE) / (CAST(tna AS DOUBLE) * tnb) / 100.0, 4) AS emd
FROM s ORDER BY event_type
"""


@register(
    "q192_emd_drift",
    _Q192_SQL,
    doc=(
        "exact 1-D earth-mover (Wasserstein-1) distance between the "
        "weekday and weekend value distributions per event type — the "
        "metric-aware drift monitor complementing q120's bin-based PSI: "
        "EMD = integral |CDF_a - CDF_b| over the support, computed on "
        "integer CENTS with the numerator |ca*Nb - cb*Na|*dv "
        "accumulated in DECIMAL(38,0) — every term exact integer math, "
        "the only float op is the final normalization.  The window "
        "input is the per-(type, distinct-value) table — bounded by "
        "the value support, not the event count"
    ),
    tables=("events",),
)
def q192(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        (
            ((F.unix_micros("ts") / US_PER_DAY).cast("long") + 4) % 7 < 5
        ).cast("long").alias("wk"),
    )
    g = e.groupBy("event_type", "v").agg(
        F.sum("wk").alias("na"), F.sum(F.lit(1) - F.col("wk")).alias("nb")
    )
    t = g.groupBy("event_type").agg(
        F.sum("na").alias("tna"), F.sum("nb").alias("tnb")
    )
    w = Window.partitionBy("event_type").orderBy("v")
    c = (
        g.join(t, "event_type")
        .withColumn("ca", F.sum("na").over(w))
        .withColumn("cb", F.sum("nb").over(w))
        .withColumn("nv", F.lead("v").over(w))
        .where(F.col("nv").isNotNull())
    )
    s = c.groupBy("event_type", "tna", "tnb").agg(
        F.sum(
            (
                F.abs(F.col("ca") * F.col("tnb") - F.col("cb") * F.col("tna"))
                * (F.col("nv") - F.col("v"))
            ).cast("decimal(38,0)")
        ).alias("num")
    )
    return s.select(
        "event_type",
        F.col("tna").cast("long").alias("n_weekday"),
        F.col("tnb").cast("long").alias("n_weekend"),
        F.round(
            F.col("num").cast("double")
            / (F.col("tna").cast("double") * F.col("tnb"))
            / F.lit(100.0),
            4,
        ).alias("emd"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Q193: decile lift table (score-band conversion readout)
# ---------------------------------------------------------------------------

_Q193_SQL = """
WITH e AS (
  SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
         event_id
  FROM events
),
t AS (
  SELECT e.*, NTILE(10) OVER (ORDER BY cents, event_id) AS decile FROM e
)
SELECT CAST(decile AS BIGINT) AS decile, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       ROUND(SUM(pos) / CAST(COUNT(*) AS DOUBLE), 6) AS conv_rate,
       ROUND(SUM(cents) / CAST(COUNT(*) AS DOUBLE) / 100.0, 6) AS mean_value
FROM t GROUP BY decile ORDER BY decile
"""


@register(
    "q193_decile_lift",
    _Q193_SQL,
    doc=(
        "decile lift / reliability table (the campaign-targeting "
        "readout q172's AUC summarizes): events band into exact value "
        "deciles via the range-bucketed global_ntile, each band "
        "reports volume, conversion rate, and mean value — values ride "
        "integer cents so band boundaries and means are float-proof"
    ),
    tables=("events",),
)
def q193(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_ntile

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
        "event_id",
    )
    # event values are bounded money-like (cents 1..~50000): fixed
    # bounds skip the approxQuantile pass
    t = global_ntile(
        e, ["cents", "event_id"], 10, out_col="decile",
        bounds=[5000.0 * i for i in range(1, 10)],
    )
    return (
        t.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.round(
                F.sum("pos") / F.count(F.lit(1)).cast("double"), 6
            ).alias("conv_rate"),
            F.round(
                F.sum("cents") / F.count(F.lit(1)).cast("double") / F.lit(100.0),
                6,
            ).alias("mean_value"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Q196: Poisson bootstrap standard error (deterministic, hash-seeded)
# ---------------------------------------------------------------------------

_Q196_R = 32
# Poisson(1) CDF cut into 10000ths, shared literals (NDCG discipline):
# k = number of thresholds strictly below the hash draw
_Q196_CDF = [3679, 7358, 9197, 9810, 9963]


def _q196_sql() -> str:
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    thr = ", ".join(str(t) for t in _Q196_CDF)
    return f"""
WITH e AS (
  SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
d AS (
  SELECT r.r, e.cents,
         ((((e.event_id % {ID_FOLD}) * {KNUTH} + r.r * 9973) % {ID_FOLD}) % 10000) AS h
  FROM e CROSS JOIN (SELECT unnest(range(1, {_Q196_R + 1})) AS r) r
),
w AS (
  SELECT r, cents,
         (SELECT COUNT(*) FROM (SELECT unnest([{thr}]) AS t) WHERE t <= h) AS wt
  FROM d
),
m AS (
  SELECT r,
         SUM(wt * cents) / CAST(SUM(wt) AS DOUBLE) / 100.0 AS rep_mean
  FROM w GROUP BY r
)
SELECT CAST({_Q196_R} AS BIGINT) AS n_replicates,
       ROUND((SELECT SUM(cents) / CAST(COUNT(*) AS DOUBLE) / 100.0 FROM e), 6) AS mean_value,
       ROUND(STDDEV(rep_mean), 6) AS bootstrap_se
FROM m
"""


@register(
    "q196_poisson_bootstrap",
    _q196_sql(),
    doc=(
        "Poisson bootstrap standard error (the streaming-friendly "
        "big-data bootstrap — Chamandy et al. / Google 2012, public): "
        f"each row draws {_Q196_R} Poisson(1) replicate weights from "
        "the shared Knuth id-hash against Poisson CDF literals (no "
        "RNG — identical integer draws in both engines); the per-"
        "replicate weighted sums are 2R+2 conditional aggregates of "
        "ONE scan — no struct/array build, no Rx row explode, and the "
        "base mean rides the same pass (the shuffle carries one "
        "64-column partial row per task, never the data); SE = stddev "
        "of the replicate means; values ride integer cents so every "
        "weighted sum is exact"
    ),
    tables=("events",),
)
def q196(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # per-replicate weighted sums as 2R+2 conditional aggregates of ONE
    # scan (r14 respell): the old spelling built an R-element
    # struct array per row and EXPLODED it — R x N rows through the
    # generate + partial-agg path for what is per-row integer math.
    # The weight (count of CDF thresholds <= the draw) unrolls to
    # 5 comparisons summed; every replicate's (sum(wt*cents), sum(wt))
    # pair is exact integer math, identical to the exploded aggregate.
    hb = (F.col("event_id") % F.lit(ID_FOLD)) * F.lit(KNUTH)

    def _wt(r: int):
        h = ((hb + F.lit(r * 9973)) % F.lit(ID_FOLD)) % F.lit(10000)
        w = None
        for t in _Q196_CDF:
            c = (h >= F.lit(t)).cast("int")
            w = c if w is None else w + c
        return w

    aggs = []
    for r in range(1, _Q196_R + 1):
        w = _wt(r)
        aggs.append(F.sum(w * F.col("cents")).alias(f"s{r}"))
        aggs.append(F.sum(w).alias(f"w{r}"))
    aggs.append(F.sum("cents").alias("sc"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    one = e.agg(*aggs)
    # rep means spelled exactly as the keyed aggregate did:
    # sum(wt*cents) / double(sum(wt)) / 100.0
    rep_means = F.array(
        *[
            F.col(f"s{r}") / F.col(f"w{r}").cast("double") / F.lit(100.0)
            for r in range(1, _Q196_R + 1)
        ]
    )
    rep = one.select(
        F.round(
            F.col("sc") / F.col("n").cast("double") / F.lit(100.0), 6
        ).alias("mean_value"),
        F.explode(rep_means).alias("rep_mean"),
    )
    return (
        rep.groupBy("mean_value")
        .agg(F.round(F.stddev("rep_mean"), 6).alias("bootstrap_se"))
        .select(
            F.lit(_Q196_R).cast("long").alias("n_replicates"),
            "mean_value",
            "bootstrap_se",
        )
    )


# ---------------------------------------------------------------------------
# Q198: weighted median (quantity-weighted price)
# ---------------------------------------------------------------------------

_Q198_SQL = """
WITH v AS (
  SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
),
g AS (SELECT cents, SUM(qty) AS w FROM v GROUP BY 1),
t AS (SELECT SUM(w) AS tw FROM g),
c AS (SELECT cents, SUM(w) OVER (ORDER BY cents) AS cw FROM g)
SELECT ROUND(MIN(cents) / 100.0, 2) AS weighted_median,
       CAST(t.tw AS BIGINT) AS total_weight
FROM c, t WHERE 2 * c.cw >= t.tw GROUP BY t.tw
"""


@register(
    "q198_weighted_median",
    _Q198_SQL,
    doc=(
        "weighted median (the lower weighted median: first value whose "
        "cumulative weight reaches half the total) — q09's percentile "
        "with per-row importance weights: values and weights fold to "
        "integers, the cumulative weight rides the range-bucketed "
        "global_cumsum over the DISTINCT-value table (bounded by the "
        "price support, not the row count), and the defining test "
        "2*cum >= total is pure integer math"
    ),
    tables=("lineitem",),
)
def q198(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    )
    g = v.groupBy("cents").agg(F.sum("qty").alias("w"))
    t = g.agg(F.sum("w").alias("tw"))
    c = global_cumsum(
        g, "cents", "w", out_col="cw",
        bounds=[1.0e6 * i for i in range(1, 12)],
    )
    return (
        c.crossJoin(t)
        .where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("tw")
        .agg(F.round(F.min("cents") / F.lit(100.0), 2).alias("weighted_median"))
        .select(
            "weighted_median", F.col("tw").cast("long").alias("total_weight")
        )
    )


# ---------------------------------------------------------------------------
# Q199: gap imputation by linear interpolation (q82's ffill upgraded)
# ---------------------------------------------------------------------------

_Q199_SQL = f"""
WITH b AS (
  SELECT user_id, epoch_us(ts) // {US_PER_HOUR} AS hr,
         ROUND(AVG(value), 4) AS v
  FROM events WHERE user_id < 20 GROUP BY 1, 2
),
span AS (
  SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM b GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(range(h0, h1 + 1)) AS hr FROM span
),
j AS (
  SELECT g.user_id, g.hr, b.v FROM grid g
  LEFT JOIN b ON b.user_id = g.user_id AND b.hr = g.hr
),
w AS (
  SELECT user_id, hr, v,
         LAST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ph,
         FIRST_VALUE(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hr
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY hr
           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nh
  FROM j
)
SELECT user_id, hr,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NULL OR nv IS NULL THEN NULL
            ELSE ((2 * (CAST(FLOOR(pv * 10000 + 0.5) AS BIGINT) * (nh - hr)
                        + CAST(FLOOR(nv * 10000 + 0.5) AS BIGINT) * (hr - ph))
                   + (nh - ph)) // (2 * (nh - ph))) / 10000.0
       END AS v_interp,
       v IS NULL AS was_gap
FROM w ORDER BY user_id, hr
"""


@register(
    "q199_linear_interpolation",
    _Q199_SQL,
    doc=(
        "time-series gap imputation by LINEAR interpolation between "
        "the nearest observed neighbors (q82's forward-fill upgraded "
        "to the unbiased estimator): per-user hourly grid, one shuffle "
        "on user, two opposing ignorenulls window passes carrying "
        "(value, hour) of the last/next observation; boundary gaps "
        "with only one neighbor stay NULL on both engines"
    ),
    tables=("events",),
)
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    b = (
        ev.select(
            "user_id",
            (F.unix_micros("ts") / US_PER_HOUR).cast("long").alias("hr"),
            "value",
        )
        .groupBy("user_id", "hr")
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    span = b.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = span.select("user_id", F.explode(F.sequence("h0", "h1")).alias("hr"))
    j = grid.join(b, ["user_id", "hr"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("v").isNotNull(), F.col("hr"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("ph", F.last(obs_hr, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nh", F.first(obs_hr, ignorenulls=True).over(wn))
    )
    # interpolate in exact 1e-4 integer units with explicit half-up
    # integer division — a float spelling lands on .00005 midpoints
    # (the mean of two 4dp values) where Spark and DuckDB ROUND split
    pv4 = F.floor(F.col("pv") * 10000 + F.lit(0.5)).cast("long")
    nv4 = F.floor(F.col("nv") * 10000 + F.lit(0.5)).cast("long")
    num = pv4 * (F.col("nh") - F.col("hr")) + nv4 * (F.col("hr") - F.col("ph"))
    den = F.col("nh") - F.col("ph")
    q4 = (2 * num + den).cast("long")
    # integer floor-division (all terms positive): (x - x%d)/d is exact
    interp = (q4 - (q4 % (2 * den))) / (2 * den) / F.lit(10000.0)
    v_interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(interp)
    )
    return w.select(
        "user_id",
        "hr",
        v_interp.alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    ).orderBy("user_id", "hr")


# ---------------------------------------------------------------------------
# Q203: grouped EXACT percentiles (q09's global exact, per group)
# ---------------------------------------------------------------------------

_Q203_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 4) AS p25,
       ROUND(quantile_cont(value, 0.5), 4) AS p50,
       ROUND(quantile_cont(value, 0.75), 4) AS p75,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type ORDER BY event_type
"""


@register(
    "q203_grouped_percentiles",
    _Q203_SQL,
    doc=(
        "grouped EXACT interpolated percentiles — the per-group "
        "completion of the quantile story (q09 = global exact, q119 = "
        "grouped approx with the mergeable-sketch error contract): "
        "F.percentile over a groupBy is hash-matched against "
        "quantile_cont per group; the per-group sort is bounded by the "
        "group's own rows, and the shuffle carries group keys"
    ),
    tables=("events",),
)
def q203(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q204: nearest-score matching (propensity-style control assignment)
# ---------------------------------------------------------------------------

_Q204_SQL = """
WITH u AS (
  SELECT user_id,
         SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS score,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np
  FROM events GROUP BY user_id
),
a AS (SELECT AVG(np) AS mean_np FROM u),
t AS (SELECT user_id, score FROM u, a WHERE np > a.mean_np),
c AS (SELECT user_id, score FROM u, a WHERE np <= a.mean_np),
m AS (
  SELECT t.user_id, t.score,
         (SELECT c.user_id FROM c
           WHERE (c.score < t.score)
              OR (c.score = t.score AND c.user_id < t.user_id)
           ORDER BY c.score DESC, c.user_id DESC LIMIT 1) AS below_id,
         (SELECT c.score FROM c
           WHERE (c.score < t.score)
              OR (c.score = t.score AND c.user_id < t.user_id)
           ORDER BY c.score DESC, c.user_id DESC LIMIT 1) AS below_s,
         (SELECT c.user_id FROM c
           WHERE (c.score > t.score)
              OR (c.score = t.score AND c.user_id > t.user_id)
           ORDER BY c.score ASC, c.user_id ASC LIMIT 1) AS above_id,
         (SELECT c.score FROM c
           WHERE (c.score > t.score)
              OR (c.score = t.score AND c.user_id > t.user_id)
           ORDER BY c.score ASC, c.user_id ASC LIMIT 1) AS above_s
  FROM t
)
SELECT user_id AS treated_id, CAST(score AS BIGINT) AS score,
       CASE
         WHEN below_id IS NULL THEN above_id
         WHEN above_id IS NULL THEN below_id
         WHEN ABS(score - below_s) <= ABS(above_s - score) THEN below_id
         ELSE above_id
       END AS control_id
FROM m ORDER BY treated_id
"""


@register(
    "q204_nearest_score_match",
    _Q204_SQL,
    doc=(
        "nearest-score control matching (the propensity-matching shape "
        "of causal inference, Rosenbaum & Rubin 1983 — public): each "
        "treated user (above-mean purchaser) pairs with the control whose "
        "activity score is nearest, ties to the lower side then lower "
        "id.  Spelled as TWO merge_asof passes over the (score, "
        "user_id) total order — backward gives nearest-below, forward "
        "nearest-above, an arithmetic CASE picks the closer — one "
        "shuffle each, no score-band join, no row explosion at any "
        "control density.  The as-of input is the per-user AGGREGATE "
        "(O(users), already reduced from events); at billions of users "
        "the global order key buckets like global_cumsum with two "
        "boundary rows stitched per bucket — the honest scale path, "
        "documented not implemented"
    ),
    tables=("events",),
)
def q204(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.asof import merge_asof

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id").agg(
        F.sum((F.col("event_type") != "purchase").cast("long")).alias("score"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
    )
    a = u.agg(F.avg("np").alias("mean_np"))
    u = u.crossJoin(a)
    # the as-of order key must be a total order: fold (score, user_id)
    # into one integer key (scores are bounded event counts << 2^20)
    key = (F.col("score") * F.lit(1 << 20) + F.col("user_id")).alias("k")
    t = u.where(F.col("np") > F.col("mean_np")).select("user_id", "score", key)
    c = u.where(F.col("np") <= F.col("mean_np")).select(
        F.col("user_id").alias("cid"), F.col("score").alias("cs"), key
    )
    t1 = t.withColumn("g", F.lit(1))
    c1 = c.withColumn("g", F.lit(1))
    below = merge_asof(
        t1, c1, on="k", by="g",
        value_cols=["cid", "cs"], strict=True, tie_break="cid",
        direction="backward",
    ).select("user_id", "score", F.col("cid").alias("below_id"), F.col("cs").alias("below_s"))
    above = merge_asof(
        t1, c1, on="k", by="g",
        value_cols=["cid", "cs"], strict=True, tie_break="cid",
        direction="forward",
    ).select(F.col("user_id").alias("user_id2"), F.col("cid").alias("above_id"), F.col("cs").alias("above_s"))
    m = below.join(above, below["user_id"] == above["user_id2"]).drop("user_id2")
    pick = (
        F.when(F.col("below_id").isNull(), F.col("above_id"))
        .when(F.col("above_id").isNull(), F.col("below_id"))
        .when(
            F.abs(F.col("score") - F.col("below_s"))
            <= F.abs(F.col("above_s") - F.col("score")),
            F.col("below_id"),
        )
        .otherwise(F.col("above_id"))
    )
    return m.select(
        F.col("user_id").alias("treated_id"),
        F.col("score").cast("long").alias("score"),
        pick.alias("control_id"),
    ).orderBy("treated_id")

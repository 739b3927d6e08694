"""ML-eval family module: time-series, sequence, survival, and cohort
analytics — smoothing, decomposition, Markov chains, drift, log-rank.

Split from queries/ml_eval.py (round 9, VERDICT r08 item 7) along the
family seams with ZERO behavior change — every block below is the
verbatim registration it had there; only the module boundary moved.

The reference engine (/root/reference/src/main.rs — a 456-line
XML->parquet converter) has no analytics surface; these queries extend
the engine the way a training-data/eval pipeline needs (SURVEY §2.C).
This module holds ONE family of that surface (the round-9 split of
the old era-grouped queries/ml_eval.py; siblings: ml_stat_tests,
ml_experiments, ml_model_eval, ml_timeseries, ml_corpus).  Common shape:
everything is spelled as shuffles over SMALL rollups (contingency
cells, threshold grids, sufficient statistics, vocabulary counts),
never per-row global sorts — and the handful of inherently-sequential
recurrences (Holt, token bucket) run per-key inside one applyInPandas
with recursive-CTE oracles.

House determinism rules (SURVEY §2.B):
- rank statistics are computed from CONTINGENCY COUNTS with integer
  doubled-ranks (2*rank is an exact BIGINT even for .5 average
  ranks), so every engine sums the same integers in any order;
- continuous values are quantized to integer cents BEFORE power sums
  (double summation is order-dependent across engines; integer
  summation is not);
- ln()-derived quantities are ROUND()ed at 6 dp before composition
  (the q129 discipline) and argmax comparisons get extra slack (4 dp)
  plus a total-order tie-break.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.quality import (
    hash_bucket,
    sql_hash_bucket,
)
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# q236: Holt double exponential smoothing (level + trend forecast)
# ---------------------------------------------------------------------------

# alpha = beta = 0.5: every smoothing op is multiply-by-0.5 / add of
# exact doubles — the identical IEEE op sequence in python and SQL, so
# the recursion is bit-deterministic with no rounding discipline needed
_Q236_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily
),
nn AS (SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n FROM idx GROUP BY 1),
init AS (
  SELECT i1.event_type, i1.y AS l, i2.y - i1.y AS b
  FROM idx i1
  JOIN idx i2 ON i2.event_type = i1.event_type AND i2.rn = 2
  WHERE i1.rn = 1
),
r(event_type, t, l, b) AS (
  SELECT event_type, 1, l, b FROM init
  UNION ALL
  SELECT r.event_type, r.t + 1,
         0.5 * d.y + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * d.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
  FROM r JOIN idx d ON d.event_type = r.event_type AND d.rn = r.t + 1
)
SELECT r.event_type, nn.n AS n_days,
       ROUND(r.l, 4) AS level,
       ROUND(r.b, 4) AS trend,
       ROUND(r.l + 7 * r.b, 4) AS forecast_7d
FROM r JOIN nn ON nn.event_type = r.event_type AND r.t = nn.n
ORDER BY r.event_type
"""


@register(
    "q236_holt_smoothing",
    _Q236_SQL,
    doc=(
        "Holt double exponential smoothing over per-type daily counts "
        "(level + trend, 7-day-ahead forecast): the engine runs the "
        "inherently-sequential recursion per key inside ONE "
        "applyInPandas over the |days|-row rollup (30 rows/key — the "
        "fact table is reduced first, so the Python stage sees "
        "kilobytes), the oracle mirrors it as a recursive CTE; "
        "alpha=beta=0.5 makes every smoothing op dyadic, so both "
        "engines walk the identical IEEE op sequence bit-for-bit"
    ),
    tables=("events",),
)
def q236(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        ys = [float(v) for v in pdf["y"]]
        if len(ys) < 2:
            lvl, tr = (ys[0] if ys else 0.0), 0.0
        else:
            lvl, tr = ys[0], ys[1] - ys[0]
            for y in ys[1:]:
                new_l = 0.5 * y + 0.5 * (lvl + tr)
                tr = 0.5 * (new_l - lvl) + 0.5 * tr
                lvl = new_l
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [len(ys)],
                "level": [lvl],
                "trend": [tr],
            }
        )

    out = daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, n_days long, level double, trend double",
    )
    return out.select(
        "event_type",
        "n_days",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round(F.col("level") + 7 * F.col("trend"), 4).alias("forecast_7d"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q240: lead-lag cross-correlation between two event series
# ---------------------------------------------------------------------------

_Q240_A = "view"
_Q240_B = "purchase"
_Q240_LAGS = (-3, -2, -1, 0, 1, 2, 3)

_Q240_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events WHERE event_type IN ('{_Q240_A}', '{_Q240_B}')
  GROUP BY 1, 2
),
lags(lag) AS (
  SELECT * FROM (VALUES {", ".join(f"({x})" for x in _Q240_LAGS)}) v(lag)
),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM lags l
  JOIN daily a ON a.event_type = '{_Q240_A}'
  JOIN daily b ON b.event_type = '{_Q240_B}' AND b.d = a.d + l.lag
),
s AS (
  SELECT lag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS r
FROM s ORDER BY lag
"""


@register(
    "q240_leadlag_xcorr",
    _Q240_SQL,
    doc=(
        f"lead-lag cross-correlation between the daily '{_Q240_A}' and "
        f"'{_Q240_B}' volume series at lags {_Q240_LAGS[0]}..+"
        f"{_Q240_LAGS[-1]} (does one series LEAD the other — the "
        "q170 autocorrelation machinery, crossed): the fact table "
        "rolls up to (type, day) integer counts first, the 7-row lag "
        "frame cross-joins onto the |days| rollup, and Pearson per "
        "lag comes from exact integer power sums — boundary days "
        "shrink n per lag, handled by per-lag n in the formula"
    ),
    tables=("events",),
)
def q240(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin(_Q240_A, _Q240_B))
        .groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long").alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = daily.where(F.col("event_type") == _Q240_A).select(
        F.col("d").alias("da"), F.col("c").alias("x")
    )
    b = daily.where(F.col("event_type") == _Q240_B).select(
        F.col("d").alias("db"), F.col("c").alias("y")
    )
    lags = spark.createDataFrame(
        [(x,) for x in _Q240_LAGS], "lag LONG"
    )
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .select("lag", "x", "y")
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select("lag", "n", F.round(num / den, 6).alias("r")).orderBy("lag")


# ---------------------------------------------------------------------------
# q255: next-event prediction eval (Markov top-1 baseline)
# ---------------------------------------------------------------------------

_Q255_TRAIN_PCT = 80

_Q255_SQL = f"""
WITH t AS (
  SELECT user_id, event_type,
         {sql_hash_bucket("user_id", 100)} < {_Q255_TRAIN_PCT} AS is_train,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY CAST(epoch_us(ts) AS BIGINT),
                                        event_id) AS src
  FROM events
),
trans AS (SELECT src, event_type AS dst, is_train FROM t WHERE src IS NOT NULL),
model AS (
  SELECT src, dst AS pred FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
                     ORDER BY COUNT(*) DESC, dst) AS rk
    FROM trans WHERE is_train GROUP BY src, dst
  ) WHERE rk = 1
)
SELECT x.src,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ANY_VALUE(m.pred) AS predicted,
       CAST(SUM(CASE WHEN x.dst = m.pred THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN x.dst = m.pred THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS accuracy
FROM trans x JOIN model m ON m.src = x.src
WHERE NOT x.is_train
GROUP BY x.src ORDER BY x.src
"""


@register(
    "q255_markov_eval",
    _Q255_SQL,
    doc=(
        "next-event prediction evaluated on held-out USERS (the "
        "behavior-model baseline: train a first-order Markov top-1 "
        "predictor on 80% of users by id hash, score transitions of "
        "the other 20%): per-user LAG windows are bounded by a "
        "user's event count (the q156 shape), the model is the "
        "|types|^2 count rollup argmaxed with a dst tie-break and "
        "joined onto the test transitions (|types|^2 rows, broadcast "
        "by size) — splitting by USER not "
        "by row is the leakage discipline (a row split would let a "
        "user's own future leak into training)"
    ),
    tables=("events",),
)
def q255(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = ev.select(
        "user_id",
        "event_type",
        (hash_bucket("user_id", 100) < _Q255_TRAIN_PCT).alias("is_train"),
        F.lag("event_type").over(w).alias("src"),
    ).where(F.col("src").isNotNull())
    counts = (
        t.where(F.col("is_train"))
        .groupBy("src", F.col("event_type").alias("dst"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_rk = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("dst"))
    model = (
        counts.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") == 1)
        .select("src", F.col("dst").alias("pred"))
    )
    test = t.where(~F.col("is_train")).select(
        "src", F.col("event_type").alias("dst")
    )
    hit = F.when(F.col("dst") == F.col("pred"), 1).otherwise(0)
    return (
        test.join(model, "src")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.first("pred").alias("predicted"),
            F.sum(hit).alias("n_correct"),
            F.round(F.sum(hit) * 1.0 / F.count(F.lit(1)), 4).alias("accuracy"),
        )
        .orderBy("src")
    )


# ---------------------------------------------------------------------------
# q259: classical additive seasonal decomposition (trend/dow/resid)
# ---------------------------------------------------------------------------

_Q259_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
ma AS (
  SELECT event_type, d, y, d % 7 AS dow,
         SUM(y) OVER (PARTITION BY event_type ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) / 7.0
           AS trend,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
  FROM daily
),
dw AS (
  SELECT event_type, d % 7 AS dow,
         CAST(SUM(y) AS BIGINT) AS s_dw, CAST(COUNT(*) AS BIGINT) AS n_dw
  FROM daily GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(SUM(y) AS BIGINT) AS s_t,
         CAST(COUNT(*) AS BIGINT) AS n_t
  FROM daily GROUP BY event_type
),
resid AS (
  SELECT m.event_type,
         m.y - m.trend
           - (CAST(dw.s_dw AS DOUBLE) / dw.n_dw
              - CAST(g.s_t AS DOUBLE) / g.n_t) AS r,
         m.y
  FROM ma m
  JOIN dw ON dw.event_type = m.event_type AND dw.dow = m.dow
  JOIN g ON g.event_type = m.event_type
  WHERE m.w = 7
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days_used,
       ROUND((SUM(CAST(y AS DOUBLE) * y) - SUM(CAST(y AS DOUBLE))
              * SUM(CAST(y AS DOUBLE)) / COUNT(*)) / COUNT(*), 4)
         AS var_total,
       ROUND((SUM(r * r) - SUM(r) * SUM(r) / COUNT(*)) / COUNT(*), 4)
         AS var_resid,
       ROUND(1 - ((SUM(r * r) - SUM(r) * SUM(r) / COUNT(*)) / COUNT(*))
             / ((SUM(CAST(y AS DOUBLE) * y) - SUM(CAST(y AS DOUBLE))
                 * SUM(CAST(y AS DOUBLE)) / COUNT(*)) / COUNT(*)), 4)
         AS pct_explained
FROM resid GROUP BY event_type ORDER BY event_type
"""


@register(
    "q259_seasonal_decomposition",
    _Q259_SQL,
    doc=(
        "classical additive decomposition of per-type daily volume "
        "(trend = centered 7-day MA, seasonal = dow-mean minus grand "
        "mean, residual = the rest): the fixture's generator has a "
        "REAL weekday effect (dow-0 runs ~30% above dow-6), so "
        "pct_explained is genuinely positive; per-type windows run "
        "over the 30-day rollup, only full 7-day MA windows "
        "contribute (w=7 filter — the decomposition must not use "
        "truncated trend estimates at the series edges); residual "
        "variance sums are 24-term per-type frames rounded at 4dp"
    ),
    tables=("events",),
)
def q259(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).alias("y"))
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    ma = daily.select(
        "event_type",
        "d",
        "y",
        (F.col("d") % 7).alias("dow"),
        (F.sum("y").over(w7) / 7.0).alias("trend"),
        F.count(F.lit(1)).over(w7).alias("w"),
    )
    dw = daily.groupBy("event_type", (F.col("d") % 7).alias("dow")).agg(
        F.sum("y").alias("s_dw"), F.count(F.lit(1)).alias("n_dw")
    )
    g = daily.groupBy("event_type").agg(
        F.sum("y").alias("s_t"), F.count(F.lit(1)).alias("n_t")
    )
    resid = (
        ma.where(F.col("w") == 7)
        .join(dw, ["event_type", "dow"])
        .join(g, "event_type")
        .select(
            "event_type",
            "y",
            (
                F.col("y")
                - F.col("trend")
                - (
                    F.col("s_dw").cast("double") / F.col("n_dw")
                    - F.col("s_t").cast("double") / F.col("n_t")
                )
            ).alias("r"),
        )
    )
    cnt = F.count(F.lit(1))
    y_d = F.col("y").cast("double")
    var_y = (F.sum(y_d * F.col("y")) - F.sum(y_d) * F.sum(y_d) / cnt) / cnt
    var_r = (
        F.sum(F.col("r") * F.col("r")) - F.sum("r") * F.sum("r") / cnt
    ) / cnt
    return (
        resid.groupBy("event_type")
        .agg(
            cnt.alias("n_days_used"),
            F.round(var_y, 4).alias("var_total"),
            F.round(var_r, 4).alias("var_resid"),
            F.round(1 - var_r / var_y, 4).alias("pct_explained"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q261: cohort LTV curve (cumulative revenue per user by cohort age)
# ---------------------------------------------------------------------------

_Q261_SQL = """
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) // 7 AS wk,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
first_wk AS (
  SELECT user_id, CAST(MIN(wk) AS BIGINT) AS cohort FROM e GROUP BY user_id
),
cohort_size AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM first_wk GROUP BY cohort
),
cell AS (
  SELECT f.cohort, e.wk - f.cohort AS age,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users,
         CAST(SUM(e.v) AS BIGINT) AS rev
  FROM e JOIN first_wk f ON f.user_id = e.user_id
  GROUP BY f.cohort, e.wk - f.cohort
),
cum AS (
  SELECT cohort, age, active_users,
         CAST(SUM(rev) OVER (PARTITION BY cohort ORDER BY age
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cum_rev
  FROM cell
)
SELECT c.cohort, CAST(c.age AS BIGINT) AS age, s.n_users, c.active_users,
       ROUND(CAST(c.cum_rev AS DOUBLE) / 100, 2) AS cum_revenue,
       ROUND(CAST(c.cum_rev AS DOUBLE) / s.n_users / 100, 4)
         AS ltv_per_user
FROM cum c JOIN cohort_size s ON s.cohort = c.cohort
ORDER BY c.cohort, age
"""


@register(
    "q261_cohort_ltv",
    _Q261_SQL,
    doc=(
        "cohort LTV curves (q76 retention's revenue twin): cohort = "
        "first-activity week, cells = (cohort, age) integer cents "
        "rollups, cumulative revenue via a window over <=5 ages per "
        "cohort, normalized by the FIXED cohort size (not the "
        "shrinking active count — LTV is per enrolled user); every "
        "sum is exact integer cents"
    ),
    tables=("events",),
)
def q261(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr(
            "datediff(cast(ts as date), date'2024-01-01') div 7"
        ).cast("long").alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    first_wk = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    cohort_size = first_wk.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    cell = (
        e.join(first_wk, "user_id")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("age"))
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.sum("v").alias("rev"),
        )
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cell.select(
        "cohort",
        F.col("age").cast("long").alias("age"),
        "active_users",
        F.sum("rev").over(w).alias("cum_rev"),
    )
    return (
        cum.join(cohort_size, "cohort")
        .select(
            "cohort",
            "age",
            "n_users",
            "active_users",
            F.round(F.col("cum_rev").cast("double") / 100, 2).alias(
                "cum_revenue"
            ),
            F.round(
                F.col("cum_rev").cast("double") / F.col("n_users") / 100, 4
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort", "age")
    )


# ---------------------------------------------------------------------------
# q270: churn label construction + cohort base rates
# ---------------------------------------------------------------------------

_Q270_QUIET_DAYS = 7

_Q270_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
horizon AS (SELECT CAST(MAX(d) AS BIGINT) AS max_d FROM e),
per_user AS (
  SELECT user_id,
         CAST(MIN(d) AS BIGINT) AS first_d,
         CAST(MAX(d) AS BIGINT) AS last_d,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM e GROUP BY user_id
)
SELECT first_d // 7 AS cohort_week,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN last_d < h.max_d - {_Q270_QUIET_DAYS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
       ROUND(SUM(CASE WHEN last_d < h.max_d - {_Q270_QUIET_DAYS}
                 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4) AS churn_rate,
       ROUND(AVG(CAST(n_events AS DOUBLE)), 4) AS avg_events
FROM per_user CROSS JOIN horizon h
GROUP BY cohort_week ORDER BY cohort_week
"""


@register(
    "q270_churn_labels",
    _Q270_SQL,
    doc=(
        "churn LABEL CONSTRUCTION (the step before any churn model: "
        f"churned = no activity in the last {_Q270_QUIET_DAYS} days "
        "of the observation window, horizon anchored to the DATA's "
        "max day so the label is replay-stable, never wall-clock): "
        "per-user first/last/count rollup, broadcast scalar horizon, "
        "base rates by acquisition cohort — exact integer day "
        "arithmetic throughout"
    ),
    tables=("events",),
)
def q270(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    horizon = e.agg(F.max("d").alias("max_d"))
    per_user = e.groupBy("user_id").agg(
        F.min("d").alias("first_d"),
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("n_events"),
    )
    churned = F.when(
        F.col("last_d") < F.col("max_d") - _Q270_QUIET_DAYS, 1
    ).otherwise(0)
    return (
        per_user.crossJoin(horizon)
        .groupBy(F.expr("first_d div 7").alias("cohort_week"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(churned).alias("n_churned"),
            F.round(F.sum(churned) * 1.0 / F.count(F.lit(1)), 4).alias(
                "churn_rate"
            ),
            F.round(F.avg(F.col("n_events").cast("double")), 4).alias(
                "avg_events"
            ),
        )
        .orderBy("cohort_week")
    )


# ---------------------------------------------------------------------------
# q286: Page-Hinkley change detector over daily volumes
# ---------------------------------------------------------------------------

_Q286_DELTA = 0.0   # magnitude tolerance
_Q286_LAMBDA = 30.0  # alert threshold (max_ph spans 27-46 at sf0.01 - mixed outcome)

_Q286_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, d, x,
         SUM(x) OVER seq AS s,
         ROW_NUMBER() OVER seq AS i
  FROM daily
  WINDOW seq AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT event_type, d,
         SUM(x - CAST(s AS DOUBLE) / i - {_Q286_DELTA}) OVER seq AS mt
  FROM w
  WINDOW seq AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
a AS (
  SELECT event_type, d, mt,
         mt - MIN(mt) OVER seq AS ph
  FROM m
  WINDOW seq AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(CASE WHEN ph > {_Q286_LAMBDA} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alert_days,
       CAST(MIN(CASE WHEN ph > {_Q286_LAMBDA} THEN d END) AS BIGINT)
         AS first_alert_day,
       ROUND(MAX(ph), 4) AS max_ph
FROM a GROUP BY event_type ORDER BY event_type
"""


@register(
    "q286_page_hinkley",
    _Q286_SQL,
    doc=(
        "Page-Hinkley change detection over per-type daily volume — "
        "the SEQUENTIAL drift alarm (complements the batch "
        "two-sample drifts KS q223 / PSI q120 / EMD q192): "
        "PH_t = m_t - min_{i<=t} m_i with m_t = Σ(x_i - mean_i), "
        "which looks sequential but is THREE ordered cumulative "
        "windows over the 30-row daily rollup — both engines "
        "accumulate ordered frames in the same order, so the doubles "
        "agree bit-for-bit; alert when PH exceeds the lambda "
        "literal; on the upward-trendless fixture alerts reflect "
        "genuine volume drift if any, else zero — both read directly"
    ),
    tables=("events",),
)
def q286(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    ).agg(F.count(F.lit(1)).alias("x"))
    seq = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = daily.select(
        "event_type",
        "d",
        "x",
        F.sum("x").over(seq).alias("s"),
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("d")
        ).alias("i"),
    )
    m = w.select(
        "event_type",
        "d",
        F.sum(
            F.col("x") - F.col("s").cast("double") / F.col("i") - _Q286_DELTA
        ).over(seq).alias("mt"),
    )
    a = m.select(
        "event_type",
        "d",
        (F.col("mt") - F.min("mt").over(seq)).alias("ph"),
    )
    alert = F.when(F.col("ph") > _Q286_LAMBDA, 1).otherwise(0)
    return (
        a.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(alert).cast("long").alias("n_alert_days"),
            F.min(
                F.when(F.col("ph") > _Q286_LAMBDA, F.col("d"))
            ).cast("long").alias("first_alert_day"),
            F.round(F.max("ph"), 4).alias("max_ph"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q290: log-rank test (two-arm survival comparison, q219's inferential twin)
# ---------------------------------------------------------------------------

_Q290_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         {sql_hash_bucket("user_id", 2)} AS arm,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
         MAX(epoch_us(ts)) AS tl
  FROM events GROUP BY user_id
),
dur AS (
  SELECT arm,
         CAST(COALESCE(tp - t0, tl - t0) // 86400000000 AS BIGINT) AS t,
         CAST(tp IS NOT NULL AS BIGINT) AS died
  FROM per_user
),
day AS (
  SELECT t, arm,
         CAST(SUM(died) AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM dur GROUP BY t, arm
),
grid AS (
  SELECT DISTINCT dy.t, a.arm
  FROM (SELECT DISTINCT t FROM day) dy
  CROSS JOIN (SELECT 0 AS arm UNION ALL SELECT 1) a
),
full_day AS (
  SELECT g.t, g.arm, COALESCE(day.d, 0) AS d, COALESCE(day.c, 0) AS c
  FROM grid g LEFT JOIN day ON day.t = g.t AND day.arm = g.arm
),
risk AS (
  SELECT t, arm, d,
         SUM(c) OVER (PARTITION BY arm ORDER BY t DESC) AS n_risk
  FROM full_day
),
wide AS (
  SELECT t,
         SUM(CASE WHEN arm = 1 THEN d ELSE 0 END) AS d1,
         SUM(d) AS dt,
         SUM(CASE WHEN arm = 1 THEN n_risk ELSE 0 END) AS n1,
         SUM(n_risk) AS nt
  FROM risk GROUP BY t
),
terms AS (
  SELECT t, d1,
         dt * CAST(n1 AS DOUBLE) / nt AS e1,
         CASE WHEN nt > 1
              THEN dt * (CAST(n1 AS DOUBLE) / nt)
                   * (1 - CAST(n1 AS DOUBLE) / nt)
                   * (nt - dt) / (nt - 1.0)
              ELSE 0.0 END AS v1
  FROM wide WHERE dt > 0
)
SELECT CAST(SUM(d1) AS BIGINT) AS observed_1,
       ROUND(SUM(e1), 4) AS expected_1,
       ROUND(POWER(SUM(d1) - SUM(e1), 2) / SUM(v1), 4) AS logrank_chi2
FROM terms
"""


@register(
    "q290_logrank",
    _Q290_SQL,
    doc=(
        "log-rank test between two hash arms on time-to-first-"
        "purchase (q219 Kaplan-Meier's inferential twin — the "
        "standard survival-curve comparison): at each event time the "
        "hypergeometric expected deaths and variance for arm 1 come "
        "from the at-risk table (a reverse cumulative window per arm "
        "over the |distinct days| frame, densified so both arms "
        "carry at-risk counts at every event time), chi² = "
        "(O−E)²/ΣV; on the random split the honest chi² is ~chi²(1)"
    ),
    tables=("events",),
)
def q290(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("tp"),
        F.max("ts_us").alias("tl"),
    ).withColumn("arm", hash_bucket("user_id", 2))
    dur = per_user.select(
        "arm",
        (
            F.coalesce(F.col("tp") - F.col("t0"), F.col("tl") - F.col("t0"))
            / F.lit(86400000000)
        ).cast("long").alias("t_raw"),
        F.col("tp").isNotNull().cast("long").alias("died"),
    ).select(F.expr("t_raw").alias("t"), "arm", "died")
    day = dur.groupBy("t", "arm").agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("c")
    )
    arms = ev.sparkSession.createDataFrame([(0,), (1,)], "arm LONG")
    grid = day.select("t").distinct().crossJoin(F.broadcast(arms))
    full_day = grid.join(day, ["t", "arm"], "left").select(
        "t",
        "arm",
        F.coalesce("d", F.lit(0)).alias("d"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    w = Window.partitionBy("arm").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = full_day.select(
        "t", "arm", "d", F.sum("c").over(w).alias("n_risk")
    )
    wide = risk.groupBy("t").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("d")).otherwise(0)).alias("d1"),
        F.sum("d").alias("dt"),
        F.sum(
            F.when(F.col("arm") == 1, F.col("n_risk")).otherwise(0)
        ).alias("n1"),
        F.sum("n_risk").alias("nt"),
    )
    frac = F.col("n1").cast("double") / F.col("nt")
    terms = wide.where(F.col("dt") > 0).select(
        "d1",
        (F.col("dt") * frac).alias("e1"),
        F.when(
            F.col("nt") > 1,
            F.col("dt") * frac * (1 - frac)
            * (F.col("nt") - F.col("dt")) / (F.col("nt") - 1.0),
        ).otherwise(0.0).alias("v1"),
    )
    return terms.agg(
        F.sum("d1").cast("long").alias("observed_1"),
        F.round(F.sum("e1"), 4).alias("expected_1"),
        F.round(
            F.pow(F.sum("d1") - F.sum("e1"), 2) / F.sum("v1"), 4
        ).alias("logrank_chi2"),
    )


# ---------------------------------------------------------------------------
# q294: entropy rate of the behavioral Markov chain
# ---------------------------------------------------------------------------

_Q294_SQL = """
WITH o AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
           ORDER BY CAST(epoch_us(ts) AS BIGINT), event_id) AS src
  FROM events
),
t AS (
  SELECT src, event_type AS dst, CAST(COUNT(*) AS BIGINT) AS c
  FROM o WHERE src IS NOT NULL GROUP BY 1, 2
),
row_tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS rt FROM t GROUP BY src),
grand AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t),
h AS (
  SELECT t.src,
         ROUND(-SUM((CAST(t.c AS DOUBLE) / rt.rt)
                    * LN(CAST(t.c AS DOUBLE) / rt.rt)) / LN(2), 6)
           AS h_row,
         CAST(ANY_VALUE(rt.rt) AS BIGINT) AS rt
  FROM t JOIN row_tot rt ON rt.src = t.src
  GROUP BY t.src
)
SELECT CAST((SELECT COUNT(*) FROM h) AS BIGINT) AS n_states,
       ROUND(SUM(h.h_row * h.rt / grand.n), 4) AS entropy_rate_bits,
       ROUND(LN((SELECT COUNT(*) FROM h)) / LN(2), 4) AS max_entropy_bits,
       ROUND(1 - SUM(h.h_row * h.rt / grand.n)
             / (LN((SELECT COUNT(*) FROM h)) / LN(2)), 4) AS predictability
FROM h CROSS JOIN grand
GROUP BY grand.n
"""


@register(
    "q294_markov_entropy_rate",
    _Q294_SQL,
    doc=(
        "entropy rate of the empirical behavior chain — how "
        "predictable is the next event, in bits (the "
        "information-theoretic ceiling for any next-event model like "
        "q255's): H = Σ π_i H(row_i) with π the empirical source "
        "share, per-row entropies over the |types|² transition "
        "rollup, ln-to-bits; predictability = 1 − H/log₂|states| — "
        "~0 on this uniform-behavior fixture (the honest null: "
        "q255's top-1 accuracy ~1/|types| agrees)"
    ),
    tables=("events",),
)
def q294(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    o = ev.select(
        "event_type", F.lag("event_type").over(w).alias("src")
    ).where(F.col("src").isNotNull())
    t = o.groupBy("src", F.col("event_type").alias("dst")).agg(
        F.count(F.lit(1)).alias("c")
    )
    row_tot = t.groupBy("src").agg(F.sum("c").alias("rt"))
    grand = t.agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("rt")
    h = (
        t.join(row_tot, "src")
        .groupBy("src")
        .agg(
            F.round(-F.sum(p * F.log(p)) / F.lit(float(__import__("math").log(2))), 6).alias("h_row"),
            F.first("rt").alias("rt"),
        )
    )
    n_states = h.agg(F.count(F.lit(1)).alias("ns"))
    ln2 = float(__import__("math").log(2))
    return (
        h.crossJoin(grand)
        .crossJoin(n_states)
        .groupBy("n", "ns")
        .agg(
            F.sum(F.col("h_row") * F.col("rt") / F.col("n")).alias("er_raw"),
        )
        .select(
            F.col("ns").cast("long").alias("n_states"),
            F.round("er_raw", 4).alias("entropy_rate_bits"),
            F.round(F.log(F.col("ns").cast("double")) / ln2, 4).alias(
                "max_entropy_bits"
            ),
            F.round(
                1
                - F.col("er_raw")
                / (F.log(F.col("ns").cast("double")) / ln2),
                4,
            ).alias("predictability"),
        )
    )


# ---------------------------------------------------------------------------
# q350: Holt-Winters additive seasonal smoothing (round 8)
# ---------------------------------------------------------------------------

# Triple exponential smoothing (Winters 1960) completing the
# forecasting family: q236 tracks level+trend, q259 decomposes the
# weekly cycle, q321 backtests — this FITS level + trend + a 7-slot
# additive seasonal state and forecasts with it.  The q236 execution
# contract: the inherently sequential recursion runs per key inside
# ONE applyInPandas over the ~30-row daily rollup (the fact table
# reduces first), the oracle mirrors it as a recursive CTE carrying
# the rotating 7-slot seasonal queue as columns; alpha = beta =
# gamma = 1/2 keeps every smoothing op dyadic so both engines walk
# the identical IEEE sequence.  Textbook init (Hyndman): l0 = week-1
# mean, b0 = (week-2 mean - week-1 mean)/7, s_i = y_i - l0, recursion
# from t = 8; types need >= 14 observations (the fixtures' ~30
# qualify at every sf).
_Q350_SQL = """
WITH RECURSIVE daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2
),
idx AS (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily
),
nn AS (
  SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n FROM idx GROUP BY 1
  HAVING MAX(rn) >= 14
),
wk AS (
  SELECT i1.event_type,
         (((((i1.y + i2.y) + i3.y) + i4.y) + i5.y) + i6.y) + i7.y AS w1,
         (((((i8.y + i9.y) + i10.y) + i11.y) + i12.y) + i13.y) + i14.y
           AS w2,
         i1.y AS y1, i2.y AS y2, i3.y AS y3, i4.y AS y4,
         i5.y AS y5, i6.y AS y6, i7.y AS y7
  FROM idx i1
  JOIN idx i2 ON i2.event_type = i1.event_type AND i2.rn = 2
  JOIN idx i3 ON i3.event_type = i1.event_type AND i3.rn = 3
  JOIN idx i4 ON i4.event_type = i1.event_type AND i4.rn = 4
  JOIN idx i5 ON i5.event_type = i1.event_type AND i5.rn = 5
  JOIN idx i6 ON i6.event_type = i1.event_type AND i6.rn = 6
  JOIN idx i7 ON i7.event_type = i1.event_type AND i7.rn = 7
  JOIN idx i8 ON i8.event_type = i1.event_type AND i8.rn = 8
  JOIN idx i9 ON i9.event_type = i1.event_type AND i9.rn = 9
  JOIN idx i10 ON i10.event_type = i1.event_type AND i10.rn = 10
  JOIN idx i11 ON i11.event_type = i1.event_type AND i11.rn = 11
  JOIN idx i12 ON i12.event_type = i1.event_type AND i12.rn = 12
  JOIN idx i13 ON i13.event_type = i1.event_type AND i13.rn = 13
  JOIN idx i14 ON i14.event_type = i1.event_type AND i14.rn = 14
  WHERE i1.rn = 1 AND i1.event_type IN (SELECT event_type FROM nn)
),
init AS (
  SELECT event_type, w1 / 7 AS l, (w2 / 7 - w1 / 7) / 7 AS b,
         y1 - w1 / 7 AS s1, y2 - w1 / 7 AS s2, y3 - w1 / 7 AS s3,
         y4 - w1 / 7 AS s4, y5 - w1 / 7 AS s5, y6 - w1 / 7 AS s6,
         y7 - w1 / 7 AS s7
  FROM wk
),
r(event_type, t, l, b, s1, s2, s3, s4, s5, s6, s7) AS (
  SELECT event_type, 7, l, b, s1, s2, s3, s4, s5, s6, s7 FROM init
  UNION ALL
  SELECT r.event_type, r.t + 1,
         0.5 * (d.y - r.s1) + 0.5 * (r.l + r.b),
         0.5 * ((0.5 * (d.y - r.s1) + 0.5 * (r.l + r.b)) - r.l)
           + 0.5 * r.b,
         r.s2, r.s3, r.s4, r.s5, r.s6, r.s7,
         0.5 * (d.y - (0.5 * (d.y - r.s1) + 0.5 * (r.l + r.b)))
           + 0.5 * r.s1
  FROM r JOIN idx d ON d.event_type = r.event_type AND d.rn = r.t + 1
)
SELECT r.event_type, nn.n AS n_days,
       ROUND(r.l, 4) AS level,
       ROUND(r.b, 4) AS trend,
       ROUND(r.l + r.b + r.s1, 4) AS forecast_next,
       ROUND(7 * r.l + 28 * r.b
             + ((((((r.s1 + r.s2) + r.s3) + r.s4) + r.s5) + r.s6)
                + r.s7), 4) AS forecast_7d_total
FROM r JOIN nn ON nn.event_type = r.event_type AND r.t = nn.n
ORDER BY r.event_type
"""


@register(
    "q350_holt_winters",
    _Q350_SQL,
    doc=(
        "Holt-Winters additive triple exponential smoothing (Winters "
        "1960, period 7) completing the forecasting family — q236 "
        "tracks level+trend, q259 decomposes the weekly cycle, q321 "
        "backtests, this FITS the seasonal state and forecasts with "
        "it: the sequential recursion runs per key in ONE "
        "applyInPandas over the ~30-row daily rollup (q236's "
        "contract; the Python stage sees kilobytes), the oracle "
        "mirrors it as a recursive CTE carrying the rotating 7-slot "
        "seasonal queue as columns; alpha=beta=gamma=1/2 keeps every "
        "op dyadic — identical IEEE walks both engines.  Textbook "
        "init (week-1 mean level, week-over-week trend, y_i - l0 "
        "seasonals), recursion from t=8, types need >= 14 days"
    ),
    tables=("events",),
)
def q350(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        ys = list(pdf.y)
        n = len(ys)
        if n < 14:
            return pd.DataFrame(
                columns=[
                    "event_type",
                    "n_days",
                    "level",
                    "trend",
                    "forecast_next",
                    "forecast_7d_total",
                ]
            )
        w1 = (((((ys[0] + ys[1]) + ys[2]) + ys[3]) + ys[4]) + ys[5]) + ys[6]
        w2 = (
            ((((ys[7] + ys[8]) + ys[9]) + ys[10]) + ys[11]) + ys[12]
        ) + ys[13]
        l = w1 / 7
        b = (w2 / 7 - w1 / 7) / 7
        s = [ys[i] - w1 / 7 for i in range(7)]
        for t in range(7, n):
            y = ys[t]
            l_new = 0.5 * (y - s[0]) + 0.5 * (l + b)
            b_new = 0.5 * (l_new - l) + 0.5 * b
            s_new = 0.5 * (y - l_new) + 0.5 * s[0]
            s = s[1:] + [s_new]
            l, b = l_new, b_new
        f1 = l + b + s[0]
        f7 = 7 * l + 28 * b + (
            (((((s[0] + s[1]) + s[2]) + s[3]) + s[4]) + s[5]) + s[6]
        )
        return pd.DataFrame(
            {
                "event_type": [pdf.event_type.iloc[0]],
                "n_days": [n],
                "level": [l],
                "trend": [b],
                "forecast_next": [f1],
                "forecast_7d_total": [f7],
            }
        )

    schema = (
        "event_type string, n_days long, level double, trend double, "
        "forecast_next double, forecast_7d_total double"
    )
    out = daily.groupBy("event_type").applyInPandas(fit, schema)
    return out.select(
        "event_type",
        "n_days",
        F.round("level", 4).alias("level"),
        F.round("trend", 4).alias("trend"),
        F.round("forecast_next", 4).alias("forecast_next"),
        F.round("forecast_7d_total", 4).alias("forecast_7d_total"),
    ).orderBy("event_type")


# --- relocated from stats.py in the round-10 family regrouping (survival,
# seasonality, anomaly and forecast-backtest queries; mechanical move,
# zero behavior change — pre/post registry hash dump) ---
# ---------------------------------------------------------------------------
# q219: Kaplan–Meier survival (time to first purchase, right-censored)
# ---------------------------------------------------------------------------

_Q219_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
         MAX(epoch_us(ts)) AS tl
  FROM events GROUP BY user_id
),
dur AS (
  SELECT user_id,
         CAST(COALESCE(tp - t0, tl - t0) // 86400000000 AS BIGINT) AS t,
         CAST(tp IS NOT NULL AS BIGINT) AS died
  FROM per_user
),
day AS (
  SELECT t, CAST(SUM(died) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM dur GROUP BY t
),
risk AS (
  SELECT t, d,
         SUM(c) OVER (ORDER BY t DESC) AS n_risk
  FROM day
),
km AS (
  SELECT t, d, n_risk,
         CASE WHEN MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) = 1
              THEN 0.0
              ELSE ROUND(EXP(SUM(CASE WHEN d < n_risk
                                      THEN LN(1.0 - d * 1.0 / n_risk)
                                      ELSE 0.0 END)
                             OVER (ORDER BY t)), 4) END AS s_t
  FROM risk
)
SELECT t AS day, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk, s_t
FROM km WHERE d > 0 ORDER BY day
"""


@register(
    "q219_kaplan_meier",
    _Q219_SQL,
    doc=(
        "Kaplan–Meier survival estimator (Kaplan & Meier 1958) for "
        "time from a user's first event to first purchase, right-"
        "censored at last observation: per-user durations are one "
        "keyed aggregate; the life table groups to DAILY granularity "
        "so the risk-set suffix sum and the survival prefix product "
        "(EXP-SUM-LN, spelled identically both engines) are windows "
        "over a CALENDAR-bounded frame (~30 rows — never the user "
        "population); integer micro-second durations keep the day "
        "index engine-exact"
    ),
    tables=("events",),
)
def q219(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("tp"),
        F.max("ts_us").alias("tl"),
    )
    dur = per_user.select(
        (
            F.coalesce(F.col("tp") - F.col("t0"), F.col("tl") - F.col("t0"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("t"),
        F.col("tp").isNotNull().cast("long").alias("died"),
    )
    day = dur.groupBy("t").agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("c")
    )
    # calendar-bounded (~30-row) frame: a partitionless window here is
    # O(days), not O(users) — the documented exception (q190 pattern)
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = day.withColumn("n_risk", F.sum("c").over(w_desc))
    # the final risk group can die out entirely (d == n_risk): survival
    # is exactly 0 from there on — handled as an explicit flag so the
    # LN-sum never sees log(0) (mirrored in the oracle's CASE)
    dead = F.max((F.col("d") == F.col("n_risk")).cast("int")).over(w_asc)
    ln_term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(F.lit(1.0) - F.col("d") * F.lit(1.0) / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km = risk.withColumn(
        "s_t",
        F.when(dead == 1, F.lit(0.0)).otherwise(
            F.round(F.exp(F.sum(ln_term).over(w_asc)), 4)
        ),
    )
    return (
        km.where(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            F.col("d").cast("long").alias("n_events"),
            F.col("n_risk").cast("long").alias("n_at_risk"),
            "s_t",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q220: day-of-week seasonality profile
# ---------------------------------------------------------------------------

# 2024-01-01 is a Monday: dow = days-since % 7 (0 = Monday) — explicit
# integer arithmetic instead of engine dayofweek() (whose origin
# convention differs between engines)
_Q220_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS BIGINT) AS dow,
         value
  FROM events
),
prof AS (
  SELECT event_type, dow,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         ROUND(AVG(value), 4) AS mean_value
  FROM e GROUP BY event_type, dow
),
tot AS (SELECT event_type, SUM(cnt) AS t FROM prof GROUP BY event_type)
SELECT p.event_type, p.dow, p.cnt,
       ROUND(p.cnt * 1.0 / tot.t, 4) AS share,
       p.mean_value
FROM prof p JOIN tot ON tot.event_type = p.event_type
ORDER BY p.event_type, p.dow
"""


@register(
    "q220_dow_seasonality",
    _Q220_SQL,
    doc=(
        "day-of-week seasonality profile per event type (the weekly-"
        "cycle feature of demand/traffic models): one (type, dow) "
        "keyed aggregate + a |types|-row broadcast share join; the dow "
        "index is explicit integer days-since-a-known-Monday % 7 — "
        "engine dayofweek() origins differ (Spark 1=Sunday, DuckDB "
        "0=Sunday), integer arithmetic doesn't"
    ),
    tables=("events",),
)
def q220(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) % 7
        )
        .cast("long")
        .alias("dow"),
        "value",
    )
    prof = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    )
    tot = prof.groupBy("event_type").agg(F.sum("cnt").alias("t"))
    return (
        prof.join(tot, "event_type")
        .select(
            "event_type",
            "dow",
            "cnt",
            F.round(F.col("cnt") * F.lit(1.0) / F.col("t"), 4).alias("share"),
            "mean_value",
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# q221: daily-volume anomaly flags (z-score over per-type daily counts)
# ---------------------------------------------------------------------------

# variance from integer power sums — (S2 - S1^2/n)/(n-1) — instead of
# STDDEV(): Spark's and DuckDB's stddev kernels use different
# summation algorithms (Welford vs two-pass) whose last-ulp results
# can differ; integer S1/S2 make every intermediate engine-exact
_Q221_Z = 2.0


_Q221_SQL = f"""
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT)
           AS d,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(c) AS s1, SUM(c * c) AS s2
  FROM daily GROUP BY event_type
),
z AS (
  SELECT d.event_type, d.d, d.c,
         (d.c - s1 * 1.0 / n_days)
           / SQRT((s2 - s1 * 1.0 * s1 / n_days) / (n_days - 1)) AS zs
  FROM daily d JOIN m ON m.event_type = d.event_type
)
SELECT event_type,
       (SELECT CAST(ANY_VALUE(n_days) AS BIGINT) FROM m
        WHERE m.event_type = z.event_type) AS n_days,
       CAST(COUNT(*) FILTER (WHERE ABS(zs) >= {_Q221_Z}) AS BIGINT)
         AS n_anomalous,
       ROUND(MAX(ABS(zs)), 4) AS max_abs_z
FROM z GROUP BY event_type ORDER BY event_type
"""


@register(
    "q221_anomaly_zscore",
    _Q221_SQL,
    doc=(
        "volume-anomaly screening: per-type daily counts z-scored "
        "against the type's own mean/std, days with |z| >= 2 flagged; "
        "variance is computed from INTEGER power sums (S2 - S1²/n over "
        "n-1) rather than the engines' stddev kernels (Welford vs "
        "two-pass differ in the last ulp), so every z is the same "
        "double in both engines; shuffles carry (type, day) rollups "
        "and |types|-row moment frames only"
    ),
    tables=("events",),
)
def q221(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    zs = (F.col("c") - F.col("s1") * F.lit(1.0) / F.col("n_days")) / F.sqrt(
        (F.col("s2") - F.col("s1") * F.lit(1.0) * F.col("s1") / F.col("n_days"))
        / (F.col("n_days") - F.lit(1))
    )
    return (
        daily.join(F.broadcast(m), "event_type")
        .select("event_type", "n_days", zs.alias("zs"))
        .groupBy("event_type")
        .agg(
            F.first("n_days").cast("long").alias("n_days"),
            F.sum((F.abs(F.col("zs")) >= _Q221_Z).cast("long")).alias(
                "n_anomalous"
            ),
            F.round(F.max(F.abs("zs")), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q231: week-over-week growth per event type
# ---------------------------------------------------------------------------

_Q231_SQL = """
WITH wk AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS week,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, week, cnt,
       CAST(LAG(cnt) OVER (PARTITION BY event_type ORDER BY week) AS BIGINT)
         AS prev_cnt,
       ROUND((cnt - LAG(cnt) OVER (PARTITION BY event_type ORDER BY week))
             * 100.0
             / NULLIF(LAG(cnt) OVER (PARTITION BY event_type ORDER BY week), 0),
             2) AS wow_pct
FROM wk ORDER BY event_type, week
"""


@register(
    "q231_wow_growth",
    _Q231_SQL,
    doc=(
        "week-over-week growth per event type — the KPI-dashboard "
        "staple: the corpus reduces to one (type, week) keyed "
        "aggregate (map-side partials); LAG and the growth ratio run "
        "over |types| x |weeks| rows, integer week indexing from the "
        "fixed epoch Monday, NULLIF-guarded division"
    ),
    tables=("events",),
)
def q231(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            / F.lit(7)
        )
        .cast("long")
        .alias("week"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy("week")
    prev = F.lag("cnt").over(w)
    return wk.select(
        "event_type",
        "week",
        "cnt",
        prev.cast("long").alias("prev_cnt"),
        F.round(
            (F.col("cnt") - prev) * F.lit(100.0) / F.nullif(prev, F.lit(0)), 2
        ).alias("wow_pct"),
    ).orderBy("event_type", "week")


# ---------------------------------------------------------------------------
# q320: Nelson–Aalen cumulative hazard (round 8)
# ---------------------------------------------------------------------------

# The hazard-scale complement to q219's Kaplan–Meier: H(t) = sum of
# d_i/n_i over event days <= t, with Aalen's variance sum d_i/n_i^2
# and the Fleming–Harrington survival exp(-H) (never exactly 0, unlike
# KM — no log(0) guard needed).  Same life table as q219: per-user
# durations in integer epoch micros, daily granularity, so every
# window runs over the ~30-row calendar frame.
_Q320_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(epoch_us(ts)) AS t0,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS tp,
         MAX(epoch_us(ts)) AS tl
  FROM events GROUP BY user_id
),
dur AS (
  SELECT CAST(COALESCE(tp - t0, tl - t0) // 86400000000 AS BIGINT) AS t,
         CAST(tp IS NOT NULL AS BIGINT) AS died
  FROM per_user
),
day AS (
  SELECT t, CAST(SUM(died) AS BIGINT) AS d, CAST(COUNT(*) AS BIGINT) AS c
  FROM dur GROUP BY t
),
risk AS (
  SELECT t, d, SUM(c) OVER (ORDER BY t DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS n_risk
  FROM day
),
na AS (
  SELECT t, d, n_risk,
         SUM(d * 1.0 / n_risk)
           OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h,
         SUM(d * 1.0 / (CAST(n_risk AS DOUBLE) * n_risk))
           OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vh
  FROM risk
)
SELECT t AS day, d AS n_events, CAST(n_risk AS BIGINT) AS n_at_risk,
       ROUND(h, 6) AS h_t, ROUND(vh, 6) AS var_h,
       ROUND(EXP(-h), 6) AS s_fleming
FROM na WHERE d > 0 ORDER BY day
"""


@register(
    "q320_nelson_aalen",
    _Q320_SQL,
    doc=(
        "Nelson–Aalen cumulative-hazard estimator with Aalen's "
        "variance and the Fleming–Harrington survival exp(-H) — the "
        "hazard-scale complement to q219's Kaplan–Meier on the same "
        "right-censored time-to-first-purchase life table: per-user "
        "durations are one keyed aggregate over integer epoch micros; "
        "the risk-set suffix sum and both cumulative hazard sums are "
        "windows over the CALENDAR-bounded (~30-row) day frame, never "
        "over users.  Unlike KM, H is a plain sum (no product), so no "
        "log(0) guard is needed even when the last risk set dies out"
    ),
    tables=("events",),
)
def q320(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts_us").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts_us"))
        ).alias("tp"),
        F.max("ts_us").alias("tl"),
    )
    dur = per_user.select(
        (
            F.coalesce(F.col("tp") - F.col("t0"), F.col("tl") - F.col("t0"))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("t"),
        F.col("tp").isNotNull().cast("long").alias("died"),
    )
    day = dur.groupBy("t").agg(
        F.sum("died").alias("d"), F.count(F.lit(1)).alias("c")
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_asc = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = day.withColumn("n_risk", F.sum("c").over(w_desc))
    h = F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(w_asc)
    vh = F.sum(
        F.col("d") * 1.0 / (F.col("n_risk").cast("double") * F.col("n_risk"))
    ).over(w_asc)
    na = risk.select(
        "t",
        "d",
        "n_risk",
        h.alias("h"),
        vh.alias("vh"),
    )
    return (
        na.where(F.col("d") > 0)
        .select(
            F.col("t").alias("day"),
            F.col("d").cast("long").alias("n_events"),
            F.col("n_risk").cast("long").alias("n_at_risk"),
            F.round("h", 6).alias("h_t"),
            F.round("vh", 6).alias("var_h"),
            F.round(F.exp(-F.col("h")), 6).alias("s_fleming"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q321: seasonal-naive forecast backtest (MASE / sMAPE) (round 8)
# ---------------------------------------------------------------------------

_Q321_SEASON = 7  # weekly seasonality, the q220/q259 dow signal

# The missing eval half of the forecasting family (q236 Holt fits,
# q259 decomposes — this BACKTESTS): forecast each day's per-type
# event count with the seasonal-naive y[t-7] and score MAE, sMAPE and
# MASE (scaled by the in-sample naive-1 MAE, Hyndman & Koehler 2006).
# Counts are integers, so every error sum is exact BIGINT; the only
# float sums are the ~23 bounded sMAPE terms per type.  The day grid
# is DENSIFIED (types x days, zero-filled) so LAG(7) always aligns to
# the calendar, not to the previous observed row.
_Q321_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS day
  FROM events
),
span AS (SELECT CAST(MAX(day) AS BIGINT) AS dmax FROM e),
days AS (SELECT UNNEST(generate_series(0, (SELECT dmax FROM span))) AS day),
types AS (SELECT DISTINCT event_type FROM e),
cnt AS (
  SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS y
  FROM e GROUP BY 1, 2
),
dense AS (
  SELECT t.event_type, d.day, COALESCE(c.y, 0) AS y
  FROM types t CROSS JOIN days d
  LEFT JOIN cnt c ON c.event_type = t.event_type AND c.day = d.day
),
lagged AS (
  SELECT event_type, day, y,
         LAG(y, {_Q321_SEASON})
           OVER (PARTITION BY event_type ORDER BY day) AS yhat,
         LAG(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS yprev
  FROM dense
),
m AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN yhat IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS h,
         CAST(SUM(CASE WHEN yhat IS NOT NULL THEN ABS(y - yhat) END)
              AS BIGINT) AS sae,
         SUM(CASE WHEN yhat IS NOT NULL THEN
               CASE WHEN y + yhat = 0 THEN 0.0
                    ELSE 2.0 * ABS(y - yhat) / (y + yhat) END END) AS ssm,
         CAST(SUM(CASE WHEN yprev IS NOT NULL THEN ABS(y - yprev) END)
              AS BIGINT) AS snv,
         CAST(SUM(CASE WHEN yprev IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS hn
  FROM lagged GROUP BY 1
)
SELECT event_type, h AS horizon,
       ROUND(CAST(sae AS DOUBLE) / h, 6) AS mae,
       ROUND(ssm / h, 6) AS smape,
       ROUND((CAST(sae AS DOUBLE) / h)
             / NULLIF(CAST(snv AS DOUBLE) / hn, 0.0), 6) AS mase
FROM m ORDER BY event_type
"""


@register(
    "q321_forecast_backtest",
    _Q321_SQL,
    doc=(
        "seasonal-naive forecast backtest per event type: the weekly "
        "lag-7 forecast scored with MAE, sMAPE and MASE (error scaled "
        "by the in-sample naive-1 MAE — the scale-free skill metric "
        "of Hyndman & Koehler 2006; MASE < 1 beats drift).  The day "
        "grid is densified types x calendar (zero-filled) so the lag "
        "is calendar-true; absolute-error sums are exact BIGINTs; "
        "windows run over per-type ~30-row calendar frames; one fact "
        "scan, shuffles carry (type, day, count) rollups only.  "
        "Completes the forecasting family: q236 fits, q259 "
        "decomposes, q321 backtests"
    ),
    tables=("events",),
)
def q321(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("day"),
    )
    span = e.agg(F.max("day").cast("long").alias("dmax"))
    days = span.select(
        F.explode(F.sequence(F.lit(0), F.col("dmax"))).alias("day")
    )
    types = e.select("event_type").distinct()
    cnt = e.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    dense = (
        types.crossJoin(days)
        .join(cnt, ["event_type", "day"], "left")
        .select(
            "event_type", "day", F.coalesce("y", F.lit(0)).alias("y")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = dense.select(
        "event_type",
        "y",
        F.lag("y", _Q321_SEASON).over(w).alias("yhat"),
        F.lag("y", 1).over(w).alias("yprev"),
    )
    have = F.col("yhat").isNotNull()
    havep = F.col("yprev").isNotNull()
    smape_term = F.when(
        have,
        F.when(F.col("y") + F.col("yhat") == 0, F.lit(0.0)).otherwise(
            2.0 * F.abs(F.col("y") - F.col("yhat")) / (F.col("y") + F.col("yhat"))
        ),
    )
    m = lagged.groupBy("event_type").agg(
        F.sum(F.when(have, 1).otherwise(0)).cast("long").alias("h"),
        F.sum(F.when(have, F.abs(F.col("y") - F.col("yhat"))))
        .cast("long")
        .alias("sae"),
        F.sum(smape_term).alias("ssm"),
        F.sum(F.when(havep, F.abs(F.col("y") - F.col("yprev"))))
        .cast("long")
        .alias("snv"),
        F.sum(F.when(havep, 1).otherwise(0)).cast("long").alias("hn"),
    )
    return m.select(
        "event_type",
        F.col("h").alias("horizon"),
        F.round(F.col("sae").cast("double") / F.col("h"), 6).alias("mae"),
        F.round(F.col("ssm") / F.col("h"), 6).alias("smape"),
        F.round(
            (F.col("sae").cast("double") / F.col("h"))
            / F.nullif(F.col("snv").cast("double") / F.col("hn"), F.lit(0.0)),
            6,
        ).alias("mase"),
    ).orderBy("event_type")

"""ML-eval family module: A/B experimentation and causal inference —
power, variance reduction, health gates, uplift, IV/RD, off-policy replay.

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
# q248: difference-in-differences estimator (2x2 panel, integer-exact)
# ---------------------------------------------------------------------------

_Q248_POST_DAY = 15  # midpoint of the 30-day fixture window

_Q248_SQL = f"""
WITH e AS (
  SELECT event_type,
         {sql_hash_bucket("user_id", 2)} AS treated,
         CASE WHEN CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) >= {_Q248_POST_DAY} THEN 1 ELSE 0 END AS post,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
cell AS (
  SELECT event_type, treated, post,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM e GROUP BY 1, 2, 3
),
wide AS (
  SELECT event_type,
         MAX(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n
             END) AS t_post,
         MAX(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n
             END) AS t_pre,
         MAX(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n
             END) AS c_post,
         MAX(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n
             END) AS c_pre,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM cell GROUP BY event_type
)
SELECT event_type, n_total,
       ROUND(t_pre / 100, 4) AS treated_pre,
       ROUND(t_post / 100, 4) AS treated_post,
       ROUND(c_pre / 100, 4) AS control_pre,
       ROUND(c_post / 100, 4) AS control_post,
       ROUND(((t_post - t_pre) - (c_post - c_pre)) / 100, 4) AS did
FROM wide ORDER BY event_type
"""


@register(
    "q248_diff_in_diff",
    _Q248_SQL,
    doc=(
        "difference-in-differences over the 2x2 (treated x pre/post) "
        "panel per type — treatment assignment is the deterministic "
        "user-id hash (a synthetic rollout), post = day >= 15: four "
        "cell means from INTEGER cents power sums, DiD = "
        "(Tpost-Tpre)-(Cpost-Cpre); one cell rollup over one scan, a "
        "|types|x4 frame after — the fixture's value is "
        "assignment-independent so did ~ 0 is the correct null "
        "answer (the estimator's arithmetic is what the oracle and "
        "the brute-force test pin)"
    ),
    tables=("events",),
)
def q248(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        hash_bucket("user_id", 2).alias("treated"),
        F.when(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long")
            >= _Q248_POST_DAY,
            1,
        ).otherwise(0).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    cell = e.groupBy("event_type", "treated", "post").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
    )
    mean = F.col("s").cast("double") / F.col("n")

    def cell_mean(t: int, p: int):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), mean)
        )

    wide = cell.groupBy("event_type").agg(
        cell_mean(1, 1).alias("t_post"),
        cell_mean(1, 0).alias("t_pre"),
        cell_mean(0, 1).alias("c_post"),
        cell_mean(0, 0).alias("c_pre"),
        F.sum("n").alias("n_total"),
    )
    return wide.select(
        "event_type",
        "n_total",
        F.round(F.col("t_pre") / 100, 4).alias("treated_pre"),
        F.round(F.col("t_post") / 100, 4).alias("treated_post"),
        F.round(F.col("c_pre") / 100, 4).alias("control_pre"),
        F.round(F.col("c_post") / 100, 4).alias("control_post"),
        F.round(
            ((F.col("t_post") - F.col("t_pre"))
             - (F.col("c_post") - F.col("c_pre"))) / 100,
            4,
        ).alias("did"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q266: delta-method CI for a ratio metric, clustered by user
# ---------------------------------------------------------------------------

_Q266_Z = 1.96

_Q266_SQL = f"""
WITH per_user AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY event_type, user_id
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM per_user GROUP BY event_type
),
d AS (
  SELECT event_type, n, sx, sy,
         CAST(sx AS DOUBLE) / sy AS r,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
           AS vx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
           AS vy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1)
           AS cxy,
         CAST(sy AS DOUBLE) / n AS ybar
  FROM s
)
SELECT event_type, n AS n_users,
       ROUND(r / 100, 6) AS ratio,
       ROUND(SQRT((vx - 2 * r * cxy + r * r * vy) / n / (ybar * ybar))
             / 100, 6) AS se,
       ROUND((r - {_Q266_Z} * SQRT((vx - 2 * r * cxy + r * r * vy)
             / n / (ybar * ybar))) / 100, 6) AS lo,
       ROUND((r + {_Q266_Z} * SQRT((vx - 2 * r * cxy + r * r * vy)
             / n / (ybar * ybar))) / 100, 6) AS hi
FROM d ORDER BY event_type
"""


@register(
    "q266_ratio_metric_delta",
    _Q266_SQL,
    doc=(
        "delta-method confidence interval for a RATIO metric "
        "(mean value per event) CLUSTERED BY USER — the A/B-infra "
        "subtlety event-level variance gets wrong: events of one "
        "user are correlated, so the i.i.d. unit is the user and "
        "var(R) ~ (vx - 2R·cov + R²·vy)/(n·ȳ²) over PER-USER sums "
        "(Deng et al., KDD 2018 ratio-metric practice); every input "
        "to the closed form is an exact integer power sum over the "
        "(type,user) rollup"
    ),
    tables=("events",),
)
def q266(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    s = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    r = F.col("sx").cast("double") / F.col("sy")
    vx = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n) / (n - 1)
    ybar = F.col("sy").cast("double") / n
    se = F.sqrt((vx - 2 * r * cxy + r * r * vy) / n / (ybar * ybar))
    return s.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.round(r / 100, 6).alias("ratio"),
        F.round(se / 100, 6).alias("se"),
        F.round((r - _Q266_Z * se) / 100, 6).alias("lo"),
        F.round((r + _Q266_Z * se) / 100, 6).alias("hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q275: A/B power analysis — minimum detectable effect per arm size
# ---------------------------------------------------------------------------

_Q275_Z_ALPHA = 1.96   # two-sided alpha = 0.05
_Q275_Z_POWER = 0.8416  # 80% power

_Q275_SQL = f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT) AS k
  FROM events GROUP BY event_type
)
SELECT event_type, n, k,
       ROUND(CAST(k AS DOUBLE) / n, 6) AS p_base,
       ROUND(({_Q275_Z_ALPHA} + {_Q275_Z_POWER})
             * SQRT(2 * (CAST(k AS DOUBLE) / n)
                    * (1 - CAST(k AS DOUBLE) / n) / (n / 2.0)), 6)
         AS mde_abs,
       ROUND(({_Q275_Z_ALPHA} + {_Q275_Z_POWER})
             * SQRT(2 * (CAST(k AS DOUBLE) / n)
                    * (1 - CAST(k AS DOUBLE) / n) / (n / 2.0))
             / (CAST(k AS DOUBLE) / n), 6) AS mde_rel
FROM s ORDER BY event_type
"""


@register(
    "q275_ab_power_mde",
    _Q275_SQL,
    doc=(
        "A/B experiment design: minimum detectable effect for the "
        "per-type high-value proportion if today's traffic were split "
        "50/50 — MDE = (z_a/2 + z_power)·sqrt(2p(1-p)/(n/2)), the "
        "two-proportion power closed form at alpha=.05/power=.80 "
        "(z quantiles are LITERALS, no CDF at runtime): the "
        "'is this experiment even worth running' gate computed from "
        "one integer rollup per type — complements q173's post-hoc "
        "z-test and q247's interval with the PRE-hoc design number"
    ),
    tables=("events",),
)
def q275(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    mde = (_Q275_Z_ALPHA + _Q275_Z_POWER) * F.sqrt(
        2 * p * (1 - p) / (F.col("n") / 2.0)
    )
    return s.select(
        "event_type",
        "n",
        "k",
        F.round(p, 6).alias("p_base"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p, 6).alias("mde_rel"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q282: quantile treatment effects (per-decile arm differences)
# ---------------------------------------------------------------------------

_Q282_SQL = """
WITH e AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
         {treat} AS arm,
         event_id
  FROM events
),
binned AS (
  SELECT arm, v,
         NTILE(10) OVER (PARTITION BY arm ORDER BY v, event_id) AS dec
  FROM e
),
q AS (
  SELECT arm, dec, CAST(MAX(v) AS BIGINT) AS q_v
  FROM binned GROUP BY arm, dec
)
SELECT t.dec AS decile,
       ROUND(CAST(t.q_v AS DOUBLE) / 100, 2) AS treated_q,
       ROUND(CAST(c.q_v AS DOUBLE) / 100, 2) AS control_q,
       ROUND(CAST(t.q_v - c.q_v AS DOUBLE) / 100, 2) AS qte
FROM q t JOIN q c ON c.dec = t.dec AND c.arm = 0
WHERE t.arm = 1
ORDER BY decile
"""

_Q282_SQL = _Q282_SQL.format(treat=sql_hash_bucket("user_id", 2))


@register(
    "q282_quantile_treatment_effect",
    _Q282_SQL,
    doc=(
        "quantile treatment effects — the heterogeneity view a mean "
        "difference (q248/q173) hides: per-arm decile boundaries of "
        "value (NTILE made TOTAL by the (v, event_id) tie-break, the "
        "q269 discipline) differenced decile-by-decile; an effect "
        "concentrated in the tail shows up ONLY here; arms are the "
        "deterministic user-id hash, boundaries are exact integer "
        "cents — on the null fixture every QTE ~ 0, the honest "
        "answer"
    ),
    tables=("events",),
)
def q282(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        hash_bucket("user_id", 2).alias("arm"),
        "event_id",
    )
    # per-arm NTILE: the one corpus-sized window pair (one per arm);
    # respell via packing.global_rank + integer bin arithmetic at
    # 100 TB (q137/q269's documented path)
    w = Window.partitionBy("arm").orderBy("v", "event_id")
    binned = e.select("arm", "v", F.ntile(10).over(w).alias("dec"))
    q = binned.groupBy("arm", "dec").agg(F.max("v").alias("q_v"))
    t = q.where(F.col("arm") == 1).select(
        F.col("dec").alias("decile"), F.col("q_v").alias("tq")
    )
    c = q.where(F.col("arm") == 0).select(
        F.col("dec").alias("decile"), F.col("q_v").alias("cq")
    )
    return (
        t.join(c, "decile")
        .select(
            "decile",
            F.round(F.col("tq").cast("double") / 100, 2).alias("treated_q"),
            F.round(F.col("cq").cast("double") / 100, 2).alias("control_q"),
            F.round(
                (F.col("tq") - F.col("cq")).cast("double") / 100, 2
            ).alias("qte"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q283: CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------

_Q283_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
h AS (SELECT CAST(MAX(d) AS BIGINT) AS max_d FROM e),
per_user AS (
  SELECT user_id,
         {sql_hash_bucket("user_id", 2)} AS arm,
         CAST(SUM(CASE WHEN d <= h.max_d - 15 THEN v ELSE 0 END) AS BIGINT)
           AS x_pre,
         CAST(SUM(CASE WHEN d > h.max_d - 15 THEN v ELSE 0 END) AS BIGINT)
           AS y_post
  FROM e CROSS JOIN h GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_pre) AS BIGINT) AS sx,
         CAST(SUM(y_post) AS BIGINT) AS sy,
         CAST(SUM(x_pre * y_post) AS BIGINT) AS sxy,
         CAST(SUM(x_pre * x_pre) AS BIGINT) AS sxx,
         CAST(SUM(y_post * y_post) AS BIGINT) AS syy
  FROM per_user
),
theta AS (
  SELECT n, CAST(sx AS DOUBLE) / n AS xbar,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS th,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1)
           AS var_y,
         POWER(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n, 2)
           / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
              * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
           AS rho2
  FROM s
),
adj AS (
  SELECT p.arm,
         CAST(COUNT(*) AS BIGINT) AS n_arm,
         AVG(CAST(p.y_post AS DOUBLE)) AS raw_mean,
         AVG(p.y_post - t.th * (p.x_pre - t.xbar)) AS cuped_mean
  FROM per_user p CROSS JOIN theta t
  GROUP BY p.arm
)
SELECT a1.n_arm AS n_treated, a0.n_arm AS n_control,
       ROUND((a1.raw_mean - a0.raw_mean) / 100, 4) AS raw_diff,
       ROUND((a1.cuped_mean - a0.cuped_mean) / 100, 4) AS cuped_diff,
       ROUND((SELECT rho2 FROM theta), 4) AS variance_reduction
FROM adj a1 JOIN adj a0 ON a1.arm = 1 AND a0.arm = 0
"""


@register(
    "q283_cuped",
    _Q283_SQL,
    doc=(
        "CUPED variance reduction (Deng et al., WSDM 2013 — the "
        "standard A/B sensitivity boost): per-user PRE-period value "
        "(days <= max-15) adjusts the POST-period metric via "
        "theta = cov(y,x)/var(x), and the variance-reduction factor "
        "is rho² (reported — ~0.005 here because the fixture's users "
        "share ONE activity rate, so pre/post sums are independent "
        "Poisson noise: the honest null; heterogeneous real users "
        "give 0.3-0.7); "
        "everything from one per-user integer rollup + one "
        "power-sum frame; the per-row adjustment is a broadcast "
        "scalar join — CUPED at 100 TB is two cheap passes"
    ),
    tables=("events",),
)
def q283(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    h = e.agg(F.max("d").alias("max_d"))
    per_user = (
        e.crossJoin(h)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") <= F.col("max_d") - 15, F.col("v")).otherwise(0)
            ).alias("x_pre"),
            F.sum(
                F.when(F.col("d") > F.col("max_d") - 15, F.col("v")).otherwise(0)
            ).alias("y_post"),
        )
        .withColumn("arm", hash_bucket("user_id", 2))
    )
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_pre").alias("sx"),
        F.sum("y_post").alias("sy"),
        F.sum(F.col("x_pre") * F.col("y_post")).alias("sxy"),
        F.sum(F.col("x_pre") * F.col("x_pre")).alias("sxx"),
        F.sum(F.col("y_post") * F.col("y_post")).alias("syy"),
    )
    n = F.col("n")
    cov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    vary = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n
    theta = s.select(
        (F.col("sx").cast("double") / n).alias("xbar"),
        (cov / varx).alias("th"),
        (F.pow(cov, 2) / (varx * vary)).alias("rho2"),
    )
    adj = (
        per_user.crossJoin(theta)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n_arm"),
            F.avg(F.col("y_post").cast("double")).alias("raw_mean"),
            F.avg(
                F.col("y_post") - F.col("th") * (F.col("x_pre") - F.col("xbar"))
            ).alias("cuped_mean"),
        )
    )
    a1 = adj.where(F.col("arm") == 1).select(
        F.col("n_arm").alias("n_treated"),
        F.col("raw_mean").alias("rm1"),
        F.col("cuped_mean").alias("cm1"),
    )
    a0 = adj.where(F.col("arm") == 0).select(
        F.col("n_arm").alias("n_control"),
        F.col("raw_mean").alias("rm0"),
        F.col("cuped_mean").alias("cm0"),
    )
    rho2 = theta.select(F.round("rho2", 4).alias("variance_reduction"))
    return (
        a1.crossJoin(a0)
        .crossJoin(rho2)
        .select(
            "n_treated",
            "n_control",
            F.round((F.col("rm1") - F.col("rm0")) / 100, 4).alias("raw_diff"),
            F.round((F.col("cm1") - F.col("cm0")) / 100, 4).alias("cuped_diff"),
            "variance_reduction",
        )
    )


# ---------------------------------------------------------------------------
# q284: sample-ratio-mismatch check (experiment health gate)
# ---------------------------------------------------------------------------

_Q284_CHI2_CRIT = 3.841  # chi2(1 dof) 95% critical value, a literal

_Q284_SQL = f"""
WITH u AS (
  SELECT DISTINCT user_id, {sql_hash_bucket("user_id", 2)} AS arm
  FROM events
),
s AS (
  SELECT CAST(SUM(arm) AS BIGINT) AS n1,
         CAST(SUM(1 - arm) AS BIGINT) AS n0
  FROM u
)
SELECT n1 AS n_treated, n0 AS n_control,
       ROUND(POWER(n1 - (n1 + n0) / 2.0, 2) / ((n1 + n0) / 2.0)
             + POWER(n0 - (n1 + n0) / 2.0, 2) / ((n1 + n0) / 2.0), 4)
         AS chi2,
       (POWER(n1 - (n1 + n0) / 2.0, 2) / ((n1 + n0) / 2.0)
        + POWER(n0 - (n1 + n0) / 2.0, 2) / ((n1 + n0) / 2.0))
         > {_Q284_CHI2_CRIT} AS srm_detected
FROM s
"""


@register(
    "q284_srm_check",
    _Q284_SQL,
    doc=(
        "sample-ratio mismatch — the FIRST health check of any "
        "experiment readout (a biased assignment invalidates every "
        "downstream metric): chi² of the observed arm counts vs the "
        "declared 50/50, flagged against the 3.841 critical value "
        "(a LITERAL, no CDF); one distinct-user rollup — and the "
        "check doubles as an audit of the engine's own hash_bucket "
        "assignment (the fixture splits 75/75, chi²=0)"
    ),
    tables=("events",),
)
def q284(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().select(
        hash_bucket("user_id", 2).alias("arm")
    )
    s = u.agg(
        F.sum("arm").alias("n1"),
        F.sum(1 - F.col("arm")).alias("n0"),
    )
    e = (F.col("n1") + F.col("n0")) / 2.0
    chi2 = F.pow(F.col("n1") - e, 2) / e + F.pow(F.col("n0") - e, 2) / e
    return s.select(
        F.col("n1").cast("long").alias("n_treated"),
        F.col("n0").cast("long").alias("n_control"),
        F.round(chi2, 4).alias("chi2"),
        (chi2 > _Q284_CHI2_CRIT).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# q329: uplift deciles + Qini curve (round 8)
# ---------------------------------------------------------------------------

# The heterogeneous-treatment-effect readout (Radcliffe 2007's Qini)
# that completes the experimentation family: q173 reads the average
# effect, q282 its quantiles, q283 reduces variance — this ranks the
# POPULATION by a pre-treatment score and asks where the effect
# concentrates (who to target).  Units are users, arms the shared
# id-hash authority (q173's spelling), score the user's pre-period
# (first 14 days) activity count, outcome any post-period purchase.
# Score deciles are assigned VALUE-DOMAIN-wise (per-count cumulative
# shares -> decile of the count value, the q137/q312 discipline) so no
# per-user global window exists; the Qini cumulative runs over the
# 10-row decile frame.  All counts are exact integers; the only
# doubles are final per-decile ratios of integers.
_Q329_SPLIT_DAY = 14

_Q329_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         event_type
  FROM events
),
pre AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS pc
  FROM e WHERE d < {_Q329_SPLIT_DAY} GROUP BY user_id
),
outc AS (
  SELECT user_id, 1 AS y FROM e
  WHERE d >= {_Q329_SPLIT_DAY} AND event_type = 'purchase'
  GROUP BY user_id
),
users AS (
  SELECT p.user_id, p.pc,
         CASE WHEN ((p.user_id % 2147483648) * 2654435761) % 100 >= 50
              THEN 1 ELSE 0 END AS treat,
         COALESCE(o.y, 0) AS y
  FROM pre p LEFT JOIN outc o ON o.user_id = p.user_id
),
vc AS (SELECT pc, CAST(COUNT(*) AS BIGINT) AS c FROM users GROUP BY pc),
vb AS (
  SELECT pc,
         CAST(COALESCE(SUM(c) OVER (ORDER BY pc
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cb,
         CAST((SELECT SUM(c) FROM vc) AS BIGINT) AS nt
  FROM vc
),
dc AS (
  SELECT pc,
         LEAST(CAST(FLOOR(cb * 10.0 / nt) AS BIGINT), 9) AS decile
  FROM vb
),
g AS (
  SELECT d.decile, u.treat,
         CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(u.y) AS BIGINT) AS conv
  FROM users u JOIN dc d ON d.pc = u.pc
  GROUP BY d.decile, u.treat
),
w AS (
  SELECT decile,
         CAST(SUM(CASE WHEN treat = 1 THEN n ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN treat = 0 THEN n ELSE 0 END) AS BIGINT) AS n_c,
         CAST(SUM(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_t,
         CAST(SUM(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_c
  FROM g GROUP BY decile
),
cum AS (
  SELECT decile, n_t, n_c, conv_t, conv_c,
         CAST(SUM(n_t) OVER (ORDER BY decile DESC) AS BIGINT) AS cnt,
         CAST(SUM(n_c) OVER (ORDER BY decile DESC) AS BIGINT) AS cnc,
         CAST(SUM(conv_t) OVER (ORDER BY decile DESC) AS BIGINT) AS cct,
         CAST(SUM(conv_c) OVER (ORDER BY decile DESC) AS BIGINT) AS ccc
  FROM w
)
SELECT decile, n_t, n_c, conv_t, conv_c,
       ROUND(conv_t * 1.0 / NULLIF(n_t, 0)
             - conv_c * 1.0 / NULLIF(n_c, 0), 6) AS uplift,
       ROUND(cct - ccc * 1.0 * cnt / NULLIF(cnc, 0), 4) AS qini
FROM cum ORDER BY decile DESC
"""


@register(
    "q329_uplift_qini",
    _Q329_SQL,
    doc=(
        "uplift deciles + Qini curve (Radcliffe 2007) — where does "
        "the treatment effect concentrate: users score by pre-period "
        "(first 14 days) activity, arms come from the shared id-hash "
        "authority (q173), outcome is any post-period purchase; per "
        "score-ranked decile the incremental conversions qini_k = "
        "cum_conv_t - cum_conv_c * cum_n_t/cum_n_c.  Deciles are "
        "assigned value-domain-wise (per-count cumulative shares -> "
        "decile of the COUNT VALUE, the q137/q312 discipline — no "
        "per-user global window anywhere), the Qini cumulative runs "
        "over the 10-row decile frame, and every cell is an exact "
        "integer until the final ratios.  Honest fixture answer: "
        "uplift ~ 0 everywhere (arms share one generator)"
    ),
    tables=("events",),
)
def q329(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "event_type",
    )
    pre = (
        e.where(F.col("d") < _Q329_SPLIT_DAY)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("pc"))
    )
    outc = (
        e.where(
            (F.col("d") >= _Q329_SPLIT_DAY)
            & (F.col("event_type") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.lit(1).alias("y"))
    )
    users = truncate_lineage(
        pre.join(outc, "user_id", "left").select(
            "user_id",
            "pc",
            F.when(hash_bucket("user_id", 100) >= 50, 1)
            .otherwise(0)
            .alias("treat"),
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    vc = users.groupBy("pc").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wv = Window.orderBy("pc").rowsBetween(Window.unboundedPreceding, -1)
    nt = vc.agg(F.sum("c").cast("long").alias("nt"))
    vb = vc.select(
        "pc",
        F.coalesce(F.sum("c").over(wv), F.lit(0)).cast("long").alias("cb"),
    ).crossJoin(nt)
    dc = vb.select(
        "pc",
        F.least(
            F.floor(F.col("cb") * F.lit(10.0) / F.col("nt")).cast("long"),
            F.lit(9).cast("long"),
        ).alias("decile"),
    )
    g = (
        users.join(F.broadcast(dc), "pc")
        .groupBy("decile", "treat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("conv"),
        )
    )
    w = g.groupBy("decile").agg(
        F.sum(F.when(F.col("treat") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("treat") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("treat") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_t"),
        F.sum(F.when(F.col("treat") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_c"),
    )
    wc = Window.orderBy(F.desc("decile")).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.sum("n_t").over(wc).cast("long").alias("cnt"),
        F.sum("n_c").over(wc).cast("long").alias("cnc"),
        F.sum("conv_t").over(wc).cast("long").alias("cct"),
        F.sum("conv_c").over(wc).cast("long").alias("ccc"),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.round(
            F.col("conv_t") * F.lit(1.0) / F.nullif(F.col("n_t"), F.lit(0))
            - F.col("conv_c") * F.lit(1.0) / F.nullif(F.col("n_c"), F.lit(0)),
            6,
        ).alias("uplift"),
        F.round(
            F.col("cct")
            - F.col("ccc")
            * F.lit(1.0)
            * F.col("cnt")
            / F.nullif(F.col("cnc"), F.lit(0)),
            4,
        ).alias("qini"),
    ).orderBy(F.desc("decile"))


# ---------------------------------------------------------------------------
# q345: instrumental-variable (Wald) estimator (round 8)
# ---------------------------------------------------------------------------

# The encouragement-design readout completing the causal family (q248
# DiD, q283 CUPED, q282 QTE, q204 matching): when treatment uptake is
# endogenous, the Wald/IV estimate is ITT / first-stage =
# (E[y|z=1]-E[y|z=0]) / (E[t|z=1]-E[t|z=0]).  Fixture construction:
# z is the shared id-hash arm (a genuinely random instrument) and
# compliance is CONSTRUCTED — the encouraged arm "adopts" at a lower
# post-period activity bar (t = qc >= 34 if z else qc >= 38), the
# standard way to witness IV mechanics on data with no natural
# experiment: the first stage is real (the share of users between the
# two bars), the exclusion restriction holds exactly (y never reads
# z), and the true effect is 0 — so the honest answer is wald ~ 0
# with a STABLE denominator, not a weak-instrument blow-up (the first
# draft used above-median pre-activity as z; measured first stage at
# sf0.01 was 0.02 — a textbook weak instrument, replaced).  Integer
# power sums to a 2-row arm frame; zero first-stage NULLIF-guarded.
_Q345_SPLIT_DAY = 14
_Q345_T_ENC = 34  # adoption bar for the encouraged arm
_Q345_T_CTL = 38  # adoption bar for the control arm

_Q345_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
post AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS qc,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
              AS BIGINT) AS y
  FROM e WHERE d >= {_Q345_SPLIT_DAY} GROUP BY user_id
),
u AS (
  SELECT CASE WHEN ((us.user_id % 2147483648) * 2654435761) % 100 >= 50
              THEN 1 ELSE 0 END AS z,
         COALESCE(po.qc, 0) AS qc, COALESCE(po.y, 0) AS y
  FROM (SELECT DISTINCT user_id FROM e) us
  LEFT JOIN post po ON po.user_id = us.user_id
),
t AS (
  SELECT z,
         CAST(qc >= CASE WHEN z = 1 THEN {_Q345_T_ENC}
                         ELSE {_Q345_T_CTL} END AS BIGINT) AS t,
         y
  FROM u
),
g AS (
  SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS nt, CAST(SUM(y) AS BIGINT) AS sy
  FROM t GROUP BY z
),
w AS (
  SELECT (SELECT n FROM g WHERE z = 1) AS n1,
         (SELECT n FROM g WHERE z = 0) AS n0,
         (SELECT nt * 1.0 / n FROM g WHERE z = 1) AS t1,
         (SELECT nt * 1.0 / n FROM g WHERE z = 0) AS t0,
         (SELECT sy * 1.0 / n FROM g WHERE z = 1) AS y1,
         (SELECT sy * 1.0 / n FROM g WHERE z = 0) AS y0
)
SELECT n1, n0,
       ROUND(t1, 6) AS t_rate_z1, ROUND(t0, 6) AS t_rate_z0,
       ROUND(y1 / 100, 4) AS y_mean_z1, ROUND(y0 / 100, 4) AS y_mean_z0,
       ROUND((y1 - y0) / 100, 4) AS itt_dollars,
       ROUND(t1 - t0, 6) AS first_stage,
       ROUND((y1 - y0) / NULLIF(t1 - t0, 0.0) / 100, 4) AS wald_dollars
FROM w
"""


@register(
    "q345_iv_wald",
    _Q345_SQL,
    doc=(
        "instrumental-variable (Wald) estimator — the encouragement-"
        "design readout completing the causal family (q248 DiD, q283 "
        "CUPED, q282 QTE, q204 matching): ITT / first-stage with the "
        "shared id-hash arm as a genuinely random instrument and "
        "CONSTRUCTED compliance (the encouraged arm adopts at post-"
        f"activity >= {_Q345_T_ENC}, control at >= {_Q345_T_CTL} — "
        "the share of users between the bars IS the first stage, so "
        "the denominator is stable by design; the first draft's "
        "above-median-activity instrument measured a 0.02 first "
        "stage at sf0.01, the textbook weak-instrument failure, and "
        "was replaced).  Exclusion holds exactly (y never reads z) "
        "and the true effect is 0, so the honest answer is wald ~ 0.  "
        "Integer power sums to a 2-row arm frame; zero first stage "
        "NULLIF-guarded"
    ),
    tables=("events",),
)
def q345(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    post = (
        e.where(F.col("d") >= _Q345_SPLIT_DAY)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("qc"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("cents")
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    us = e.select("user_id").distinct()
    u = us.join(post, "user_id", "left").select(
        F.when(hash_bucket("user_id", 100) >= 50, 1).otherwise(0).alias("z"),
        F.coalesce(F.col("qc"), F.lit(0)).alias("qc"),
        F.coalesce(F.col("y"), F.lit(0)).alias("y"),
    )
    t = u.select(
        "z",
        (
            F.col("qc")
            >= F.when(F.col("z") == 1, _Q345_T_ENC).otherwise(_Q345_T_CTL)
        )
        .cast("long")
        .alias("t"),
        "y",
    )
    g = truncate_lineage(
        t.groupBy("z").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("t").cast("long").alias("nt"),
            F.sum("y").cast("long").alias("sy"),
        )
    )
    g1 = g.where(F.col("z") == 1).select(
        F.col("n").alias("n1"),
        (F.col("nt") * F.lit(1.0) / F.col("n")).alias("t1"),
        (F.col("sy") * F.lit(1.0) / F.col("n")).alias("y1"),
    )
    g0 = g.where(F.col("z") == 0).select(
        F.col("n").alias("n0"),
        (F.col("nt") * F.lit(1.0) / F.col("n")).alias("t0"),
        (F.col("sy") * F.lit(1.0) / F.col("n")).alias("y0"),
    )
    w = g1.crossJoin(g0)
    return w.select(
        "n1",
        "n0",
        F.round("t1", 6).alias("t_rate_z1"),
        F.round("t0", 6).alias("t_rate_z0"),
        F.round(F.col("y1") / 100, 4).alias("y_mean_z1"),
        F.round(F.col("y0") / 100, 4).alias("y_mean_z0"),
        F.round((F.col("y1") - F.col("y0")) / 100, 4).alias("itt_dollars"),
        F.round(F.col("t1") - F.col("t0"), 6).alias("first_stage"),
        F.round(
            (F.col("y1") - F.col("y0"))
            / F.nullif(F.col("t1") - F.col("t0"), F.lit(0.0))
            / 100,
            4,
        ).alias("wald_dollars"),
    )


# ---------------------------------------------------------------------------
# q346: regression-discontinuity estimate at a price cutoff (round 8)
# ---------------------------------------------------------------------------

# The third identification strategy of the causal family (q248 DiD
# exploits time, q345 IV an instrument; RD exploits a THRESHOLD):
# local-linear fits on each side of the cutoff inside a fixed
# bandwidth, and the effect is the gap between the two intercepts at
# the cutoff (Thistlethwaite & Campbell 1960).  Running variable =
# order price cents (cutoff $250k, bandwidth $100k), outcome = the
# order's line-item count; each side's OLS intercept/slope is closed
# form over five integer power sums (n, Σu, Σu², Σy, Σuy with u the
# centered cents — map-side combinable; DOUBLE casts placed
# identically both engines since Σu² exceeds 2^53 at sf0.1).  Honest
# fixture answer: rd ~ 0 — the synthetic generator has no price
# discontinuity, which is exactly what the audit should report.
_Q346_CUT = 25_000_000
_Q346_BW = 10_000_000

_Q346_SIDE = """
  SELECT side, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(u) AS BIGINT) AS su,
         CAST(SUM(u * u) AS BIGINT) AS suu,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(u * y) AS BIGINT) AS suy
  FROM pts GROUP BY side
"""

_Q346_SQL = f"""
WITH o AS (
  SELECT o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) - {_Q346_CUT} AS u
  FROM orders
),
cnt AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
  FROM lineitem GROUP BY l_orderkey
),
pts AS (
  SELECT CASE WHEN o.u >= 0 THEN 'right' ELSE 'left' END AS side,
         o.u, COALESCE(c.y, 0) AS y
  FROM o LEFT JOIN cnt c ON c.l_orderkey = o.o_orderkey
  WHERE o.u > -{_Q346_BW} AND o.u < {_Q346_BW}
),
s AS ({_Q346_SIDE}),
f AS (
  SELECT side, n,
         (CAST(sy AS DOUBLE) * CAST(suu AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(suy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
            - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS a,
         (CAST(n AS DOUBLE) * CAST(suy AS DOUBLE)
          - CAST(su AS DOUBLE) * CAST(sy AS DOUBLE))
         / (CAST(n AS DOUBLE) * CAST(suu AS DOUBLE)
            - CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) AS b
  FROM s
)
SELECT (SELECT n FROM f WHERE side = 'left') AS n_left,
       (SELECT n FROM f WHERE side = 'right') AS n_right,
       ROUND((SELECT a FROM f WHERE side = 'left'), 6) AS intercept_left,
       ROUND((SELECT a FROM f WHERE side = 'right'), 6) AS intercept_right,
       ROUND((SELECT b FROM f WHERE side = 'left') * 100000, 6)
         AS slope_left_per_1kusd,
       ROUND((SELECT b FROM f WHERE side = 'right') * 100000, 6)
         AS slope_right_per_1kusd,
       ROUND((SELECT a FROM f WHERE side = 'right')
             - (SELECT a FROM f WHERE side = 'left'), 6) AS rd_estimate
"""


@register(
    "q346_regression_discontinuity",
    _Q346_SQL,
    doc=(
        "regression-discontinuity estimate (Thistlethwaite & Campbell "
        "1960) at the $250k order-price cutoff, $100k bandwidth — the "
        "threshold identification strategy completing the causal "
        "family (q248 time, q345 instrument): per-side local-linear "
        "intercept/slope closed-form over five integer power sums "
        "(map-side combinable; DOUBLE casts placed identically both "
        "engines — Σu² exceeds 2^53 at sf0.1), effect = the intercept "
        "gap at the cutoff.  Honest fixture answer: rd ~ 0 (no "
        "generator discontinuity) — the audit reporting a clean null "
        "is the point"
    ),
    tables=("orders", "lineitem"),
)
def q346(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.round(F.col("o_totalprice") * 100).cast("long") - _Q346_CUT
        ).alias("u"),
    )
    cnt = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    pts = (
        o.join(cnt, o.o_orderkey == cnt.l_orderkey, "left")
        .where((F.col("u") > -_Q346_BW) & (F.col("u") < _Q346_BW))
        .select(
            F.when(F.col("u") >= 0, "right").otherwise("left").alias("side"),
            "u",
            F.coalesce(F.col("y"), F.lit(0)).alias("y"),
        )
    )
    s = truncate_lineage(
        pts.groupBy("side").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("u").cast("long").alias("su"),
            F.sum(F.col("u") * F.col("u")).cast("long").alias("suu"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("u") * F.col("y")).cast("long").alias("suy"),
        )
    )
    det = (
        F.col("n").cast("double") * F.col("suu").cast("double")
        - F.col("su").cast("double") * F.col("su").cast("double")
    )
    a = (
        F.col("sy").cast("double") * F.col("suu").cast("double")
        - F.col("su").cast("double") * F.col("suy").cast("double")
    ) / det
    b = (
        F.col("n").cast("double") * F.col("suy").cast("double")
        - F.col("su").cast("double") * F.col("sy").cast("double")
    ) / det
    f = s.select("side", "n", a.alias("a"), b.alias("b"))
    left = f.where(F.col("side") == "left").select(
        F.col("n").alias("n_left"),
        F.col("a").alias("al"),
        F.col("b").alias("bl"),
    )
    right = f.where(F.col("side") == "right").select(
        F.col("n").alias("n_right"),
        F.col("a").alias("ar"),
        F.col("b").alias("br"),
    )
    return left.crossJoin(right).select(
        "n_left",
        "n_right",
        F.round("al", 6).alias("intercept_left"),
        F.round("ar", 6).alias("intercept_right"),
        F.round(F.col("bl") * 100000, 6).alias("slope_left_per_1kusd"),
        F.round(F.col("br") * 100000, 6).alias("slope_right_per_1kusd"),
        F.round(F.col("ar") - F.col("al"), 6).alias("rd_estimate"),
    )


# ---------------------------------------------------------------------------
# q349: offline bandit replay — off-policy evaluation (round 8)
# ---------------------------------------------------------------------------

# The replay method (Li et al., WSDM 2011): evaluate a target policy
# on LOGGED interaction data by keeping exactly the events where the
# logged action coincides with what the policy would have chosen, and
# averaging their rewards — the unbiased off-policy readout when the
# logging policy is uniform-ish.  Target policy here is day-level
# greedy: on day d recommend the event type with the highest
# cumulative mean value through day d-1 (pure exploitation — the
# baseline every bandit paper compares against).  The corpus reduces
# to a (type, day) integer rollup; cumulative sums run over the
# ~30-row calendar frame per type; the per-day argmax is a
# ROW_NUMBER over the 5-type frame with (mean desc, type) total
# order — means are exact-integer cents/count ratios, identical
# doubles both engines.  Day 0 has no history and is excluded.
_Q349_SQL = """
WITH e AS (
  SELECT event_type AS a,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
daily AS (
  SELECT a, d, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM e GROUP BY a, d
),
grid AS (
  SELECT t.a, dd.d FROM (SELECT DISTINCT a FROM daily) t
  CROSS JOIN (SELECT DISTINCT d FROM daily) dd
),
cum AS (
  SELECT g.a, g.d,
         CAST(COALESCE(SUM(daily.n) OVER w, 0) AS BIGINT) AS cn,
         CAST(COALESCE(SUM(daily.s) OVER w, 0) AS BIGINT) AS cs
  FROM grid g LEFT JOIN daily ON daily.a = g.a AND daily.d = g.d
  WINDOW w AS (PARTITION BY g.a ORDER BY g.d
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
pick AS (
  SELECT d, a FROM (
    SELECT d, a,
           ROW_NUMBER() OVER (PARTITION BY d
                              ORDER BY cs * 1.0 / NULLIF(cn, 0) DESC
                                       NULLS LAST, a) AS rn
    FROM cum WHERE cn > 0 OR d > 0
  ) WHERE rn = 1
),
matched AS (
  SELECT e.cents FROM e JOIN pick ON pick.d = e.d AND pick.a = e.a
  WHERE e.d > 0
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
         CAST(SUM(cents) AS BIGINT) AS s_all
  FROM e WHERE d > 0
)
SELECT (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM pick WHERE d > 0)
         AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_matched,
       ROUND(COUNT(*) * 1.0 / (SELECT n_all FROM tot), 6) AS match_rate,
       ROUND(SUM(cents) * 1.0 / COUNT(*) / 100, 4) AS replay_value,
       ROUND((SELECT s_all * 1.0 / n_all FROM tot) / 100, 4)
         AS logged_value
FROM matched
"""


@register(
    "q349_bandit_replay",
    _Q349_SQL,
    doc=(
        "offline bandit replay (Li et al. 2011) — off-policy "
        "evaluation joining the experimentation family from the "
        "COUNTERFACTUAL side: the day-level greedy policy (recommend "
        "the type with the best cumulative mean value through "
        "yesterday) is scored by keeping exactly the logged events "
        "it would have chosen and averaging their rewards, vs the "
        "logged average.  One (type, day) integer rollup, cumulative "
        "windows over the ~30-row calendar frame, per-day argmax on "
        "the 5-type frame with a (mean desc, type) total order — "
        "means are exact cents/count ratios, identical doubles both "
        "engines; day 0 (no history) excluded"
    ),
    tables=("events",),
)
def q349(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    ev = load_table(spark, sf_dir, "events")
    e = truncate_lineage(
        ev.select(
            F.col("event_type").alias("a"),
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    daily = e.groupBy("a", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    grid = daily.select("a").distinct().crossJoin(
        daily.select("d").distinct()
    )
    wprev = (
        Window.partitionBy("a")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        grid.join(daily, ["a", "d"], "left")
        .select(
            "a",
            "d",
            F.coalesce(F.sum("n").over(wprev), F.lit(0))
            .cast("long")
            .alias("cn"),
            F.coalesce(F.sum("s").over(wprev), F.lit(0))
            .cast("long")
            .alias("cs"),
        )
    )
    wpick = Window.partitionBy("d").orderBy(
        (F.col("cs") * F.lit(1.0) / F.nullif(F.col("cn"), F.lit(0)))
        .desc_nulls_last(),
        "a",
    )
    pick = (
        cum.where((F.col("cn") > 0) | (F.col("d") > 0))
        .withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select("d", "a")
    )
    pick = truncate_lineage(pick)
    matched = e.where(F.col("d") > 0).join(pick, ["d", "a"])
    tot = e.where(F.col("d") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("cents").cast("long").alias("s_all"),
    )
    nd = pick.where(F.col("d") > 0).agg(
        F.countDistinct("d").cast("long").alias("n_days")
    )
    return (
        matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("cents").cast("long").alias("s_m"),
        )
        .crossJoin(tot)
        .crossJoin(nd)
        .select(
            "n_days",
            "n_matched",
            F.round(
                F.col("n_matched") * F.lit(1.0) / F.col("n_all"), 6
            ).alias("match_rate"),
            F.round(
                F.col("s_m") * F.lit(1.0) / F.col("n_matched") / 100, 4
            ).alias("replay_value"),
            F.round(
                F.col("s_all") * F.lit(1.0) / F.col("n_all") / 100, 4
            ).alias("logged_value"),
        )
    )

"""ML-eval family module: classical statistical tests, rank correlations,
multiple-testing control, and small-sample inference.

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
from osm_changesets_to_parquet_spark.operators.multitest import bh_stepup
from osm_changesets_to_parquet_spark.operators.quality import (
    hash_bucket,
    sql_hash_bucket,
)
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# q232: Spearman rank correlation from contingency counts
# ---------------------------------------------------------------------------

_Q232_SQL = """
WITH cells AS (
  SELECT l_returnflag AS g,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
),
xm AS (SELECT g, x, CAST(SUM(cnt) AS BIGINT) AS cx FROM cells GROUP BY g, x),
ym AS (SELECT g, y, CAST(SUM(cnt) AS BIGINT) AS cy FROM cells GROUP BY g, y),
xr AS (
  SELECT g, x,
         2 * COALESCE(SUM(cx) OVER (PARTITION BY g ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cx + 1 AS tx
  FROM xm
),
yr AS (
  SELECT g, y,
         2 * COALESCE(SUM(cy) OVER (PARTITION BY g ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cy + 1 AS ty
  FROM ym
),
j AS (
  SELECT c.g, c.cnt, xr.tx, yr.ty
  FROM cells c
  JOIN xr ON xr.g = c.g AND xr.x = c.x
  JOIN yr ON yr.g = c.g AND yr.y = c.y
),
s AS (
  SELECT g,
         CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(SUM(cnt * tx) AS BIGINT) AS sx,
         CAST(SUM(cnt * ty) AS BIGINT) AS sy,
         CAST(SUM(cnt * tx * ty) AS BIGINT) AS sxy,
         CAST(SUM(cnt * tx * tx) AS BIGINT) AS sxx,
         CAST(SUM(cnt * ty * ty) AS BIGINT) AS syy
  FROM j GROUP BY g
)
SELECT g, n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS rho
FROM s ORDER BY g
"""


@register(
    "q232_spearman",
    _Q232_SQL,
    doc=(
        "tie-aware Spearman rank correlation (quantity vs discount "
        "percent per returnflag) computed ENTIRELY from contingency "
        "counts: average ranks come from cumulative marginal counts "
        "(doubled so .5 average ranks stay exact BIGINTs), and rho is "
        "Pearson on doubled ranks via integer power sums — no per-row "
        "rank window ever touches the fact table, so the only "
        "full-data shuffle is the (group,x,y) cell rollup (<=550 "
        "cells/group); rank frames are |distinct-value|-sized and "
        "broadcast back onto the cells"
    ),
    tables=("lineitem",),
)
def q232(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cells = (
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_discount") * 100).cast("long").alias("y"),
        )
        .groupBy("g", "x", "y")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # marginal counts -> doubled average ranks; windows run over
    # |distinct x| <= 50 rows per group, never over the fact table
    before = Window.partitionBy("g").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    xr = (
        cells.groupBy("g", "x")
        .agg(F.sum("cnt").alias("cx"))
        .select(
            "g",
            "x",
            (
                2 * F.coalesce(F.sum("cx").over(before), F.lit(0))
                + F.col("cx")
                + 1
            ).alias("tx"),
        )
    )
    before_y = Window.partitionBy("g").orderBy("y").rowsBetween(
        Window.unboundedPreceding, -1
    )
    yr = (
        cells.groupBy("g", "y")
        .agg(F.sum("cnt").alias("cy"))
        .select(
            "g",
            "y",
            (
                2 * F.coalesce(F.sum("cy").over(before_y), F.lit(0))
                + F.col("cy")
                + 1
            ).alias("ty"),
        )
    )
    j = cells.join(xr, ["g", "x"]).join(yr, ["g", "y"])
    s = j.groupBy("g").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("tx")).alias("sx"),
        F.sum(F.col("cnt") * F.col("ty")).alias("sy"),
        F.sum(F.col("cnt") * F.col("tx") * F.col("ty")).alias("sxy"),
        F.sum(F.col("cnt") * F.col("tx") * F.col("tx")).alias("sxx"),
        F.sum(F.col("cnt") * F.col("ty") * F.col("ty")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "g", "n", F.round(num / den, 6).alias("rho")
    ).orderBy("g")


# ---------------------------------------------------------------------------
# q234: Benjamini-Hochberg FDR control over per-cell mean shifts
# ---------------------------------------------------------------------------

_Q234_ALPHA = 0.05

_Q234_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS BIGINT) AS dow,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2
  FROM e
),
cell AS (
  SELECT event_type, dow,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(v) AS BIGINT) AS s1c
  FROM e GROUP BY event_type, dow
),
z AS (
  SELECT c.event_type, c.dow, c.n_c,
         (CAST(c.s1c AS DOUBLE) / c.n_c - CAST(g.s1 AS DOUBLE) / g.n_g)
         / SQRT(((CAST(g.s2 AS DOUBLE)
                  - CAST(g.s1 AS DOUBLE) * g.s1 / g.n_g) / (g.n_g - 1))
                / c.n_c) AS zs
  FROM cell c CROSS JOIN g
),
p AS (
  SELECT event_type, dow, n_c, zs,
         1.0 / (1.0 + zs * zs) AS pv,
         ROW_NUMBER() OVER (ORDER BY 1.0 / (1.0 + zs * zs), event_type, dow)
           AS rn,
         COUNT(*) OVER () AS m
  FROM z
),
k AS (
  SELECT *,
         MAX(CASE WHEN pv * m <= {_Q234_ALPHA} * rn THEN rn ELSE 0 END)
           OVER () AS kmax
  FROM p
)
SELECT event_type, dow, n_c,
       ROUND(zs, 4) AS z,
       ROUND(pv, 6) AS p_surrogate,
       rn <= kmax AS rejected
FROM k ORDER BY event_type, dow
"""


@register(
    "q234_bh_fdr",
    _Q234_SQL,
    doc=(
        "multiple-testing control: every (event_type, dow) cell gets a "
        "one-sample z for its mean value-in-cents vs the global mean "
        "(variance from INTEGER power sums over quantized cents — "
        "double summation is order-dependent across engines, integer "
        "summation is not), then Benjamini-Hochberg step-up at "
        "alpha=0.05 rejects the top-k cells; the CDF is replaced by "
        "the rational surrogate p=1/(1+z^2) (strictly monotone in "
        "|z|, so the rank procedure is EXACT and engine-identical; "
        "swap a calibrated CDF in production) — the step-up "
        "(operators/multitest.bh_stepup) runs on the |cells|-row "
        "frame (35 rows), the fact table is touched once for the "
        "cell rollup; the fixture's value column is null w.r.t. "
        "(type,dow), so ZERO rejections is the correct answer here — "
        "the reject branch is pinned by the planted-shift unit test"
    ),
    tables=("events",),
)
def q234(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            % 7
        ).cast("long").alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    g = e.agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    cell = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("v").alias("s1c")
    )
    var_g = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_g")
    ) / (F.col("n_g") - 1)
    zs = (
        F.col("s1c").cast("double") / F.col("n_c")
        - F.col("s1").cast("double") / F.col("n_g")
    ) / F.sqrt(var_g / F.col("n_c"))
    z = cell.crossJoin(g).select(
        "event_type", "dow", "n_c", zs.alias("zs")
    )
    # |cells|-row frame (5 types x 7 dows): bh_stepup's unpartitioned
    # windows run over 35 rows, a documented-bounded WindowExec
    p = z.withColumn("pv", 1.0 / (1.0 + F.col("zs") * F.col("zs")))
    k = bh_stepup(p, "pv", _Q234_ALPHA, tie_cols=("event_type", "dow"))
    return k.select(
        "event_type",
        "dow",
        "n_c",
        F.round("zs", 4).alias("z"),
        F.round("pv", 6).alias("p_surrogate"),
        "rejected",
    ).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# q237: Kendall tau-b between daily volume and daily revenue
# ---------------------------------------------------------------------------

_Q237_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
         CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tie_x,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tie_y
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(conc) AS BIGINT) AS concordant,
       CAST(SUM(disc) AS BIGINT) AS discordant,
       ROUND((SUM(conc) - SUM(disc))
             / SQRT((COUNT(*) - CAST(SUM(tie_x) AS DOUBLE))
                    * (COUNT(*) - CAST(SUM(tie_y) AS DOUBLE))), 6) AS tau_b
FROM pairs GROUP BY event_type ORDER BY event_type
"""


@register(
    "q237_kendall_tau",
    _Q237_SQL,
    doc=(
        "Kendall tau-b between daily event volume and daily revenue "
        "cents per type: concordant/discordant/tie counts from the "
        "O(days^2) pair self-join — quadratic in DAYS (30 -> 435 "
        "pairs/key), NOT in rows, because the fact table is rolled up "
        "to (type, day) integers first; every comparison is exact "
        "integer sign arithmetic, tau-b's tie correction included"
    ),
    tables=("events",),
)
def q237(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long").alias("d"),
        )
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
        )
    )
    a = daily.alias("a")
    b = daily.alias("b")
    dx = F.col("a.x") - F.col("b.x")
    dy = F.col("a.y") - F.col("b.y")
    pairs = (
        a.join(b, F.col("a.event_type") == F.col("b.event_type"))
        .where(F.col("a.d") < F.col("b.d"))
        .select(
            F.col("a.event_type").alias("event_type"),
            F.when(dx * dy > 0, 1).otherwise(0).alias("conc"),
            F.when(dx * dy < 0, 1).otherwise(0).alias("disc"),
            F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tie_x"),
            F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("tie_y"),
        )
    )
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("conc").alias("concordant"),
        F.sum("disc").alias("discordant"),
        F.sum("tie_x").alias("tx"),
        F.sum("tie_y").alias("ty"),
    )
    tau = (F.col("concordant") - F.col("discordant")) / F.sqrt(
        (F.col("n_pairs") - F.col("tx").cast("double"))
        * (F.col("n_pairs") - F.col("ty").cast("double"))
    )
    return s.select(
        "event_type",
        "n_pairs",
        "concordant",
        "discordant",
        F.round(tau, 6).alias("tau_b"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q242: Cramér's V association matrix over categorical pairs
# ---------------------------------------------------------------------------


def _q242_pair_sql(name: str, a: str, b: str) -> str:
    return f"""
SELECT '{name}' AS pair,
       CAST(SUM(o) AS BIGINT) AS n,
       ROUND(SUM(POWER(o - e, 2) / e), 4) AS chi2,
       ROUND(SQRT(SUM(POWER(o - e, 2) / e)
             / (SUM(o) * (LEAST((SELECT COUNT(DISTINCT {a}) FROM base),
                                (SELECT COUNT(DISTINCT {b}) FROM base))
                          - 1))), 6) AS v
FROM (
  SELECT o,
         CAST(ra AS DOUBLE) * rb / tot AS e
  FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS o, {a} AS av, {b} AS bv
    FROM base GROUP BY {a}, {b}
  ) cell
  JOIN (SELECT {a} AS av, CAST(COUNT(*) AS BIGINT) AS ra
        FROM base GROUP BY {a}) x USING (av)
  JOIN (SELECT {b} AS bv, CAST(COUNT(*) AS BIGINT) AS rb
        FROM base GROUP BY {b}) y USING (bv)
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM base) t
)"""


_Q242_SQL = f"""
WITH base AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS BIGINT) AS dow,
         CAST(hour(ts) // 6 AS BIGINT) AS hb
  FROM events
)
{_q242_pair_sql("event_type~dow", "event_type", "dow")}
UNION ALL
{_q242_pair_sql("event_type~hour_bucket", "event_type", "hb")}
UNION ALL
{_q242_pair_sql("dow~hour_bucket", "dow", "hb")}
ORDER BY pair
"""


def _q242_pair(base: DataFrame, name: str, a: str, b: str) -> DataFrame:
    cell = base.groupBy(F.col(a).alias("av"), F.col(b).alias("bv")).agg(
        F.count(F.lit(1)).alias("o")
    )
    ra = base.groupBy(F.col(a).alias("av")).agg(F.count(F.lit(1)).alias("ra"))
    rb = base.groupBy(F.col(b).alias("bv")).agg(F.count(F.lit(1)).alias("rb"))
    tot = base.agg(F.count(F.lit(1)).alias("tot"))
    card = base.agg(
        F.least(
            F.count_distinct(F.col(a)), F.count_distinct(F.col(b))
        ).alias("minrc")
    )
    e = F.col("ra").cast("double") * F.col("rb") / F.col("tot")
    j = (
        cell.join(ra, "av")
        .join(rb, "bv")
        .crossJoin(tot)
        .select("o", e.alias("e"))
    )
    return (
        j.agg(
            F.sum("o").alias("n"),
            F.sum(F.pow(F.col("o") - F.col("e"), 2) / F.col("e")).alias("chi2r"),
        )
        .crossJoin(card)
        .select(
            F.lit(name).alias("pair"),
            F.col("n"),
            F.round("chi2r", 4).alias("chi2"),
            F.round(
                F.sqrt(F.col("chi2r") / (F.col("n") * (F.col("minrc") - 1))), 6
            ).alias("v"),
        )
    )


@register(
    "q242_cramers_v",
    _Q242_SQL,
    doc=(
        "Cramér's V association matrix over the categorical pairs "
        "(event_type, dow, hour-bucket): observed/expected from "
        "integer contingency + marginal rollups (cells joined to "
        "broadcast marginals — the q214 chi2 machinery generalized to "
        "pairwise), V = sqrt(chi2 / (n*(min(r,c)-1))); three cell "
        "rollups over one scan each, every output value derived from "
        "exact integer counts"
    ),
    tables=("events",),
)
def q242(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            % 7
        ).cast("long").alias("dow"),
        F.floor(F.hour("ts") / 6).cast("long").alias("hb"),
    )
    return (
        _q242_pair(base, "event_type~dow", "event_type", "dow")
        .unionByName(
            _q242_pair(base, "event_type~hour_bucket", "event_type", "hb")
        )
        .unionByName(_q242_pair(base, "dow~hour_bucket", "dow", "hb"))
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# q247: Wilson score confidence intervals for per-type proportions
# ---------------------------------------------------------------------------

_Q247_Z = 1.96
_Q247_CUT = 100  # "high-value" event: value >= 100

_Q247_SQL = f"""
WITH s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN value >= {_Q247_CUT} THEN 1 ELSE 0 END)
              AS BIGINT) AS k
  FROM events GROUP BY event_type
)
SELECT event_type, n, k,
       ROUND((CAST(k AS DOUBLE) / n + {_Q247_Z} * {_Q247_Z} / (2 * n)
              - {_Q247_Z} * SQRT((CAST(k AS DOUBLE) / n)
                  * (1 - CAST(k AS DOUBLE) / n) / n
                  + {_Q247_Z} * {_Q247_Z} / (4.0 * n * n)))
             / (1 + {_Q247_Z} * {_Q247_Z} / n), 6) AS lo,
       ROUND((CAST(k AS DOUBLE) / n + {_Q247_Z} * {_Q247_Z} / (2 * n)
              + {_Q247_Z} * SQRT((CAST(k AS DOUBLE) / n)
                  * (1 - CAST(k AS DOUBLE) / n) / n
                  + {_Q247_Z} * {_Q247_Z} / (4.0 * n * n)))
             / (1 + {_Q247_Z} * {_Q247_Z} / n), 6) AS hi
FROM s ORDER BY event_type
"""


@register(
    "q247_wilson_ci",
    _Q247_SQL,
    doc=(
        "Wilson score 95% confidence interval for the per-type "
        "high-value proportion (the interval that behaves at p near "
        "0/1 where the Wald interval collapses): one conditional-sum "
        "rollup per type, closed-form interval from exact integer "
        "(n, k) — identical double arithmetic both engines, no "
        "simulation, no CDF"
    ),
    tables=("events",),
)
def q247(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("value") >= _Q247_CUT, 1).otherwise(0)).alias("k"),
    )
    z = _Q247_Z
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
    denom = 1 + z * z / n
    return s.select(
        "event_type",
        "n",
        "k",
        F.round((center - half) / denom, 6).alias("lo"),
        F.round((center + half) / denom, 6).alias("hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q254: randomization test for a two-group mean difference
# ---------------------------------------------------------------------------

_Q254_N_PERMS = 19
_Q254_SALT = 9973

_Q254_SQL = f"""
WITH base AS (
  SELECT event_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events WHERE event_type IN ('purchase', 'view')
),
stats AS (
  SELECT j,
         CAST(SUM(CASE WHEN gj = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
         CAST(SUM(CASE WHEN gj = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN gj = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
         CAST(SUM(CASE WHEN gj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM (
    SELECT j,
           CASE WHEN j = 0 THEN g
                ELSE {sql_hash_bucket(f"event_id + j * {_Q254_SALT}", 2)}
           END AS gj,
           v
    FROM base CROSS JOIN (
      SELECT * FROM UNNEST(range(0, {_Q254_N_PERMS + 1})) AS u(j)
    )
  ) GROUP BY j
),
diffs AS (
  SELECT j,
         ABS(CAST(s1 AS DOUBLE) * n0 - CAST(s0 AS DOUBLE) * n1) AS absnum,
         CAST(n1 AS DOUBLE) * n0 AS denom,
         (CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) AS diff
  FROM stats
),
obs AS (SELECT absnum, denom, diff FROM diffs WHERE j = 0)
SELECT ROUND(obs.diff / 100, 4) AS obs_diff,
       CAST(COUNT(*) FILTER (WHERE d.j > 0
              AND d.absnum * obs.denom >= obs.absnum * d.denom)
            AS BIGINT) AS n_extreme,
       ROUND((1.0 + COUNT(*) FILTER (WHERE d.j > 0
              AND d.absnum * obs.denom >= obs.absnum * d.denom))
             / (1.0 + {_Q254_N_PERMS}), 4) AS p_value
FROM diffs d CROSS JOIN obs
GROUP BY obs.diff, obs.absnum, obs.denom
"""


@register(
    "q254_randomization_test",
    _Q254_SQL,
    doc=(
        "randomization test for the purchase-vs-view mean-value gap: "
        f"{_Q254_N_PERMS} deterministic hash reassignments (salted "
        "id-hash parity — randomization inference with reproducible "
        "'permutations', the engine-wide no-RNG rule) each recompute "
        "the group-mean difference from integer sums in the SAME "
        "single scan (a 20-way conditional rollup, not 20 passes); "
        "the two-sided p compares |s1*n0 - s0*n1| cross-multiplied — "
        "deterministic double products of exact integers, no "
        "division-order exposure in the DECISION"
    ),
    tables=("events",),
)
def q254(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    js = spark.createDataFrame(
        [(j,) for j in range(_Q254_N_PERMS + 1)], "j LONG"
    )
    assigned = base.crossJoin(F.broadcast(js)).select(
        "j",
        F.when(F.col("j") == 0, F.col("g"))
        .otherwise(
            hash_bucket(
                F.col("event_id") + F.col("j") * _Q254_SALT, 2
            )
        )
        .alias("gj"),
        "v",
    )
    stats = assigned.groupBy("j").agg(
        F.sum(F.when(F.col("gj") == 1, F.col("v")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("gj") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("gj") == 0, F.col("v")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("gj") == 0, 1).otherwise(0)).alias("n0"),
    )
    diffs = stats.select(
        "j",
        F.abs(
            F.col("s1").cast("double") * F.col("n0")
            - F.col("s0").cast("double") * F.col("n1")
        ).alias("absnum"),
        (F.col("n1").cast("double") * F.col("n0")).alias("denom"),
        (
            F.col("s1").cast("double") / F.col("n1")
            - F.col("s0").cast("double") / F.col("n0")
        ).alias("diff"),
    )
    obs = diffs.where(F.col("j") == 0).select(
        F.col("absnum").alias("o_absnum"),
        F.col("denom").alias("o_denom"),
        F.col("diff").alias("o_diff"),
    )
    extreme = F.when(
        (F.col("j") > 0)
        & (F.col("absnum") * F.col("o_denom") >= F.col("o_absnum") * F.col("denom")),
        1,
    ).otherwise(0)
    return (
        diffs.crossJoin(F.broadcast(obs))
        .agg(
            F.round(F.first("o_diff") / 100, 4).alias("obs_diff"),
            F.sum(extreme).cast("long").alias("n_extreme"),
            F.round(
                (1.0 + F.sum(extreme)) / (1.0 + _Q254_N_PERMS), 4
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# q265: Cohen's kappa between two labeling heuristics
# ---------------------------------------------------------------------------

_Q265_CUT_A = 50
_Q265_CUT_B = 40

_Q265_SQL = f"""
WITH lab AS (
  SELECT event_type,
         CASE WHEN value >= {_Q265_CUT_A} THEN 1 ELSE 0 END AS a,
         CASE WHEN value >= {_Q265_CUT_B} THEN 1 ELSE 0 END AS b
  FROM events
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(a * b) AS BIGINT) AS n11,
         CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
         CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
         CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
  FROM lab GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(n11 + n00 AS DOUBLE) / n, 4) AS p_observed,
       ROUND((CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
              + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n, 4)
         AS p_expected,
       ROUND((CAST(n11 + n00 AS DOUBLE) / n
              - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                 + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n)
             / (1 - (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
                     + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / n / n),
             4) AS kappa
FROM s ORDER BY event_type
"""


@register(
    "q265_cohens_kappa",
    _Q265_SQL,
    doc=(
        "Cohen's kappa between two labeling heuristics (value >= 50 "
        "vs the more lenient >= 40 — the annotator-agreement audit "
        "before trusting heuristic labels at scale): the 2x2 "
        "agreement table is ONE conditional rollup of exact integer "
        "counts per type, kappa = (po - pe)/(1 - pe) in closed form "
        "— chance-corrected agreement, where raw overlap (po ~ 0.9 "
        "here) flatters raters that both say 'no' to everything"
    ),
    tables=("events",),
)
def q265(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = F.when(F.col("value") >= _Q265_CUT_A, 1).otherwise(0)
    b = F.when(F.col("value") >= _Q265_CUT_B, 1).otherwise(0)
    s = ev.select("event_type", a.alias("a"), b.alias("b")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("a") * F.col("b")).alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).alias("n00"),
    )
    n = F.col("n")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00"))
    ) / n / n
    return s.select(
        "event_type",
        "n",
        F.round(po, 4).alias("p_observed"),
        F.round(pe, 4).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 4).alias("kappa"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q276: capture-recapture (Lincoln-Petersen) population estimate
# ---------------------------------------------------------------------------

_Q276_W1 = (0, 7)    # capture window 1: days [0, 7)
_Q276_W2 = (14, 21)  # capture window 2: days [14, 21)

_Q276_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
c1 AS (SELECT DISTINCT user_id FROM e
       WHERE d >= {_Q276_W1[0]} AND d < {_Q276_W1[1]}),
c2 AS (SELECT DISTINCT user_id FROM e
       WHERE d >= {_Q276_W2[0]} AND d < {_Q276_W2[1]}),
s AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS n1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS n2,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM c1 WHERE user_id IN (SELECT user_id FROM c2)) AS m,
         (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM e) AS truth
)
SELECT n1, n2, m, truth,
       ROUND(CAST(n1 AS DOUBLE) * n2 / m, 2) AS lincoln_petersen,
       ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 2)
         AS chapman,
       ROUND(ABS(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1 - truth)
             / truth, 4) AS chapman_rel_err
FROM s
"""


@register(
    "q276_capture_recapture",
    _Q276_SQL,
    doc=(
        "capture-recapture population estimation (Lincoln-Petersen + "
        "the bias-corrected Chapman estimator): two disjoint week "
        "windows are the 'captures', overlap m gives N^ = n1*n2/m — "
        "the estimate-the-universe-from-samples trick (how many "
        "distinct users/documents EXIST when you can only afford to "
        "scan samples); two semi-join cardinalities + one distinct "
        "count, and because the fixture's full truth is computable "
        "the output includes the estimator's actual relative error"
    ),
    tables=("events",),
)
def q276(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    c1 = e.where(
        (F.col("d") >= _Q276_W1[0]) & (F.col("d") < _Q276_W1[1])
    ).select("user_id").distinct()
    c2 = e.where(
        (F.col("d") >= _Q276_W2[0]) & (F.col("d") < _Q276_W2[1])
    ).select("user_id").distinct()
    n1 = c1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = c2.agg(F.count(F.lit(1)).alias("n2"))
    m = c1.join(c2, "user_id", "semi").agg(F.count(F.lit(1)).alias("m"))
    truth = e.agg(F.count_distinct("user_id").alias("truth"))
    lp = F.col("n1").cast("double") * F.col("n2") / F.col("m")
    chapman = (
        (F.col("n1") + 1).cast("double") * (F.col("n2") + 1) / (F.col("m") + 1)
        - 1
    )
    return (
        n1.crossJoin(n2)
        .crossJoin(m)
        .crossJoin(truth)
        .select(
            "n1",
            "n2",
            "m",
            "truth",
            F.round(lp, 2).alias("lincoln_petersen"),
            F.round(chapman, 2).alias("chapman"),
            F.round(
                F.abs(chapman - F.col("truth")) / F.col("truth"), 4
            ).alias("chapman_rel_err"),
        )
    )


# ---------------------------------------------------------------------------
# q277: partial correlation (volume~revenue controlling for time)
# ---------------------------------------------------------------------------

_Q277_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS z,
         CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * z) AS BIGINT) AS sxz,
         CAST(SUM(y * z) AS BIGINT) AS syz,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(z * z) AS BIGINT) AS szz
  FROM daily GROUP BY event_type
),
r AS (
  SELECT event_type, n,
         (n * sxy - CAST(sx AS DOUBLE) * sy)
           / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy))
           AS rxy,
         (n * sxz - CAST(sx AS DOUBLE) * sz)
           / SQRT((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz))
           AS rxz,
         (n * syz - CAST(sy AS DOUBLE) * sz)
           / SQRT((n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)
                  * (n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE) * sz))
           AS ryz
  FROM s
)
SELECT event_type, n AS n_days,
       ROUND(rxy, 6) AS r_xy,
       ROUND((rxy - rxz * ryz)
             / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS r_xy_given_t
FROM r ORDER BY event_type
"""


@register(
    "q277_partial_correlation",
    _Q277_SQL,
    doc=(
        "partial correlation of daily volume vs daily revenue "
        "CONTROLLING FOR the time index — r_xy.z = "
        "(r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)), the 'is the "
        "association real or just a shared trend' test that completes "
        "the correlation family (Pearson q240, Spearman q232, Kendall "
        "q237): all three pairwise r's from ONE integer power-sum "
        "rollup of the (type, day) frame, one closed form after"
    ),
    tables=("events",),
)
def q277(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("z"),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"),
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
    )
    n = F.col("n")

    def corr(sab, sa, sb, saa, sbb):
        return (n * F.col(sab) - F.col(sa).cast("double") * F.col(sb)) / F.sqrt(
            (n * F.col(saa).cast("double") - F.col(sa).cast("double") * F.col(sa))
            * (n * F.col(sbb).cast("double") - F.col(sb).cast("double") * F.col(sb))
        )

    rxy = corr("sxy", "sx", "sy", "sxx", "syy")
    rxz = corr("sxz", "sx", "sz", "sxx", "szz")
    ryz = corr("syz", "sy", "sz", "syy", "szz")
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(
            (rxy - rxz * ryz) / F.sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6
        ).alias("r_xy_given_t"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q289: Kruskal-Wallis k-sample rank test (q213's k-group extension)
# ---------------------------------------------------------------------------

_Q289_SQL = """
WITH e AS (
  SELECT event_type AS g, CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
vc AS (
  SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM e GROUP BY v
),
tr AS (
  SELECT v, cnt,
         2 * COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS t2
  FROM vc
),
gv AS (
  SELECT g, v, CAST(COUNT(*) AS BIGINT) AS cg FROM e GROUP BY g, v
),
rg AS (
  SELECT gv.g,
         CAST(SUM(gv.cg) AS BIGINT) AS n_g,
         CAST(SUM(gv.cg * tr.t2) AS BIGINT) AS s2_g
  FROM gv JOIN tr ON tr.v = gv.v
  GROUP BY gv.g
),
tot AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
         SUM(POWER(s2_g / 2.0, 2) / n_g) AS rterm
  FROM rg
),
ties AS (
  SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t3 FROM vc
),
h AS (
  SELECT tot.n,
         12.0 / (tot.n * (tot.n + 1.0)) * tot.rterm - 3 * (tot.n + 1.0)
           AS h_raw,
         1 - CAST(ties.t3 AS DOUBLE)
             / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n) AS c
  FROM tot CROSS JOIN ties
)
SELECT n, CAST((SELECT COUNT(*) FROM rg) AS BIGINT) AS n_groups,
       ROUND(h_raw, 4) AS h,
       ROUND(h_raw / c, 4) AS h_tie_adjusted
FROM h
"""


@register(
    "q289_kruskal_wallis",
    _Q289_SQL,
    doc=(
        "Kruskal-Wallis k-sample rank test (q213 Mann-Whitney's "
        "k-group extension — does ANY type's value distribution "
        "differ): pooled average ranks via the q232 doubled-rank "
        "contingency trick (2·rank stays an exact BIGINT through "
        "ties), per-group rank sums from the (group, value) rollup "
        "joined to the value-domain-sized rank frame (|distinct "
        "cents|, never corpus rows), H with the exact tie "
        "correction 1-Σ(t³-t)/(N³-N); H_adj ~ chi²(k-1) under the "
        "null — ~4 expected on this label-free fixture"
    ),
    tables=("events",),
)
def q289(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    vc = e.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    # value-domain-sized window (|distinct cents|), not corpus-sized
    tr = vc.select(
        "v",
        (
            2 * F.coalesce(F.sum("cnt").over(w), F.lit(0))
            + F.col("cnt")
            + 1
        ).alias("t2"),
    )
    gv = e.groupBy("g", "v").agg(F.count(F.lit(1)).alias("cg"))
    rg = (
        gv.join(tr, "v")
        .groupBy("g")
        .agg(
            F.sum("cg").alias("n_g"),
            F.sum(F.col("cg") * F.col("t2")).alias("s2_g"),
        )
    )
    tot = rg.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("n_g").alias("n"),
        F.sum(F.pow(F.col("s2_g") / 2.0, 2) / F.col("n_g")).alias("rterm"),
    )
    ties = vc.agg(
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("t3")
    )
    n = F.col("n")
    h_raw = 12.0 / (n * (n + 1.0)) * F.col("rterm") - 3 * (n + 1.0)
    c = 1 - F.col("t3").cast("double") / (
        n.cast("double") * n * n - n
    )
    return (
        tot.crossJoin(ties)
        .select(
            "n",
            "n_groups",
            F.round(h_raw, 4).alias("h"),
            F.round(h_raw / c, 4).alias("h_tie_adjusted"),
        )
    )


# ---------------------------------------------------------------------------
# q291: Fleiss' kappa — k-rater chance-corrected agreement
# ---------------------------------------------------------------------------

_Q291_CUTS = (40, 50, 60)  # three heuristic raters

_Q291_SQL = f"""
WITH r AS (
  SELECT event_id,
         {" + ".join(f"CASE WHEN value >= {c} THEN 1 ELSE 0 END" for c in _Q291_CUTS)}
           AS n_pos
  FROM events
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
         CAST(SUM(n_pos * n_pos + (3 - n_pos) * (3 - n_pos)) AS BIGINT)
           AS sq_sum
  FROM r
)
SELECT n AS n_items,
       ROUND((CAST(sq_sum AS DOUBLE) - n * 3) / (n * 3 * 2.0), 6)
         AS p_observed,
       ROUND(POWER(CAST(tot_pos AS DOUBLE) / (n * 3), 2)
             + POWER(1 - CAST(tot_pos AS DOUBLE) / (n * 3), 2), 6)
         AS p_expected,
       ROUND(((CAST(sq_sum AS DOUBLE) - n * 3) / (n * 3 * 2.0)
              - (POWER(CAST(tot_pos AS DOUBLE) / (n * 3), 2)
                 + POWER(1 - CAST(tot_pos AS DOUBLE) / (n * 3), 2)))
             / (1 - (POWER(CAST(tot_pos AS DOUBLE) / (n * 3), 2)
                     + POWER(1 - CAST(tot_pos AS DOUBLE) / (n * 3), 2))),
             6) AS fleiss_kappa
FROM s
"""


@register(
    "q291_fleiss_kappa",
    _Q291_SQL,
    doc=(
        "Fleiss' kappa (1971) — q265's Cohen generalized to THREE "
        "raters (the value>=40/50/60 heuristics): per-item agreement "
        "P_i = (Σ n_ij² - k)/(k(k-1)) reduces to ONE integer rollup "
        "of n_pos and n_pos², chance agreement from the pooled "
        "category shares, kappa closed-form; the three correlated "
        "thresholds agree far above chance but below 1 — the "
        "multi-annotator audit shape"
    ),
    tables=("events",),
)
def q291(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    n_pos = sum(
        (F.when(F.col("value") >= c, 1).otherwise(0) for c in _Q291_CUTS),
        F.lit(0),
    )
    r = ev.select(n_pos.alias("n_pos"))
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_pos").alias("tot_pos"),
        F.sum(
            F.col("n_pos") * F.col("n_pos")
            + (3 - F.col("n_pos")) * (3 - F.col("n_pos"))
        ).alias("sq_sum"),
    )
    n = F.col("n")
    po = (F.col("sq_sum").cast("double") - n * 3) / (n * 3 * 2.0)
    share = F.col("tot_pos").cast("double") / (n * 3)
    pe = F.pow(share, 2) + F.pow(1 - share, 2)
    return s.select(
        n.alias("n_items"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 6).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# q296: Wald SPRT replay (sequential test of the purchase share)
# ---------------------------------------------------------------------------

_Q296_P0 = 0.19
_Q296_P1 = 0.21
_Q296_LNA = 2.9444  # ln((1-beta)/alpha) ~ ln(0.95/0.05), literal
_Q296_LNB = -2.9444

_Q296_SQL = f"""
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS k,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
),
llr AS (
  SELECT d, k, n,
         SUM(k * ROUND(LN({_Q296_P1} / {_Q296_P0}), 6)
             + (n - k) * ROUND(LN((1 - {_Q296_P1}) / (1 - {_Q296_P0})), 6))
           OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS s
  FROM daily
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(MAX(s), 4) AS max_llr,
       ROUND(MIN(s), 4) AS min_llr,
       CAST(MIN(CASE WHEN s >= {_Q296_LNA} THEN d END) AS BIGINT)
         AS accept_h1_day,
       CAST(MIN(CASE WHEN s <= {_Q296_LNB} THEN d END) AS BIGINT)
         AS accept_h0_day
FROM llr
"""


@register(
    "q296_sprt",
    _Q296_SQL,
    doc=(
        "Wald's SPRT (1945) replayed over the daily purchase share — "
        "the sequential test that STOPS as soon as the evidence "
        "crosses a boundary, vs the fixed-n tests q173/q275 size in "
        "advance: the log-likelihood ratio between p0=0.19 and "
        "p1=0.21 accumulates via ONE ordered cumulative window over "
        "the 30-day rollup (per-day increment = k·ln(p1/p0) + "
        "(n−k)·ln(q1/q0), the ln factors ROUND()ed once as shared "
        "scalars), boundaries ±ln(0.95/0.05) as literals; the true "
        "share ~0.198 sits between the hypotheses, so the honest "
        "outcome is often NO decision in 30 days — exactly what SPRT "
        "is supposed to do with inconclusive evidence"
    ),
    tables=("events",),
)
def q296(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("k"),
        F.count(F.lit(1)).alias("n"),
    )
    lp = round(math.log(_Q296_P1 / _Q296_P0), 6)
    lq = round(math.log((1 - _Q296_P1) / (1 - _Q296_P0)), 6)
    seq = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    llr = daily.select(
        "d",
        F.sum(F.col("k") * lp + (F.col("n") - F.col("k")) * lq)
        .over(seq)
        .alias("s"),
    )
    return llr.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.max("s"), 4).alias("max_llr"),
        F.round(F.min("s"), 4).alias("min_llr"),
        F.min(
            F.when(F.col("s") >= _Q296_LNA, F.col("d"))
        ).cast("long").alias("accept_h1_day"),
        F.min(
            F.when(F.col("s") <= _Q296_LNB, F.col("d"))
        ).cast("long").alias("accept_h0_day"),
    )


# ---------------------------------------------------------------------------
# q297: negative-binomial fit of per-user activity (overdispersion)
# ---------------------------------------------------------------------------

_Q297_SQL = """
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1,
         CAST(SUM(c * c) AS BIGINT) AS s2
  FROM per_user
),
mv AS (
  SELECT n,
         CAST(s1 AS DOUBLE) / n AS mean_c,
         (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
           AS var_c
  FROM s
)
SELECT n AS n_users,
       ROUND(mean_c, 4) AS mean_events,
       ROUND(var_c, 4) AS var_events,
       ROUND(var_c / mean_c, 4) AS dispersion,
       ROUND(CASE WHEN var_c > mean_c
             THEN mean_c * mean_c / (var_c - mean_c) END, 4) AS nb_r,
       ROUND(CASE WHEN var_c > mean_c
             THEN mean_c / var_c END, 4) AS nb_p
FROM mv
"""


@register(
    "q297_nbinom_fit",
    _Q297_SQL,
    doc=(
        "negative-binomial (Gamma-Poisson) fit of per-user event "
        "counts by method of moments — THE distribution question "
        "behind capacity planning and q266's clustering correction: "
        "r = m²/(v−m), p = m/v from one integer power-sum rollup; "
        "dispersion v/m > 1 means heterogeneous users (NB), ~1 means "
        "one shared Poisson rate — this fixture sits near 1, "
        "CONSISTENT with q283's rho²~0 and q294's flat entropy (three "
        "independent queries agreeing on the generator's homogeneity); "
        "nb_r/nb_p are NULL when v <= m, where NB degenerates"
    ),
    tables=("events",),
)
def q297(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    n = F.col("n")
    mean_c = F.col("s1").cast("double") / n
    var_c = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / n
    ) / (n - 1)
    return s.select(
        n.alias("n_users"),
        F.round(mean_c, 4).alias("mean_events"),
        F.round(var_c, 4).alias("var_events"),
        F.round(var_c / mean_c, 4).alias("dispersion"),
        F.round(
            F.when(var_c > mean_c, mean_c * mean_c / (var_c - mean_c)), 4
        ).alias("nb_r"),
        F.round(F.when(var_c > mean_c, mean_c / var_c), 4).alias("nb_p"),
    )


# ---------------------------------------------------------------------------
# q314: McNemar paired-classifier test (round 8)
# ---------------------------------------------------------------------------

_Q314_NCHARS = 306  # rule A threshold: global median-ish n_chars
_Q314_SPACES = 60   # rule B threshold: >= 61 whitespace tokens

# Two deterministic rule classifiers predict lang='en' on the SAME
# documents (A: n_chars > 306; B: token count > 60 via space count).
# McNemar tests whether their accuracies differ using only the
# DISCORDANT pairs (b = A right/B wrong, c = B right/A wrong); the
# continuity-corrected statistic (|b-c|-1)^2/(b+c) is a ratio of exact
# integers.  The fixture's lang labels are independent of text (the
# label-free-corpus property pinned in round 7), so the honest result
# is a small statistic; the b+c=0 degenerate branch is NULLIF-guarded
# and pinned by a synthetic test.
_Q314_SQL = f"""
WITH d AS (
  SELECT (n_chars > {_Q314_NCHARS}) = (lang = 'en') AS a_ok,
         ((LENGTH(text) - LENGTH(REPLACE(text, ' ', '')))
            > {_Q314_SPACES}) = (lang = 'en') AS b_ok
  FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN a_ok THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
       CAST(SUM(CASE WHEN b_ok THEN 1 ELSE 0 END) AS BIGINT) AS b_correct,
       CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_a,
       CAST(SUM(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_only_b,
       ROUND(
         CAST(GREATEST(ABS(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                           - SUM(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END))
                       - 1, 0) AS DOUBLE)
         * GREATEST(ABS(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                        - SUM(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END))
                    - 1, 0)
         / NULLIF(CAST(SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
                       + SUM(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END)
                       AS DOUBLE), 0.0), 6) AS mcnemar_chi2
FROM d
"""


@register(
    "q314_mcnemar",
    _Q314_SQL,
    doc=(
        "McNemar paired test for two classifiers evaluated on the SAME "
        "rows (the correct test when comparing models on one eval set "
        "— unpaired z-tests overstate significance): both rule "
        "classifiers and the agreement flags are computed in one "
        "projection, one aggregation derives the discordant cells b/c, "
        "and the continuity-corrected (|b-c|-1)^2/(b+c) statistic is a "
        "ratio of exact BIGINTs (the GREATEST(...,0) clamp handles "
        "|b-c|<=1 the standard way).  One scan, one reduce, no "
        "shuffle wider than the single rollup row; b+c=0 is "
        "NULLIF-guarded (ANSI Spark throws on x/0)"
    ),
    tables=("documents",),
)
def q314(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    en = F.col("lang") == "en"
    a_ok = (F.col("n_chars") > _Q314_NCHARS) == en
    b_ok = (
        F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        > _Q314_SPACES
    ) == en
    d = docs.select(a_ok.alias("a_ok"), b_ok.alias("b_ok"))
    b = F.sum(F.when(F.col("a_ok") & ~F.col("b_ok"), 1).otherwise(0))
    c = F.sum(F.when(F.col("b_ok") & ~F.col("a_ok"), 1).otherwise(0))
    corr = F.greatest(F.abs(b - c) - 1, F.lit(0))
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("a_ok"), 1).otherwise(0)).cast("long").alias("a_correct"),
        F.sum(F.when(F.col("b_ok"), 1).otherwise(0)).cast("long").alias("b_correct"),
        b.cast("long").alias("n_only_a"),
        c.cast("long").alias("n_only_b"),
        F.round(
            corr.cast("double") * corr / F.nullif((b + c).cast("double"), F.lit(0.0)),
            6,
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# q315: Cochran-Armitage trend test (round 8)
# ---------------------------------------------------------------------------

# Dose-response shape: does the fraction of 'F' (fulfilled) orders
# TREND with the ordered priority score x=1..5?  The statistic is
# assembled from five integer power sums (Armitage 1955):
#   A = N*sum(x*r) - R*sum(x*n)          (trend numerator)
#   B = N*sum(x^2*n) - sum(x*n)^2        (score dispersion)
#   Z^2 = N*A^2 / (R*(N-R)*B)
# A and B stay BIGINT (headroom to N ~ 1.5e8); A is CAST to DOUBLE
# before squaring (the q214 overflow lesson).  Priorities are uniform
# over status in the fixture, so the honest statistic is ~chi2(1) noise.
_Q315_SQL = """
WITH g AS (
  SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
              AS BIGINT) AS r,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
         CAST(SUM(x * r) AS BIGINT) AS sxr,
         CAST(SUM(x * n) AS BIGINT) AS sxn,
         CAST(SUM(x * x * n) AS BIGINT) AS sxxn
  FROM g
)
SELECT nn AS n, rr AS n_success,
       CAST(nn * sxr - rr * sxn AS BIGINT) AS trend_num,
       ROUND(nn * CAST(nn * sxr - rr * sxn AS DOUBLE)
                * CAST(nn * sxr - rr * sxn AS DOUBLE)
             / NULLIF(CAST(rr AS DOUBLE) * (nn - rr)
                      * (nn * sxxn - sxn * sxn), 0.0), 6) AS ca_z2
FROM t
"""


@register(
    "q315_cochran_armitage",
    _Q315_SQL,
    doc=(
        "Cochran-Armitage trend test for a binary outcome across "
        "ORDERED groups (the dose-response test chi-squared "
        "independence ignores): per-priority success counts reduce to "
        "five integer power sums, and the z^2 statistic is one "
        "arithmetic expression over them — trend numerator and score "
        "dispersion are exact BIGINT cross-multiplications, the "
        "numerator CAST to DOUBLE before squaring (q214 overflow "
        "lesson), zero denominator NULLIF-guarded.  One scan, one "
        "5-row group frame, one scalar row out; nothing shuffles but "
        "the 5 group rows"
    ),
    tables=("orders",),
)
def q315(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    g = (
        orders.select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("x"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
        )
        .groupBy("x")
        .agg(
            F.sum("f").cast("long").alias("r"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    t = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("x") * F.col("r")).cast("long").alias("sxr"),
        F.sum(F.col("x") * F.col("n")).cast("long").alias("sxn"),
        F.sum(F.col("x") * F.col("x") * F.col("n")).cast("long").alias("sxxn"),
    )
    a = (F.col("nn") * F.col("sxr") - F.col("rr") * F.col("sxn")).cast("double")
    denom = F.nullif(
        F.col("rr").cast("double")
        * (F.col("nn") - F.col("rr"))
        * (F.col("nn") * F.col("sxxn") - F.col("sxn") * F.col("sxn")),
        F.lit(0.0),
    )
    return t.select(
        F.col("nn").alias("n"),
        F.col("rr").alias("n_success"),
        (F.col("nn") * F.col("sxr") - F.col("rr") * F.col("sxn"))
        .cast("long")
        .alias("trend_num"),
        F.round(F.col("nn") * a * a / denom, 6).alias("ca_z2"),
    )


# ---------------------------------------------------------------------------
# q319: Holm step-down FWER control vs BH side-by-side (round 8)
# ---------------------------------------------------------------------------

_Q319_ALPHA = 0.05

_Q319_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS BIGINT) AS dow,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
g AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(v) AS BIGINT) AS s1,
         CAST(SUM(v * v) AS BIGINT) AS s2
  FROM e
),
cell AS (
  SELECT event_type, dow,
         CAST(COUNT(*) AS BIGINT) AS n_c,
         CAST(SUM(v) AS BIGINT) AS s1c
  FROM e GROUP BY event_type, dow
),
z AS (
  SELECT c.event_type, c.dow, c.n_c,
         (CAST(c.s1c AS DOUBLE) / c.n_c - CAST(g.s1 AS DOUBLE) / g.n_g)
         / SQRT(((CAST(g.s2 AS DOUBLE)
                  - CAST(g.s1 AS DOUBLE) * g.s1 / g.n_g) / (g.n_g - 1))
                / c.n_c) AS zs
  FROM cell c CROSS JOIN g
),
p AS (
  SELECT event_type, dow, zs,
         1.0 / (1.0 + zs * zs) AS pv,
         ROW_NUMBER() OVER (ORDER BY 1.0 / (1.0 + zs * zs), event_type, dow)
           AS rn,
         COUNT(*) OVER () AS m
  FROM z
),
k AS (
  SELECT *,
         MIN(CASE WHEN pv * (m - rn + 1) > {_Q319_ALPHA} THEN rn END)
           OVER () AS kfirst,
         MAX(CASE WHEN pv * m <= {_Q319_ALPHA} * rn THEN rn ELSE 0 END)
           OVER () AS kmax
  FROM p
)
SELECT event_type, dow,
       ROUND(zs, 4) AS z,
       ROUND(pv, 6) AS p_surrogate,
       CAST(rn AS BIGINT) AS rn,
       CAST(m AS BIGINT) AS m,
       rn < COALESCE(kfirst, m + 1) AS rejected_holm,
       rn <= kmax AS rejected_bh
FROM k ORDER BY event_type, dow
"""


@register(
    "q319_holm_stepdown",
    _Q319_SQL,
    doc=(
        "Holm step-down FWER control on q234's per-(type,dow) mean-"
        "shift hypotheses, reported SIDE-BY-SIDE with BH step-up so "
        "the reject sets' strictness ordering (Holm is always a "
        "subset at the same alpha) is visible in one frame: the cell "
        "z's come from integer power sums, the rational surrogate "
        "p=1/(1+z^2) keeps the rank procedure engine-exact, and both "
        "procedures run on the 35-row post-aggregation frame "
        "(operators/multitest.holm_stepdown + bh_stepup — the "
        "documented bounded-window exception).  Fixture answer: zero "
        "rejections from either (the honest null); the reject branch "
        "and the subset property are pinned by planted tests"
    ),
    tables=("events",),
)
def q319(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.multitest import (
        holm_stepdown,
    )

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            % 7
        ).cast("long").alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    g = e.agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    cell = e.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("v").alias("s1c")
    )
    var_g = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_g")
    ) / (F.col("n_g") - 1)
    zs = (
        F.col("s1c").cast("double") / F.col("n_c")
        - F.col("s1").cast("double") / F.col("n_g")
    ) / F.sqrt(var_g / F.col("n_c"))
    p = (
        cell.crossJoin(g)
        .select("event_type", "dow", zs.alias("zs"))
        .withColumn("pv", 1.0 / (1.0 + F.col("zs") * F.col("zs")))
    )
    # both procedures on the 35-row hypothesis frame; BH's rank/m are
    # identical to Holm's (same order spec), so join back on the keys
    hs = holm_stepdown(p, "pv", _Q319_ALPHA, tie_cols=("event_type", "dow"))
    hb = bh_stepup(p, "pv", _Q319_ALPHA, tie_cols=("event_type", "dow")).select(
        "event_type", "dow", F.col("rejected").alias("rejected_bh")
    )
    return (
        hs.join(hb, ["event_type", "dow"])
        .select(
            "event_type",
            "dow",
            F.round("zs", 4).alias("z"),
            F.round("pv", 6).alias("p_surrogate"),
            F.col("rn").cast("long").alias("rn"),
            F.col("m").cast("long").alias("m"),
            F.col("rejected").alias("rejected_holm"),
            "rejected_bh",
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# q328: empirical-Bayes (beta-binomial) shrinkage of per-user rates
# ---------------------------------------------------------------------------

# James-Stein-style partial pooling, the standard cure for "the best
# item is the one with 1/1 successes": fit Beta(alpha, beta) to the
# population of per-user purchase proportions by method of moments
# (Morris 1983 lineage; the baseball-batting-average classic), then
# report each user's posterior-mean rate (x + alpha)/(n + alpha +
# beta).  The fit is two float power sums over the per-user rollup
# (map-side combinable; the add-order drift is absorbed by 4dp on
# alpha/beta and 6dp on rates), everything else is exact-integer
# arithmetic.  Output is a deterministic 5% hash panel of users — a
# float-ranked top-k would make the row SET ulp-sensitive.
_Q328_MIN_N = 5
_Q328_PANEL = 5

_Q328_SQL = f"""
WITH u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS x
  FROM events GROUP BY user_id
),
f AS (SELECT x * 1.0 / n AS p FROM u WHERE n >= {_Q328_MIN_N}),
mo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nu, SUM(p) AS s1, SUM(p * p) AS s2
  FROM f
),
ab AS (
  SELECT nu, s1 / nu AS pbar,
         (s2 - s1 * s1 / nu) / (nu - 1) AS v
  FROM mo
),
ab2 AS (
  SELECT nu, pbar,
         pbar * (pbar * (1 - pbar) / NULLIF(v, 0.0) - 1) AS alpha,
         (1 - pbar) * (pbar * (1 - pbar) / NULLIF(v, 0.0) - 1) AS beta
  FROM ab
)
SELECT u.user_id, u.n, u.x,
       ROUND(u.x * 1.0 / u.n, 6) AS raw_rate,
       ROUND((u.x + alpha) / (u.n + alpha + beta), 6) AS shrunk_rate,
       ROUND(alpha, 4) AS alpha, ROUND(beta, 4) AS beta
FROM u CROSS JOIN ab2
WHERE {sql_hash_bucket("u.user_id")} < {_Q328_PANEL}
ORDER BY u.user_id
"""


@register(
    "q328_empirical_bayes",
    _Q328_SQL,
    doc=(
        "empirical-Bayes beta-binomial shrinkage of per-user purchase "
        "rates (method-of-moments Beta fit over the population of "
        "proportions, posterior-mean rate (x+a)/(n+a+b) — the "
        "partial-pooling cure for small-n rate rankings): one keyed "
        "per-user rollup feeds a two-float-power-sum moment frame "
        "(map-side combinable; 4dp absorbs add-order drift), the "
        "1-row (alpha, beta) frame broadcasts back over a "
        f"deterministic {_Q328_PANEL}% hash panel (never a float-"
        "ranked top-k — the row SET would be ulp-sensitive), zero "
        "variance NULLIF-guarded.  Honest fixture answer: alpha~13, "
        "beta~54 — heavy shrinkage, because per-user n~40 barely "
        "outweighs the tight population prior"
    ),
    tables=("events",),
)
def q328(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    u = truncate_lineage(
        ev.groupBy("user_id").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long")
            .alias("x"),
        )
    )
    p = F.col("x") * F.lit(1.0) / F.col("n")
    mo = u.where(F.col("n") >= _Q328_MIN_N).agg(
        F.count(F.lit(1)).cast("long").alias("nu"),
        F.sum(p).alias("s1"),
        F.sum(p * p).alias("s2"),
    )
    pbar = F.col("s1") / F.col("nu")
    v = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("nu")) / (
        F.col("nu") - 1
    )
    k = pbar * (1 - pbar) / F.nullif(v, F.lit(0.0)) - 1
    ab = mo.select(
        (pbar * k).alias("alpha"), ((1 - pbar) * k).alias("beta")
    )
    return (
        u.where(hash_bucket("user_id", 100) < _Q328_PANEL)
        .crossJoin(ab)
        .select(
            "user_id",
            "n",
            "x",
            F.round(F.col("x") * F.lit(1.0) / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round(
                (F.col("x") + F.col("alpha"))
                / (F.col("n") + F.col("alpha") + F.col("beta")),
                6,
            ).alias("shrunk_rate"),
            F.round("alpha", 4).alias("alpha"),
            F.round("beta", 4).alias("beta"),
        )
        .orderBy("user_id")
    )

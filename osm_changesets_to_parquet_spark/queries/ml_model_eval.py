"""Model evaluation: operating points, calibration, validation protocols.

The measurement half of the model family (round-10 regrouping moved
the FITTING queries to ml_model_fit.py; mechanical relocation, zero
behavior change — pre/post registry hash dump): threshold sweeps
(q233), calibration bins (q239), conformal intervals (q246),
leave-one-out target encoding (q251), k-fold CV (q252), learning
curves (q253), WoE/IV (q269), engagement AUC (q279), cost-optimal
thresholds (q280), subgroup AUC gaps (q287), and Brier decomposition
(q302).

House rules (SURVEY §2.B): every float output is ROUND()ed on the
same double both sides; deterministic hash splits come from the
operators/quality.py Knuth-hash authority; every result has a total
order.
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
# q233: operating-point sweep (precision/recall/F1 per threshold)
# ---------------------------------------------------------------------------

_Q233_THRESHOLDS = (1, 5, 10, 20, 50, 100, 200)


_Q233_SQL = f"""
WITH t(thr) AS (
  SELECT * FROM (VALUES {", ".join(f"({t})" for t in _Q233_THRESHOLDS)}) v(thr)
),
base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos, value
  FROM events
)
SELECT CAST(thr AS BIGINT) AS thr,
       CAST(SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(SUM(CASE WHEN pos = 0 AND value >= thr THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN pos = 1 AND value < thr THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       ROUND(SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0 END) * 1.0
             / NULLIF(SUM(CASE WHEN value >= thr THEN 1 ELSE 0 END), 0),
             6) AS precision_,
       ROUND(SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0 END) * 1.0
             / NULLIF(SUM(pos), 0), 6) AS recall_,
       ROUND(2.0 * SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0 END)
             / NULLIF(2 * SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0
                              END)
                      + SUM(CASE WHEN pos = 0 AND value >= thr THEN 1 ELSE 0
                            END)
                      + SUM(CASE WHEN pos = 1 AND value < thr THEN 1 ELSE 0
                            END), 0), 6) AS f1
FROM base CROSS JOIN t
GROUP BY thr ORDER BY thr
"""


@register(
    "q233_threshold_sweep",
    _Q233_SQL,
    doc=(
        "classifier operating-point sweep (is the event a purchase, "
        "scored by its value): TP/FP/FN + precision/recall/F1 at 7 "
        "thresholds in ONE scan — each threshold is a pair of "
        "conditional sums in a single aggregate (map-side combined to "
        "one 14-column row), then the 1-row frame is unpivoted with "
        "stack(); the oracle's VALUES-cross-join rescans per "
        "threshold, the engine never does"
    ),
    tables=("events",),
)
def q233(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pos = F.col("event_type") == "purchase"
    aggs = []
    for t in _Q233_THRESHOLDS:
        hit = F.col("value") >= t
        aggs.append(
            F.sum(F.when(pos & hit, 1).otherwise(0)).alias(f"tp_{t}")
        )
        aggs.append(
            F.sum(F.when(~pos & hit, 1).otherwise(0)).alias(f"fp_{t}")
        )
        aggs.append(
            F.sum(F.when(pos & ~hit, 1).otherwise(0)).alias(f"fn_{t}")
        )
    one = ev.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), tp_{t}, fp_{t}, fn_{t}"
        for t in _Q233_THRESHOLDS
    )
    rows = one.selectExpr(
        f"stack({len(_Q233_THRESHOLDS)}, {stack_args}) AS (thr, tp, fp, fn)"
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return (
        rows.select(
            "thr",
            "tp",
            "fp",
            "fn",
            F.round(tp * 1.0 / F.nullif(tp + fp, F.lit(0)), 6).alias(
                "precision_"
            ),
            F.round(tp * 1.0 / F.nullif(tp + fn, F.lit(0)), 6).alias(
                "recall_"
            ),
            F.round(
                2.0 * tp / F.nullif(2 * tp + fp + fn, F.lit(0)), 6
            ).alias("f1"),
        )
        .orderBy("thr")
    )


# ---------------------------------------------------------------------------
# q239: calibration bins + Brier score for a pseudo-probability
# ---------------------------------------------------------------------------

_Q239_SQL = """
WITH scored AS (
  SELECT CAST(FLOOR(value * 10000 / (value + 50)) AS BIGINT) AS s_bp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
)
SELECT CAST(FLOOR(s_bp / 1000.0) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(SUM(s_bp) AS DOUBLE) / (COUNT(*) * 10000.0), 6)
         AS mean_pred,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
       ROUND(CAST(SUM((s_bp - 10000 * y) * (s_bp - 10000 * y)) AS DOUBLE)
             / (COUNT(*) * 100000000.0), 6) AS brier
FROM scored GROUP BY 1 ORDER BY 1
"""


@register(
    "q239_calibration_bins",
    _Q239_SQL,
    doc=(
        "reliability diagram + per-bin Brier score for the "
        "value-derived pseudo-probability s = v/(v+50) of an event "
        "being a purchase: the score is quantized to integer BASIS "
        "POINTS at the scan (FLOOR of a deterministic double), so "
        "every downstream sum — mean prediction, positive rate, and "
        "the Brier (s_bp - 10000y)^2 — is exact order-independent "
        "integer arithmetic; one scan, |bins| output rows"
    ),
    tables=("events",),
)
def q239(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.floor(
            F.col("value") * 10000 / (F.col("value") + 50)
        ).cast("long").alias("s_bp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    err = F.col("s_bp") - 10000 * F.col("y")
    return (
        scored.groupBy(
            F.floor(F.col("s_bp") / 1000.0).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("s_bp").cast("double") / (F.count(F.lit(1)) * 10000.0), 6
            ).alias("mean_pred"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("frac_pos"),
            F.round(
                F.sum(err * err).cast("double")
                / (F.count(F.lit(1)) * 100000000.0),
                6,
            ).alias("brier"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q246: split-conformal prediction intervals (per-type, integer-exact)
# ---------------------------------------------------------------------------

_Q246_ALPHA_PCT = 10  # target 90% coverage


_Q246_SQL = f"""
WITH e AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS v,
         {sql_hash_bucket("event_id", 100)} AS b
  FROM events
),
model AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(v) AS BIGINT) AS s1
  FROM e WHERE b < 60 GROUP BY event_type
),
cal AS (
  SELECT e.event_type, ABS(e.v * m.n_t - m.s1) AS resid, m.n_t, m.s1
  FROM e JOIN model m ON m.event_type = e.event_type
  WHERE e.b >= 60 AND e.b < 80
),
qidx AS (
  SELECT event_type, n_t, s1,
         CAST(COUNT(*) AS BIGINT) AS n_cal,
         ((COUNT(*) + 1) * (100 - {_Q246_ALPHA_PCT}) + 99) // 100 AS k
  FROM cal GROUP BY event_type, n_t, s1
),
qhat AS (
  SELECT c.event_type, q.n_cal, q.n_t, q.s1, c.resid AS qh
  FROM (
    SELECT event_type, resid,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY resid) AS rn
    FROM cal
  ) c JOIN qidx q ON q.event_type = c.event_type AND c.rn = q.k
),
test AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(e.v * h.n_t - h.s1) <= h.qh
                       THEN 1 ELSE 0 END) AS BIGINT) AS covered
  FROM e JOIN qhat h ON h.event_type = e.event_type
  WHERE e.b >= 80 GROUP BY e.event_type
)
SELECT h.event_type, h.n_cal, t.n_test,
       ROUND(CAST(h.qh AS DOUBLE) / h.n_t / 100, 4) AS qhat_value,
       ROUND(CAST(t.covered AS DOUBLE) / t.n_test, 4) AS coverage
FROM qhat h JOIN test t ON t.event_type = h.event_type
ORDER BY h.event_type
"""


@register(
    "q246_conformal_interval",
    _Q246_SQL,
    doc=(
        "split-conformal prediction intervals per type (model = "
        "train-split mean, nonconformity = |value - mean|): the "
        "60/20/20 hash split is the q70 discipline; residuals are "
        "SCALED to |v*n_t - s1| so every comparison is EXACT integer "
        "arithmetic (the per-type scale factor is order-preserving), "
        "q-hat is the ceil((n+1)(1-alpha))-th order statistic via a "
        "per-type rank window (bounded by the calibration split; "
        "respell through packing.global_rank if one type outgrows an "
        "executor), and held-out coverage must land near 1-alpha — "
        "the conformal guarantee (Vovk; Angelopoulos & Bates 2023)"
    ),
    tables=("events",),
)
def q246(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
        hash_bucket("event_id", 100).alias("b"),
    )
    model = (
        e.where(F.col("b") < 60)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_t"), F.sum("v").alias("s1"))
    )
    cal = (
        e.where((F.col("b") >= 60) & (F.col("b") < 80))
        .join(F.broadcast(model), "event_type")
        .select(
            "event_type",
            F.abs(F.col("v") * F.col("n_t") - F.col("s1")).alias("resid"),
            "n_t",
            "s1",
        )
    )
    qidx = cal.groupBy("event_type", "n_t", "s1").agg(
        F.count(F.lit(1)).alias("n_cal"),
    ).withColumn(
        "k",
        F.expr(f"((n_cal + 1) * (100 - {_Q246_ALPHA_PCT}) + 99) div 100"),
    )
    w = Window.partitionBy("event_type").orderBy("resid")
    ranked = cal.select(
        F.col("event_type").alias("et_r"),
        "resid",
        F.row_number().over(w).alias("rn"),
    )
    qhat = ranked.join(
        F.broadcast(qidx),
        (F.col("et_r") == F.col("event_type")) & (F.col("rn") == F.col("k")),
    ).select(
        "event_type",
        "n_cal",
        "n_t",
        "s1",
        F.col("resid").alias("qh"),
    )
    test = (
        e.where(F.col("b") >= 80)
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("v") * F.col("n_t") - F.col("s1"))
                    <= F.col("qh"),
                    1,
                ).otherwise(0)
            ).alias("covered"),
        )
    )
    return (
        qhat.join(test, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            F.round(F.col("qh").cast("double") / F.col("n_t") / 100, 4).alias(
                "qhat_value"
            ),
            F.round(
                F.col("covered").cast("double") / F.col("n_test"), 4
            ).alias("coverage"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q251: leave-one-out target encoding (the leakage-safe spelling)
# ---------------------------------------------------------------------------

_Q251_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS BIGINT) AS dow,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(v) AS BIGINT) AS s_t
  FROM e GROUP BY event_type
),
enc AS (
  SELECT e.dow,
         CAST(s.s_t - e.v AS DOUBLE) / (s.n_t - 1) AS loo,
         e.v
  FROM e JOIN stats s ON s.event_type = e.event_type
)
SELECT dow,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(loo) / 100, 4) AS mean_loo,
       ROUND(MIN(loo) / 100, 4) AS min_loo,
       ROUND(MAX(loo) / 100, 4) AS max_loo
FROM enc GROUP BY dow ORDER BY dow
"""


@register(
    "q251_target_encoding_loo",
    _Q251_SQL,
    doc=(
        "leave-one-out target encoding of event_type by mean value "
        "(the leakage-safe categorical featurization: each row's "
        "encoding (s_t - v)/(n_t - 1) EXCLUDES its own target, so "
        "the feature never memorizes the row): per-type (n, s) "
        "integer sums broadcast back onto the scan — one rollup + "
        "one map-side join, the encoded column never shuffles; "
        "reported as per-dow distribution of the encodings "
        "(cross-grouping shows the encoding varies only through "
        "composition, the no-leakage signature)"
    ),
    tables=("events",),
)
def q251(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        (
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            % 7
        ).cast("long").alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("v").alias("s_t")
    )
    loo = (F.col("s_t") - F.col("v")).cast("double") / (F.col("n_t") - 1)
    enc = e.join(stats, "event_type").select(
        "dow", loo.alias("loo")
    )
    return (
        enc.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("loo") / 100, 4).alias("mean_loo"),
            F.round(F.min("loo") / 100, 4).alias("min_loo"),
            F.round(F.max("loo") / 100, 4).alias("max_loo"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q252: k-fold cross-validation in ONE pass (no k training passes)
# ---------------------------------------------------------------------------

_Q252_FOLDS = 5


_Q252_SQL = f"""
WITH e AS (
  SELECT event_type,
         {sql_hash_bucket("event_id", _Q252_FOLDS)} AS fold,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
per_fold AS (
  SELECT event_type, fold,
         CAST(COUNT(*) AS BIGINT) AS n_f,
         CAST(SUM(v) AS BIGINT) AS s_f
  FROM e GROUP BY event_type, fold
),
per_type AS (
  SELECT event_type,
         CAST(SUM(n_f) AS BIGINT) AS n_t,
         CAST(SUM(s_f) AS BIGINT) AS s_t
  FROM per_fold GROUP BY event_type
),
err AS (
  SELECT e.event_type, e.fold,
         ABS(e.v * (t.n_t - f.n_f) - (t.s_t - f.s_f)) AS num,
         t.n_t - f.n_f AS denom
  FROM e
  JOIN per_fold f ON f.event_type = e.event_type AND f.fold = e.fold
  JOIN per_type t ON t.event_type = e.event_type
)
SELECT event_type, CAST(fold AS BIGINT) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_fold,
       ROUND(CAST(SUM(num) AS DOUBLE) / ANY_VALUE(denom) / COUNT(*) / 100, 4)
         AS mae
FROM err GROUP BY event_type, fold ORDER BY event_type, fold
"""


@register(
    "q252_kfold_cv",
    _Q252_SQL,
    doc=(
        f"{_Q252_FOLDS}-fold cross-validation of the per-type mean "
        "predictor in ONE data pass: held-out fold f's model is "
        "(s_t - s_f)/(n_t - n_f) — train-on-the-other-folds by "
        "SUBTRACTION from the total sums, never k re-scans (the "
        "scale point: k-fold CV of any sufficient-statistic model is "
        "one rollup + one broadcast join); absolute errors are "
        "scaled to |v*(n_t-n_f) - (s_t-s_f)| so every sum is exact "
        "integer arithmetic, divided once per (type, fold) cell"
    ),
    tables=("events",),
)
def q252(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        hash_bucket("event_id", _Q252_FOLDS).alias("fold"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    per_fold = e.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).alias("n_f"), F.sum("v").alias("s_f")
    )
    per_type = per_fold.groupBy("event_type").agg(
        F.sum("n_f").alias("n_t"), F.sum("s_f").alias("s_t")
    )
    err = (
        e.join(F.broadcast(per_fold), ["event_type", "fold"])
        .join(per_type, "event_type")
        .select(
            "event_type",
            "fold",
            F.abs(
                F.col("v") * (F.col("n_t") - F.col("n_f"))
                - (F.col("s_t") - F.col("s_f"))
            ).alias("num"),
            (F.col("n_t") - F.col("n_f")).alias("denom"),
        )
    )
    return (
        err.groupBy("event_type", F.col("fold").cast("long").alias("fold"))
        .agg(
            F.count(F.lit(1)).alias("n_fold"),
            F.round(
                F.sum("num").cast("double")
                / F.first("denom")
                / F.count(F.lit(1))
                / 100,
                4,
            ).alias("mae"),
        )
        .orderBy("event_type", "fold")
    )


# ---------------------------------------------------------------------------
# q253: learning curve (nested hash subsets, fixed held-out test)
# ---------------------------------------------------------------------------

_Q253_SIZES = (10, 20, 40, 80)


_Q253_SQL = f"""
WITH e AS (
  SELECT event_type,
         {sql_hash_bucket("event_id", 100)} AS b,
         CAST(ROUND(value * 100) AS BIGINT) AS v
  FROM events
),
sizes(p) AS (
  SELECT * FROM (VALUES {", ".join(f"({p})" for p in _Q253_SIZES)}) v(p)
),
train AS (
  SELECT s.p, e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_p,
         CAST(SUM(e.v) AS BIGINT) AS s_p
  FROM e CROSS JOIN sizes s WHERE e.b < s.p
  GROUP BY s.p, e.event_type
),
test_err AS (
  SELECT t.p, e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(ABS(e.v * t.n_p - t.s_p)) AS BIGINT) AS num,
         ANY_VALUE(t.n_p) AS n_p
  FROM e JOIN train t ON t.event_type = e.event_type
  WHERE e.b >= 80
  GROUP BY t.p, e.event_type
)
SELECT event_type, CAST(p AS BIGINT) AS train_pct, n_p AS n_train, n_test,
       ROUND(CAST(num AS DOUBLE) / n_p / n_test / 100, 4) AS mae
FROM test_err ORDER BY event_type, train_pct
"""


@register(
    "q253_learning_curve",
    _Q253_SQL,
    doc=(
        "learning curve of the per-type mean predictor: NESTED "
        "deterministic train subsets (bucket < 10/20/40/80 — each is "
        "a superset of the last, the sample-efficiency diagnostic's "
        "requirement) against one fixed held-out test (bucket >= "
        "80); per-size sufficient statistics from one conditional "
        "rollup, test errors scaled to |v*n_p - s_p| integers, one "
        "division per (type, size) cell — 4 curves, 2 scans, no "
        "per-size re-training pass"
    ),
    tables=("events",),
)
def q253(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        hash_bucket("event_id", 100).alias("b"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    sizes = spark.createDataFrame([(p,) for p in _Q253_SIZES], "p LONG")
    train = (
        e.crossJoin(F.broadcast(sizes))
        .where(F.col("b") < F.col("p"))
        .groupBy("p", "event_type")
        .agg(F.count(F.lit(1)).alias("n_p"), F.sum("v").alias("s_p"))
    )
    test_err = (
        e.where(F.col("b") >= 80)
        .join(F.broadcast(train), "event_type")
        .groupBy("p", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.abs(F.col("v") * F.col("n_p") - F.col("s_p"))
            ).alias("num"),
            F.first("n_p").alias("n_p"),
        )
    )
    return test_err.select(
        "event_type",
        F.col("p").alias("train_pct"),
        F.col("n_p").alias("n_train"),
        "n_test",
        F.round(
            F.col("num").cast("double") / F.col("n_p") / F.col("n_test") / 100,
            4,
        ).alias("mae"),
    ).orderBy("event_type", "train_pct")


# ---------------------------------------------------------------------------
# q269: weight-of-evidence bins + information value (scorecard classic)
# ---------------------------------------------------------------------------

_Q269_BINS = 10


_Q269_SQL = f"""
WITH base AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
binned AS (
  SELECT NTILE({_Q269_BINS}) OVER (ORDER BY v, y DESC) AS bin, y
  FROM base
),
cell AS (
  SELECT bin,
         CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM binned GROUP BY bin
),
tot AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS tp, CAST(SUM(neg) AS BIGINT) AS tn
  FROM cell
)
SELECT CAST(bin AS BIGINT) AS bin, pos, neg,
       ROUND(LN((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)), 6)
         AS woe,
       ROUND((CAST(pos AS DOUBLE) / tp - CAST(neg AS DOUBLE) / tn)
             * LN((CAST(pos AS DOUBLE) / tp) / (CAST(neg AS DOUBLE) / tn)),
             6) AS iv_term
FROM cell CROSS JOIN tot
ORDER BY bin
"""


@register(
    "q269_woe_iv",
    _Q269_SQL,
    doc=(
        f"weight-of-evidence binning + information value ({_Q269_BINS} "
        "equal-frequency bins of value vs the purchase label — the "
        "credit-scorecard feature-strength classic complementing q214 "
        "chi2 and q188 MI): the NTILE order is made TOTAL by the "
        "(v, y DESC) tie-break (cents collide across rows, and an "
        "untied NTILE would split ties engine-arbitrarily), per-bin "
        "(pos, neg) are exact integer counts, WoE/IV are one ln per "
        "bin rounded 6dp; IV = sum of iv_term — near 0 here because "
        "the fixture's value is label-independent, which is the "
        "honest null"
    ),
    tables=("events",),
)
def q269(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    # global NTILE over the full table: the one corpus-sized window in
    # this query — respell via packing.global_rank + integer bin
    # arithmetic at 100 TB (q137's documented path); kept direct here
    # to witness NTILE itself
    w = Window.orderBy(F.col("v"), F.col("y").desc())
    binned = base.select(F.ntile(_Q269_BINS).over(w).alias("bin"), "y")
    cell = binned.groupBy("bin").agg(
        F.sum("y").alias("pos"),
        F.sum(1 - F.col("y")).alias("neg"),
    )
    tot = cell.agg(
        F.sum("pos").alias("tp"), F.sum("neg").alias("tn")
    )
    pr = F.col("pos").cast("double") / F.col("tp")
    nr = F.col("neg").cast("double") / F.col("tn")
    woe = F.log(pr / nr)
    return (
        cell.crossJoin(tot)
        .select(
            F.col("bin").cast("long").alias("bin"),
            "pos",
            "neg",
            F.round(woe, 6).alias("woe"),
            F.round((pr - nr) * woe, 6).alias("iv_term"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q279: future-engagement AUC (temporal label/score split)
# ---------------------------------------------------------------------------

_Q279_HEAVY = 16  # label: >= 16 events in the final week (~median)


_Q279_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
h AS (SELECT CAST(MAX(d) AS BIGINT) AS max_d FROM e),
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN d <= h.max_d - 14 THEN 1 ELSE 0 END) AS BIGINT)
           AS early,
         CASE WHEN SUM(CASE WHEN d > h.max_d - 7 THEN 1 ELSE 0 END)
                   >= {_Q279_HEAVY} THEN 1 ELSE 0 END AS heavy
  FROM e CROSS JOIN h GROUP BY user_id
),
s AS (
  SELECT early AS score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(heavy) AS BIGINT) AS pos
  FROM per_user GROUP BY early
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
         CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(cnt - pos) AS BIGINT) AS nneg
  FROM c
)
SELECT npos AS n_heavy, nneg AS n_light,
       ROUND((rank_sum - CAST(npos AS DOUBLE) * (npos + 1) / 2.0)
             / (CAST(npos AS DOUBLE) * nneg), 6) AS auc
FROM t
"""


@register(
    "q279_engagement_auc",
    _Q279_SQL,
    doc=(
        "future-engagement prediction eval with a TEMPORAL split (the "
        "label-leakage trap this query demonstrates avoiding: score = "
        "activity up to day max-14, label = heavy usage in the LAST "
        "week — disjoint windows, so the score cannot contain its own "
        "label; a recency score against a recency label would fake "
        "AUC ~1 — and on this always-active fixture a churn label has "
        "NO negatives at any scale, which is why the target is the "
        "heavy/light median split): q172's tie-aware rank-sum AUC "
        "over the |distinct scores| rollup"
    ),
    tables=("events",),
)
def q279(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    h = e.agg(F.max("d").alias("max_d"))
    per_user = (
        e.crossJoin(h)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") <= F.col("max_d") - 14, 1).otherwise(0)
            ).alias("early"),
            F.when(
                F.sum(
                    F.when(F.col("d") > F.col("max_d") - 7, 1).otherwise(0)
                )
                >= _Q279_HEAVY,
                1,
            ).otherwise(0).alias("heavy"),
        )
    )
    s = per_user.groupBy(F.col("early").alias("score")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("heavy").alias("pos")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = s.withColumn("below", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    t = c.agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1) / 2.0)
        ).alias("rank_sum"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nneg"),
    )
    return t.select(
        F.col("npos").alias("n_heavy"),
        F.col("nneg").alias("n_light"),
        F.round(
            (
                F.col("rank_sum")
                - F.col("npos").cast("double") * (F.col("npos") + 1) / 2.0
            )
            / (F.col("npos").cast("double") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# q280: cost-sensitive threshold choice (decision-theoretic q233)
# ---------------------------------------------------------------------------

_Q280_V_TP = 5


_Q280_C_FP = 1


_Q280_C_FN = 2


_Q280_SQL = f"""
WITH t(thr) AS (
  SELECT * FROM (VALUES {", ".join(f"({t})" for t in _Q233_THRESHOLDS)}) v(thr)
),
base AS (
  SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos, value
  FROM events
),
m AS (
  SELECT CAST(thr AS BIGINT) AS thr,
         CAST(SUM(CASE WHEN pos = 1 AND value >= thr THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN pos = 0 AND value >= thr THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN pos = 1 AND value < thr THEN 1 ELSE 0 END)
              AS BIGINT) AS fn
  FROM base CROSS JOIN t GROUP BY thr
)
SELECT thr, tp, fp, fn,
       CAST({_Q280_V_TP} * tp - {_Q280_C_FP} * fp - {_Q280_C_FN} * fn
            AS BIGINT) AS profit,
       ({_Q280_V_TP} * tp - {_Q280_C_FP} * fp - {_Q280_C_FN} * fn) =
         MAX({_Q280_V_TP} * tp - {_Q280_C_FP} * fp - {_Q280_C_FN} * fn)
           OVER () AS is_best
FROM m ORDER BY thr
"""


@register(
    "q280_cost_threshold",
    _Q280_SQL,
    doc=(
        "cost-sensitive threshold choice — q233's sweep made "
        f"decision-theoretic: profit(t) = {_Q280_V_TP}·TP − "
        f"{_Q280_C_FP}·FP − {_Q280_C_FN}·FN with an asymmetric cost "
        "matrix (a missed purchase costs twice a false alert), "
        "argmax flagged over the |thresholds|-row frame; exact "
        "integer profit arithmetic — the operating point a business "
        "actually deploys is rarely max-F1"
    ),
    tables=("events",),
)
def q280(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    pos = F.col("event_type") == "purchase"
    aggs = []
    for t in _Q233_THRESHOLDS:
        hit = F.col("value") >= t
        aggs.append(F.sum(F.when(pos & hit, 1).otherwise(0)).alias(f"tp_{t}"))
        aggs.append(F.sum(F.when(~pos & hit, 1).otherwise(0)).alias(f"fp_{t}"))
        aggs.append(F.sum(F.when(pos & ~hit, 1).otherwise(0)).alias(f"fn_{t}"))
    one = ev.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS BIGINT), tp_{t}, fp_{t}, fn_{t}"
        for t in _Q233_THRESHOLDS
    )
    rows = one.selectExpr(
        f"stack({len(_Q233_THRESHOLDS)}, {stack_args}) AS (thr, tp, fp, fn)"
    )
    profit = (
        _Q280_V_TP * F.col("tp")
        - _Q280_C_FP * F.col("fp")
        - _Q280_C_FN * F.col("fn")
    )
    whole = Window.partitionBy().orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        rows.withColumn("profit", profit.cast("long"))
        .withColumn("is_best", F.col("profit") == F.max("profit").over(whole))
        .orderBy("thr")
    )


# ---------------------------------------------------------------------------
# q287: subgroup metric gap (per-group AUC disparity)
# ---------------------------------------------------------------------------

_Q287_SQL = f"""
WITH e AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
h AS (SELECT CAST(MAX(d) AS BIGINT) AS max_d FROM e),
per_user AS (
  SELECT user_id, {sql_hash_bucket("user_id", 2)} AS grp,
         CAST(SUM(CASE WHEN d <= h.max_d - 14 THEN 1 ELSE 0 END) AS BIGINT)
           AS early,
         CASE WHEN SUM(CASE WHEN d > h.max_d - 7 THEN 1 ELSE 0 END)
                   >= {_Q279_HEAVY} THEN 1 ELSE 0 END AS heavy
  FROM e CROSS JOIN h GROUP BY user_id
),
s AS (
  SELECT grp, early AS score, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(heavy) AS BIGINT) AS pos
  FROM per_user GROUP BY grp, early
),
c AS (
  SELECT grp, score, cnt, pos,
         COALESCE(SUM(cnt) OVER (PARTITION BY grp ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM s
),
t AS (
  SELECT grp,
         SUM(pos * (below + (cnt + 1) / 2.0)) AS rank_sum,
         CAST(SUM(pos) AS BIGINT) AS npos,
         CAST(SUM(cnt - pos) AS BIGINT) AS nneg
  FROM c GROUP BY grp
),
aucs AS (
  SELECT grp, npos, nneg,
         (rank_sum - CAST(npos AS DOUBLE) * (npos + 1) / 2.0)
           / NULLIF(CAST(npos AS DOUBLE) * nneg, 0) AS auc
  FROM t
)
SELECT a1.npos + a1.nneg AS n_group1, a0.npos + a0.nneg AS n_group0,
       ROUND(a1.auc, 6) AS auc_group1,
       ROUND(a0.auc, 6) AS auc_group0,
       ROUND(ABS(a1.auc - a0.auc), 6) AS auc_gap
FROM aucs a1 JOIN aucs a0 ON a1.grp = 1 AND a0.grp = 0
"""


@register(
    "q287_subgroup_auc_gap",
    _Q287_SQL,
    doc=(
        "subgroup metric disparity — the fairness-style audit of "
        "q279's engagement model: the SAME temporal-split AUC "
        "computed per user-hash subgroup, reporting both AUCs and "
        "the absolute gap (a model can look fine on average while "
        "failing one segment); the rank-sum machinery partitions by "
        "group, everything else is the q279 spelling; hash subgroups "
        "are exchangeable so the honest gap here is small subgroup "
        "NOISE — the machinery is what real protected attributes "
        "would plug into"
    ),
    tables=("events",),
)
def q287(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    )
    h = e.agg(F.max("d").alias("max_d"))
    per_user = (
        e.crossJoin(h)
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("d") <= F.col("max_d") - 14, 1).otherwise(0)
            ).alias("early"),
            F.when(
                F.sum(
                    F.when(F.col("d") > F.col("max_d") - 7, 1).otherwise(0)
                )
                >= _Q279_HEAVY,
                1,
            ).otherwise(0).alias("heavy"),
        )
        .withColumn("grp", hash_bucket("user_id", 2))
    )
    s = per_user.groupBy("grp", F.col("early").alias("score")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("heavy").alias("pos")
    )
    w = Window.partitionBy("grp").orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = s.withColumn("below", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    t = c.groupBy("grp").agg(
        F.sum(
            F.col("pos") * (F.col("below") + (F.col("cnt") + 1) / 2.0)
        ).alias("rank_sum"),
        F.sum("pos").alias("npos"),
        F.sum(F.col("cnt") - F.col("pos")).alias("nneg"),
    )
    auc = (
        F.col("rank_sum")
        - F.col("npos").cast("double") * (F.col("npos") + 1) / 2.0
    ) / F.nullif(F.col("npos").cast("double") * F.col("nneg"), F.lit(0.0))
    # a subgroup with an empty class has no defined AUC — NULL, not a
    # crash (hit at sf0.001 where a 7-user group can lack positives)
    aucs = t.select("grp", "npos", "nneg", auc.alias("auc"))
    a1 = aucs.where(F.col("grp") == 1).select(
        (F.col("npos") + F.col("nneg")).alias("n_group1"),
        F.col("auc").alias("auc1"),
    )
    a0 = aucs.where(F.col("grp") == 0).select(
        (F.col("npos") + F.col("nneg")).alias("n_group0"),
        F.col("auc").alias("auc0"),
    )
    return a1.crossJoin(a0).select(
        "n_group1",
        "n_group0",
        F.round("auc1", 6).alias("auc_group1"),
        F.round("auc0", 6).alias("auc_group0"),
        F.round(F.abs(F.col("auc1") - F.col("auc0")), 6).alias("auc_gap"),
    )


# ---------------------------------------------------------------------------
# q302: Murphy decomposition of the Brier score (round 8)
# ---------------------------------------------------------------------------

# Murphy (1973): for a DISCRETE forecast system (each event forecast =
# its bin's mean prediction), Brier = REL - RES + UNC exactly.  Inputs
# are q239's basis-point pseudo-probability s = v/(v+50) (integer bp at
# the scan) and y = is-purchase; per-bin sufficient statistics are
# exact integers (n_k, S_k = sum s, Y_k = sum y), the 10-bin rollup
# composes them in doubles with IDENTICAL expression trees both
# engines, and every output is ROUND(.,6).
_Q302_SQL = """
WITH scored AS (
  SELECT CAST(FLOOR(value * 10000 / (value + 50)) AS BIGINT) AS s_bp,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
),
bins AS (
  SELECT CAST(FLOOR(s_bp / 1000.0) AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS n_k,
         CAST(SUM(s_bp) AS BIGINT) AS s_k,
         CAST(SUM(y) AS BIGINT) AS y_k,
         CAST(SUM((s_bp - 10000 * y) * (s_bp - 10000 * y)) AS BIGINT) AS sq_k
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_k) AS BIGINT) AS n, CAST(SUM(y_k) AS BIGINT) AS y
  FROM bins
)
SELECT ROUND(SUM((CAST(s_k AS DOUBLE) - 10000.0 * y_k)
                 * (CAST(s_k AS DOUBLE) - 10000.0 * y_k) / n_k)
             / (tot.n * 100000000.0), 6) AS rel,
       ROUND(SUM((CAST(y_k AS DOUBLE) * tot.n - CAST(n_k AS DOUBLE) * tot.y)
                 * (CAST(y_k AS DOUBLE) * tot.n - CAST(n_k AS DOUBLE) * tot.y)
                 / n_k)
             / (CAST(tot.n AS DOUBLE) * tot.n * tot.n), 6) AS res,
       ROUND(CAST(tot.y AS DOUBLE) / tot.n
             * (1.0 - CAST(tot.y AS DOUBLE) / tot.n), 6) AS unc,
       ROUND(SUM(CAST(sq_k AS DOUBLE)) / (tot.n * 100000000.0), 6)
         AS brier_raw
FROM bins, tot
GROUP BY tot.n, tot.y
"""


@register(
    "q302_brier_decomposition",
    _Q302_SQL,
    doc=(
        "Murphy (1973) decomposition of the Brier score for the "
        "value-derived purchase forecast, over q239's decile bins: "
        "reliability (calibration gap), resolution (how far bin base "
        "rates spread from the prior), and uncertainty (the prior's "
        "own variance) — the standard forecast-quality triptych; for "
        "the binned forecast system rel - res + unc IS the binned "
        "Brier identically (pinned to 1e-12 in "
        "tests/test_round8_ops.py), and brier_raw (unbinned) is "
        "reported beside it.  One scan, one 10-row bin rollup, one "
        "1-row total frame joined back — O(bins) after the scan"
    ),
    tables=("events",),
)
def q302(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.floor(F.col("value") * 10000 / (F.col("value") + 50))
        .cast("long")
        .alias("s_bp"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    sq = (F.col("s_bp") - 10000 * F.col("y")) * (
        F.col("s_bp") - 10000 * F.col("y")
    )
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    # the bin frame feeds BOTH the total frame and the final rollup —
    # materialize the 10 rows once or the events scan runs twice (the
    # round-7 multi-consumer recompute lesson, applied at design time)
    bins = truncate_lineage(
        scored.groupBy(
            F.floor(F.col("s_bp") / 1000.0).cast("long").alias("bin")
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_k"),
            F.sum("s_bp").cast("long").alias("s_k"),
            F.sum("y").cast("long").alias("y_k"),
            F.sum(sq).cast("long").alias("sq_k"),
        )
    )
    tot = bins.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.sum("y_k").cast("long").alias("y"),
    )
    a = F.col("s_k").cast("double") - 10000.0 * F.col("y_k")
    b = F.col("y_k").cast("double") * F.col("n") - F.col("n_k").cast(
        "double"
    ) * F.col("y")
    return (
        bins.crossJoin(tot)
        .groupBy("n", "y")
        .agg(
            F.round(
                F.sum(a * a / F.col("n_k")) / (F.col("n") * 100000000.0), 6
            ).alias("rel"),
            F.round(
                F.sum(b * b / F.col("n_k"))
                / (
                    F.col("n").cast("double")
                    * F.col("n")
                    * F.col("n")
                ),
                6,
            ).alias("res"),
            F.round(
                F.col("y").cast("double")
                / F.col("n")
                * (F.lit(1.0) - F.col("y").cast("double") / F.col("n")),
                6,
            ).alias("unc"),
            F.round(
                F.sum(F.col("sq_k").cast("double"))
                / (F.col("n") * 100000000.0),
                6,
            ).alias("brier_raw"),
        )
        .drop("n", "y")
    )

"""Robust estimation, hypothesis testing & drift/divergence queries.

The inference half of the former stats.py (round-10 family regrouping;
mechanical relocation, zero behavior change — verified by the pre/post
registry hash dump): rank tests (Mann-Whitney), variance/location
tests (Brown-Forsythe, one-way ANOVA), distribution-equality tests
(Cramer-von Mises, Kolmogorov-Smirnov drift), chi-square feature
selection, robust estimators (winsorized moments, Theil-Sen slopes,
isotonic calibration via PAVA), Simpson's-paradox detection, and
Jensen-Shannon divergence.  Companion modules: ml_stat_tests.py holds
the round-7/8 test band (Spearman, FDR, SPRT, ...); ml_experiments.py
holds causal/AB designs.

House rules (SURVEY §2.B determinism discipline): every float output
is ROUND()ed on the same double both sides; integer arithmetic is
exact and engine-identical; every result has a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register


# ---------------------------------------------------------------------------
# q215: winsorized statistics (robust per-segment spend profile)
# ---------------------------------------------------------------------------

_Q215_SQL = """
WITH p AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.05) AS p05,
         quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(ANY_VALUE(p.p05), 2) AS p05,
       ROUND(ANY_VALUE(p.p95), 2) AS p95,
       ROUND(AVG(LEAST(GREATEST(o.o_totalprice, p.p05), p.p95)), 2)
         AS winsorized_mean,
       ROUND(AVG(o.o_totalprice), 2) AS raw_mean
FROM orders o JOIN p ON o.o_orderpriority = p.o_orderpriority
GROUP BY o.o_orderpriority ORDER BY priority
"""


@register(
    "q215_winsorized_stats",
    _Q215_SQL,
    doc=(
        "winsorized (5%/95%-clamped) mean per order priority — the "
        "outlier-robust spend profile: pass 1 computes EXACT "
        "interpolated percentiles per group (F.percentile == "
        "quantile_cont, the q09 contract), pass 2 broadcast-joins the "
        "|groups|-row threshold frame back and folds the clamped "
        "mean — the fact table is scanned twice but shuffled only as "
        "map-side-partial aggregates on the group key"
    ),
    tables=("orders",),
)
def q215(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95"))
    return (
        o.join(F.broadcast(p), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.first("p05"), 2).alias("p05"),
            F.round(F.first("p95"), 2).alias("p95"),
            F.round(F.avg(clamped), 2).alias("winsorized_mean"),
            F.round(F.avg("o_totalprice"), 2).alias("raw_mean"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            "n",
            "p05",
            "p95",
            "winsorized_mean",
            "raw_mean",
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q212: Theil–Sen robust trend slope per event type
# ---------------------------------------------------------------------------

_Q212_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
         ROUND(SUM(value), 2) AS v
  FROM events GROUP BY 1, 2
),
slopes AS (
  SELECT a.event_type, (b.v - a.v) / (b.d - a.d) AS s
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM daily d
        WHERE d.event_type = slopes.event_type) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(s, 0.5), 4) AS theil_sen_slope
FROM slopes GROUP BY event_type ORDER BY event_type
"""


@register(
    "q212_theil_sen",
    _Q212_SQL,
    doc=(
        "Theil–Sen robust trend estimator (median of all pairwise "
        "slopes — 29% outlier breakdown vs OLS's zero) per event type "
        "over DAILY rollups: the corpus-sized work is one keyed "
        "aggregate to (type, day, 2dp-rounded sum); the O(days²) pair "
        "set is built IN-ROW from the collected per-type day array "
        "(bounded by the calendar, ~30 elements — never a corpus "
        "self-join), exploded, and reduced by the exact interpolated "
        "median (F.percentile == quantile_cont).  Rounding the daily "
        "sums FIRST makes every slope the same double in both engines"
    ),
    tables=("events",),
)
def q212(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "v"))).alias("a")
    )
    # in-row pairwise slopes: for element i, slopes against every later
    # element — flatten(transform-with-index + slice)
    slopes = F.flatten(
        F.transform(
            "a",
            lambda x, i: F.transform(
                F.slice(F.col("a"), i + 2, F.size("a")),
                lambda y: (y["v"] - x["v"]) / (y["d"] - x["d"]),
            ),
        )
    )
    per = arr.select(
        "event_type",
        F.size("a").cast("long").alias("n_days"),
        F.explode(slopes).alias("s"),
    )
    return (
        per.groupBy("event_type")
        .agg(
            F.first("n_days").alias("n_days"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile("s", F.lit(0.5)), 4).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q213: Mann–Whitney U test (click vs error value distributions)
# ---------------------------------------------------------------------------

_Q213_A, _Q213_B = "click", "error"


_Q213_SQL = f"""
WITH e AS (
  SELECT value AS score, CAST(event_type = '{_Q213_A}' AS BIGINT) AS g1
  FROM events WHERE event_type IN ('{_Q213_A}', '{_Q213_B}')
),
s AS (SELECT score, COUNT(*) AS cnt, SUM(g1) AS n1s FROM e GROUP BY score),
c AS (
  SELECT score, cnt, n1s,
         COALESCE(SUM(cnt) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
  FROM s
),
t AS (
  SELECT SUM(n1s * (below + (cnt + 1) / 2.0)) AS r1,
         CAST(SUM(n1s) AS BIGINT) AS n1,
         CAST(SUM(cnt - n1s) AS BIGINT) AS n2,
         SUM(CASE WHEN cnt > 1 THEN cnt*cnt*cnt - cnt ELSE 0 END) AS ties
  FROM c
)
SELECT n1, n2,
       ROUND(r1 - n1 * (n1 + 1) / 2.0, 1) AS u1,
       ROUND((r1 - n1 * (n1 + 1) / 2.0 - n1 * CAST(n2 AS DOUBLE) / 2.0)
             / SQRT(n1 * CAST(n2 AS DOUBLE) / 12.0
                    * ((n1 + n2 + 1) - ties / (CAST(n1 + n2 AS DOUBLE)
                                               * (n1 + n2 - 1)))), 4) AS z
FROM t
"""


@register(
    "q213_mann_whitney",
    _Q213_SQL,
    doc=(
        "Mann–Whitney U test (nonparametric two-sample location test) "
        "between click and error value distributions, with exact "
        "tie-averaged ranks and the tie-corrected normal "
        "approximation: the q172 discipline — scores reduce to "
        "per-distinct-score (cnt, group-1 count) first, the "
        "strictly-below prefix comes from the range-bucketed "
        "global_cumsum (never a single-task window), and rank sums "
        "are exact .5-increment doubles so U is engine-exact; only "
        "the final z divides/roots"
    ),
    tables=("events",),
)
def q213(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type").isin(_Q213_A, _Q213_B)).select(
        F.col("value").alias("score"),
        (F.col("event_type") == _Q213_A).cast("long").alias("g1"),
    )
    s = e.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("g1").alias("n1s")
    )
    c = global_cumsum(
        s, "score", "cnt", out_col="below", exclusive=True,
        bounds=[16.0 * i for i in range(1, 32)],
    )
    t = c.agg(
        F.sum(
            F.col("n1s") * (F.col("below") + (F.col("cnt") + F.lit(1)) / F.lit(2.0))
        ).alias("r1"),
        F.sum("n1s").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("n1s")).cast("long").alias("n2"),
        F.sum(
            F.when(
                F.col("cnt") > 1,
                F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"),
            ).otherwise(F.lit(0))
        ).alias("ties"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + F.lit(1)) / F.lit(2.0)
    n = F.col("n1") + F.col("n2")
    sigma = F.sqrt(
        F.col("n1") * F.col("n2").cast("double") / F.lit(12.0)
        * ((n + F.lit(1)) - F.col("ties") / (n.cast("double") * (n - F.lit(1))))
    )
    return t.select(
        "n1",
        "n2",
        F.round(u1, 1).alias("u1"),
        F.round(
            (u1 - F.col("n1") * F.col("n2").cast("double") / F.lit(2.0)) / sigma, 4
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# q214: chi-squared term/label association (feature selection)
# ---------------------------------------------------------------------------

_Q214_DF_TOP = 50


_Q214_OUT = 10


_Q214_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS en FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(en) AS BIGINT) AS n_en FROM lab),
df AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(lab.en) AS BIGINT) AS a
  FROM tk JOIN lab USING (doc_id) GROUP BY tok
),
top AS (SELECT * FROM df ORDER BY df DESC, tok LIMIT {_Q214_DF_TOP}),
x AS (
  SELECT tok, df, a, df - a AS b, n_en - a AS c,
         n_docs - n_en - (df - a) AS d, n_docs
  FROM top, tot
)
SELECT tok, df, CAST(a AS BIGINT) AS n_term_en,
       ROUND(n_docs * CAST(a*d - b*c AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)
             / NULLIF(CAST((a+b) AS DOUBLE) * (c+d) * (a+c) * (b+d), 0.0),
             4) AS chi2
FROM x
ORDER BY chi2 DESC NULLS LAST, tok LIMIT {_Q214_OUT}
"""


@register(
    "q214_chi2_feature_select",
    _Q214_SQL,
    doc=(
        "chi-squared term-vs-label feature selection (the classic "
        "text-classification feature ranker): distinct (doc, term) "
        "incidence -> one term-keyed aggregate joined with the "
        "broadcast per-doc label -> contingency cells A/B/C/D from "
        "integer counts and the 2x2 chi2 formula — all counts are "
        "engine-exact integers, the float formula is spelled "
        "identically both sides (CAST the AD-BC difference to DOUBLE "
        "before squaring: HUGEINT/overflow-proof), zero denominators "
        "NULLIF-guarded (ANSI Spark throws on double x/0); "
        "vocabulary-keyed shuffles only, top-df prefilter is "
        "TakeOrderedAndProject"
    ),
    tables=("documents",),
)
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    lab = docs.select("doc_id", (F.col("lang") == "en").cast("long").alias("en"))
    tot = lab.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("en").alias("n_en")
    )
    df = (
        tk.join(lab, "doc_id")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("en").alias("a"))
    )
    top = df.orderBy(F.col("df").desc(), "tok").limit(_Q214_DF_TOP)
    x = top.crossJoin(tot).select(
        "tok",
        "df",
        "a",
        (F.col("df") - F.col("a")).alias("b"),
        (F.col("n_en") - F.col("a")).alias("c"),
        (F.col("n_docs") - F.col("n_en") - (F.col("df") - F.col("a"))).alias("d"),
        "n_docs",
    )
    diff = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    denom = F.nullif(
        (F.col("a") + F.col("b")).cast("double")
        * (F.col("c") + F.col("d"))
        * (F.col("a") + F.col("c"))
        * (F.col("b") + F.col("d")),
        F.lit(0.0),
    )
    return x.select(
        "tok",
        "df",
        F.col("a").cast("long").alias("n_term_en"),
        F.round(F.col("n_docs") * diff * diff / denom, 4).alias("chi2"),
    ).orderBy(F.col("chi2").desc_nulls_last(), "tok").limit(_Q214_OUT)


# ---------------------------------------------------------------------------
# q208: isotonic (PAV) score calibration per segment
# ---------------------------------------------------------------------------

_Q208_SQL = """
WITH e AS (
  SELECT user_id % 10 AS seg, value AS score, event_id,
         CAST(event_type = 'purchase' AS BIGINT) AS y
  FROM events
),
r AS (
  SELECT seg, y,
         ROW_NUMBER() OVER (PARTITION BY seg ORDER BY score, event_id) AS i
  FROM e
),
cum AS (
  SELECT seg, i, y, SUM(y) OVER (PARTITION BY seg ORDER BY i) AS cy
  FROM r
),
m AS (
  SELECT a.seg, a.i AS j, b.i AS k,
         (b.cy - a.cy + a.y) * 1.0 / (b.i - a.i + 1) AS mean_jk
  FROM cum a JOIN cum b ON a.seg = b.seg AND a.i <= b.i
),
sfx AS (
  SELECT seg, j, k,
         MIN(mean_jk) OVER (PARTITION BY seg, j ORDER BY k DESC) AS m1
  FROM m
),
pm AS (
  SELECT seg, j, k, MAX(m1) OVER (PARTITION BY seg, k ORDER BY j) AS iso
  FROM sfx
),
fit AS (SELECT seg, k AS i, iso FROM pm WHERE j = k)
SELECT f.seg AS segment,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(r2.y) AS BIGINT) AS n_pos,
       ROUND(AVG((f.iso - r2.y) * (f.iso - r2.y)), 6) AS brier
FROM fit f JOIN r r2 ON r2.seg = f.seg AND r2.i = f.i
GROUP BY f.seg ORDER BY segment
"""


@register(
    "q208_isotonic_calibration",
    _Q208_SQL,
    doc=(
        "isotonic score calibration (pool-adjacent-violators) per "
        "segment — the monotone probability-calibration step of a "
        "ranking pipeline — with the calibrated Brier score as the "
        "readout: the engine runs the O(n log n) PAV stack per segment "
        "in ONE applyInPandas pass (a calibration segment fits an "
        "executor; block pooling compares integer cross-products, so "
        "every fitted value is an exact int/int division both engines "
        "reproduce bit-for-bit); the oracle replays the minimax "
        "identity iso_i = max_{j<=i} min_{k>=i} mean(y[j..k]) "
        "(Robertson-Wright-Dykstra 1988) as two O(n^2) suffix-min / "
        "prefix-max windows over the pairwise-mean table — brute "
        "force the stack provably equals"
    ),
    tables=("events",),
)
def q208(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("seg"),
        F.col("value").alias("score"),
        "event_id",
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["score", "event_id"])
        ys = pdf["y"].to_numpy()
        # PAV stack: merge while previous block mean > current block
        # mean — compared as INTEGER cross-products (labels are 0/1
        # counts), so pooling decisions are exact; fitted values are
        # int/int divisions emitted once per block at the end
        sums: list[int] = []
        cnts: list[int] = []
        for yi in ys:
            s, c = int(yi), 1
            while sums and sums[-1] * c > s * cnts[-1]:
                s += sums.pop()
                c += cnts.pop()
            sums.append(s)
            cnts.append(c)
        iso = np.repeat(
            np.array([s / c for s, c in zip(sums, cnts)], dtype="float64"),
            np.array(cnts),
        )
        return pd.DataFrame(
            {"seg": pdf["seg"].iloc[0], "iso": iso, "y": ys}
        )

    fitted = ev.groupBy("seg").applyInPandas(pav, "seg long, iso double, y long")
    return (
        fitted.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.round(
                F.avg((F.col("iso") - F.col("y")) * (F.col("iso") - F.col("y"))), 6
            ).alias("brier"),
        )
        .select(F.col("seg").alias("segment"), "n", "n_pos", "brier")
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# q223: two-sample Kolmogorov–Smirnov drift test (en vs non-en lengths)
# ---------------------------------------------------------------------------

_Q223_SQL = """
WITH e AS (
  SELECT n_chars AS x, CAST(lang = 'en' AS BIGINT) AS g1 FROM documents
),
s AS (
  SELECT x, CAST(SUM(g1) AS BIGINT) AS c1,
         CAST(SUM(1 - g1) AS BIGINT) AS c2
  FROM e GROUP BY x
),
c AS (
  SELECT x,
         SUM(c1) OVER (ORDER BY x) AS f1,
         SUM(c2) OVER (ORDER BY x) AS f2
  FROM s
),
t AS (SELECT CAST(SUM(g1) AS BIGINT) AS n1,
             CAST(SUM(1 - g1) AS BIGINT) AS n2 FROM e),
d AS (
  SELECT c.x, ABS(f1 * 1.0 / n1 - f2 * 1.0 / n2) AS dd FROM c, t
),
best AS (SELECT x, dd, ROW_NUMBER() OVER (ORDER BY dd DESC, x) AS rn FROM d)
SELECT t.n1, t.n2,
       ROUND((SELECT dd FROM best WHERE rn = 1), 6) AS ks,
       (SELECT x FROM best WHERE rn = 1) AS ks_at,
       ROUND(SQRT(t.n1 * CAST(t.n2 AS DOUBLE) / (t.n1 + t.n2))
             * (SELECT dd FROM best WHERE rn = 1), 4) AS ks_scaled
FROM t
"""


@register(
    "q223_ks_drift",
    _Q223_SQL,
    doc=(
        "two-sample Kolmogorov–Smirnov statistic (en vs non-en "
        "document length distributions — the distribution-drift gate "
        "complementing q192's EMD): values reduce to per-distinct-"
        "value group counts, both empirical CDFs come from the range-"
        "bucketed global_cumsum (one wide shuffle, never a single-"
        "task window), and every CDF step is an integer ratio — the "
        "max |F1-F2| compares engine-exact doubles, argmax tie-broken "
        "by value; sqrt(n1 n2/(n1+n2))·D is the scaled statistic of "
        "the asymptotic test"
    ),
    tables=("documents",),
)
def q223(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    docs = load_table(spark, sf_dir, "documents")
    e = docs.select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == "en").cast("long").alias("g1"),
    )
    s = e.groupBy("x").agg(
        F.sum("g1").alias("c1"), F.sum(F.lit(1) - F.col("g1")).alias("c2")
    )
    c1 = global_cumsum(
        s, "x", "c1", out_col="f1", exclusive=False,
        bounds=[float(200 * i) for i in range(1, 32)],
    )
    c = global_cumsum(
        c1, "x", "c2", out_col="f2", exclusive=False,
        bounds=[float(200 * i) for i in range(1, 32)],
    )
    t = e.agg(
        F.sum("g1").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("g1")).cast("long").alias("n2"),
    )
    d = c.crossJoin(t).select(
        "x",
        "n1",
        "n2",
        F.abs(
            F.col("f1") * F.lit(1.0) / F.col("n1")
            - F.col("f2") * F.lit(1.0) / F.col("n2")
        ).alias("dd"),
    )
    best = d.orderBy(F.col("dd").desc(), "x").limit(1)
    return best.select(
        "n1",
        "n2",
        F.round("dd", 6).alias("ks"),
        F.col("x").alias("ks_at"),
        F.round(
            F.sqrt(
                F.col("n1") * F.col("n2").cast("double") / (F.col("n1") + F.col("n2"))
            )
            * F.col("dd"),
            4,
        ).alias("ks_scaled"),
    )


# ---------------------------------------------------------------------------
# q316: Brown-Forsythe variance-homogeneity test (round 8)
# ---------------------------------------------------------------------------

# Levene's test with the MEDIAN center (Brown & Forsythe 1974) — the
# robust pre-check before pooling variances across groups.  Per-group
# medians are exact value-domain rank selections (the q289/q312
# machinery): rank floor((n+1)/2) and ceil((n+1)/2) read from the
# per-group value cumulative, kept as the DOUBLED median m1+m2 so the
# even-n midpoint stays integer.  Deviations z = |2c - med2| are then
# exact BIGINTs and the ANOVA-F over z needs only the integer power
# sums (S_j, Q_j, n_j) — per-group sums CAST to DOUBLE before squaring
# (q214 lesson; S_j^2 would overflow BIGINT past sf~0.1).  The honest
# fixture answer: per-type value distributions share one generator, so
# F is small.
_Q316_SQL = """
WITH vals AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
),
gcnt AS (
  SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM vals GROUP BY 1, 2
),
gn AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM gcnt GROUP BY 1
),
gcum AS (
  SELECT event_type, c,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM gcnt
),
med AS (
  SELECT x.event_type,
         CAST(MIN(CASE WHEN x.cum >= FLOOR((gn.n + 1) / 2.0) THEN x.c END)
              + MIN(CASE WHEN x.cum >= CEIL((gn.n + 1) / 2.0) THEN x.c END)
              AS BIGINT) AS med2
  FROM gcum x JOIN gn ON gn.event_type = x.event_type
  GROUP BY 1
),
z AS (
  SELECT v.event_type, ABS(2 * v.c - m.med2) AS z
  FROM vals v JOIN med m ON m.event_type = v.event_type
),
s AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(z) AS BIGINT) AS sz,
         CAST(SUM(z * z) AS BIGINT) AS qz
  FROM z GROUP BY 1
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         SUM(CAST(sz AS DOUBLE) * sz / n) AS sq_over_n,
         SUM(CAST(sz AS DOUBLE)) AS stot,
         SUM(CAST(qz AS DOUBLE)) AS qtot
  FROM s
)
SELECT nn AS n, k AS k_groups,
       ROUND(sq_over_n - stot * stot / nn, 2) AS ssb,
       ROUND(qtot - sq_over_n, 2) AS ssw,
       ROUND(((sq_over_n - stot * stot / nn) / (k - 1))
             / NULLIF((qtot - sq_over_n) / (nn - k), 0.0), 6) AS bf_f
FROM t
"""


@register(
    "q316_brown_forsythe",
    _Q316_SQL,
    doc=(
        "Brown-Forsythe variance-homogeneity test across event types "
        "(median-centered Levene — the robust gate before pooled-"
        "variance tests): per-group exact medians via value-domain "
        "rank selection (doubled-median m1+m2 keeps even-n midpoints "
        "integer), absolute deviations z = |2c - med2| exact BIGINT, "
        "then the one-way F over z from integer power sums with "
        "per-group sums CAST to DOUBLE before squaring.  Shuffles "
        "carry (type, cents) value-domain rows and 5-row rollups; the "
        "only windows run over per-type value domains (q289 "
        "discipline); the median frame is a 5-row broadcast into the "
        "deviation scan"
    ),
    tables=("events",),
)
def q316(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("c")
    )
    gcnt = vals.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    gn = gcnt.groupBy("event_type").agg(F.sum("cnt").cast("long").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gcum = gcnt.select("event_type", "c", F.sum("cnt").over(w).alias("cum"))
    med = (
        gcum.join(gn, "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum") >= F.floor((F.col("n") + 1) / 2.0),
                        F.col("c"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum") >= F.ceil((F.col("n") + 1) / 2.0),
                        F.col("c"),
                    )
                )
            )
            .cast("long")
            .alias("med2")
        )
    )
    z = vals.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(2 * F.col("c") - F.col("med2")).alias("z")
    )
    s = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("qz"),
    )
    t = s.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("sz").cast("double") * F.col("sz") / F.col("n")).alias(
            "sq_over_n"
        ),
        F.sum(F.col("sz").cast("double")).alias("stot"),
        F.sum(F.col("qz").cast("double")).alias("qtot"),
    )
    ssb = F.col("sq_over_n") - F.col("stot") * F.col("stot") / F.col("nn")
    ssw = F.col("qtot") - F.col("sq_over_n")
    return t.select(
        F.col("nn").alias("n"),
        F.col("k").alias("k_groups"),
        F.round(ssb, 2).alias("ssb"),
        F.round(ssw, 2).alias("ssw"),
        F.round(
            (ssb / (F.col("k") - 1))
            / F.nullif(ssw / (F.col("nn") - F.col("k")), F.lit(0.0)),
            6,
        ).alias("bf_f"),
    )


# ---------------------------------------------------------------------------
# q317: one-way ANOVA F + effect size from integer power sums (round 8)
# ---------------------------------------------------------------------------

# Parametric location test completing the comparison family (q289
# Kruskal-Wallis is its rank-based sibling, q316 Brown-Forsythe its
# scale-test gate): does mean line-item quantity differ by return
# flag?  l_quantity is integral, so the group statistics (n, sum,
# sum-of-squares) are EXACT BIGINTs with headroom to ~1e13 rows; the
# F ratio and eta^2 are one arithmetic expression over them, with
# per-group sums CAST to DOUBLE before squaring (q214 lesson).  The
# honest fixture answer is F ~ 1 (quantity is independent of flag).
_Q317_SQL = """
WITH g AS (
  SELECT l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS s2
  FROM lineitem GROUP BY 1
),
t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS nn,
         SUM(CAST(s1 AS DOUBLE) * s1 / n) AS sqn,
         SUM(CAST(s1 AS DOUBLE)) AS stot,
         SUM(CAST(s2 AS DOUBLE)) AS qtot
  FROM g
)
SELECT nn AS n, k AS k_groups,
       ROUND(sqn - stot * stot / nn, 4) AS ss_between,
       ROUND(qtot - sqn, 4) AS ss_within,
       ROUND(((sqn - stot * stot / nn) / (k - 1))
             / NULLIF((qtot - sqn) / (nn - k), 0.0), 6) AS f_stat,
       ROUND((sqn - stot * stot / nn)
             / NULLIF(qtot - stot * stot / nn, 0.0), 6) AS eta2
FROM t
"""


@register(
    "q317_anova_f",
    _Q317_SQL,
    doc=(
        "one-way ANOVA F plus eta^2 effect size across return-flag "
        "groups, assembled entirely from integer power sums (count, "
        "sum, sum-of-squares per group — the classic one-pass "
        "map-side-combinable sufficient statistic): one fact scan, one "
        "3-row group frame, one scalar row out; per-group sums CAST "
        "to DOUBLE before squaring, zero denominators NULLIF-guarded.  "
        "Completes the group-comparison family: q289 tests ranks "
        "(distribution), q316 tests spread, this tests means"
    ),
    tables=("lineitem",),
)
def q317(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("long")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("s1").cast("double") * F.col("s1") / F.col("n")).alias("sqn"),
        F.sum(F.col("s1").cast("double")).alias("stot"),
        F.sum(F.col("s2").cast("double")).alias("qtot"),
    )
    ssb = F.col("sqn") - F.col("stot") * F.col("stot") / F.col("nn")
    ssw = F.col("qtot") - F.col("sqn")
    sst = F.col("qtot") - F.col("stot") * F.col("stot") / F.col("nn")
    return t.select(
        F.col("nn").alias("n"),
        F.col("k").alias("k_groups"),
        F.round(ssb, 4).alias("ss_between"),
        F.round(ssw, 4).alias("ss_within"),
        F.round(
            (ssb / (F.col("k") - 1))
            / F.nullif(ssw / (F.col("nn") - F.col("k")), F.lit(0.0)),
            6,
        ).alias("f_stat"),
        F.round(ssb / F.nullif(sst, F.lit(0.0)), 6).alias("eta2"),
    )


# ---------------------------------------------------------------------------
# q318: Cramér–von Mises two-sample test (round 8)
# ---------------------------------------------------------------------------

# Distribution-equality test that, unlike the q223 KS sup-norm, is
# sensitive across the WHOLE distribution: T = nm/N^2 * sum over the
# pooled sample of (F_n - G_m)^2.  The ECDF difference at value x is
# (a*m - b*n)/(n*m) with a,b the cumulative counts — an exact BIGINT
# cross-multiplication (headroom to ~3e9 rows/side), CAST to DOUBLE
# before squaring, weighted by the pooled multiplicity.  The honest
# fixture answer is small (click and view values share a generator).
_Q318_SQL = """
WITH v AS (
  SELECT CAST(ROUND(value * 100) AS BIGINT) AS c,
         CAST(event_type = 'click' AS BIGINT) AS is1
  FROM events WHERE event_type IN ('click', 'view')
),
cnt AS (
  SELECT c, CAST(SUM(is1) AS BIGINT) AS c1,
         CAST(COUNT(*) - SUM(is1) AS BIGINT) AS c2
  FROM v GROUP BY c
),
tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2 FROM cnt),
cum AS (
  SELECT c, c1 + c2 AS w,
         SUM(c1) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a,
         SUM(c2) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b
  FROM cnt
),
s AS (
  SELECT SUM(w * CAST(cum.a * t.n2 - cum.b * t.n1 AS DOUBLE)
               * CAST(cum.a * t.n2 - cum.b * t.n1 AS DOUBLE)) AS wsum,
         CAST(MAX(t.n1) AS BIGINT) AS n1, CAST(MAX(t.n2) AS BIGINT) AS n2
  FROM cum CROSS JOIN tot t
)
SELECT n1, n2,
       ROUND(wsum / (CAST(n1 AS DOUBLE) * n2 * (n1 + n2) * (n1 + n2)), 6)
         AS t_cvm
FROM s
"""


@register(
    "q318_cvm_two_sample",
    _Q318_SQL,
    doc=(
        "Cramér–von Mises two-sample statistic for click-vs-view "
        "value distributions — the integrated-squared-ECDF-difference "
        "complement to q223's KS sup-norm: per-value counts for both "
        "samples in ONE keyed aggregate, cumulatives over the value "
        "domain (the q289 value-domain-frame discipline; respell via "
        "operators/packing.global_cumsum past ~1e7 distinct values), "
        "ECDF differences cross-multiplied to exact BIGINT a*m - b*n "
        "and CAST to DOUBLE before squaring.  One fact scan, shuffles "
        "carry (cents, counts) only"
    ),
    tables=("events",),
)
def q318(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type").isin("click", "view")).select(
        F.round(F.col("value") * 100).cast("long").alias("c"),
        (F.col("event_type") == "click").cast("long").alias("is1"),
    )
    cnt = v.groupBy("c").agg(
        F.sum("is1").cast("long").alias("c1"),
        (F.count(F.lit(1)) - F.sum("is1")).cast("long").alias("c2"),
    )
    tot = cnt.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    w = Window.orderBy("c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select(
        "c",
        (F.col("c1") + F.col("c2")).alias("w"),
        F.sum("c1").over(w).alias("a"),
        F.sum("c2").over(w).alias("b"),
    )
    diff = (F.col("a") * F.col("n2") - F.col("b") * F.col("n1")).cast("double")
    s = cum.crossJoin(tot).agg(
        F.sum(F.col("w") * diff * diff).alias("wsum"),
        F.max("n1").cast("long").alias("n1"),
        F.max("n2").cast("long").alias("n2"),
    )
    return s.select(
        "n1",
        "n2",
        F.round(
            F.col("wsum")
            / (
                F.col("n1").cast("double")
                * F.col("n2")
                * (F.col("n1") + F.col("n2"))
                * (F.col("n1") + F.col("n2"))
            ),
            6,
        ).alias("t_cvm"),
    )


# ---------------------------------------------------------------------------
# q322: Simpson's-paradox audit (overall vs pooled-within slope) (round 8)
# ---------------------------------------------------------------------------

# The aggregation-reversal detector every metrics platform needs: the
# discount->quantity slope computed over ALL line items vs the
# pooled-WITHIN-return-flag slope (the weighted average of per-group
# regressions).  A sign flip between them is Simpson's paradox — the
# grouping variable is a confounder.  All sufficient statistics are
# exact BIGINT power sums; covariances become doubles only at the
# final expression (per-group sx*sy stays under 2^53 to ~sf1; beyond,
# both engines compute the identical IEEE product).
_Q322_SQL = """
WITH d AS (
  SELECT l_returnflag AS grp,
         CAST(ROUND(l_discount * 100) AS BIGINT) AS x,
         CAST(l_quantity AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM d GROUP BY 1
),
t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tn, CAST(SUM(sx) AS BIGINT) AS tsx,
         CAST(SUM(sy) AS BIGINT) AS tsy, CAST(SUM(sxy) AS BIGINT) AS tsxy,
         CAST(SUM(sxx) AS BIGINT) AS tsxx,
         SUM(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) AS wnum,
         SUM(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS wden,
         CAST(SUM(CASE WHEN CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n
                            > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM g
)
SELECT tn AS n, k AS n_groups, n_pos AS n_pos_groups,
       ROUND((CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) * tsy / tn)
             / NULLIF(CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE) * tsx / tn,
                      0.0), 6) AS slope_overall,
       ROUND(wnum / NULLIF(wden, 0.0), 6) AS slope_within,
       ((CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) * tsy / tn) * wnum) < 0
         AS reversal
FROM t
"""


@register(
    "q322_simpson_paradox",
    _Q322_SQL,
    doc=(
        "Simpson's-paradox audit: the discount-vs-quantity OLS slope "
        "over all line items against the pooled-within-return-flag "
        "slope (per-group regressions aggregated by their covariance "
        "weights) — a sign flip means the grouping confounds the "
        "aggregate trend and per-segment reporting would invert the "
        "conclusion.  One fact scan to 3-group integer power sums; "
        "everything after is scalar arithmetic; the reversal flag "
        "compares engine-identical doubles built from exact BIGINTs.  "
        "Fixture answer: no reversal (discount and quantity are "
        "independent everywhere); the reversal branch is pinned by a "
        "planted confounder test"
    ),
    tables=("lineitem",),
)
def q322(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.col("l_quantity").cast("long").alias("y"),
    )
    g = d.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    gcov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
    gden = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    t = g.agg(
        F.sum("n").cast("long").alias("tn"),
        F.sum("sx").cast("long").alias("tsx"),
        F.sum("sy").cast("long").alias("tsy"),
        F.sum("sxy").cast("long").alias("tsxy"),
        F.sum("sxx").cast("long").alias("tsxx"),
        F.sum(gcov).alias("wnum"),
        F.sum(gden).alias("wden"),
        F.sum(F.when(gcov > 0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ocov = (
        F.col("tsxy").cast("double")
        - F.col("tsx").cast("double") * F.col("tsy") / F.col("tn")
    )
    oden = (
        F.col("tsxx").cast("double")
        - F.col("tsx").cast("double") * F.col("tsx") / F.col("tn")
    )
    return t.select(
        F.col("tn").alias("n"),
        F.col("k").alias("n_groups"),
        F.col("n_pos").alias("n_pos_groups"),
        F.round(ocov / F.nullif(oden, F.lit(0.0)), 6).alias("slope_overall"),
        F.round(F.col("wnum") / F.nullif(F.col("wden"), F.lit(0.0)), 6).alias(
            "slope_within"
        ),
        (ocov * F.col("wnum") < 0).alias("reversal"),
    )


# ---------------------------------------------------------------------------
# q330: Jensen-Shannon divergence matrix between source language mixes
# ---------------------------------------------------------------------------

# The symmetric, bounded (0..1 bit) distribution distance — the drift
# family's categorical member: q223's KS needs an ordered domain,
# q192's EMD a metric one, q120's PSI blows up on empty bins; JSD
# (Lin 1991) is finite for ANY pair of categorical mixes, which is
# why dataset cards report it.  Every probability is an exact
# BIGINT/BIGINT ratio, absent cells contribute exactly 0 (the
# CASE-guarded p*log2(2p/(p+q)) terms), and the per-pair sum runs
# over |langs| terms only (6dp absorbs the sub-ulp add-order drift).
_Q330_SQL = """
WITH c AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source),
pairs AS (
  SELECT a.source AS sa, a.n AS na, b.source AS sb, b.n AS nb
  FROM n a JOIN n b ON a.source < b.source
),
langs AS (SELECT DISTINCT lang FROM documents),
terms AS (
  SELECT p.sa, p.sb, p.na, p.nb,
         COALESCE(ca.c, 0) * 1.0 / p.na AS pp,
         COALESCE(cb.c, 0) * 1.0 / p.nb AS qq
  FROM pairs p CROSS JOIN langs l
  LEFT JOIN c ca ON ca.source = p.sa AND ca.lang = l.lang
  LEFT JOIN c cb ON cb.source = p.sb AND cb.lang = l.lang
)
SELECT sa AS source_a, sb AS source_b,
       CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
       ROUND(SUM(
         CASE WHEN pp > 0
              THEN CAST(0.5 AS DOUBLE) * pp * log2(2 * pp / (pp + qq))
              ELSE CAST(0 AS DOUBLE) END
         + CASE WHEN qq > 0
                THEN CAST(0.5 AS DOUBLE) * qq * log2(2 * qq / (pp + qq))
                ELSE CAST(0 AS DOUBLE) END
       ), 6) AS jsd_bits
FROM terms GROUP BY sa, sb ORDER BY sa, sb
"""


@register(
    "q330_js_divergence",
    _Q330_SQL,
    doc=(
        "Jensen-Shannon divergence (Lin 1991, bits) between every "
        "source pair's language distribution — the categorical member "
        "of the drift family (q223 KS needs an ordered domain, q192 "
        "EMD a metric one, q120 PSI diverges on empty bins; JSD is "
        "symmetric, finite, bounded by 1 bit for ANY mix pair): one "
        "(source, lang) rollup feeds per-source totals, the "
        "|sources|^2 pair frame crosses the |langs| domain (both "
        "broadcast-sized — the corpus is reduced before any pair "
        "logic), probabilities are exact BIGINT ratios, absent cells "
        "contribute exactly 0"
    ),
    tables=("documents",),
)
def q330(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    docs = load_table(spark, sf_dir, "documents")
    c = truncate_lineage(
        docs.groupBy("source", "lang").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
    )
    n = c.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    a = n.select(F.col("source").alias("sa"), F.col("n").alias("na"))
    b = n.select(F.col("source").alias("sb"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    langs = docs.select("lang").distinct()
    ca = c.select(
        F.col("source").alias("sa"), "lang", F.col("c").alias("cca")
    )
    cb = c.select(
        F.col("source").alias("sb"), "lang", F.col("c").alias("ccb")
    )
    grid = (
        pairs.crossJoin(langs)
        .join(ca, ["sa", "lang"], "left")
        .join(cb, ["sb", "lang"], "left")
    )
    pp = F.coalesce(F.col("cca"), F.lit(0)) * F.lit(1.0) / F.col("na")
    qq = F.coalesce(F.col("ccb"), F.lit(0)) * F.lit(1.0) / F.col("nb")
    t = grid.select(
        "sa", "sb", "na", "nb", pp.alias("pp"), qq.alias("qq")
    )
    term = F.when(
        F.col("pp") > 0,
        F.lit(0.5)
        * F.col("pp")
        * F.log2(F.lit(2) * F.col("pp") / (F.col("pp") + F.col("qq"))),
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("qq") > 0,
        F.lit(0.5)
        * F.col("qq")
        * F.log2(F.lit(2) * F.col("qq") / (F.col("pp") + F.col("qq"))),
    ).otherwise(F.lit(0.0))
    return (
        t.select("sa", "sb", "na", "nb", term.alias("term"))
        .groupBy(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"))
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.round(F.sum("term"), 6).alias("jsd_bits"),
        )
        .orderBy("source_a", "source_b")
    )

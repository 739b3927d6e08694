"""Sketch queries Q80: Count-Min heavy-hitter estimation.

The oracle rebuilds the identical sketch in SQL — same polynomial
hashes, same (a_j, b_j) row constants, same width — so every counter
and every estimate is hash-matched, not just bounded.  The classic CMS
property (estimate >= exact, bounded overestimate) is additionally
asserted in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators import sketches as S
from osm_changesets_to_parquet_spark.operators.dedup import HASH_MOD
from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.queries.dedup_sim import _sql_charhash

_P = HASH_MOD


def _bucket_arm(j: int) -> str:
    return f"((({S.CMS_A[j]} * h + {S.CMS_B[j]}) % {_P}) % {S.CMS_WIDTH})"


_Q80_SQL = f"""
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
th AS (SELECT token, {_sql_charhash('token')} AS h FROM tok),
sk AS (
  SELECT j, bucket, COUNT(*) AS cnt FROM (
    {" UNION ALL ".join(f"SELECT {j} AS j, {_bucket_arm(j)} AS bucket FROM th" for j in range(S.CMS_DEPTH))}
  ) GROUP BY j, bucket
),
top AS (
  SELECT token, COUNT(*) AS exact_cnt FROM tok
  GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 20
),
tophash AS (SELECT token, exact_cnt, {_sql_charhash('token')} AS h FROM top),
probe AS (
  {" UNION ALL ".join(f"SELECT token, exact_cnt, {j} AS j, {_bucket_arm(j)} AS bucket FROM tophash" for j in range(S.CMS_DEPTH))}
),
est AS (
  SELECT p.token, p.exact_cnt, MIN(COALESCE(sk.cnt, 0)) AS cms_est
  FROM probe p LEFT JOIN sk ON p.j = sk.j AND p.bucket = sk.bucket
  GROUP BY p.token, p.exact_cnt
)
SELECT token, exact_cnt, cms_est FROM est
ORDER BY exact_cnt DESC, token
"""


@register(
    "q80_count_min_sketch",
    _Q80_SQL,
    doc=(
        "DataFrame-native Count-Min sketch (4 x 1024 counter table, "
        "portable integer hashes): top-20 token estimates vs exact "
        "counts — every counter hash-matched against the SQL-built "
        "sketch; construction shuffle is O(depth x width)"
    ),
    tables=("documents",),
)
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    sketch = S.cms_build(tokens)
    top = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    est = S.cms_estimate(sketch, top.select("token"))
    return (
        top.join(est, "token")
        .select("token", "exact_cnt", "cms_est")
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


_BLOOM_ARMS = " UNION ALL ".join(
    f"SELECT (({a} * o_orderkey + {b}) % {_P}) % {S.BLOOM_BITS} AS bit FROM pkeys"
    for a, b in zip(S.BLOOM_A, S.BLOOM_B)
)
_PROBE_COND = " AND ".join(
    f"(({a} * l_orderkey + {b}) % {_P}) % {S.BLOOM_BITS} IN (SELECT bit FROM bloom)"
    for a, b in zip(S.BLOOM_A, S.BLOOM_B)
)

_Q85_SQL = f"""
WITH pkeys AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P'),
bloom AS (SELECT DISTINCT bit FROM ({_BLOOM_ARMS})),
passed AS (SELECT l_orderkey FROM lineitem WHERE {_PROBE_COND}),
truth AS (
  SELECT l_orderkey FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM pkeys)
)
SELECT (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
       (SELECT COUNT(*) FROM truth) AS n_true_match,
       (SELECT COUNT(*) FROM lineitem) AS n_probe_rows
"""


@register(
    "q85_bloom_prefilter",
    _Q85_SQL,
    doc=(
        "Bloom-filter semi-join pre-filter (4096 bits, 3 hashes, "
        "portable integer math): the bit table broadcasts, the probe "
        "side never shuffles; every counter hash-matched vs the "
        "SQL-built filter — n_bloom_pass >= n_true_match by construction"
    ),
    tables=("orders", "lineitem"),
)
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = o.where(F.col("o_orderstatus") == "P").select("o_orderkey")
    bloom = S.bloom_build(keys, "o_orderkey")
    passed = S.bloom_prefilter(li.select("l_orderkey"), bloom, "l_orderkey")
    truth = li.join(
        keys.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "left_semi"
    )
    return (
        passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_match")))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_probe_rows")))
    )


# --- HyperLogLog rollup -----------------------------------------------------

_Q108_SQL = """
SELECT r.r_name,
       COUNT(DISTINCT c.c_custkey) AS exact_uniques,
       TRUE AS within_2pct
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@register(
    "q108_hll_rollup",
    _Q108_SQL,
    doc=(
        "HLL sketch table (DataSketches, lg_k=12): per-nation customer "
        "sketches merged to region level by hll_union_agg — the "
        "incremental-distinct pattern where rollups touch ~4 KiB "
        "sketches, never the raw ids. Estimates are deterministic but "
        "not SQL-portable, so the oracle pins the exact distinct count "
        "and a 2% relative-error verdict (DataSketches HLL at lg_k=12 "
        "is ~0.8% rse; 2% is a >2-sigma bound on these cardinalities)"
    ),
    tables=("customer", "nation", "region"),
)
def q108(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    keyed = (
        c.join(n, n.n_nationkey == c.c_nationkey)
        .join(r, r.r_regionkey == F.col("n_regionkey"))
        .select("r_name", "n_nationkey", "c_custkey")
    )
    nation_sk = S.hll_sketches(keyed, ["r_name", "n_nationkey"], "c_custkey")
    region_est = S.hll_estimate(S.hll_rollup(nation_sk, ["r_name"]))
    exact = keyed.groupBy("r_name").agg(
        F.countDistinct("c_custkey").alias("exact_uniques")
    )
    return (
        exact.join(region_est, "r_name")
        .select(
            "r_name",
            "exact_uniques",
            (
                F.abs(F.col("uniques_est") - F.col("exact_uniques"))
                <= 0.02 * F.col("exact_uniques")
            ).alias("within_2pct"),
        )
        .orderBy("r_name")
    )


# ---------------------------------------------------------------------------
# Q141: SpaceSaving heavy hitters with exact recount (round 5)
# ---------------------------------------------------------------------------

_Q141_K = 128


@register(
    "q141_heavyhitters",
    f"""
    WITH n AS (SELECT COUNT(*) AS n FROM events)
    SELECT user_id, COUNT(*) AS cnt
    FROM events, n
    GROUP BY user_id, n.n
    HAVING COUNT(*) * {_Q141_K} > n.n
    ORDER BY user_id
    """,
    doc=(
        "EXACT heavy hitters (users with count*k > N, k=128) via the "
        "two-pass sketch-prune discipline: per-partition SpaceSaving "
        "summaries (k counters per task, bounded memory at any stream "
        "length — a provable no-false-negative candidate superset by "
        "the averaging + Metwally guarantee), then an exact recount of "
        "candidates only (semi-join keyed scan) with an integer "
        "threshold (cnt*k > N, division-free). Provably equals the "
        "brute-force GROUP BY HAVING — the oracle"
    ),
    tables=("events",),
)
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return S.heavy_hitters_exact(ev, "user_id", _Q141_K).orderBy("user_id")


# ---------------------------------------------------------------------------
# Q175: CMS inner-product join-cardinality estimation (optimizer stats)
# ---------------------------------------------------------------------------

def _q175_sql() -> str:
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    ih = f"((k % {ID_FOLD}) * {KNUTH}) % {_P}"
    arms_a = " UNION ALL ".join(
        f"SELECT {j} AS j, {_bucket_arm(j)} AS bucket FROM ph" for j in range(S.CMS_DEPTH)
    )
    arms_b = " UNION ALL ".join(
        f"SELECT {j} AS j, {_bucket_arm(j)} AS bucket FROM lh" for j in range(S.CMS_DEPTH)
    )
    return f"""
WITH pk AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'P'),
lk AS (SELECT l_orderkey AS k FROM lineitem),
ph AS (SELECT {ih} AS h FROM pk),
lh AS (SELECT {ih} AS h FROM lk),
ska AS (SELECT j, bucket, COUNT(*) AS cnt FROM ({arms_a}) GROUP BY j, bucket),
skb AS (SELECT j, bucket, COUNT(*) AS cnt FROM ({arms_b}) GROUP BY j, bucket),
ip AS (
  SELECT a.j, SUM(a.cnt * b.cnt) AS dot
  FROM ska a JOIN skb b ON a.j = b.j AND a.bucket = b.bucket
  GROUP BY a.j
),
est AS (SELECT MIN(dot) AS cms_join_est FROM ip),
ex AS (
  SELECT COUNT(*) AS exact_join_rows
  FROM lineitem JOIN pk ON l_orderkey = pk.k
)
SELECT CAST(ex.exact_join_rows AS BIGINT) AS exact_join_rows,
       CAST(est.cms_join_est AS BIGINT) AS cms_join_est
FROM ex CROSS JOIN est
"""


@register(
    "q175_cms_join_estimate",
    _q175_sql(),
    doc=(
        "join-cardinality ESTIMATION without running the join — the "
        "optimizer-statistics primitive (Cormode & Muthukrishnan 2005 "
        "AMS/CMS inner product, public): sketch each side's join key "
        "into the 4x1024 CMS (shuffle O(depth x width) after map-side "
        "partials, never O(rows)), estimate |A JOIN B| as the per-row "
        "counter dot product, min over rows; every counter and the "
        "exact join count are hash-matched — est >= exact always "
        "(cross terms only add), asserted in tests"
    ),
    tables=("orders", "lineitem"),
)
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pk = orders.where(F.col("o_orderstatus") == "P").select(
        F.col("o_orderkey").alias("k")
    )
    lk = li.select(F.col("l_orderkey").alias("k"))
    est = S.cms_join_estimate(S.cms_build_keys(pk, "k"), S.cms_build_keys(lk, "k"))
    exact = lk.join(pk, "k").agg(
        F.count(F.lit(1)).alias("exact_join_rows")
    )
    return exact.crossJoin(est).select(
        F.col("exact_join_rows").cast("long").alias("exact_join_rows"),
        F.col("cms_join_est").cast("long").alias("cms_join_est"),
    )


# ---------------------------------------------------------------------------
# Q197: order-insensitive table content digest (replica reconciliation)
# ---------------------------------------------------------------------------

def _q197_sql() -> str:
    from osm_changesets_to_parquet_spark.queries.dedup_sim import _sql_charhash

    row = ("l_orderkey || '|' || l_linenumber || '|' || l_partkey || '|' "
           "|| CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)")
    return f"""
WITH h AS (SELECT {_sql_charhash(f"({row})")} AS rh FROM lineitem)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(rh) % {_P} AS BIGINT) AS digest
FROM h
"""


@register(
    "q197_table_digest",
    _q197_sql(),
    doc=(
        "order-insensitive table content digest — the anti-entropy "
        "primitive for comparing replicas / validating a migration "
        "without moving data: each row folds to the portable "
        "polynomial hash of its canonical key string (integers and "
        "CENTS only — float formatting never enters a digest), and "
        "the table digest is the commutative SUM mod p, so ANY "
        "row order / partitioning yields the same value; one scan, "
        "one 1-row aggregate, zero shuffle of data rows"
    ),
    tables=("lineitem",),
)
def q197(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vectorized char-hash kernel (r14): the interpreted HOF fold ran
    # per character of every row string; byte-identical integers —
    # pinned by the char-hash arm of
    # test_fasthash_kernels_equal_hof_spellings
    from osm_changesets_to_parquet_spark.operators import fasthash

    li = load_table(spark, sf_dir, "lineitem")
    row = F.concat_ws(
        "|",
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
    )
    h = li.select(fasthash.char_hash_udf(row).alias("rh"))
    return h.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum(F.col("rh").cast("decimal(38,0)")) % F.lit(_P))
        .cast("long")
        .alias("digest"),
    )


# ---------------------------------------------------------------------------
# Q201: HLL audience overlap (inclusion-exclusion on mergeable sketches)
# ---------------------------------------------------------------------------

_Q201_SQL = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS exact_a,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS exact_b,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM a JOIN b USING (user_id))
         AS exact_overlap,
       TRUE AS overlap_within_15pct
"""


@register(
    "q201_hll_overlap",
    _Q201_SQL,
    doc=(
        "audience-overlap estimation from MERGEABLE sketches (the "
        "ad-tech / cohort-intersection primitive): |A n B| ~= est(A) + "
        "est(B) - est(A u B), where the union estimate comes from "
        "hll_union of the two DataSketches — never re-scanning either "
        "side.  Estimates are not SQL-portable (q108's discipline), so "
        "the hashed row carries the EXACT counts plus the boolean "
        "15%%-tolerance verdict the Spark side computes; the "
        "inclusion-exclusion error bound is the sum of three HLL "
        "errors, hence the wider band than q108's 2%%"
    ),
    tables=("events",),
)
def q201(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "view").select("user_id")
    b = ev.where(F.col("event_type") == "purchase").select("user_id")
    sk = (
        a.agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("s"))
        .withColumn("side", F.lit("a"))
        .unionByName(
            b.agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("s"))
            .withColumn("side", F.lit("b"))
        )
    )
    ests = sk.agg(
        F.max(
            F.when(F.col("side") == "a", F.hll_sketch_estimate("s"))
        ).alias("est_a"),
        F.max(
            F.when(F.col("side") == "b", F.hll_sketch_estimate("s"))
        ).alias("est_b"),
        F.hll_sketch_estimate(
            F.hll_union_agg(F.col("s"), F.lit(False))
        ).alias("est_u"),
    )
    # exact counts as DataFrames (no driver math in the emitted row)
    ea = a.distinct().agg(F.count(F.lit(1)).alias("exact_a"))
    eb = b.distinct().agg(F.count(F.lit(1)).alias("exact_b"))
    eo = (
        a.distinct()
        .join(b.distinct(), "user_id")
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    est_overlap = F.col("est_a") + F.col("est_b") - F.col("est_u")
    return (
        ea.crossJoin(eb)
        .crossJoin(eo)
        .crossJoin(ests)
        .select(
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            F.col("exact_overlap").cast("long").alias("exact_overlap"),
            (
                F.abs(est_overlap - F.col("exact_overlap"))
                <= F.greatest(
                    F.lit(0.15) * F.col("exact_overlap"), F.lit(10.0)
                )
            ).alias("overlap_within_15pct"),
        )
    )


# ---------------------------------------------------------------------------
# q312: equi-width histogram quantiles + error audit vs exact (round 8)
# ---------------------------------------------------------------------------

_Q312_BINS = 1024
_Q312_QBP = (5000, 9000, 9900)  # P50 / P90 / P99 in basis points

_Q312_SQL = f"""
WITH v AS (
  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
),
st AS (
  SELECT CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM v
),
hist AS (
  SELECT CAST(FLOOR((c - st.lo) * {_Q312_BINS} / (st.hi - st.lo + 1.0))
              AS BIGINT) AS bin,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM v, st GROUP BY 1
),
hcum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum
  FROM hist
),
vcum AS (
  SELECT c, SUM(cnt) OVER (ORDER BY c
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum
  FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY c)
),
q AS (SELECT unnest(ARRAY{list(_Q312_QBP)}) AS q_bp),
r AS (
  SELECT q_bp, CAST(CEIL(q_bp * st.n / 10000.0) AS BIGINT) AS rk,
         st.lo, st.hi
  FROM q, st
),
approx AS (
  SELECT r.q_bp,
         MIN(CASE WHEN h.cum >= r.rk THEN h.bin END) AS bin,
         r.lo, r.hi
  FROM r, hcum h GROUP BY r.q_bp, r.lo, r.hi
),
exact AS (
  SELECT r.q_bp, MIN(CASE WHEN x.cum >= r.rk THEN x.c END) AS exact_cents
  FROM r, vcum x GROUP BY r.q_bp
)
SELECT a.q_bp,
       CAST(e.exact_cents AS BIGINT) AS exact_cents,
       CAST(a.lo + FLOOR(a.bin * (a.hi - a.lo + 1.0) / {_Q312_BINS})
            AS BIGINT) AS approx_lo_cents,
       CAST(e.exact_cents
            - (a.lo + FLOOR(a.bin * (a.hi - a.lo + 1.0) / {_Q312_BINS}))
            AS BIGINT) AS err_cents,
       CAST(CEIL((a.hi - a.lo + 1.0) / {_Q312_BINS}) AS BIGINT)
         AS width_cents,
       e.exact_cents
         >= a.lo + FLOOR(a.bin * (a.hi - a.lo + 1.0) / {_Q312_BINS})
       AND e.exact_cents
         < a.lo + FLOOR((a.bin + 2) * (a.hi - a.lo + 1.0) / {_Q312_BINS})
         AS within_bound
FROM approx a JOIN exact e ON e.q_bp = a.q_bp
ORDER BY a.q_bp
"""


@register(
    "q312_histogram_quantiles",
    _Q312_SQL,
    doc=(
        f"mergeable {_Q312_BINS}-bin equi-width histogram quantile "
        "sketch WITH its error audit: P50/P90/P99 of line-item price "
        "read from the bin cumulative (the sketch any map-side task "
        "can build and any reducer can merge by adding counters — the "
        "one-pass 100 TB quantile path) against the exact value-domain "
        "rank, reporting the error in cents and whether it respects "
        "the provable one-bin-width bound.  Integer cents end to end; "
        "the only windows run over the 1024-bin frame and the "
        "value-domain frame (the q289 bounded-frame discipline); "
        "rank selection is an always-one-row MIN(CASE) aggregate, "
        "never filter-then-crossJoin (the q274 empty-frame lesson)"
    ),
    tables=("lineitem",),
)
def q312(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    v = truncate_lineage(
        load_table(spark, sf_dir, "lineitem").select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")
        )
    )
    st = v.agg(
        F.min("c").cast("long").alias("lo"),
        F.max("c").cast("long").alias("hi"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    binexpr = F.floor(
        (F.col("c") - F.col("lo"))
        * _Q312_BINS
        / (F.col("hi") - F.col("lo") + 1.0)
    ).cast("long")
    hist = (
        v.crossJoin(st)
        .groupBy(binexpr.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    hcum = hist.select(
        "bin",
        F.sum("cnt")
        .over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    # the exact side's cumulative runs over the VALUE DOMAIN, which
    # grows with the data — range-bucketed global cumsum, never a
    # single-task window (the 1024-bin hcum frame above is bounded by
    # construction, so a plain window is fine there)
    from osm_changesets_to_parquet_spark.operators.packing import (
        global_cumsum,
    )

    vals = v.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    vcum = global_cumsum(vals, "c", "cnt", out_col="cum").select("c", "cum")
    r = (
        spark.createDataFrame([(q,) for q in _Q312_QBP], "q_bp long")
        .crossJoin(st)
        .select(
            "q_bp",
            F.ceil(F.col("q_bp") * F.col("n") / 10000.0)
            .cast("long")
            .alias("rk"),
            "lo",
            "hi",
        )
    )
    approx = (
        r.crossJoin(hcum)
        .groupBy("q_bp", "lo", "hi")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("rk"), F.col("bin"))
            ).alias("bin")
        )
    )
    exact = (
        r.crossJoin(vcum)
        .groupBy("q_bp")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("rk"), F.col("c"))
            ).alias("exact_cents")
        )
    )
    width1 = (F.col("hi") - F.col("lo") + 1.0) / _Q312_BINS
    approx_lo = F.col("lo") + F.floor(F.col("bin") * width1)
    return (
        approx.join(exact, "q_bp")
        .select(
            "q_bp",
            F.col("exact_cents").cast("long").alias("exact_cents"),
            approx_lo.cast("long").alias("approx_lo_cents"),
            (F.col("exact_cents") - approx_lo).cast("long").alias("err_cents"),
            F.ceil(width1).cast("long").alias("width_cents"),
            (
                (F.col("exact_cents") >= approx_lo)
                & (
                    F.col("exact_cents")
                    < F.col("lo") + F.floor((F.col("bin") + 2) * width1)
                )
            ).alias("within_bound"),
        )
        .orderBy("q_bp")
    )

"""Sampling, selection & retrieval-infrastructure queries.

The draw-and-route half of the round-7 statistical band: deterministic
id-hash sampling (stratified / reservoir / weighted), allocation and
mixing plans, bloom-filter anti-joins, bipartite projections, spatial
blocking, and per-key top-N retrieval.  Hypothesis tests and drift
measures moved to stats_inference.py, survival/seasonality to
ml_timeseries.py, and LM/corpus text queries to ml_corpus.py in the
round-10 family regrouping (mechanical relocation, zero behavior
change — verified by the pre/post registry hash dump).

House rules (SURVEY §2.B determinism discipline): every float output
is ROUND()ed on the same double both sides; integer arithmetic is
exact and engine-identical (the operators/quality.py Knuth-hash
authority); every result has a total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.quality import (
    hash_bucket,
    sql_hash_bucket,
)
from osm_changesets_to_parquet_spark.queries import register

# ---------------------------------------------------------------------------
# q206: stratified sampling — per-stratum rates in one pushable predicate
# ---------------------------------------------------------------------------

# sampling percentage per event_type stratum: rare strata kept at a
# higher rate (the class-rebalancing shape of training-data curation)
_Q206_RATES = {"click": 5, "error": 10, "purchase": 50, "signup": 20, "view": 2}


_Q206_SQL = f"""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       ROUND(SUM(value), 2) AS sum_value
FROM events
WHERE {sql_hash_bucket("event_id", 100)} < CASE event_type
  {" ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(_Q206_RATES.items()))}
  ELSE 0 END
GROUP BY event_type ORDER BY event_type
"""


@register(
    "q206_stratified_sample",
    _Q206_SQL,
    doc=(
        "stratified sampling with per-stratum rates (the class-"
        "rebalancing draw of training-data curation: rare classes kept "
        "at higher rates): membership is ONE row-local predicate — "
        "deterministic id-hash bucket < rate[stratum] via a literal "
        "CASE map — so the sample is a pushable scan filter with no "
        "shuffle, no per-partition RNG seed drift, and stability under "
        "appends/repartitioning (the q69 contract, stratified)"
    ),
    tables=("events",),
)
def q206(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rate = None
    for k, v in sorted(_Q206_RATES.items()):
        rate = (
            F.when(F.col("event_type") == k, F.lit(v))
            if rate is None
            else rate.when(F.col("event_type") == k, F.lit(v))
        )
    rate = rate.otherwise(F.lit(0))
    return (
        ev.where(hash_bucket("event_id", 100) < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q207: fixed-k uniform "reservoir" sample as bottom-k-by-hash
# ---------------------------------------------------------------------------

_Q207_K = 20


_Q207_SQL = f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars FROM documents
  ORDER BY {sql_hash_bucket("doc_id", 1000000007)}, doc_id
  LIMIT {_Q207_K}
) ORDER BY doc_id
"""


@register(
    "q207_reservoir_sample",
    _Q207_SQL,
    doc=(
        "fixed-size uniform sample (the distributed reservoir-sampling "
        "use case) spelled as bottom-k by deterministic id hash — "
        "executes as TakeOrderedAndProject (per-partition k-heap + "
        "O(k) driver merge, NEVER a global sort), is exactly "
        "reproducible across runs/engines unlike an actual reservoir "
        "(whose result depends on encounter order), and at 100 TB "
        "costs one scan with k rows per partition in flight; the "
        "operators/anchors.py fixed_k_anchors discipline as a "
        "user-facing sampler"
    ),
    tables=("documents",),
)
def q207(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", "n_chars")
        .orderBy(hash_bucket("doc_id", 1_000_000_007), F.col("doc_id"))
        .limit(_Q207_K)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q216: Bloom-filter-pruned anti-join (sketch-gated blocklist filtering)
# ---------------------------------------------------------------------------

_Q216_M = 4096  # bits
# second multiplicative constant: xxhash32's prime-2 (public), giving an
# independent-enough second hash over the same 31-bit-folded id
_Q216_C2 = 2246822519


_Q216_H1 = sql_hash_bucket("o_custkey", _Q216_M)


_Q216_H2 = f"(((o_custkey) % 2147483648) * {_Q216_C2}) % {_Q216_M}"


_Q216_B1 = sql_hash_bucket("c_custkey", _Q216_M)


_Q216_B2 = f"(((c_custkey) % 2147483648) * {_Q216_C2}) % {_Q216_M}"


_Q216_SQL = f"""
WITH block AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
bits AS (
  SELECT DISTINCT b FROM (
    SELECT {_Q216_B1} AS b FROM block
    UNION ALL SELECT {_Q216_B2} AS b FROM block
  )
),
o AS (SELECT o_orderkey, o_custkey FROM orders),
pass AS (
  SELECT * FROM o
  WHERE {_Q216_H1} IN (SELECT b FROM bits)
    AND {_Q216_H2} IN (SELECT b FROM bits)
),
hit AS (SELECT * FROM pass WHERE o_custkey IN (SELECT c_custkey FROM block))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n_orders,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pass) AS bloom_pass,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS exact_blocked,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pass)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS false_positives
"""


@register(
    "q216_bloom_antijoin",
    _Q216_SQL,
    doc=(
        "Bloom-filter-gated blocklist join (Bloom 1970 — the runtime-"
        "filter technique Spark itself applies as an opt-in rule): the "
        "blocklist's k=2 deterministic hash bits (m=4096) form a tiny "
        "DISTINCT frame that BROADCASTs; the fact side is pre-filtered "
        "by two broadcast semi-joins on row-local bit positions — no "
        "false negatives by construction, so the exact membership join "
        "only runs on the bloom-positive remnant (at 100 TB: the "
        "shuffle-free sketch absorbs ~bitload/m of the corpus, and "
        "false_positives REPORTS the sketch's realized error instead "
        "of hiding it); all arithmetic is 31-bit-folded integer "
        "multiplies — engine-exact"
    ),
    tables=("customer", "orders"),
)
def q216(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    block = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    h2 = lambda c: ((F.col(c) % F.lit(1 << 31)) * F.lit(_Q216_C2)) % F.lit(_Q216_M)
    bits = (
        block.select(hash_bucket("c_custkey", _Q216_M).alias("b"))
        .unionAll(block.select(h2("c_custkey").alias("b")))
        .distinct()
    )
    o = orders.select("o_orderkey", "o_custkey")
    passed = o.join(
        bits, hash_bucket("o_custkey", _Q216_M) == F.col("b"), "semi"
    ).join(bits, h2("o_custkey") == F.col("b"), "semi")
    hit = passed.join(
        block, F.col("o_custkey") == F.col("c_custkey"), "semi"
    )
    counts = (
        o.agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(passed.agg(F.count(F.lit(1)).alias("bloom_pass")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("exact_blocked")))
    )
    return counts.select(
        "n_orders",
        "bloom_pass",
        "exact_blocked",
        (F.col("bloom_pass") - F.col("exact_blocked")).alias("false_positives"),
    )


# ---------------------------------------------------------------------------
# q210: bipartite co-occurrence projection (parts co-purchased in an order)
# ---------------------------------------------------------------------------

_Q210_K = 20


_Q210_SQL = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT p1, p2, CAST(COUNT(*) AS BIGINT) AS n_co_orders
FROM pairs GROUP BY p1, p2
ORDER BY n_co_orders DESC, p1, p2 LIMIT {_Q210_K}
"""


@register(
    "q210_bipartite_projection",
    _Q210_SQL,
    doc=(
        "bipartite graph projection (order-part incidence -> part-part "
        "co-purchase edges, the item-item collaborative-filtering "
        "precompute): DISTINCT incidence first, then a SELF-equi-join "
        "keyed on the order — pair volume is Σ k_i² over per-order "
        "basket sizes (bounded: ~4-13 lines/order), NOT |lineitem|², "
        "and the join shuffles on l_orderkey so each basket's pairs "
        "materialize on one task; top-k is TakeOrderedAndProject.  At "
        "100 TB the guard is the basket-size cap (a pathological "
        "mega-basket is the q133 skew-profile case first)"
    ),
    tables=("lineitem",),
)
def q210(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "k")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_co_orders"))
        .orderBy(F.col("n_co_orders").desc(), "p1", "p2")
        .limit(_Q210_K)
    )


# ---------------------------------------------------------------------------
# q217: recency-weighted engagement (exponential time-decay aggregate)
# ---------------------------------------------------------------------------

_Q217_HALFLIFE_DAYS = 7.0


_Q217_SQL = f"""
WITH m AS (SELECT MAX(epoch_us(ts)) AS mx FROM events),
w AS (
  SELECT event_type, value,
         POWER(0.5, (m.mx - epoch_us(ts)) / 86400000000.0
                    / {_Q217_HALFLIFE_DAYS}) AS wt
  FROM events, m
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(wt), 4) AS decayed_count,
       ROUND(SUM(wt * value) / SUM(wt), 4) AS decayed_mean_value
FROM w GROUP BY event_type ORDER BY event_type
"""


@register(
    "q217_recency_weighted_ctr",
    _Q217_SQL,
    doc=(
        "exponentially time-decayed engagement profile (halflife 7 "
        "days — the freshness weighting of ranking/CTR features): the "
        "global max timestamp is a 1-row broadcast scalar; every "
        "weight is row-local POWER(0.5, age/halflife) over integer "
        "epoch-micro age (the shared time domain), folded by one "
        "map-side-partial keyed aggregate — one scan, one tiny "
        "shuffle; the q83 EWMA discipline generalized to unordered "
        "decay"
    ),
    tables=("events",),
)
def q217(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = ev.agg(F.max("ts_us").alias("mx"))
    wt = F.pow(
        F.lit(0.5),
        (F.col("mx") - F.col("ts_us"))
        / F.lit(86400000000.0)
        / F.lit(_Q217_HALFLIFE_DAYS),
    )
    return (
        ev.crossJoin(m)
        .select("event_type", "value", wt.alias("wt"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("wt"), 4).alias("decayed_count"),
            F.round(F.sum(F.col("wt") * F.col("value")) / F.sum("wt"), 4).alias(
                "decayed_mean_value"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q211: haversine radius join with lossless grid blocking
# ---------------------------------------------------------------------------
# Synthetic-but-deterministic coordinates derived from the keys (the
# cs10 geo-fixture recipe: exact multiples of 0.25, |lat| <= 70.25),
# spelled identically in both engines.  Distances are ROUND()ed to 6dp
# BEFORE any comparison/argmin: the lattice has mathematically
# equidistant pairs, and 6dp-rounding makes the tie EXPLICIT (broken by
# s_suppkey) instead of resting on cross-engine libm last-ulp agreement.

_Q211_RADIUS_KM = 500.0


_Q211_CELL_DEG = 5
# lossless neighbor envelope: dlat <= 500/111.19 = 4.5 deg (1 cell);
# dlon <= 4.5/cos(70.25 deg) = 13.3 deg (3 cells) — lats cap at 70.25
_Q211_LAT_OFF = (-1, 0, 1)


_Q211_LON_OFF = (-3, -2, -1, 0, 1, 2, 3)


_Q211_CLAT = "(((c_custkey * 7) % 140) - 70 + 0.25)"


_Q211_CLON = "(((c_custkey * 13) % 340) - 170 + 0.5)"


_Q211_SLAT = "(((s_suppkey * 11) % 140) - 70 + 0.25)"


_Q211_SLON = "(((s_suppkey * 17) % 340) - 170 + 0.5)"


_Q211_SQL = f"""
WITH c AS (SELECT c_custkey, {_Q211_CLAT} AS la, {_Q211_CLON} AS lo FROM customer),
s AS (SELECT s_suppkey, {_Q211_SLAT} AS la, {_Q211_SLON} AS lo FROM supplier),
d AS (
  SELECT c.c_custkey, s.s_suppkey,
         ROUND(2.0 * 6371.0 * asin(sqrt(
           pow(sin(radians(s.la - c.la) / 2), 2)
           + cos(radians(c.la)) * cos(radians(s.la))
             * pow(sin(radians(s.lo - c.lo) / 2), 2))), 6) AS km
  FROM c, s
),
near AS (SELECT * FROM d WHERE km <= {_Q211_RADIUS_KM}),
r AS (
  SELECT c_custkey, s_suppkey, km,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY km, s_suppkey) AS rn
  FROM near
)
SELECT n.c_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_near,
       ANY_VALUE(r.s_suppkey) AS nearest_suppkey,
       ROUND(ANY_VALUE(r.km), 1) AS nearest_km
FROM near n JOIN r ON r.c_custkey = n.c_custkey AND r.rn = 1
GROUP BY n.c_custkey ORDER BY n.c_custkey
"""


@register(
    "q211_haversine_join",
    _Q211_SQL,
    doc=(
        "geo radius join (suppliers within 500 km of each customer, "
        "plus the nearest one) with LOSSLESS grid blocking: both sides "
        "key on floor(lat/5), floor(lon/5) cells; each customer probes "
        "its 3x7 neighbor envelope (provably covers the radius for "
        "|lat| <= 70.25 — dlat <= 4.5 deg, dlon <= 4.5/cos(70.25) = "
        "13.3 deg) so candidates come from ONE equi-join on cell "
        "coordinates — never the all-pairs cross join the brute-force "
        "oracle runs; the exact haversine verifies candidates in-row, "
        "and the per-customer count + min_by argmin are one keyed "
        "aggregation (map-side partials, zero windows)"
    ),
    tables=("customer", "supplier"),
)
def q211(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 7) % 140) - 70 + F.lit(0.25)).alias("cla"),
        (((F.col("c_custkey") * 13) % 340) - 170 + F.lit(0.5)).alias("clo"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 11) % 140) - 70 + F.lit(0.25)).alias("sla"),
        (((F.col("s_suppkey") * 17) % 340) - 170 + F.lit(0.5)).alias("slo"),
    )
    cell = lambda c: F.floor(c / F.lit(_Q211_CELL_DEG)).cast("long")
    s_cells = supp.select(
        "*", cell(F.col("sla")).alias("gla"), cell(F.col("slo")).alias("glo")
    )
    offsets = F.array(
        *[
            F.struct(F.lit(a).alias("da"), F.lit(o).alias("do"))
            for a in _Q211_LAT_OFF
            for o in _Q211_LON_OFF
        ]
    )
    c_probes = cust.select(
        "*", F.explode(offsets).alias("off")
    ).select(
        "c_custkey",
        "cla",
        "clo",
        (cell(F.col("cla")) + F.col("off.da")).alias("gla"),
        (cell(F.col("clo")) + F.col("off.do")).alias("glo"),
    )
    km = F.round(
        F.lit(2.0)
        * F.lit(6371.0)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("sla") - F.col("cla")) / 2), 2)
                + F.cos(F.radians("cla"))
                * F.cos(F.radians("sla"))
                * F.pow(F.sin(F.radians(F.col("slo") - F.col("clo")) / 2), 2)
            )
        ),
        6,
    )
    near = (
        c_probes.join(s_cells, ["gla", "glo"])
        .select("c_custkey", "s_suppkey", km.alias("km"))
        .where(F.col("km") <= _Q211_RADIUS_KM)
    )
    return (
        near.groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_near"),
            F.min_by(
                F.struct(F.col("s_suppkey").alias("sk"), F.col("km").alias("km")),
                F.struct(F.col("km").alias("k"), F.col("s_suppkey").alias("s")),
            ).alias("best"),
        )
        .select(
            "c_custkey",
            "n_near",
            F.col("best.sk").alias("nearest_suppkey"),
            F.round(F.col("best.km"), 1).alias("nearest_km"),
        )
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q226: correlated LATERAL subquery with per-row ORDER BY ... LIMIT
# ---------------------------------------------------------------------------

_Q226_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.price
FROM customer c, LATERAL (
  SELECT o_orderkey, ROUND(o_totalprice, 2) AS price
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 3
) t
WHERE c.c_custkey <= 100
ORDER BY c.c_custkey, price DESC, o_orderkey
"""


@register(
    "q226_lateral_topn",
    _Q226_SQL,
    doc=(
        "correlated LATERAL subquery with per-row ORDER BY ... LIMIT "
        "(top-3 orders per customer) — run VERBATIM through spark.sql "
        "like q161/q200, witnessing the one correlation shape the "
        "registered surface didn't yet exercise: Catalyst's "
        "DecorrelateInnerQuery must rewrite the per-row limit into a "
        "partitioned rank filter over ONE join (the UDTF laterals "
        "u4/u6 cover function-valued laterals; this is the subquery "
        "form).  The same text runs unchanged on DuckDB"
    ),
    tables=("customer", "orders"),
)
def q226(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q226_SQL)


# ---------------------------------------------------------------------------
# q228: dataset mixing to target language proportions
# ---------------------------------------------------------------------------

# target mixture shares (percent) — the pretraining data-mixing recipe
_Q228_TARGETS = {"en": 50, "de": 15, "es": 15, "fr": 10, "zh": 10}


_Q228_MOD = 1_000_000


def _q228_sql() -> str:
    tcase = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_Q228_TARGETS.items())
    )
    return f"""
WITH n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS nl FROM documents GROUP BY lang),
t AS (SELECT lang, nl, CASE lang {tcase} ELSE 0 END AS tgt FROM n),
sc AS (SELECT MIN(nl * 1.0 / tgt) AS scale FROM t WHERE tgt > 0),
r AS (
  SELECT t.lang, t.nl, t.tgt,
         CAST(FLOOR(t.tgt * sc.scale / t.nl * {_Q228_MOD}) AS BIGINT) AS thr
  FROM t, sc
),
kept AS (
  SELECT d.lang, COUNT(*) AS kept
  FROM documents d JOIN r ON r.lang = d.lang
  WHERE {sql_hash_bucket("d.doc_id", _Q228_MOD)} < r.thr
  GROUP BY d.lang
)
SELECT r.lang, r.nl AS n_docs, CAST(r.tgt AS BIGINT) AS target_pct,
       CAST(COALESCE(kept.kept, 0) AS BIGINT) AS n_kept
FROM r LEFT JOIN kept ON kept.lang = r.lang
ORDER BY r.lang
"""


@register(
    "q228_dataset_mixing",
    _q228_sql(),
    doc=(
        "dataset mixing to target language proportions (the "
        "pretraining mixture recipe: en 50 / de 15 / es 15 / fr 10 / "
        "zh 10): the binding language sets the scale "
        "(min nl/target), each language's acceptance THRESHOLD is a "
        "broadcast scalar, and membership is the row-local "
        "deterministic hash predicate — a pushable scan filter, no "
        "per-language exact-k window over the corpus (rate-based "
        "thresholding trades exact counts for a shuffle-free scan, "
        "the right trade at 100 TB; realized counts are reported "
        "for audit)"
    ),
    tables=("documents",),
)
def q228(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    tgt = None
    for k, v in sorted(_Q228_TARGETS.items()):
        tgt = (
            F.when(F.col("lang") == k, F.lit(v))
            if tgt is None
            else tgt.when(F.col("lang") == k, F.lit(v))
        )
    tgt = tgt.otherwise(F.lit(0))
    t = n.select("lang", "nl", tgt.alias("tgt"))
    sc = t.where(F.col("tgt") > 0).agg(
        F.min(F.col("nl") * F.lit(1.0) / F.col("tgt")).alias("scale")
    )
    r = t.crossJoin(sc).select(
        "lang",
        "nl",
        "tgt",
        F.floor(
            F.col("tgt") * F.col("scale") / F.col("nl") * F.lit(_Q228_MOD)
        )
        .cast("long")
        .alias("thr"),
    )
    kept = (
        docs.join(F.broadcast(r), "lang")
        .where(hash_bucket("doc_id", _Q228_MOD) < F.col("thr"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    return (
        r.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("nl").alias("n_docs"),
            F.col("tgt").cast("long").alias("target_pct"),
            F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q230: weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_Q230_K = 10


_Q230_MOD = 1_000_003  # prime: hash buckets hit every residue


def _q230_key_sql(id_expr: str, w_expr: str) -> str:
    u = f"(({sql_hash_bucket(id_expr, _Q230_MOD)}) + 1) * 1.0 / {_Q230_MOD + 1}"
    return f"LN({u}) / ({w_expr})"


_Q230_SQL = f"""
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars FROM documents
  ORDER BY {_q230_key_sql("doc_id", "n_chars")} DESC, doc_id
  LIMIT {_Q230_K}
) ORDER BY doc_id
"""


@register(
    "q230_weighted_reservoir",
    _Q230_SQL,
    doc=(
        "weighted sampling WITHOUT replacement, k=10, weight=n_chars "
        "(Efraimidis & Spirakis 2006 A-ES: each row keyed by "
        "u^(1/w) — equivalently ln(u)/w — and the top-k keys are the "
        "sample): u comes from the deterministic id hash instead of "
        "an RNG, so the draw is reproducible across runs, engines, "
        "and repartitioning — and the top-k is TakeOrderedAndProject "
        "(per-partition k-heap), the same one-scan shape as q207 but "
        "with inclusion probability proportional to weight"
    ),
    tables=("documents",),
)
def q230(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    u = (hash_bucket("doc_id", _Q230_MOD) + 1) * F.lit(1.0) / F.lit(_Q230_MOD + 1)
    key = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "lang", "n_chars")
        .orderBy(key.desc(), F.col("doc_id"))
        .limit(_Q230_K)
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q306: Neyman allocation for stratified sampling (round 8)
# ---------------------------------------------------------------------------

_Q306_BUDGET = 100

# Neyman (1934): allocate a fixed sample budget n across strata
# proportionally to N_h * S_h — big and variable strata get more.
# Variance comes from integer cents power sums (the q221 discipline:
# engines' stddev kernels differ in the last ulp; an explicit
# (s2 - s1^2/N)/(N-1) double expression evaluated identically does
# not), and s1^2 is squared AS DOUBLE so sf0.1-scale sums cannot
# overflow a BIGINT mid-expression.
_Q306_SQL = f"""
WITH s AS (
  SELECT c_mktsegment AS segment,
         CAST(COUNT(*) AS BIGINT) AS n_h,
         CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s1,
         CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                  * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s2
  FROM customer GROUP BY 1
),
sd AS (
  SELECT segment, n_h,
         SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_h)
              / (n_h - 1)) AS s_h
  FROM s
)
SELECT segment, n_h,
       ROUND(s_h / 100.0, 4) AS sd_dollars,
       CAST(FLOOR({_Q306_BUDGET} * (n_h * s_h)
                  / (SELECT SUM(n_h * s_h) FROM sd) + 0.5) AS BIGINT)
         AS alloc
FROM sd ORDER BY segment
"""


@register(
    "q306_neyman_allocation",
    _Q306_SQL,
    doc=(
        f"Neyman-optimal allocation of a {_Q306_BUDGET}-unit sample "
        "budget across market-segment strata (allocation proportional "
        "to N_h x S_h, the minimum-variance split of a stratified "
        "mean estimate — the principled upgrade over q206's "
        "fixed-rate stratification): per-stratum variance from exact "
        "integer cents power sums, one keyed aggregation + one 5-row "
        "weight frame; rounding is FLOOR(x + 0.5) spelled identically "
        "both engines (never engine-native ROUND on a ratio)"
    ),
    tables=("customer",),
)
def q306(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    s = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_h"),
            F.sum(cents).cast("long").alias("s1"),
            F.sum(cents * cents).cast("long").alias("s2"),
        )
    )
    s_h = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("n_h")
        )
        / (F.col("n_h") - 1)
    )
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    # the 5-row stratum frame feeds both the weight total and the final
    # select — materialize once (multi-consumer recompute discipline)
    sd = truncate_lineage(s.select("segment", "n_h", s_h.alias("s_h")))
    tot = sd.agg(F.sum(F.col("n_h") * F.col("s_h")).alias("w"))
    return (
        sd.crossJoin(tot)
        .select(
            "segment",
            "n_h",
            F.round(F.col("s_h") / 100.0, 4).alias("sd_dollars"),
            F.floor(
                F.lit(_Q306_BUDGET) * (F.col("n_h") * F.col("s_h")) / F.col("w")
                + 0.5
            )
            .cast("long")
            .alias("alloc"),
        )
        .orderBy("segment")
    )

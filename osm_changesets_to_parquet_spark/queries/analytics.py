"""Behavioral / event-stream analytics: funnels, cohorts, sessions,
paths, attribution, pattern mining.

The classic product-analytics shapes a general engine must answer over
an event stream: ordered multi-step conversion (funnel, windowed
funnel), cohorted return-rate (retention), sessionization (batch gap
split, session entropy), path/transition mining, multi-touch and
position/Markov attribution, activity streaks, and market-basket
pattern mining (frequent pairs, Apriori triples).  Metric/distribution
analytics moved to analytics_metrics.py and the join-strategy probes
to relational_ext.py in the round-10 family regrouping (mechanical
relocation, zero behavior change — verified by the pre/post registry
hash dump).

Scale notes: every query here reduces the event stream to an O(users),
O(sessions) or O(windows x types) rollup behind map-side partials
before any join; the joins carry the rollup, never raw events.  All
time arithmetic is integer epoch micros (catalog ts_us) so the DuckDB
oracle can never disagree on a boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register

US_PER_DAY = 86_400_000_000
US_PER_HOUR = 3_600_000_000


# ---------------------------------------------------------------------------
# q209: per-user behavioral entropy (session diversity profile)
# ---------------------------------------------------------------------------

@register(
    "q209_session_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, COUNT(*) AS n
  FROM events GROUP BY user_id, event_type
),
t AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY user_id)
SELECT c.user_id, ANY_VALUE(t.tot) AS n_events,
       ROUND(SUM(-(c.n * 1.0 / t.tot) * log2(c.n * 1.0 / t.tot)), 4) AS entropy
FROM c JOIN t ON c.user_id = t.user_id
GROUP BY c.user_id ORDER BY c.user_id
""",
    doc=(
        "per-user Shannon entropy of the event-type mix (bot/anomaly "
        "screening: near-zero entropy = single-action automation, "
        "high = organic browsing): two keyed aggregations — "
        "(user, type) counts, then the per-user -Σ p·log2 p fold — "
        "both with map-side partials; the shuffle carries one row per "
        "(user, observed type), bounded by users x |type vocabulary|, "
        "never the event stream"
    ),
    tables=("events",),
)
def q209(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.first("tot").cast("long").alias("n_events"),
            F.round(F.sum(-p * F.log2(p)), 4).alias("entropy"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q229: batch sessionization (30-minute inactivity gaps)
# ---------------------------------------------------------------------------

_Q229_GAP_US = 30 * 60 * 1_000_000


_Q229_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t FROM events
),
flag AS (
  SELECT user_id, event_id, t,
         CASE WHEN LAG(t) OVER w IS NULL
                   OR t - LAG(t) OVER w > {_Q229_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
sess AS (
  SELECT user_id, t,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id) AS sid
  FROM flag
)
SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(t) - MIN(t) AS BIGINT) AS dur_us
FROM sess GROUP BY user_id, sid ORDER BY user_id, session_idx
"""


@register(
    "q229_batch_sessionize",
    _Q229_SQL,
    doc=(
        "batch sessionization by 30-minute inactivity gap (the batch "
        "twin of s3's streaming session_window, over the SAME gap "
        "semantics): per-user LAG flags session starts, a per-user "
        "running sum numbers them, one keyed aggregate rolls each "
        "session up — every window is PARTITIONED BY user_id (state "
        "bounded per key, the distributed-sessionization shape), and "
        "time arithmetic stays in integer epoch micros"
    ),
    tables=("events",),
)
def q229(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts_us").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    new_s = (
        F.lag("t").over(w).isNull()
        | (F.col("t") - F.lag("t").over(w) > _Q229_GAP_US)
    ).cast("int")
    sess = ev.withColumn("new_s", new_s).withColumn(
        "sid", F.sum("new_s").over(w)
    )
    return (
        sess.groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("t") - F.min("t")).cast("long").alias("dur_us"),
        )
        .select(
            "user_id",
            F.col("sid").cast("long").alias("session_idx"),
            "n_events",
            "dur_us",
        )
        .orderBy("user_id", "session_idx")
    )


@register(
    "q75_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
           (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_full_funnel
    """,
    doc=(
        "ordered 3-step funnel (view -> click -> purchase, strictly "
        "increasing event time): chained per-user conditional minima — "
        "every join carries one row per user, never O(events)"
    ),
    tables=("events",),
)
def q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        ev.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view")))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel")))
    )


@register(
    "q76_retention_cohort",
    f"""
    WITH f AS (
      SELECT user_id, MIN(epoch_us(ts) // {US_PER_DAY}) AS cohort_day
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {US_PER_DAY} AS day FROM events
    )
    SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
           COUNT(*) AS n_users
    FROM a JOIN f ON a.user_id = f.user_id
    WHERE a.day - f.cohort_day BETWEEN 0 AND 7
    GROUP BY 1, 2 ORDER BY cohort_day, day_offset
    """,
    doc=(
        "retention matrix: first-activity-day cohorts x day offset 0-7; "
        "two per-user aggregates + one O(users x active-days) join"
    ),
    tables=("events",),
)
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", (F.unix_micros("ts") / US_PER_DAY).cast("long").alias("day")
    )
    f = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    a = ev.distinct()
    off = (F.col("day") - F.col("cohort_day")).alias("day_offset")
    return (
        a.join(f, "user_id")
        .where((F.col("day") - F.col("cohort_day")).between(0, 7))
        .groupBy("cohort_day", off)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# ---------------------------------------------------------------------------
# Q122: unkeyed interval overlap join (operators/intervals.py)
# ---------------------------------------------------------------------------

_Q122_SQL = """
WITH iv AS (
  SELECT o_orderkey AS id,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS s,
         CAST(epoch_us(o_orderdate) // 86400000000
              + 1 + o_orderkey % 14 AS BIGINT) AS e
  FROM orders WHERE o_orderkey % 5 = 0
)
SELECT a.id AS id_a, b.id AS id_b,
       LEAST(a.e, b.e) - GREATEST(a.s, b.s) AS overlap
FROM iv a JOIN iv b ON a.id < b.id
WHERE LEAST(a.e, b.e) - GREATEST(a.s, b.s) > 0
ORDER BY id_a, id_b
"""


@register(
    "q122_interval_overlap",
    _Q122_SQL,
    doc=(
        "UNKEYED interval overlap self-join (every pair of order "
        "validity windows that intersect) via grid-bucket blocking "
        "(operators/intervals.py): intervals explode to covered "
        "16-day buckets, candidates come from an ordinary hash join "
        "on the bucket id, exact overlap verified in-row — the scale "
        "spelling of a theta join the oracle runs literally"
    ),
    tables=("orders",),
)
def q122(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.intervals import (
        interval_overlap_pairs,
    )

    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 5 == 0)
    day = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    ).cast("long")
    iv = o.select(
        F.col("o_orderkey").alias("id"),
        day.alias("s"),
        (day + 1 + F.col("o_orderkey") % 14).cast("long").alias("e"),
    )
    return (
        interval_overlap_pairs(iv, "id", "s", "e", bucket_width=16)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Q154: incremental materialized aggregate maintenance
# ---------------------------------------------------------------------------

# The oracle is the FULL recompute over history + delta; the engine
# must reach the same numbers having scanned history zero times (the
# state parquet absorbs it once, at build) and having rewritten only
# the state buckets the delta's keys hash to.
_Q154_SQL = """
SELECT o_custkey,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


@register(
    "q154_incremental_agg",
    _Q154_SQL,
    doc=(
        "materialized-view maintenance: a per-custkey running "
        "(count, sum, min, max) over orders absorbs a 10% delta batch "
        "with NO history rescan (operators/merge.py agg_state_build / "
        "agg_state_merge) — decomposable partials persisted partitioned "
        "by hash_bucket(key), delta reduces to its own partials "
        "(delta-sized shuffle), state scan partition-prunes to touched "
        "buckets, merge is one more partial aggregate; oracle is the "
        "full recompute the incremental path must equal"
    ),
    tables=("orders",),
)
def q154(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from osm_changesets_to_parquet_spark.operators.merge import (
        agg_state_build,
        agg_state_merge,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    b = hash_bucket("o_orderkey", 100)
    history, delta = o.where(b < 90), o.where(b >= 90)
    base = os.path.basename(os.path.normpath(sf_dir))
    # history is aggregated ONCE per fixture (_READY marker, q142/q150
    # discipline); every call after that is a delta-sized merge into a
    # fresh out dir (s14 runner discipline — re-runs can't double-count)
    state = os.path.join(tempfile.gettempdir(), f"agg_state_{base}")
    ready = os.path.join(state, "_READY")
    if not os.path.exists(ready):
        agg_state_build(history, "o_custkey", "o_totalprice", state)
        open(ready, "w").close()
    out = tempfile.mkdtemp(prefix="agg_state_merge_")
    full = agg_state_merge(
        spark, state, delta, "o_custkey", "o_totalprice", out
    )
    return full.select(
        "o_custkey",
        F.col("n").alias("n_orders"),
        F.round("s", 2).alias("sum_price"),
        F.col("mn").alias("min_price"),
        F.col("mx").alias("max_price"),
    ).orderBy("o_custkey")


# ---------------------------------------------------------------------------
# Q156: event-transition matrix (first-order Markov chain)
# ---------------------------------------------------------------------------

_Q156_SQL = """
WITH o AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src
  FROM events
),
t AS (
  SELECT src, event_type AS dst, COUNT(*) AS cnt
  FROM o WHERE src IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, CAST(cnt AS BIGINT) AS cnt,
       ROUND(cnt / CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE), 6) AS prob
FROM t ORDER BY src, dst
"""


@register(
    "q156_event_transitions",
    _Q156_SQL,
    doc=(
        "first-order Markov transition matrix over the event stream "
        "(what follows what, per user): one shuffle keyed on user_id "
        "for the per-user LAG (ties broken on event_id so the chain is "
        "deterministic), then a map-side-partial count over the "
        "|types|² transition keys; per-src totals are a tiny broadcast "
        "frame.  Per-user work is sequential by nature — the window "
        "cost is bounded by max events/user, never corpus size"
    ),
    tables=("events",),
)
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = ev.withColumn("src", F.lag("event_type").over(w)).where(
        F.col("src").isNotNull()
    )
    trans = t.groupBy("src", F.col("event_type").alias("dst")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = trans.groupBy("src").agg(F.sum("cnt").alias("__tot"))
    return (
        trans.join(tot, "src")
        .select(
            "src",
            "dst",
            "cnt",
            F.round(F.col("cnt") / F.col("__tot").cast("double"), 6).alias("prob"),
        )
        .orderBy("src", "dst")
    )


# ---------------------------------------------------------------------------
# Q169: rolling 7-day distinct users (sliding distinct count, exact)
# ---------------------------------------------------------------------------

_Q169_DAY_US = 86_400_000_000


_Q169_SQL = f"""
WITH e AS (
  SELECT epoch_us(ts) // {_Q169_DAY_US} AS day, user_id FROM events
),
d AS (SELECT DISTINCT day FROM e)
SELECT CAST(d.day AS BIGINT) AS day,
       COUNT(DISTINCT e.user_id) AS rolling_users
FROM d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
GROUP BY 1 ORDER BY day
"""


@register(
    "q169_rolling_dau",
    _Q169_SQL,
    doc=(
        "exact trailing-7-day distinct users per day (the rolling-DAU "
        "metric COUNT DISTINCT over a frame can't express and sliding "
        "HLL only approximates): reduce to DISTINCT (day, user) first "
        "— the day-grain shuffle, tiny vs the event stream — then each "
        "pair EXPLODES to the <= 7 windows it serves and one more "
        "distinct+count lands the answer.  Work is 7x the daily-"
        "distinct table, linear and bounded, vs the oracle's range "
        "join; observed-days semi-join keeps phantom trailing days out"
    ),
    tables=("events",),
)
def q169(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts_us div {_Q169_DAY_US}").alias("day"), "user_id"
    )
    du = ev.distinct()
    observed = du.select("day").distinct()
    exploded = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "user_id",
    )
    return (
        exploded.join(observed, "day")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("rolling_users"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Q171: frequent co-occurring item pairs (A-priori step with lift)
# ---------------------------------------------------------------------------

_Q171_SUP = 3


_Q171_SQL = f"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ci AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY 1),
f AS (SELECT l_partkey FROM ci WHERE c >= {_Q171_SUP}),
bf AS (SELECT b.l_orderkey, b.l_partkey FROM b JOIN f USING (l_partkey)),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS nb FROM b),
p AS (
  SELECT a.l_partkey AS x, b2.l_partkey AS y, COUNT(*) AS sup
  FROM bf a JOIN bf b2
    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {_Q171_SUP}
)
SELECT p.x, p.y, CAST(p.sup AS BIGINT) AS support,
       ROUND(p.sup * n.nb / CAST(cx.c * cy.c AS DOUBLE), 6) AS lift
FROM p CROSS JOIN n
JOIN ci cx ON cx.l_partkey = p.x
JOIN ci cy ON cy.l_partkey = p.y
ORDER BY x, y
"""


@register(
    "q171_frequent_pairs",
    _Q171_SQL,
    doc=(
        "market-basket pair mining (the A-priori candidate step): "
        "distinct (basket, item) first, INFREQUENT ITEMS PRUNED before "
        "any pair exists (the A-priori monotonicity — a frequent pair "
        "needs two frequent items), then pairs generate IN-ROW per "
        "basket (sorted collect + posexplode tail-slice, the "
        "lsh_candidates discipline — Σ basket² rows, bounded by basket "
        "size, never a corpus self-join), support filter, lift from "
        "the broadcast item counts"
    ),
    tables=("lineitem",),
)
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("item")
    )
    b = li.distinct()
    ci = b.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    f = ci.where(F.col("c") >= _Q171_SUP).select("item")
    bf = b.join(f, "item")
    nb = b.agg(F.countDistinct("bk").alias("nb"))
    baskets = (
        bf.groupBy("bk")
        .agg(F.array_sort(F.collect_list("item")).alias("items"))
        .where(F.size("items") >= 2)
    )
    members = baskets.select("items", F.posexplode("items").alias("i", "x"))
    pairs = members.select(
        "x",
        F.explode(
            F.slice(F.col("items"), F.col("i") + F.lit(2), F.size("items"))
        ).alias("y"),
    )
    p = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _Q171_SUP)
    )
    return (
        p.crossJoin(F.broadcast(nb))
        .join(ci.select(F.col("item").alias("x"), F.col("c").alias("cx")), "x")
        .join(ci.select(F.col("item").alias("y"), F.col("c").alias("cy")), "y")
        .select(
            "x",
            "y",
            "support",
            F.round(
                F.col("support") * F.col("nb")
                / (F.col("cx") * F.col("cy")).cast("double"),
                6,
            ).alias("lift"),
        )
        .orderBy("x", "y")
    )


# ---------------------------------------------------------------------------
# Q180: RFM customer segmentation (triple exact-NTILE binning)
# ---------------------------------------------------------------------------

_Q180_SQL = """
WITH c AS (
  SELECT o_custkey AS ck,
         MAX(epoch_us(o_orderdate)) AS rec,
         COUNT(*) AS freq,
         CAST(SUM(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
t AS (
  SELECT ck,
         NTILE(4) OVER (ORDER BY rec, ck) AS r_tile,
         NTILE(4) OVER (ORDER BY freq, ck) AS f_tile,
         NTILE(4) OVER (ORDER BY cents, ck) AS m_tile
  FROM c
)
SELECT CAST(r_tile AS BIGINT) AS r_tile, CAST(f_tile AS BIGINT) AS f_tile,
       CAST(m_tile AS BIGINT) AS m_tile, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM t GROUP BY r_tile, f_tile, m_tile
ORDER BY r_tile, f_tile, m_tile
"""


@register(
    "q180_rfm_segments",
    _Q180_SQL,
    doc=(
        "RFM customer segmentation (recency / frequency / monetary "
        "quartiles, the classic CRM binning): one keyed aggregate per "
        "customer — monetary in integer CENTS via FLOOR(x*100+0.5) so "
        "the quartile ORDER is integer math, never a float-sum tie — "
        "then three exact-NTILE(4) assignments through the range-"
        "bucketed global_ntile (each one wide shuffle; never the "
        "single-task partition-less window), grouped to the 4x4x4 "
        "segment census"
    ),
    tables=("orders",),
)
def q180(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_ntile

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("rec"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).cast("long").alias("cents"),
    )
    # fixed monotone bounds skip the per-call approxQuantile driver
    # action (three of them — q180's dominant cost in BENCH tier2);
    # balance only affects parallelism, never the tile assignment
    rec_bounds = [694e12 + 1.6e13 * i for i in range(1, 13)]  # 1992-2002
    t = global_ntile(c, ["rec", "ck"], 4, out_col="r_tile", bounds=rec_bounds)
    t = global_ntile(
        t, ["freq", "ck"], 4, out_col="f_tile",
        bounds=[1.5, 3.5, 6.5, 10.5, 15.5, 21.5, 28.5],
    )
    t = global_ntile(
        t, ["cents", "ck"], 4, out_col="m_tile",
        bounds=[4.0e7 * i for i in range(1, 16)],
    )
    return (
        t.groupBy("r_tile", "f_tile", "m_tile")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_tile", "f_tile", "m_tile")
    )


# ---------------------------------------------------------------------------
# Q183: last-touch conversion attribution (as-of join + 7-day lookback)
# ---------------------------------------------------------------------------

_Q183_WINDOW_US = 7 * US_PER_DAY


_Q183_SQL = f"""
WITH p AS (
  SELECT event_id, user_id, epoch_us(ts) AS us,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT p.event_id, p.cents,
         (SELECT t.event_type FROM events t
           WHERE t.user_id = p.user_id
             AND t.event_type IN ('view', 'click')
             AND epoch_us(t.ts) < p.us
             AND p.us - epoch_us(t.ts) <= {_Q183_WINDOW_US}
           ORDER BY epoch_us(t.ts) DESC, t.event_id DESC LIMIT 1) AS channel
  FROM p
)
SELECT COALESCE(channel, 'none') AS channel,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM m GROUP BY 1 ORDER BY 1
"""


@register(
    "q183_attribution",
    _Q183_SQL,
    doc=(
        "last-touch conversion attribution: every purchase credits the "
        "most recent view/click STRICTLY before it within a 7-day "
        "lookback (older-only touches => 'none').  Spelled through "
        "operators/asof.merge_asof — union + running last over the "
        "user-partitioned window, ONE shuffle, no row explosion at any "
        "touch density (a band join would multiply rows); the 7-day "
        "bound filters AFTER the as-of pick, which is equivalent "
        "because any in-window touch is newer than every out-of-window "
        "one; revenue rides integer cents"
    ),
    tables=("events",),
)
def q183(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.asof import merge_asof

    ev = load_table(spark, sf_dir, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts_us",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    right = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id",
        "ts_us",
        F.col("event_type").alias("ch"),
        F.col("ts_us").alias("tus"),
        F.col("event_id").alias("tid"),
    )
    j = merge_asof(
        left,
        right,
        on="ts_us",
        by="user_id",
        value_cols=["ch", "tus", "tid"],
        strict=True,
        tie_break="tid",
    )
    channel = F.when(
        F.col("tus").isNotNull()
        & ((F.col("ts_us") - F.col("tus")) <= _Q183_WINDOW_US),
        F.col("ch"),
    ).otherwise(F.lit("none"))
    return (
        j.select(channel.alias("channel"), "cents")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Q185: time-bounded funnel (each step within 1 hour of the previous)
# ---------------------------------------------------------------------------

_Q185_SQL = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
    AND epoch_us(e.ts) - v.t1 <= {US_PER_HOUR}
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
    AND epoch_us(e.ts) - c.t2 <= {US_PER_HOUR}
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM v) AS n_view,
       (SELECT COUNT(*) FROM c) AS n_click_1h,
       (SELECT COUNT(*) FROM p) AS n_purchase_1h
"""


@register(
    "q185_windowed_funnel",
    _Q185_SQL,
    doc=(
        "time-bounded conversion funnel (q75 with the product-"
        "analytics conversion window): each step must land strictly "
        "after AND within 1 hour of the previous step's first "
        "occurrence; same chained per-user conditional minima — every "
        "join carries one row per user, never O(events)"
    ),
    tables=("events",),
)
def q185(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("us") > F.col("t1"))
            & ((F.col("us") - F.col("t1")) <= US_PER_HOUR)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("us") > F.col("t2"))
            & ((F.col("us") - F.col("t2")) <= US_PER_HOUR)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_1h")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_1h")))
    )


# ---------------------------------------------------------------------------
# Q186: behavioral path mining (top event-type trigrams per user stream)
# ---------------------------------------------------------------------------

_Q186_SQL = """
WITH s AS (
  SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_id) AS seq
  FROM events GROUP BY user_id
),
g AS (
  SELECT unnest(list_transform(range(1, len(seq) - 1),
         i -> seq[i] || '>' || seq[i+1] || '>' || seq[i+2])) AS path
  FROM s WHERE len(seq) >= 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY path ORDER BY n DESC, path LIMIT 10
"""


@register(
    "q186_path_mining",
    _Q186_SQL,
    doc=(
        "behavioral path mining: the top-10 3-step event-type "
        "sequences across all user streams — per-user ordered collect "
        "(bounded by a user's own history, the q39 bigram discipline), "
        "trigrams built IN-ROW (transform over sequence, no self-join "
        "and no window), then one map-side-partial count + "
        "TakeOrderedAndProject"
    ),
    tables=("events",),
)
def q186(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
        lambda s: s.event_type,
    )
    s = ev.groupBy("user_id").agg(seq.alias("seq")).where(F.size("seq") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("seq") - 2),
        lambda i: F.concat_ws(
            ">",
            F.element_at(F.col("seq"), i),
            F.element_at(F.col("seq"), i + 1),
            F.element_at(F.col("seq"), i + 2),
        ),
    )
    return (
        s.select(F.explode(tri).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q205: gap-constrained sequential pattern mining (2-sequences)
# ---------------------------------------------------------------------------

_Q205_GAP = 5


_Q205_SQL = f"""
WITH s AS (
  SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_id) AS seq
  FROM events GROUP BY user_id
),
g AS (
  SELECT unnest(flatten(list_transform(range(1, len(seq) + 1),
           i -> list_transform(range(i + 1, LEAST(i + {_Q205_GAP}, len(seq)) + 1),
                  j -> seq[i] || '>' || seq[j])))) AS pat
  FROM s WHERE len(seq) >= 2
)
SELECT pat, CAST(COUNT(*) AS BIGINT) AS n
FROM g GROUP BY pat ORDER BY n DESC, pat LIMIT 10
"""


@register(
    "q205_sequential_patterns",
    _Q205_SQL,
    doc=(
        "gap-constrained sequential pattern mining (the PrefixSpan / "
        "SPADE 2-sequence step, public): count (a ... b) occurrences "
        f"where b follows a within {_Q205_GAP} events in the user's "
        "stream — q186 counts only CONTIGUOUS trigrams; the gap makes "
        "this the order-sensitive co-occurrence miner.  Pairs generate "
        "IN-ROW (nested transform + flatten over the collected "
        "sequence — O(len x gap) per user, bounded by the user's own "
        "history), then one map-side-partial count"
    ),
    tables=("events",),
)
def q205(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    seq = F.transform(
        F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
        lambda s: s.event_type,
    )
    s = ev.groupBy("user_id").agg(seq.alias("seq")).where(F.size("seq") >= 2)
    # outer index stops at size-1: Spark's sequence() DESCENDS when
    # start > end (the q39 trap), where DuckDB's range() is empty
    pats = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("seq") - 1),
            lambda i: F.transform(
                F.sequence(
                    i + 1, F.least(i + F.lit(_Q205_GAP), F.size("seq"))
                ),
                lambda j: F.concat_ws(
                    ">",
                    F.element_at(F.col("seq"), i),
                    F.element_at(F.col("seq"), j),
                ),
            ),
        )
    )
    return (
        s.select(F.explode(pats).alias("pat"))
        .groupBy("pat")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pat")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q244: longest consecutive-day activity streak (gaps-and-islands)
# ---------------------------------------------------------------------------

_Q244_SQL = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d
  FROM events
),
islands AS (
  SELECT user_id, d,
         d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS isl
  FROM active
),
streaks AS (
  SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
  FROM islands GROUP BY user_id, isl
),
best AS (
  SELECT user_id,
         MAX(len) AS max_streak,
         CAST(SUM(len) AS BIGINT) AS n_active_days
  FROM streaks GROUP BY user_id
)
SELECT user_id, max_streak, n_active_days
FROM best ORDER BY max_streak DESC, user_id LIMIT 10
"""


@register(
    "q244_activity_streaks",
    _Q244_SQL,
    doc=(
        "longest consecutive-day activity streak per user "
        "(gaps-and-islands: island id = day - row_number, constant "
        "within a run of consecutive days — the CALENDAR-gap twin of "
        "q229's time-gap sessionization): per-user windows are "
        "bounded by the date range (<= 30 rows), the island rollup "
        "shuffles (user, island) keys, and the global top-10 is "
        "orderBy+limit = TakeOrderedAndProject, never a full sort"
    ),
    tables=("events",),
)
def q244(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = active.withColumn("isl", F.col("d") - F.row_number().over(w))
    streaks = islands.groupBy("user_id", "isl").agg(
        F.count(F.lit(1)).alias("len")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.sum("len").alias("n_active_days"),
    )
    return best.orderBy(F.col("max_streak").desc(), "user_id").limit(10)


# ---------------------------------------------------------------------------
# q273: Apriori frequent triples (candidate generation + pruning)
# ---------------------------------------------------------------------------

_Q273_PAIR_SUP = 2


_Q273_TRI_SUP = 2


_Q273_SQL = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
fp AS (
  SELECT a.p AS pa, c.p AS pb
  FROM b a JOIN b c ON a.o = c.o AND a.p < c.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_Q273_PAIR_SUP}
),
cand AS (
  SELECT x.pa AS a, x.pb AS b2, y.pb AS c2
  FROM fp x JOIN fp y ON x.pa = y.pa AND x.pb < y.pb
  WHERE EXISTS (SELECT 1 FROM fp z WHERE z.pa = x.pb AND z.pb = y.pb)
)
SELECT cand.a, cand.b2 AS b, cand.c2 AS c,
       CAST(COUNT(*) AS BIGINT) AS support
FROM cand
JOIN b t1 ON t1.p = cand.a
JOIN b t2 ON t2.o = t1.o AND t2.p = cand.b2
JOIN b t3 ON t3.o = t1.o AND t3.p = cand.c2
GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_Q273_TRI_SUP}
ORDER BY support DESC, a, b, c
"""


@register(
    "q273_apriori_triples",
    _Q273_SQL,
    doc=(
        "Apriori frequent 3-itemsets (Agrawal & Srikant 1994) over "
        "the order×part baskets — q171's pairs extended one level "
        "with the algorithm's defining step: candidate triples come "
        "ONLY from joining frequent pairs sharing a prefix, pruned by "
        "the third sub-pair's frequency (anti-monotonicity), so the "
        "support-count join touches the tiny candidate set "
        "(61 candidates from 3445 pairs at sf0.01), never the "
        "|parts|³ space; support counting is a 3-way basket "
        "equi-join on the candidate keys"
    ),
    tables=("lineitem",),
)
def q273(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a_ = b.alias("ba")
    c_ = b.alias("bc")
    fp = (
        a_.join(c_, F.col("ba.o") == F.col("bc.o"))
        .where(F.col("ba.p") < F.col("bc.p"))
        .groupBy(F.col("ba.p").alias("pa"), F.col("bc.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= _Q273_PAIR_SUP)
        .select("pa", "pb")
    )
    # the frequent-pair frame is tiny (63-3445 rows) — broadcast the
    # self-join and the pruning semi-join instead of SMJ-ing them
    x = fp.alias("x")
    y = F.broadcast(fp).alias("y")
    cand = (
        x.join(y, F.col("x.pa") == F.col("y.pa"))
        .where(F.col("x.pb") < F.col("y.pb"))
        .select(
            F.col("x.pa").alias("a"),
            F.col("x.pb").alias("b"),
            F.col("y.pb").alias("c"),
        )
        .join(
            F.broadcast(fp.select(F.col("pa").alias("b"), F.col("pb").alias("c"))),
            ["b", "c"],
            "semi",
        )
    )
    t1 = b.select(F.col("o"), F.col("p").alias("a"))
    t2 = b.select(F.col("o"), F.col("p").alias("b"))
    t3 = b.select(F.col("o"), F.col("p").alias("c"))
    return (
        F.broadcast(cand)
        .join(t1, "a")
        .join(t2, ["o", "b"])
        .join(t3, ["o", "c"])
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= _Q273_TRI_SUP)
        .orderBy(F.col("support").desc(), "a", "b", "c")
    )


# ---------------------------------------------------------------------------
# q326: U-shaped (position-based) multi-touch attribution (round 8)
# ---------------------------------------------------------------------------

# q183 assigns each conversion to its LAST touch; the position-based
# model is the standard multi-touch alternative (40% first touch, 40%
# last, 20% split across the middle — the "U-shaped" credit curve of
# marketing analytics).  Touches are the user's view/click events in
# the 7 days before the purchase: the same bounded-interval range join
# as q17 (equi on user_id, time residual), and the position ranks are
# per-purchase windows whose frame is bounded by one user's 7-day
# touch volume — never corpus-sized.
_Q326_WINDOW_US = 7 * 86_400_000_000


_Q326_SQL = f"""
WITH p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pts
  FROM events WHERE event_type = 'purchase'
),
t AS (
  SELECT event_id AS tid, user_id, event_type AS ch, epoch_us(ts) AS tts
  FROM events WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT p.pid, t.ch, t.tid, t.tts
  FROM p JOIN t ON t.user_id = p.user_id
   AND t.tts < p.pts AND t.tts >= p.pts - {_Q326_WINDOW_US}
),
r AS (
  SELECT pid, ch,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS ra,
         ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC)
           AS rd,
         COUNT(*) OVER (PARTITION BY pid) AS n
  FROM j
),
c AS (
  SELECT pid, ch,
         CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
              WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
              WHEN ra = 1 OR rd = 1 THEN CAST(0.4 AS DOUBLE)
              ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS credit
  FROM r
)
SELECT ch AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(DISTINCT pid) AS BIGINT) AS n_assisted,
       ROUND(SUM(credit), 4) AS credit
FROM c GROUP BY ch ORDER BY ch
"""


@register(
    "q326_position_attribution",
    _Q326_SQL,
    doc=(
        "U-shaped (position-based) multi-touch attribution — q183's "
        "last-touch model upgraded to the standard 40/20/40 credit "
        "curve: each purchase's view/click touches in the prior 7 "
        "days share 1.0 credit (single touch takes all, first and "
        "last take 0.4 each, middles split 0.2).  One bounded-"
        "interval range join (q17 shape: user_id equi key + time "
        "residual) + per-purchase position windows (frame bounded by "
        "one user's 7-day activity); credits are exact-int CASE "
        "ratios so both engines sum identical doubles (4dp).  Per "
        "purchase the credits sum to exactly 1, making the channel "
        "totals a conversion decomposition"
    ),
    tables=("events",),
)
def q326(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts_us").alias("pts"),
    )
    t = ev.where(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("event_type").alias("ch"),
        F.col("ts_us").alias("tts"),
    )
    j = p.join(t, "user_id").where(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.col("pts") - _Q326_WINDOW_US)
    )
    wp = Window.partitionBy("pid")
    ra = F.row_number().over(wp.orderBy("tts", "tid"))
    rd = F.row_number().over(wp.orderBy(F.desc("tts"), F.desc("tid")))
    n = F.count(F.lit(1)).over(wp)
    r = j.select(
        "pid", "ch", ra.alias("ra"), rd.alias("rd"), n.alias("n")
    )
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("ra") == 1) | (F.col("rd") == 1), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        r.select("pid", "ch", credit.alias("credit"))
        .groupBy(F.col("ch").alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("pid").cast("long").alias("n_assisted"),
            F.round(F.sum("credit"), 4).alias("credit"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q340: Markov removal-effect attribution (round 8)
# ---------------------------------------------------------------------------

# The principled multi-touch model completing the attribution family
# (q183 last-touch, q326 position-based): journeys become a first-
# order Markov chain (start -> touches -> conv/null, truncated at the
# first purchase), and a channel's credit is its REMOVAL EFFECT
# (Anderl et al. 2016) — how much the start->conv absorption
# probability drops when the channel's state is deleted (transitions
# into it redirect to null, its own transitions drop).  Absorption
# probabilities are K=24 synchronous value-iteration rounds — a FIXED
# finite computation, identical in both engines (no convergence
# test needed: truncation is part of the spec; the transient-mass
# remainder after 24 rounds is ~0.5^24, far below the 6dp output).
# The corpus reduces to the <= |states|^2 transition-count table
# before any iteration — the chain solve is driver-side on ~36
# integers (q311's bounded-collect discipline), the float surface
# mirrored expression-for-expression in the oracle's unrolled CTEs.
_Q340_ROUNDS = 24


_Q340_CHANNELS = ("click", "error", "signup", "view")


_Q340_TRANS = """
ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS t, event_type FROM events
),
seq AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY t, event_id) AS rn
  FROM ev
),
fpr AS (
  SELECT user_id, MIN(rn) AS prn FROM seq
  WHERE event_type = 'purchase' GROUP BY user_id
),
jour AS (
  SELECT s.user_id,
         CASE WHEN s.event_type = 'purchase' THEN 'conv'
              ELSE s.event_type END AS st,
         s.rn
  FROM seq s LEFT JOIN fpr f ON f.user_id = s.user_id
  WHERE f.prn IS NULL OR s.rn <= f.prn
),
steps AS (
  SELECT user_id, st,
         LAG(st, 1, 'start') OVER (PARTITION BY user_id
                                   ORDER BY rn) AS prev
  FROM jour
),
lastrow AS (
  SELECT j.user_id, j.st FROM jour j
  JOIN (SELECT user_id, MAX(rn) AS mr FROM jour GROUP BY user_id) m
    ON m.user_id = j.user_id AND m.mr = j.rn
),
trans_cnt AS MATERIALIZED (
  SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT prev AS f, st AS t FROM steps
    UNION ALL
    SELECT st AS f, 'null' AS t FROM lastrow WHERE st <> 'conv'
  ) GROUP BY f, t
),
outt AS MATERIALIZED (SELECT f, CAST(SUM(c) AS BIGINT) AS tot FROM trans_cnt GROUP BY f)
"""


def _q340_variant(tag: str, removed: str | None) -> str:
    if removed is None:
        tsrc = """t_base AS MATERIALIZED (
  SELECT tc.f, tc.t, tc.c * 1.0 / o.tot AS p
  FROM trans_cnt tc JOIN outt o ON o.f = tc.f
)"""
    else:
        tsrc = f"""t_{tag} AS MATERIALIZED (
  SELECT f, t, SUM(c) * 1.0 / MAX(tot) AS p FROM (
    SELECT tc.f,
           CASE WHEN tc.t = '{removed}' THEN 'null' ELSE tc.t END AS t,
           tc.c, o.tot
    FROM trans_cnt tc JOIN outt o ON o.f = tc.f
    WHERE tc.f <> '{removed}'
  ) GROUP BY f, t
)"""
    tname = "t_base" if removed is None else f"t_{tag}"
    rounds = [
        f"v_{tag}_0 AS MATERIALIZED (SELECT f, CAST(0 AS DOUBLE) AS v "
        f"FROM (SELECT DISTINCT f FROM {tname}))"
    ]
    for k in range(1, _Q340_ROUNDS + 1):
        rounds.append(
            f"""v_{tag}_{k} AS MATERIALIZED (
  SELECT t.f,
         SUM(CASE WHEN t.t = 'conv' THEN t.p
                  ELSE t.p * COALESCE(v.v, 0) END) AS v
  FROM {tname} t LEFT JOIN v_{tag}_{k - 1} v ON v.f = t.t
  GROUP BY t.f
)"""
        )
    return ",\n".join([tsrc] + rounds)


_Q340_SQL = (
    "WITH "
    + _Q340_TRANS
    + ",\n"
    + ",\n".join(
        _q340_variant(tag, rem)
        for tag, rem in [("base", None)]
        + [(c, c) for c in _Q340_CHANNELS]
    )
    + f""",
eff AS (
  SELECT ch,
         (SELECT v FROM v_base_{_Q340_ROUNDS} WHERE f = 'start') AS p_base,
         p_removed
  FROM (
    {" UNION ALL ".join(
        f"SELECT '{c}' AS ch, "
        f"COALESCE((SELECT v FROM v_{c}_{_Q340_ROUNDS} "
        f"WHERE f = 'start'), 0) AS p_removed"
        for c in _Q340_CHANNELS
    )}
  )
),
re AS (
  SELECT ch, p_base, p_removed,
         (p_base - p_removed) / p_base AS r
  FROM eff
)
SELECT ch AS channel, ROUND(p_base, 6) AS p_conv_base,
       ROUND(p_removed, 6) AS p_conv_removed,
       ROUND(r, 6) AS removal_effect,
       ROUND(r / (SELECT SUM(r) FROM re), 6) AS credit_share
FROM re ORDER BY channel
"""
)


@register(
    "q340_markov_attribution",
    _Q340_SQL,
    doc=(
        "Markov removal-effect attribution (Anderl et al. 2016) — the "
        "principled multi-touch model completing q183 (last-touch) "
        "and q326 (position-based): user journeys truncate at the "
        "first purchase into a start/channels/conv/null first-order "
        "chain, and each channel's credit is the drop in start->conv "
        f"absorption probability when its state is deleted.  "
        f"{_Q340_ROUNDS} synchronous value-iteration rounds — a FIXED "
        "finite computation identical in both engines (residual "
        "transient mass ~0.5^24, far below 6dp); the corpus reduces "
        "to the <=|states|² transition-count table before any "
        "iteration, the chain solve is driver-side over ~36 exact "
        "integers (q311's bounded-collect discipline), and the "
        "oracle unrolls the identical arithmetic as CTE chains per "
        "removal variant"
    ),
    tables=("events",),
)
def q340(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts_us", "event_id"))
        .alias("rn"),
    )
    fpr = (
        seq.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    jour = (
        seq.join(fpr, "user_id", "left")
        .where(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("st"),
            "rn",
        )
    )
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    jour = truncate_lineage(jour)
    steps = jour.select(
        F.lag("st", 1, "start")
        .over(Window.partitionBy("user_id").orderBy("rn"))
        .alias("f"),
        F.col("st").alias("t"),
    )
    mx = jour.groupBy("user_id").agg(F.max("rn").alias("mr"))
    lastrow = jour.join(
        mx,
        (jour.user_id == mx.user_id) & (jour.rn == mx.mr),
    ).select(jour.st.alias("f"), F.lit("null").alias("t"))
    trans_cnt = (
        steps.unionByName(lastrow.where(F.col("f") != "conv"))
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    rows = trans_cnt.collect()  # bounded: <= |states|^2 ~ 36 rows
    cnt = {(r.f, r.t): r.c for r in rows}
    tot = {}
    for (f, _t), c in cnt.items():
        tot[f] = tot.get(f, 0) + c

    def absorb(removed: str | None) -> float:
        p = {}
        for (f, t), c in sorted(cnt.items()):
            if removed is not None and f == removed:
                continue
            t2 = "null" if (removed is not None and t == removed) else t
            p[(f, t2)] = p.get((f, t2), 0.0) + c * 1.0 / tot[f]
        states = sorted({f for f, _ in p})
        v = {f: 0.0 for f in states}
        for _ in range(_Q340_ROUNDS):
            nv = {}
            for f in states:
                s = 0.0
                for (ff, t), pp in sorted(p.items()):
                    if ff != f:
                        continue
                    s += pp if t == "conv" else pp * v.get(t, 0.0)
                nv[f] = s
            v = nv
        return v.get("start", 0.0)

    p_base = absorb(None)
    out_rows = []
    effects = {}
    for c in _Q340_CHANNELS:
        pr = absorb(c)
        effects[c] = (p_base - pr) / p_base
        out_rows.append((c, pr))
    total_r = sum(effects[c] for c in sorted(effects))
    structs = [
        F.struct(
            F.lit(c).alias("channel"),
            F.round(F.lit(p_base), 6).alias("p_conv_base"),
            F.round(F.lit(pr), 6).alias("p_conv_removed"),
            F.round(F.lit(effects[c]), 6).alias("removal_effect"),
            F.round(F.lit(effects[c] / total_r), 6).alias("credit_share"),
        )
        for c, pr in out_rows
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("r"))
        .select(
            "r.channel",
            "r.p_conv_base",
            "r.p_conv_removed",
            "r.removal_effect",
            "r.credit_share",
        )
        .orderBy("channel")
    )

"""Graph-powered applications: TextRank, recommenders, density clustering.

The application half of the graph family (round-10 regrouping;
mechanical relocation, zero behavior change — pre/post registry hash
dump): TextRank keyword extraction over token co-occurrence graphs
(q335), item-item collaborative filtering (q336) and its holdout
evaluation (q338), DBSCAN over grid-blocked embeddings (q337), and
recommendation catalog coverage (q347).  Same per-round O(edges)
shuffle contract as graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.anchors import per_anchor_topk
from osm_changesets_to_parquet_spark.operators.graph import (
    copurchase_pairs,
    pagerank,
    undirected,
)
from osm_changesets_to_parquet_spark.operators.iterutils import truncate_lineage
from osm_changesets_to_parquet_spark.operators.quality import sql_hash_bucket
from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.queries.graph import (
    copurchase_ctes,
    min_label_ctes,
)


# ---------------------------------------------------------------------------
# q335: TextRank keyword extraction (PageRank over word co-occurrence)
# ---------------------------------------------------------------------------

# Mihalcea & Tarau (2004): rank vocabulary words by PageRank over the
# adjacent-token co-occurrence graph — the unsupervised keyword
# extractor.  Reuses operators/graph.pagerank (the q84 machinery) on
# symmetric distinct co-occurrence pairs with support >= 2; the
# oracle unrolls the identical 3 power iterations as chained CTEs
# over string node ids.  The ranking key is the ROUNDED rank (house
# q40 discipline: both engines agree to 6dp, so rounding before the
# ORDER BY removes ulp sensitivity from the row SET) with the word as
# total tie-break.
_Q335_K = 20


_Q335_MIN_CO = 2


_Q335_D = 0.85


_Q335_ITERS = 3


_Q335_EDGES = f"""
tok AS (SELECT string_split(text, ' ') AS tk FROM documents),
big AS (
  SELECT tk[i] AS w1, tk[i + 1] AS w2
  FROM (SELECT tk, generate_subscripts(tk, 1) AS i FROM tok)
  WHERE i < len(tk)
),
pc AS (
  SELECT w1, w2 FROM big GROUP BY w1, w2 HAVING COUNT(*) >= {_Q335_MIN_CO}
),
e AS (
  SELECT w1 AS src, w2 AS dst FROM pc
  UNION
  SELECT w2 AS src, w1 AS dst FROM pc
)
"""


def _q335_iter(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""r{k} AS (
  SELECT nd.id,
         (1 - {_Q335_D}) / (SELECT n FROM nn) + {_Q335_D} * (
            COALESCE(m.inmass, 0)
            + (SELECT COALESCE(SUM(rank), 0) FROM {prev} p
               WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = p.id))
              / (SELECT n FROM nn)
         ) AS rank
  FROM nodes nd
  LEFT JOIN (
    SELECT e.dst AS id, SUM(p.rank / o.outdeg) AS inmass
    FROM e JOIN {prev} p ON e.src = p.id JOIN outdeg o ON o.src = e.src
    GROUP BY e.dst
  ) m ON m.id = nd.id
)"""


_Q335_SQL = f"""
WITH {_Q335_EDGES},
nodes AS (
  SELECT DISTINCT id
  FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{", ".join(_q335_iter(k) for k in range(1, _Q335_ITERS + 1))}
SELECT id AS word, ROUND(rank, 6) AS rank
FROM r{_Q335_ITERS}
ORDER BY ROUND(rank, 6) DESC, word LIMIT {_Q335_K}
"""


@register(
    "q335_textrank_keywords",
    _Q335_SQL,
    doc=(
        "TextRank keyword extraction (Mihalcea & Tarau 2004): "
        f"PageRank ({_Q335_ITERS} iterations, d={_Q335_D}) over the "
        "symmetric adjacent-token co-occurrence graph with support "
        f">= {_Q335_MIN_CO}, top-{_Q335_K} words by rank — the "
        "text x graph crossover reusing operators/graph.pagerank "
        "verbatim (per iteration one join of ranks onto out-edges + "
        "one keyed sum; the co-occurrence rollup shrinks the corpus "
        "to vocabulary-keyed pairs before any iteration).  The "
        "ranking key is the ROUNDED rank + word tie-break (q40 "
        "discipline: 6dp agreement removes ulp sensitivity from the "
        "row set); oracle = the q84-style statically unrolled "
        "power-iteration CTE chain over string node ids"
    ),
    tables=("documents",),
)
def q335(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.split("text", " ").alias("tk")).where(
        F.size("tk") >= 2
    )
    big = tk.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - 1),
                lambda i: F.struct(
                    F.element_at("tk", i).alias("w1"),
                    F.element_at("tk", i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pc = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _Q335_MIN_CO)
        .select("w1", "w2")
    )
    edges = (
        pc.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionByName(
            pc.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
        )
        .distinct()
    )
    ranks = pagerank(edges, n_iters=_Q335_ITERS, damping=_Q335_D)
    r = F.round("rank", 6)
    return (
        ranks.select(F.col("id").alias("word"), r.alias("rank"))
        .orderBy(F.desc("rank"), "word")
        .limit(_Q335_K)
    )


# ---------------------------------------------------------------------------
# q336: item-item collaborative filtering (co-purchase cosine top-5)
# ---------------------------------------------------------------------------

# The classic Amazon-style recommender primitive (Sarwar et al. 2001 /
# Linden et al. 2003): similarity of two items = cosine over their
# order-incidence vectors = co_count / sqrt(deg_a * deg_b), support
# >= 2.  Degrees and co-counts are exact integers, the cosine an
# identical double both engines; the per-item top-k runs through
# operators/anchors.per_anchor_topk (local-then-global rank — no
# reducer ever sees an item's full candidate list, the q179
# discipline for hub items whose candidate fan is corpus-shaped) on
# the ROUNDED cosine with the neighbor id as total tie-break.  One
# scorer per side serves q336, q338 and q347.
_Q336_K = 5


_Q336_MIN_CO = 2


def _item_cf(co: DataFrame, deg: DataFrame, k: int) -> DataFrame:
    """Per-item top-``k`` neighbors ``(p, nbr, c, cosine, rnk)`` by
    ``c / sqrt(d_p * d_nbr)`` over co-counts ``co(u, v, c)`` and item
    degrees ``deg(p, d)``."""
    scored = (
        undirected(co)
        .join(deg.select(F.col("p").alias("src"), F.col("d").alias("da")), "src")
        .join(deg.select(F.col("p").alias("dst"), F.col("d").alias("db")), "dst")
        .select(
            F.col("src").alias("p"),
            F.col("dst").alias("nbr"),
            "c",
            F.round(
                F.col("c")
                / F.sqrt((F.col("da") * F.col("db")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    return per_anchor_topk(scored, ["p"], [F.desc("cosine"), F.col("nbr")], k)


def _item_cf_ctes(k: int) -> str:
    """Oracle of :func:`_item_cf`: CTE ``rec(p, nbr, c, cosine, rnk)``
    over ``sym(src, dst, m)`` and ``deg(p, d)``."""
    return f"""scored AS (
  SELECT s.src AS p, s.dst AS nbr, s.m AS c,
         ROUND(s.m / SQRT(CAST(da.d * db.d AS DOUBLE)), 6) AS cosine
  FROM sym s JOIN deg da ON da.p = s.src JOIN deg db ON db.p = s.dst
),
rec AS (
  SELECT * FROM (
    SELECT p, nbr, c, cosine,
           ROW_NUMBER() OVER (PARTITION BY p
                              ORDER BY cosine DESC, nbr) AS rnk
    FROM scored
  ) WHERE rnk <= {k}
)"""


# shared with q347
_Q336_CTES = f"""
WITH {copurchase_ctes(_Q336_MIN_CO)},
deg AS (
  SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS d
  FROM inc GROUP BY 1
),
{_item_cf_ctes(_Q336_K)}"""


_Q336_SQL = f"""{_Q336_CTES}
SELECT p, nbr, c AS co_count, cosine, CAST(rnk AS BIGINT) AS rnk
FROM rec
ORDER BY p, rnk
"""


@register(
    "q336_item_cf",
    _Q336_SQL,
    doc=(
        "item-item collaborative filtering (Sarwar 2001 / the Amazon "
        "recommender primitive): per item the top-5 co-purchased "
        "neighbors by incidence-vector cosine co/sqrt(deg_a*deg_b), "
        f"support >= {_Q336_MIN_CO} — degrees and co-counts are exact "
        "integers from ONE incidence rollup, the cosine an identical "
        "double both engines, ranked on the ROUNDED value with the "
        "neighbor id as total tie-break, and the per-item top-5 runs "
        "through operators/anchors.per_anchor_topk so no reducer ever "
        "materializes a hub item's full candidate fan (the q179 "
        "two-phase discipline); one scorer (_item_cf / _item_cf_ctes) "
        "serves q336, q338 and q347"
    ),
    tables=("lineitem",),
)
def q336(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    inc = truncate_lineage(
        li.select("l_orderkey", "l_partkey").distinct()
    )
    deg = inc.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    co = copurchase_pairs(li, min_orders=_Q336_MIN_CO, weight_col="c")
    return _item_cf(co, deg, _Q336_K).select(
        "p",
        "nbr",
        F.col("c").alias("co_count"),
        "cosine",
        F.col("rnk").cast("long").alias("rnk"),
    ).orderBy("p", "rnk")


# ---------------------------------------------------------------------------
# q337: DBSCAN density clustering over the 2-D embedding projection
# ---------------------------------------------------------------------------

# Ester et al. (1996), composed from two already-verified primitives:
# the exact ε-neighborhood grid join (q155's
# operators/intervals.grid_neighbor_pairs_2d — one hash join keyed on
# the ε-cell, never a cross join) and min-label connected components
# (q323's operators/clusters).  Core = >= minPts ε-neighbors; clusters
# = components of the core-core ε-graph; border points take the MIN
# core-neighbor label (classic DBSCAN's border assignment is
# scan-order-dependent — min-label is the deterministic
# canonicalization); the rest is noise.  The oracle rebuilds the same
# partition from the literal n² distance join and statically unrolled
# min-label rounds.
_Q337_EPS = 0.02


_Q337_MINPTS = 4  # neighbors (excluding self) required for a core


_Q337_ROUNDS = 64


_Q337_SQL = f"""
WITH e AS (
  SELECT vec_id,
         CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings
),
pr AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)
        < {_Q337_EPS} * {_Q337_EPS}
),
sym AS MATERIALIZED (
  SELECT id_a AS p, id_b AS q FROM pr
  UNION ALL SELECT id_b AS p, id_a AS q FROM pr
),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY p),
core AS MATERIALIZED (SELECT p FROM deg WHERE d >= {_Q337_MINPTS}),
cadj AS MATERIALIZED (
  SELECT s.p AS src, s.q AS dst FROM sym s
  WHERE s.p IN (SELECT p FROM core) AND s.q IN (SELECT p FROM core)
),
{min_label_ctes("cadj", _Q337_ROUNDS)},
iso AS (
  -- core points with no core neighbor keep their own label
  SELECT id, lbl FROM l{_Q337_ROUNDS}
  UNION ALL
  SELECT p AS id, p AS lbl FROM core
  WHERE p NOT IN (SELECT id FROM l{_Q337_ROUNDS})
),
border AS (
  SELECT s.p AS id, MIN(i.lbl) AS lbl
  FROM sym s JOIN iso i ON i.id = s.q
  WHERE s.p NOT IN (SELECT p FROM core)
  GROUP BY s.p
),
member AS (SELECT id, lbl FROM iso UNION ALL SELECT id, lbl FROM border),
sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz FROM member GROUP BY lbl)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_points,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM core) AS n_core,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM border) AS n_border,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM core)
         - (SELECT CAST(COUNT(*) AS BIGINT) FROM border) AS n_noise,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) * (SELECT ok FROM conv)
         AS n_clusters,
       (SELECT CAST(MAX(sz) AS BIGINT) FROM sizes) AS max_cluster
"""


@register(
    "q337_dbscan",
    _Q337_SQL,
    doc=(
        "DBSCAN density clustering (Ester et al. 1996, eps="
        f"{_Q337_EPS}, minPts={_Q337_MINPTS}) over the first two "
        "embedding dims, composed from two verified primitives: the "
        "exact ε-cell grid join (q155 — candidates equi-join on the "
        "cell id, never a cross join) and min-label connected "
        "components (q323 — ONE job per round, lineage truncated).  "
        "Core = >= minPts strict-ε neighbors; clusters = components "
        "of the core-core ε-graph; borders take the MIN core-neighbor "
        "label (the deterministic canonicalization of DBSCAN's "
        "scan-order-dependent border assignment); summary row out.  "
        "Oracle = literal n² distance join + statically unrolled "
        "min-label rounds with the loud convergence guard"
    ),
    tables=("embeddings",),
)
def q337(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.clusters import (
        connected_components,
    )
    from osm_changesets_to_parquet_spark.operators.intervals import (
        grid_neighbor_pairs_2d,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    pr = grid_neighbor_pairs_2d(pts, "vec_id", "x", "y", _Q337_EPS).select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    )
    sym = truncate_lineage(
        undirected(pr).select(F.col("src").alias("p"), F.col("dst").alias("q"))
    )
    deg = sym.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    core = truncate_lineage(
        deg.where(F.col("d") >= _Q337_MINPTS).select("p")
    )
    cadj = (
        sym.join(core, "p", "semi")
        .join(core.select(F.col("p").alias("q")), "q", "semi")
        .select(F.col("p").alias("u"), F.col("q").alias("v"))
    )
    comp = connected_components(cadj.where(F.col("u") < F.col("v")), "u", "v")
    labeled = comp.select(F.col("id"), F.col("label").alias("lbl"))
    iso = truncate_lineage(
        labeled.unionByName(
            core.join(
                labeled.select(F.col("id").alias("p")), "p", "anti"
            ).select(F.col("p").alias("id"), F.col("p").alias("lbl"))
        )
    )
    border = (
        sym.join(core, "p", "anti")
        .join(iso.select(F.col("id").alias("q"), "lbl"), "q")
        .groupBy("p")
        .agg(F.min("lbl").alias("lbl"))
    )
    border = truncate_lineage(border.select(F.col("p").alias("id"), "lbl"))
    member = iso.unionByName(border)
    sizes = member.groupBy("lbl").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    n_points = pts.agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    n_core = core.agg(F.count(F.lit(1)).cast("long").alias("n_core"))
    n_border = border.agg(F.count(F.lit(1)).cast("long").alias("n_border"))
    cl = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.max("sz").cast("long").alias("max_cluster"),
    )
    return (
        n_points.crossJoin(n_core)
        .crossJoin(n_border)
        .crossJoin(cl)
        .select(
            "n_points",
            "n_core",
            "n_border",
            (F.col("n_points") - F.col("n_core") - F.col("n_border"))
            .cast("long")
            .alias("n_noise"),
            "n_clusters",
            "max_cluster",
        )
    )


# ---------------------------------------------------------------------------
# q338: recommender evaluation — leave-one-out hit-rate@5 (round 8)
# ---------------------------------------------------------------------------

# Closes the loop on q336: does the item-item CF index actually rank
# held-out co-purchases?  Orders split 80/20 by the shared key hash;
# the CF neighbor lists build from TRAIN orders only; for every
# (test basket, held-out item i, context item j != i) the case is a
# hit if i appears in j's top-5 — the standard leave-one-out
# hit-rate@k protocol (Deshpande & Karypis 2004) — scored against the
# popularity top-5 baseline every recommender eval must beat.  Case
# volume is bounded by basket size squared (baskets are small by
# construction of real order data), the rec join is keyed on the
# context item, and both readouts reduce to one (method, counts) row.
_Q338_K = 5


_Q338_MIN_CO = 2


_Q338_SPLIT = f"({sql_hash_bucket('o')})"


_Q338_SQL = f"""
WITH inc AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
tr AS (SELECT o, p FROM inc WHERE {_Q338_SPLIT} < 80),
te AS (SELECT o, p FROM inc WHERE {_Q338_SPLIT} >= 80),
deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM tr GROUP BY p),
e AS (
  SELECT a.p AS u, b.p AS v, CAST(COUNT(*) AS BIGINT) AS m
  FROM tr a JOIN tr b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {_Q338_MIN_CO}
),
sym AS (SELECT u AS src, v AS dst, m FROM e UNION ALL SELECT v, u, m FROM e),
{_item_cf_ctes(_Q338_K)},
pop AS (SELECT p FROM deg ORDER BY d DESC, p LIMIT {_Q338_K}),
cases AS (
  SELECT a.o, a.p AS i, b.p AS j
  FROM te a JOIN te b ON a.o = b.o AND a.p <> b.p
),
cf_hit AS (
  SELECT cases.o, cases.i,
         MAX(CASE WHEN r.nbr IS NOT NULL THEN 1 ELSE 0 END) AS h
  FROM cases LEFT JOIN rec r ON r.p = cases.j AND r.nbr = cases.i
  GROUP BY cases.o, cases.i
),
items AS (SELECT DISTINCT o, i FROM cases),
pop_hit AS (
  SELECT o, i,
         CASE WHEN i IN (SELECT p FROM pop) THEN 1 ELSE 0 END AS h
  FROM items
)
SELECT method, n_cases, n_hits,
       ROUND(n_hits * 1.0 / n_cases, 6) AS hit_rate
FROM (
  SELECT 'itemcf' AS method, CAST(COUNT(*) AS BIGINT) AS n_cases,
         CAST(SUM(h) AS BIGINT) AS n_hits
  FROM cf_hit
  UNION ALL
  SELECT 'popularity', CAST(COUNT(*) AS BIGINT), CAST(SUM(h) AS BIGINT)
  FROM pop_hit
)
ORDER BY method
"""


@register(
    "q338_cf_eval",
    _Q338_SQL,
    doc=(
        "recommender evaluation closing the loop on q336: leave-one-"
        "out hit-rate@5 (Deshpande & Karypis 2004) of the item-item "
        "CF index built from TRAIN orders (80/20 key-hash split) "
        "against held-out test baskets, scored side by side with the "
        "popularity-top-5 baseline every recommender must beat.  "
        "Cases are (basket, held-out i, context j) pairs — volume "
        "bounded by basket size squared, never corpus-squared; the "
        "rec probe is one join keyed on the context item; each "
        "method reduces to a single counts row.  Honest fixture "
        "answer: CF beats popularity when co-purchase structure is "
        "real, and the margin IS the readout"
    ),
    tables=("lineitem",),
)
def q338(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    li = load_table(spark, sf_dir, "lineitem")
    inc = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    bkt = hash_bucket("o", 100)
    tr = truncate_lineage(inc.where(bkt < 80))
    te = truncate_lineage(inc.where(bkt >= 80))
    deg = tr.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    co = copurchase_pairs(
        tr.select(F.col("o").alias("l_orderkey"), F.col("p").alias("l_partkey")),
        min_orders=_Q338_MIN_CO,
        weight_col="c",
    )
    rec = truncate_lineage(_item_cf(co, deg, _Q338_K).select("p", "nbr"))
    pop = truncate_lineage(
        deg.orderBy(F.desc("d"), "p").limit(_Q338_K).select("p")
    )
    ta = te.alias("ta")
    tb = te.alias("tb")
    cases = truncate_lineage(
        ta.join(tb, F.col("ta.o") == F.col("tb.o"))
        .where(F.col("ta.p") != F.col("tb.p"))
        .select(
            F.col("ta.o").alias("o"),
            F.col("ta.p").alias("i"),
            F.col("tb.p").alias("j"),
        )
    )
    cf_hit = (
        cases.join(
            rec.select(
                F.col("p").alias("j"), F.col("nbr").alias("i"), F.lit(1).alias("m")
            ),
            ["j", "i"],
            "left",
        )
        .groupBy("o", "i")
        .agg(F.max(F.coalesce(F.col("m"), F.lit(0))).alias("h"))
    )
    items = cases.select("o", "i").distinct()
    pop_hit = items.join(
        pop.select(F.col("p").alias("i"), F.lit(1).alias("m")), "i", "left"
    ).select("o", "i", F.coalesce(F.col("m"), F.lit(0)).alias("h"))
    cf_row = cf_hit.agg(
        F.lit("itemcf").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_cases"),
        F.sum("h").cast("long").alias("n_hits"),
    )
    pop_row = pop_hit.agg(
        F.lit("popularity").alias("method"),
        F.count(F.lit(1)).cast("long").alias("n_cases"),
        F.sum("h").cast("long").alias("n_hits"),
    )
    return (
        cf_row.unionByName(pop_row)
        .select(
            "method",
            "n_cases",
            "n_hits",
            F.round(
                F.col("n_hits") * F.lit(1.0) / F.col("n_cases"), 6
            ).alias("hit_rate"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# q347: recommendation coverage + popularity-bias audit (round 8)
# ---------------------------------------------------------------------------

# The beyond-accuracy recommender metrics (Ge et al. 2010) that q338's
# hit-rate can't see: what share of the CATALOG the q336 top-5 lists
# ever surface (aggregate coverage), and how much more popular the
# recommended items are than the catalog average (popularity lift —
# the long-tail starvation number).  All counts are exact integers
# from the same incidence/degree rollups q336 builds; the audit is a
# single scalar row.
_Q347_SQL = f"""{_Q336_CTES},
cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_catalog,
               CAST(SUM(d) AS BIGINT) AS sum_deg FROM deg),
rc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rec_rows,
         CAST(COUNT(DISTINCT p) AS BIGINT) AS n_items_with_recs,
         CAST(COUNT(DISTINCT nbr) AS BIGINT) AS n_recommended_distinct
  FROM rec
),
rd AS (
  SELECT CAST(SUM(deg.d) AS BIGINT) AS rec_deg
  FROM rec JOIN deg ON deg.p = rec.nbr
)
SELECT cat.n_catalog, rc.n_items_with_recs, rc.n_recommended_distinct,
       ROUND(rc.n_recommended_distinct * 1.0 / cat.n_catalog, 6)
         AS coverage,
       ROUND(rd.rec_deg * 1.0 / rc.n_rec_rows, 4) AS avg_deg_recommended,
       ROUND(cat.sum_deg * 1.0 / cat.n_catalog, 4) AS avg_deg_catalog,
       ROUND((rd.rec_deg * 1.0 / rc.n_rec_rows)
             / (cat.sum_deg * 1.0 / cat.n_catalog), 4) AS popularity_lift
FROM cat CROSS JOIN rc CROSS JOIN rd
"""


@register(
    "q347_rec_coverage",
    _Q347_SQL,
    doc=(
        "beyond-accuracy recommender audit (Ge et al. 2010) over "
        "q336's top-5 lists: aggregate catalog coverage (what share "
        "of items are EVER recommended) and popularity lift (mean "
        "degree of recommended items over the catalog mean — the "
        "long-tail starvation number q338's hit-rate cannot see).  "
        "Exact integer counts from the same incidence/degree rollups "
        "q336 builds, per-item top-5 through per_anchor_topk, one "
        "scalar audit row out"
    ),
    tables=("lineitem",),
)
def q347(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    inc = truncate_lineage(li.select("l_orderkey", "l_partkey").distinct())
    deg = truncate_lineage(
        inc.groupBy(F.col("l_partkey").alias("p")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
    )
    co = copurchase_pairs(li, min_orders=_Q336_MIN_CO, weight_col="c")
    rec = truncate_lineage(_item_cf(co, deg, _Q336_K).select("p", "nbr"))
    cat = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_catalog"),
        F.sum("d").cast("long").alias("sum_deg"),
    )
    rc = rec.agg(
        F.count(F.lit(1)).cast("long").alias("n_rec_rows"),
        F.countDistinct("p").cast("long").alias("n_items_with_recs"),
        F.countDistinct("nbr").cast("long").alias("n_recommended_distinct"),
    )
    rd = (
        rec.join(deg.select(F.col("p").alias("nbr"), "d"), "nbr")
        .agg(F.sum("d").cast("long").alias("rec_deg"))
    )
    return (
        cat.crossJoin(F.broadcast(rc))
        .crossJoin(rd)
        .select(
            "n_catalog",
            "n_items_with_recs",
            "n_recommended_distinct",
            F.round(
                F.col("n_recommended_distinct")
                * F.lit(1.0)
                / F.col("n_catalog"),
                6,
            ).alias("coverage"),
            F.round(
                F.col("rec_deg") * F.lit(1.0) / F.col("n_rec_rows"), 4
            ).alias("avg_deg_recommended"),
            F.round(
                F.col("sum_deg") * F.lit(1.0) / F.col("n_catalog"), 4
            ).alias("avg_deg_catalog"),
            F.round(
                (F.col("rec_deg") * F.lit(1.0) / F.col("n_rec_rows"))
                / (F.col("sum_deg") * F.lit(1.0) / F.col("n_catalog")),
                4,
            ).alias("popularity_lift"),
        )
    )

"""Embedding analytics & learning over the embeddings table.

The learning half of the ANN family (round-10 regrouping; mechanical
relocation, zero behavior change — pre/post registry hash dump):
distributed k-means (q115), contrastive pair mining (q132), MMR
re-ranking (q165), k-center coresets (q177), PCA power iteration
(q178), kNN label audits (q179) and classification (q339), embedding
dimension statistics (q194), negative sampling (q195), random matrix
projection (q202), and ALS factorization (q348).  Shared vector
machinery (DIM, brute-force oracle SQL) imports from ann.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.queries.ann import DIM, _contrastive_argmax


# ---------------------------------------------------------------------------
# Q115: k-means (Lloyd) clustering — operators/similarity.py kmeans_lloyd
# ---------------------------------------------------------------------------

_KM_K = 4


_KM_ITERS = 2

# exact engine-lockstep recipe (see kmeans_lloyd docstring): doubles from
# the same float32 casts, sequential left-fold distances (list_reduce ==
# F.aggregate bit-for-bit), centroid components rounded to 6dp after
# every update, argmin ties to the lower cid
_KM_DIST = (
    f"list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> (v[i]-c[i])*(v[i]-c[i])), (x,y) -> x+y)"
)


_Q115_SQL = f"""
WITH e AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT (ROW_NUMBER() OVER (ORDER BY id)) - 1 AS cid, v AS c
  FROM e ORDER BY id LIMIT {_KM_K}
),
a1 AS (
  SELECT id, v, cid FROM (
    SELECT e.id, e.v, c0.cid,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {_KM_DIST}, cid) AS rn
    FROM e, c0
  ) WHERE rn = 1
),
c1 AS (
  SELECT cid, list(cx ORDER BY pos) AS c FROM (
    SELECT cid, pos, ROUND(AVG(x), 6) AS cx
    FROM (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a1)
    GROUP BY cid, pos
  ) GROUP BY cid
),
a2 AS (
  SELECT id, v, cid FROM (
    SELECT e.id, e.v, c1.cid,
           ROW_NUMBER() OVER (PARTITION BY e.id ORDER BY {_KM_DIST}, cid) AS rn
    FROM e, c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT cid, list(cx ORDER BY pos) AS c FROM (
    SELECT cid, pos, ROUND(AVG(x), 6) AS cx
    FROM (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM a2)
    GROUP BY cid, pos
  ) GROUP BY cid
)
SELECT a.cid, COUNT(*) AS n_points,
       ROUND(ANY_VALUE({'list_reduce(list_transform(c, x -> x*x), (x,y) -> x+y)'}), 4) AS c_norm2
FROM a2 a JOIN c2 ON a.cid = c2.cid
GROUP BY a.cid ORDER BY a.cid
"""


@register(
    "q115_kmeans",
    _Q115_SQL,
    doc=(
        "Lloyd's k-means (k=4, 2 iterations) over the embedding corpus "
        "(operators/similarity.py kmeans_lloyd): assignment is a pure "
        "map stage folding over a broadcast (cid, centroid) array — the "
        "data is never shuffled; the update is one k*dim partial-sum "
        "shuffle; deterministic lowest-id seeds, centroids rounded to "
        "6dp each round so the DuckDB oracle replays the identical "
        "float path (sequential left-fold distances)"
    ),
    tables=("embeddings",),
)
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cent = kmeans_lloyd(emb, k=_KM_K, iters=_KM_ITERS)
    norm2 = F.round(
        F.aggregate(
            F.col("c"), F.lit(0.0).cast("double"), lambda acc, x: acc + x * x
        ),
        4,
    )
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("n_points"))
    return (
        counts.join(cent.select("cid", norm2.alias("c_norm2")), "cid")
        # row_number yields int32; DuckDB's ROW_NUMBER is BIGINT and the
        # driver hash is type-sensitive
        .select(F.col("cid").cast("long").alias("cid"), "n_points", "c_norm2")
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# Q132: contrastive pair mining (positive + hard negative per anchor)
# ---------------------------------------------------------------------------

_Q132_ANCHORS = 8  # FIXED anchor count — independent of corpus size


_Q132_SQL = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
a AS (SELECT * FROM e
      ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000000007, vec_id
      LIMIT {_Q132_ANCHORS}),
z AS (
  SELECT a.vec_id AS qid, a.label AS qlab, e.vec_id AS cid, e.label AS clab,
         CAST(unnest(a.v) AS DOUBLE) AS x, CAST(unnest(e.v) AS DOUBLE) AS y
  FROM a JOIN e ON e.vec_id != a.vec_id
),
d AS (
  SELECT qid, qlab, cid, clab,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 4) AS sim
  FROM z GROUP BY qid, qlab, cid, clab
),
pos AS (
  SELECT qid, cid AS pos_id, sim AS pos_sim FROM (
    SELECT qid, cid, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
    FROM d WHERE clab = qlab
  ) WHERE rn = 1
),
neg AS (
  SELECT qid, cid AS neg_id, sim AS neg_sim FROM (
    SELECT qid, cid, sim,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
    FROM d WHERE clab != qlab
  ) WHERE rn = 1
)
SELECT pos.qid AS vec_id, pos_id, pos_sim, neg_id, neg_sim,
       ROUND(pos_sim - neg_sim, 4) AS margin
FROM pos JOIN neg ON neg.qid = pos.qid
ORDER BY vec_id
"""


@register(
    "q132_contrastive_mining",
    _Q132_SQL,
    doc=(
        "contrastive training-pair mining: per anchor, the most-similar "
        "SAME-label vector (positive) and the most-similar DIFFERENT-"
        "label vector (hard negative — the example that actually moves "
        "a contrastive loss), plus the margin between them; FIXED-k "
        "hash-rank anchors broadcast (operators.anchors — Θ(k·n) "
        "candidates, the VERDICT r06 item 3 respell) and BOTH argmaxes "
        "are one min_by keyed aggregation (map-side partials, zero "
        "windows, zero extra shuffles — min_by skips rows whose "
        "ordering key is NULL, so positive and negative come from a "
        "single pass over the candidate stream)"
    ),
    tables=("embeddings",),
)
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.anchors import fixed_k_anchors

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = fixed_k_anchors(e, "vec_id", _Q132_ANCHORS).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("v").alias("qv"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    d = (
        e.crossJoin(a)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlab",
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clab"),
            F.round(dot / (nrm(F.col("qv")) * nrm(F.col("v"))), 4).alias("sim"),
        )
    )
    return _contrastive_argmax(d)




# ---------------------------------------------------------------------------
# q165: MMR diversified re-ranking (greedy, oracle-unrolled)
# ---------------------------------------------------------------------------

_Q165_POOL, _Q165_K, _Q165_LAM = 20, 5, 0.7


def _mmr_sql(pool_k: int, select_k: int, lam: float) -> str:
    """The greedy unrolled as chained CTEs — one (cand_i, sel_i) pair
    per selection step, so DuckDB replays the EXACT argmax sequence.
    All similarities round to 4 first; scores are then arithmetic on
    exact 1e-4 multiples (identical doubles in both engines) and every
    argmax breaks ties on vec_id."""
    om = 1.0 - lam  # printed repr round-trips to the identical double
    steps = [
        f"sel1 AS (SELECT vec_id, simq, CAST(1 AS BIGINT) AS rank,"
        f" ROUND({lam!r}*simq, 6) AS mmr_score"
        f" FROM pool ORDER BY {lam!r}*simq DESC, vec_id LIMIT 1)"
    ]
    for i in range(2, select_k + 1):
        sel_union = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, i)
        )
        steps.append(
            f"cand{i} AS (SELECT p.vec_id, p.simq, MAX(pp.s) AS pen"
            f" FROM pool p JOIN pp ON pp.av = p.vec_id AND pp.bv IN ({sel_union})"
            f" WHERE p.vec_id NOT IN ({sel_union}) GROUP BY 1, 2)"
        )
        steps.append(
            f"sel{i} AS (SELECT vec_id, simq, CAST({i} AS BIGINT) AS rank,"
            f" ROUND({lam!r}*simq - {om!r}*pen, 6) AS mmr_score"
            f" FROM cand{i} ORDER BY {lam!r}*simq - {om!r}*pen DESC, vec_id"
            f" LIMIT 1)"
        )
    union = " UNION ALL ".join(
        f"SELECT vec_id, simq, rank, mmr_score FROM sel{i}"
        for i in range(1, select_k + 1)
    )
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
z AS (
  SELECT e.vec_id, CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e, q WHERE e.vec_id != 0
),
d AS (SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
      FROM z GROUP BY vec_id),
sims AS (SELECT vec_id, ROUND(dot / (SQRT(nx) * SQRT(ny)), 4) AS simq FROM d),
pool AS (
  SELECT vec_id, simq FROM (
    SELECT vec_id, simq,
           ROW_NUMBER() OVER (ORDER BY simq DESC, vec_id) AS rn
    FROM sims
  ) WHERE rn <= {pool_k}
),
pv AS (SELECT p.vec_id, e.embedding FROM pool p JOIN embeddings e USING (vec_id)),
zz AS (
  SELECT a.vec_id AS av, b.vec_id AS bv,
         CAST(unnest(a.embedding) AS DOUBLE) AS x,
         CAST(unnest(b.embedding) AS DOUBLE) AS y
  FROM pv a, pv b WHERE a.vec_id != b.vec_id
),
pp AS (SELECT av, bv, ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 4)
         AS s FROM zz GROUP BY 1, 2),
{", ".join(steps)}
SELECT rank, vec_id, simq, mmr_score FROM ({union}) ORDER BY rank
"""


@register(
    "q165_mmr_rerank",
    _mmr_sql(_Q165_POOL, _Q165_K, _Q165_LAM),
    doc=(
        "Maximal Marginal Relevance diversified retrieval (Carbonell & "
        "Goldstein 1998, public): top-20 relevance pool via the "
        "distributed cosine TakeOrdered scan, pool×pool cosine matrix "
        "as a broadcast plan, then the greedy relevance-minus-"
        "redundancy argmax over the collected pool (bounded driver "
        "loop, IVF-seed-collect class — never corpus data; "
        "operators/similarity.py mmr_rerank).  The oracle UNROLLS the "
        "greedy as chained CTEs, one argmax per selection step, on "
        "identically-rounded sims — the iterative algorithm is "
        "hash-matched step for step"
    ),
    tables=("embeddings",),
)
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return mmr_rerank(
        emb.where(F.col("vec_id") != 0), query, _Q165_POOL, _Q165_K, _Q165_LAM
    )


# ---------------------------------------------------------------------------
# Q177: greedy k-center coreset selection (farthest-point traversal)
# ---------------------------------------------------------------------------

_Q177_K = 4


_Q177_DIST_TPL = (
    f"list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> ({v}[i]-{c}[i])*({v}[i]-{c}[i])), (x,y) -> x+y)"
)


def _q177_sql() -> str:
    d = _Q177_DIST_TPL.format
    return f"""
WITH e AS (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s1 AS (SELECT id, v FROM e WHERE id = 0),
d2 AS (
  SELECT e.id, e.v, {d(v='e.v', c='s1.v')} AS mind
  FROM e, s1 WHERE e.id <> s1.id
),
s2 AS (SELECT id, v, mind FROM d2 ORDER BY mind DESC, id LIMIT 1),
d3 AS (
  SELECT d2.id, d2.v, LEAST(d2.mind, {d(v='d2.v', c='s2.v')}) AS mind
  FROM d2, s2 WHERE d2.id <> s2.id
),
s3 AS (SELECT id, v, mind FROM d3 ORDER BY mind DESC, id LIMIT 1),
d4 AS (
  SELECT d3.id, d3.v, LEAST(d3.mind, {d(v='d3.v', c='s3.v')}) AS mind
  FROM d3, s3 WHERE d3.id <> s3.id
),
s4 AS (SELECT id, v, mind FROM d4 ORDER BY mind DESC, id LIMIT 1)
SELECT CAST(1 AS BIGINT) AS step, id AS vec_id, CAST(NULL AS DOUBLE) AS dist FROM s1
UNION ALL SELECT 2, id, ROUND(mind, 6) FROM s2
UNION ALL SELECT 3, id, ROUND(mind, 6) FROM s3
UNION ALL SELECT 4, id, ROUND(mind, 6) FROM s4
ORDER BY step
"""


@register(
    "q177_kcenter_coreset",
    _q177_sql(),
    doc=(
        "greedy k-center coreset selection (Gonzalez 1985 farthest-"
        "point traversal, the Sener & Savarese 2018 active-learning "
        "coreset — public; operators/similarity.py k_center_greedy): "
        "k-1 distributed passes, each updating the running min-distance "
        "column against only the NEWEST broadcast center and taking the "
        "argmax as TakeOrderedAndProject; the oracle UNROLLS the greedy "
        "as chained CTEs with the kmeans lockstep distance fold"
    ),
    tables=("embeddings",),
)
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import k_center_greedy

    emb = load_table(spark, sf_dir, "embeddings")
    return k_center_greedy(emb, _Q177_K, seed_id=0)


# ---------------------------------------------------------------------------
# Q178: PCA top principal direction (power iteration)
# ---------------------------------------------------------------------------

def _q178_sql() -> str:
    dot = (
        f"list_reduce(list_transform(range(1, {DIM + 1}), "
        "i -> c[i]*{w}[i]), (x,y) -> x+y)"
    ).format
    return f"""
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
mu AS (
  SELECT pos, ROUND(AVG(x), 6) AS m
  FROM (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e)
  GROUP BY pos
),
mul AS (SELECT list(m ORDER BY pos) AS m FROM mu),
c AS (
  SELECT list_transform(range(1, {DIM + 1}), i -> v[i] - m[i]) AS c
  FROM e, mul
),
w1 AS (
  SELECT pos, ROUND(SUM(x * s), 6) AS w
  FROM (SELECT c[1] AS s, generate_subscripts(c, 1) AS pos, unnest(c) AS x FROM c)
  GROUP BY pos
),
w1l AS (SELECT list(w ORDER BY pos) AS w FROM w1),
s2 AS (SELECT c, {dot(w='w')} AS s FROM c, w1l),
w2 AS (
  SELECT pos, ROUND(SUM(x * s), 6) AS w
  FROM (SELECT s, generate_subscripts(c, 1) AS pos, unnest(c) AS x FROM s2)
  GROUP BY pos
),
w2l AS (SELECT list(w ORDER BY pos) AS w FROM w2),
s3 AS (SELECT c, {dot(w='w')} AS s FROM c, w2l),
w3 AS (
  SELECT pos, ROUND(SUM(x * s), 6) AS w
  FROM (SELECT s, generate_subscripts(c, 1) AS pos, unnest(c) AS x FROM s3)
  GROUP BY pos
),
n AS (SELECT SQRT(SUM(w * w)) AS nrm FROM w3)
SELECT CAST(pos AS BIGINT) AS pos, ROUND(w / n.nrm, 6) AS loading
FROM w3, n ORDER BY pos
"""


@register(
    "q178_pca_power",
    _q178_sql(),
    doc=(
        "top principal direction of the mean-centered embedding corpus "
        "via 3 POWER iterations on the covariance (von Mises 1929, "
        "public; operators/similarity.py pca_power_top): each "
        "iteration one distributed pass — projection fold + positional "
        "weighted sum rounded to 6dp JVM-side (the kmeans lockstep "
        "discipline) — with only the dim-length iterate ever "
        "materialized; v0 = e_1 pins the sign; the oracle unrolls the "
        "3 iterations with the identical fold order"
    ),
    tables=("embeddings",),
)
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import pca_power_top

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_top(emb, iters=3)


# ---------------------------------------------------------------------------
# Q179: kNN label-noise audit (confident-learning screen)
# ---------------------------------------------------------------------------

_Q179_K = 5


_Q179_ANCHORS = 20  # FIXED anchor count — independent of corpus size


_Q179_SQL = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
a AS (SELECT * FROM e
      ORDER BY ((vec_id % 2147483648) * 2654435761) % 1000000007, vec_id
      LIMIT {_Q179_ANCHORS}),
z AS (
  SELECT a.vec_id AS qid, a.label AS qlab, e.vec_id AS cid, e.label AS clab,
         CAST(unnest(a.v) AS DOUBLE) AS x, CAST(unnest(e.v) AS DOUBLE) AS y
  FROM a JOIN e ON e.vec_id != a.vec_id
),
d AS (
  SELECT qid, qlab, cid, clab,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 4) AS sim
  FROM z GROUP BY qid, qlab, cid, clab
),
r AS (
  SELECT qid, qlab, clab,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
  FROM d
),
t AS (
  SELECT qid, qlab,
         COUNT(*) FILTER (WHERE clab = qlab) AS n_agree
  FROM r WHERE rnk <= {_Q179_K} GROUP BY qid, qlab
)
SELECT qid AS vec_id, qlab AS label, CAST(n_agree AS BIGINT) AS n_agree,
       CAST(CASE WHEN n_agree <= 1 THEN 1 ELSE 0 END AS BIGINT) AS suspect
FROM t ORDER BY vec_id
"""


@register(
    "q179_knn_label_audit",
    _Q179_SQL,
    doc=(
        "label-noise screening by kNN consistency (the confident-"
        "learning / Cleanlab heuristic, Northcutt et al. 2021 — "
        "public): for each audit anchor, how many of its 5 exact-"
        "cosine nearest neighbors share its label; <= 1 agreeing "
        "neighbor flags a suspected mislabel.  Scale shape (VERDICT "
        "r06 item 3 respell): anchors are a FIXED-k hash-rank draw "
        "(operators.anchors.fixed_k_anchors, TakeOrderedAndProject), "
        "so the broadcast-anchors x corpus candidate pass is Θ(k·n) "
        "— linear, not Θ(n²/c); the per-anchor rank is the two-phase "
        "per_anchor_topk, so no reducer sees a corpus-sized window "
        "frame.  For production-scale audits over MANY anchors, "
        "probe the persisted IVF index instead (q150)"
    ),
    tables=("embeddings",),
)
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.anchors import (
        fixed_k_anchors,
        per_anchor_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a = fixed_k_anchors(e, "vec_id", _Q179_ANCHORS).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("v").alias("qv"),
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    d = (
        e.crossJoin(a)
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlab",
            F.col("vec_id").alias("cid"),
            F.col("label").alias("clab"),
            F.round(dot / (nrm(F.col("qv")) * nrm(F.col("v"))), 4).alias("sim"),
        )
    )
    t = (
        per_anchor_topk(
            d, ["qid"], [F.col("sim").desc(), F.col("cid")], _Q179_K
        )
        .groupBy("qid", "qlab")
        .agg(
            F.sum((F.col("clab") == F.col("qlab")).cast("long")).alias("n_agree")
        )
    )
    return t.select(
        F.col("qid").alias("vec_id"),
        F.col("qlab").alias("label"),
        F.col("n_agree").cast("long").alias("n_agree"),
        (F.col("n_agree") <= 1).cast("long").alias("suspect"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Q194: per-dimension embedding distribution profile
# ---------------------------------------------------------------------------

_Q194_SQL = """
WITH e AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings
),
u AS (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e)
SELECT CAST(pos AS BIGINT) AS pos,
       ROUND(AVG(x), 6) AS mean_x,
       ROUND(STDDEV(x), 6) AS std_x,
       ROUND(quantile_cont(x, 0.5), 6) AS p50,
       MIN(x) AS min_x, MAX(x) AS max_x
FROM u GROUP BY pos ORDER BY pos
"""


@register(
    "q194_embedding_dim_stats",
    _Q194_SQL,
    doc=(
        "per-dimension embedding distribution profile (the pre-flight "
        "audit before quantization / whitening — dead dims, scale "
        "outliers, mean drift): posexplode to (pos, x), one keyed "
        "aggregate computing mean / sample-std / EXACT interpolated "
        "median (F.percentile == quantile_cont, the q09 contract) / "
        "min / max per dimension — shuffle carries dim keys, never "
        "corpus rows beyond the partial aggregation"
    ),
    tables=("embeddings",),
)
def q194(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    u = emb.select(
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos0", "x")
    )
    return (
        u.groupBy("pos0")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.stddev("x"), 6).alias("std_x"),
            F.round(F.percentile("x", F.lit(0.5)), 6).alias("p50"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
        )
        .select(
            (F.col("pos0") + 1).cast("long").alias("pos"),
            "mean_x", "std_x", "p50", "min_x", "max_x",
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Q195: deterministic hash negative sampling (contrastive training)
# ---------------------------------------------------------------------------

_Q195_K = 4


def _q195_sql() -> str:
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    return f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
n AS (SELECT COUNT(*) AS n_ids FROM e),
a AS (SELECT vec_id AS aid, label AS alab, v AS av FROM e WHERE vec_id % 50 = 0),
cand AS (
  SELECT a.aid, a.alab, a.av, j.j,
         ((((a.aid % {ID_FOLD}) * {KNUTH} + j.j * 97) % {ID_FOLD}) % n.n_ids) AS nid
  FROM a CROSS JOIN (SELECT unnest(range(1, {_Q195_K + 1})) AS j) j CROSS JOIN n
),
m AS (
  SELECT c.aid, c.j, c.nid, e.label AS nlab,
         CAST(unnest(c.av) AS DOUBLE) AS x, CAST(unnest(e.v) AS DOUBLE) AS y
  FROM cand c JOIN e ON e.vec_id = c.nid
  WHERE c.nid != c.aid AND e.label != c.alab
)
SELECT aid AS anchor_id, j AS draw, nid AS neg_id,
       ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 4) AS sim
FROM m GROUP BY aid, j, nid
ORDER BY anchor_id, draw
"""


@register(
    "q195_negative_sampling",
    _q195_sql(),
    doc=(
        "deterministic negative sampling for contrastive training "
        "(word2vec / SimCLR discipline, public): each anchor draws "
        f"{_Q195_K} pseudo-random corpus ids from the shared Knuth "
        "id-hash (identical integer math in both engines — no RNG), "
        "drops self/same-label collisions, fetches the negatives by "
        "EQUI-join on the computed id (never a cross join against the "
        "corpus), and scores hardness by exact cosine.  q135 mines "
        "HARD negatives by ANN; this is the cheap uniform-draw "
        "baseline that scales as O(anchors x k)"
    ),
    tables=("embeddings",),
)
def q195(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    n = e.agg(F.count(F.lit(1)).alias("n_ids"))
    a = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alab"),
        F.col("v").alias("av"),
    )
    cand = (
        a.withColumn(
            "j", F.explode(F.array(*[F.lit(i) for i in range(1, _Q195_K + 1)]))
        )
        .crossJoin(n)
        .withColumn(
            "nid",
            (
                (
                    (F.col("aid") % F.lit(ID_FOLD)) * F.lit(KNUTH)
                    + F.col("j") * F.lit(97)
                )
                % F.lit(ID_FOLD)
            )
            % F.col("n_ids"),
        )
    )
    neg = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlab"),
        F.col("v").alias("nv"),
    )
    m = (
        cand.join(neg, "nid")
        .where((F.col("nid") != F.col("aid")) & (F.col("nlab") != F.col("alab")))
    )
    dot = F.aggregate(
        F.zip_with("av", "nv", lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.transform(c, lambda x: x * x),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
    return m.select(
        F.col("aid").alias("anchor_id"),
        F.col("j").cast("long").alias("draw"),
        F.col("nid").alias("neg_id"),
        F.round(dot / (nrm(F.col("av")) * nrm(F.col("nv"))), 4).alias("sim"),
    ).orderBy("anchor_id", "draw")


# ---------------------------------------------------------------------------
# Q202: dense projection (embedding x broadcast matrix — the serving shape)
# ---------------------------------------------------------------------------

_Q202_OUT = 8
# deterministic projection matrix: P[j][i] = ((31*j + 17*i) % 13 - 6) / 10
# — shared literals (the NDCG discipline), full rank over +/-0.6 steps
_Q202_P = [
    [((31 * j + 17 * i) % 13 - 6) / 10.0 for i in range(64)]
    for j in range(_Q202_OUT)
]


def _q202_sql() -> str:
    rows = []
    for j, row in enumerate(_Q202_P):
        lits = ", ".join(repr(x) for x in row)
        rows.append(
            f"list_reduce(list_transform(range(1, {DIM + 1}), "
            f"i -> v[i] * ([{lits}])[i]), (x, y) -> x + y)"
        )
    comps = ", ".join(rows)
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (
  SELECT vec_id, [{comps}] AS pv FROM e
),
n AS (
  SELECT vec_id,
         ROUND(SQRT(list_reduce(list_transform(pv, x -> x * x),
                                (x, y) -> x + y)), 4) AS pnorm
  FROM p
)
SELECT vec_id, pnorm FROM n ORDER BY pnorm DESC, vec_id LIMIT 10
"""


@register(
    "q202_matrix_projection",
    _q202_sql(),
    doc=(
        "dense linear projection 64 -> 8 (the dim-reduction / linear-"
        "layer SERVING shape; q178 finds directions, this applies "
        "them): the projection matrix is a broadcast literal, each "
        "output component a JVM zip_with/aggregate fold — whole-stage-"
        "codegen row-local math, zero shuffle until the top-10-by-"
        "projected-norm TakeOrderedAndProject; the oracle replays the "
        "identical fold order per component"
    ),
    tables=("embeddings",),
)
def q202(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )

    def comp(row: list[float]):
        arr = F.array(*[F.lit(x) for x in row])
        return F.aggregate(
            F.zip_with("v", arr, lambda x, y: x * y),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    pv = F.array(*[comp(row) for row in _Q202_P])
    pnorm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(pv, lambda x: x * x),
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x,
            )
        ),
        4,
    )
    return (
        e.select("vec_id", pnorm.alias("pnorm"))
        .orderBy(F.col("pnorm").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q339: kNN classifier accuracy eval on a fixed anchor panel (round 8)
# ---------------------------------------------------------------------------

# The classifier twin of q179's label-noise audit: exact 5-NN
# majority vote (squared-L2 over the shared-idiom sequential left-fold
# doubles — list_reduce == F.aggregate bit-for-bit, the q115 recipe)
# from the 80% train split, evaluated on a FIXED 40-vector hash-rank
# panel of the test split (operators/anchors — the eval cost is
# panel x train, never test x train; the ANN indexes a51/a52 are the
# serving path, this is the accuracy report).  Votes are integer
# counts, the majority tie-broken to the smaller label; per-label
# accuracy out.  Honest fixture answer: accuracy ~ chance — the
# synthetic labels are independent of the embedding geometry (the
# label-free-corpus property q166 documents).
_Q339_K = 5


_Q339_PANEL = 40


_Q339_DIST = (
    f"list_reduce(list_transform(range(1, {DIM + 1}), "
    "i -> (t.v[i]-r.v[i])*(t.v[i]-r.v[i])), (x,y) -> x+y)"
)


_Q339_SQL = f"""
WITH e AS (
  SELECT vec_id AS id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
tr AS (SELECT * FROM e WHERE ((id % 2147483648) * 2654435761) % 100 < 80),
te AS (SELECT * FROM e WHERE ((id % 2147483648) * 2654435761) % 100 >= 80),
panel AS (
  SELECT * FROM te
  ORDER BY ((id % 2147483648) * 2654435761) % 1000000007, id
  LIMIT {_Q339_PANEL}
),
nn AS (
  SELECT t.id, t.label AS true_label, r.label AS nbr_label,
         ROW_NUMBER() OVER (PARTITION BY t.id
                            ORDER BY {_Q339_DIST}, r.id) AS rn
  FROM panel t CROSS JOIN tr r
),
vote AS (
  SELECT id, true_label, nbr_label, CAST(COUNT(*) AS BIGINT) AS c
  FROM nn WHERE rn <= {_Q339_K}
  GROUP BY id, true_label, nbr_label
),
pred AS (
  SELECT id, true_label, nbr_label AS pred FROM (
    SELECT id, true_label, nbr_label,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY c DESC, nbr_label) AS rn2
    FROM vote
  ) WHERE rn2 = 1
)
SELECT CAST(true_label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       ROUND(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS acc
FROM pred GROUP BY true_label ORDER BY label
"""


@register(
    "q339_knn_classifier",
    _Q339_SQL,
    doc=(
        f"exact {_Q339_K}-NN majority-vote classifier accuracy on a "
        f"FIXED {_Q339_PANEL}-vector hash-rank test panel (the q179 "
        "audit's classifier twin): squared-L2 via the shared "
        "sequential-left-fold idiom (list_reduce == F.aggregate "
        "bit-for-bit, q115's recipe) against the 80% train split, "
        "neighbor ranks through operators/anchors.per_anchor_topk "
        "(no reducer sees a panel member's full candidate list), "
        "integer votes tie-broken to the smaller label.  Eval cost "
        "is panel x train — fixed-k, never test-corpus-shaped; "
        "a51/a52's ANN indexes are the serving path, this is the "
        "accuracy report.  Honest fixture answer: ~chance accuracy "
        "(labels are independent of geometry — the q166 property)"
    ),
    tables=("embeddings",),
)
def q339(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from osm_changesets_to_parquet_spark.operators.anchors import (
        fixed_k_anchors,
        per_anchor_topk,
    )
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("vec_id").alias("id"),
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    bkt = hash_bucket("id", 100)
    tr = truncate_lineage(e.where(bkt < 80))
    te = e.where(bkt >= 80)
    panel = truncate_lineage(fixed_k_anchors(te, "id", _Q339_PANEL))
    t = panel.select(
        F.col("id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("tv"),
    )
    r = tr.select(
        F.col("id").alias("rid"),
        F.col("label").alias("nbr_label"),
        F.col("v").alias("rv"),
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("tv"), F.col("rv"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = t.crossJoin(r).select(
        "id", "true_label", "nbr_label", F.col("rid"), dist.alias("dist")
    )
    top = per_anchor_topk(
        pairs, ["id"], [F.col("dist"), F.col("rid")], _Q339_K
    )
    vote = top.groupBy("id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wv = Window.partitionBy("id").orderBy(F.desc("c"), "nbr_label")
    pred = (
        vote.withColumn("rn2", F.row_number().over(wv))
        .where(F.col("rn2") == 1)
        .select("id", "true_label", F.col("nbr_label").alias("pred"))
    )
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("pred") == F.col("true_label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n",
            "n_correct",
            F.round(
                F.col("n_correct") * F.lit(1.0) / F.col("n"), 4
            ).alias("acc"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q348: ALS matrix factorization, rank 2, fully relational (round 8)
# ---------------------------------------------------------------------------

# Alternating least squares (Koren/Bell/Volinsky 2009; the Spark-MLlib
# workhorse) re-derived under the engine's determinism discipline and
# WITHOUT a black box: rank-2 factors over the (customer, part,
# distinct-order-count) rating matrix, 2 full alternations.  Each
# half-step is ONE join of ratings onto the fixed side's factors +
# ONE keyed aggregation of the 2x2 normal-equation sufficient
# statistics + a per-entity CLOSED-FORM solve in the select — the
# solve is relational (rank 2 makes A^{-1} a formula), so there is no
# driver loop at all, unlike q311/q334/q344 whose scalar state is
# global.  Factors are quantized to integer MICRO-units between
# half-steps (the q334 discipline), so all Σqq/Σrq statistics are
# exact integers under any partitioning; the solve converts them to
# real units by exact power-of-ten divisions and every engine
# evaluates the identical IEEE expression tree.  Deterministic init:
# item factor = (1, knuth_bucket(p)/1000) — symmetry broken without
# randomness.
_Q348_ROUNDS = 2


_Q348_LAMBDA = 0.1


_Q348_Q = 1_000_000


def _q348_solve(prefix: str) -> str:
    """Closed-form ridge solve from micro-unit integer sufficient stats.

    a11m/a12m/a22m are Σ q1m*q1m etc (micro^2), b1m/b2m are Σ r*q1m
    (micro): convert by exact power-of-ten division, add lambda, solve
    the 2x2 system, emit micro-quantized factors.
    """
    a11 = f"(CAST({prefix}a11m AS DOUBLE) / 1000000000000 + {_Q348_LAMBDA})"
    a12 = f"(CAST({prefix}a12m AS DOUBLE) / 1000000000000)"
    a22 = f"(CAST({prefix}a22m AS DOUBLE) / 1000000000000 + {_Q348_LAMBDA})"
    b1 = f"(CAST({prefix}b1m AS DOUBLE) / 1000000)"
    b2 = f"(CAST({prefix}b2m AS DOUBLE) / 1000000)"
    det = f"({a11} * {a22} - {a12} * {a12})"
    f1 = f"(({a22} * {b1} - {a12} * {b2}) / {det})"
    f2 = f"(({a11} * {b2} - {a12} * {b1}) / {det})"
    return (
        f"CAST(FLOOR({f1} * 1000000 + 0.5) AS BIGINT) AS f1m, "
        f"CAST(FLOOR({f2} * 1000000 + 0.5) AS BIGINT) AS f2m"
    )


def _q348_half(step: int, solve_for: str, fixed: str) -> str:
    """One ALS half-step CTE: solve `solve_for` factors against `fixed`."""
    key = "u" if solve_for == "x" else "p"
    fkey = "p" if solve_for == "x" else "u"
    return f"""s{step} AS MATERIALIZED (
  SELECT {key},
         CAST(SUM(f.f1m * f.f1m) AS BIGINT) AS a11m,
         CAST(SUM(f.f1m * f.f2m) AS BIGINT) AS a12m,
         CAST(SUM(f.f2m * f.f2m) AS BIGINT) AS a22m,
         CAST(SUM(rt.r * f.f1m) AS BIGINT) AS b1m,
         CAST(SUM(rt.r * f.f2m) AS BIGINT) AS b2m
  FROM rt JOIN {fixed} f ON f.{fkey} = rt.{fkey}
  GROUP BY {key}
),
{solve_for}{step} AS MATERIALIZED (
  SELECT {key}, {_q348_solve("")}
  FROM s{step}
)"""


_Q348_STEPS = []


_fixed = "q0"


for _r in range(_Q348_ROUNDS):
    _s = 2 * _r + 1
    _Q348_STEPS.append(_q348_half(_s, "x", _fixed))
    _Q348_STEPS.append(_q348_half(_s + 1, "q", f"x{_s}"))
    _fixed = f"q{_s + 1}"


_Q348_LAST_X = f"x{2 * _Q348_ROUNDS - 1}"


_Q348_LAST_Q = f"q{2 * _Q348_ROUNDS}"


_Q348_SQL = f"""
WITH rt AS MATERIALIZED (
  SELECT o.o_custkey AS u, l.l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS r
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
q0 AS MATERIALIZED (
  SELECT p, CAST({_Q348_Q} AS BIGINT) AS f1m,
         CAST((((p % 2147483648) * 2654435761) % 1000) * 1000 AS BIGINT)
           AS f2m
  FROM (SELECT DISTINCT p FROM rt)
),
{", ".join(_Q348_STEPS)},
res AS (
  SELECT rt.r,
         CAST(x.f1m * q.f1m + x.f2m * q.f2m AS DOUBLE)
           / 1000000000000 AS pred
  FROM rt JOIN {_Q348_LAST_X} x ON x.u = rt.u
          JOIN {_Q348_LAST_Q} q ON q.p = rt.p
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM {_Q348_LAST_X}) AS n_users,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM {_Q348_LAST_Q}) AS n_items,
       CAST(COUNT(*) AS BIGINT) AS n_ratings,
       ROUND(SQRT(AVG((r - pred) * (r - pred))), 6) AS rmse
FROM res
"""


@register(
    "q348_als_factorization",
    _Q348_SQL,
    doc=(
        "rank-2 ALS matrix factorization (Koren-Bell-Volinsky 2009), "
        f"{_Q348_ROUNDS} full alternations over the (customer, part, "
        "order-count) rating matrix — FULLY RELATIONAL model fitting: "
        "each half-step is one ratings-to-factors join + one keyed "
        "aggregation of the 2x2 normal-equation statistics + a "
        "per-entity closed-form ridge solve IN THE SELECT (rank 2 "
        "makes the inverse a formula; no driver loop, unlike "
        "q311/q334/q344 whose state is global).  Factors quantize to "
        "integer micro-units between half-steps (q334 discipline) so "
        "every sufficient statistic is an exact BIGINT under any "
        "partitioning; the solve re-enters real units by exact "
        "power-of-ten division.  Deterministic symmetry-breaking "
        "init from the Knuth bucket; lambda = "
        f"{_Q348_LAMBDA} ridge floor keeps every per-entity system "
        "invertible.  The final training RMSE beating the "
        "rating-mean baseline is pinned in tests"
    ),
    tables=("orders", "lineitem"),
)
def q348(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rt = truncate_lineage(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("p")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    q = truncate_lineage(
        rt.select("p")
        .distinct()
        .select(
            "p",
            F.lit(_Q348_Q).cast("long").alias("f1m"),
            (hash_bucket("p", 1000) * 1000).cast("long").alias("f2m"),
        )
    )

    def solve(stats: DataFrame, key: str) -> DataFrame:
        a11 = stats["a11m"].cast("double") / F.lit(1_000_000_000_000) + F.lit(
            _Q348_LAMBDA
        )
        a12 = stats["a12m"].cast("double") / F.lit(1_000_000_000_000)
        a22 = stats["a22m"].cast("double") / F.lit(1_000_000_000_000) + F.lit(
            _Q348_LAMBDA
        )
        b1 = stats["b1m"].cast("double") / F.lit(1_000_000)
        b2 = stats["b2m"].cast("double") / F.lit(1_000_000)
        det = a11 * a22 - a12 * a12
        f1 = (a22 * b1 - a12 * b2) / det
        f2 = (a11 * b2 - a12 * b1) / det
        return stats.select(
            key,
            F.floor(f1 * _Q348_Q + F.lit(0.5)).cast("long").alias("f1m"),
            F.floor(f2 * _Q348_Q + F.lit(0.5)).cast("long").alias("f2m"),
        )

    def half(fixed: DataFrame, fkey: str, key: str) -> DataFrame:
        joined = rt.join(fixed, fkey)
        stats = joined.groupBy(key).agg(
            F.sum(F.col("f1m") * F.col("f1m")).cast("long").alias("a11m"),
            F.sum(F.col("f1m") * F.col("f2m")).cast("long").alias("a12m"),
            F.sum(F.col("f2m") * F.col("f2m")).cast("long").alias("a22m"),
            F.sum(F.col("r") * F.col("f1m")).cast("long").alias("b1m"),
            F.sum(F.col("r") * F.col("f2m")).cast("long").alias("b2m"),
        )
        return truncate_lineage(solve(stats, key))

    x = None
    for _ in range(_Q348_ROUNDS):
        x = half(q, "p", "u")
        q = half(x, "u", "p")
    res = (
        rt.join(x.select(F.col("u"), F.col("f1m").alias("x1"), F.col("f2m").alias("x2")), "u")
        .join(
            q.select(F.col("p"), F.col("f1m").alias("q1"), F.col("f2m").alias("q2")),
            "p",
        )
        .select(
            "r",
            (
                (
                    F.col("x1") * F.col("q1") + F.col("x2") * F.col("q2")
                ).cast("double")
                / F.lit(1_000_000_000_000)
            ).alias("pred"),
        )
    )
    nx = x.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    nq = q.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    return (
        res.agg(
            F.count(F.lit(1)).cast("long").alias("n_ratings"),
            F.round(
                F.sqrt(
                    F.avg(
                        (F.col("r") - F.col("pred"))
                        * (F.col("r") - F.col("pred"))
                    )
                ),
                6,
            ).alias("rmse"),
        )
        .crossJoin(nx)
        .crossJoin(nq)
        .select("n_users", "n_items", "n_ratings", "rmse")
    )

"""Ranking evaluation & fusion over retrieval outputs.

The measurement half of the ANN family (round-10 regrouping;
mechanical relocation, zero behavior change — pre/post registry hash
dump): NDCG evaluation (q121), retrieval metric panels (q249),
reciprocal-rank fusion (q264), and rank-biased overlap (q268).  All
four run over fixed-size anchor panels (operators/anchors.py
authority) so plan size is independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.anchors import (
    fixed_k_anchors,
    per_anchor_topk,
    sql_anchor_order as _sql_anchor_order,
)
from osm_changesets_to_parquet_spark.operators.similarity import (
    milli_quantize,
    pq_adc,
)
from osm_changesets_to_parquet_spark.queries import register

# q264/q268 rank q243's PQ panel, so the fusion and overlap results stay
# comparable with the PQ-ADC ones (same anchors, same codebooks) — the
# constants and the oracle CTE chain live with q243 in ann.py
from osm_changesets_to_parquet_spark.queries.ann import (
    _PQ_CTES,
    _Q243_K,
    _Q243_NQ,
    _Q243_SUB,
    _anchor_panel,
    _hash_anchors_sql,
    _panel_sql,
)


# ---------------------------------------------------------------------------
# Q121: NDCG@10 retrieval evaluation (ranking quality vs labels)
# ---------------------------------------------------------------------------

_NDCG_K = 10
# ideal DCG for r relevant items in the top-k, r = 0..k — computed ONCE
# in Python and embedded as identical literals in BOTH engines, so the
# only floating math at runtime is the per-rank sum (rounded to 4)
_IDCG = [0.0]


for _i in range(1, _NDCG_K + 1):
    _IDCG.append(_IDCG[-1] + 1.0 / __import__("math").log2(_i + 1))


_Q121_ANCHORS = 8  # FIXED anchor count — independent of corpus size


_Q121_SQL = f"""
WITH {_panel_sql(_hash_anchors_sql(_Q121_ANCHORS))},
r AS (
  SELECT qid, qlab, cid, clab, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rnk
  FROM d
),
nrel AS (
  SELECT qid, CAST(COUNT(*) FILTER (WHERE clab = qlab) AS BIGINT) AS n_rel
  FROM d GROUP BY qid
),
dcg AS (
  SELECT qid,
         SUM(CASE WHEN clab = qlab THEN 1.0 / log2(rnk + 1) ELSE 0 END) AS dcg
  FROM r WHERE rnk <= {_NDCG_K} GROUP BY qid
)
SELECT d2.qid AS vec_id, nrel.n_rel,
       ROUND(d2.dcg / ([{", ".join(repr(v) for v in _IDCG)}])
             [LEAST({_NDCG_K}, nrel.n_rel) + 1], 4) AS ndcg
FROM dcg d2 JOIN nrel ON nrel.qid = d2.qid
ORDER BY vec_id
"""


@register(
    "q121_ndcg_eval",
    _Q121_SQL,
    doc=(
        "retrieval-quality evaluation: NDCG@10 of the exact cosine "
        "ranking per anchor, graded against embedding labels (relevant "
        "= same label) — FIXED-k hash-rank anchors broadcast "
        "(operators.anchors, the VERDICT r06 item 3 respell: Θ(k·n) "
        "candidates, never corpus-proportional), two-phase "
        "per_anchor_topk rank so no reducer holds a corpus-sized "
        "window frame; ideal-DCG values are Python-computed "
        "literals shared verbatim by both engines so only the "
        "per-rank sum is runtime float math (rounded to 4)"
    ),
    tables=("embeddings",),
)
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _anchor_panel(load_table(spark, sf_dir, "embeddings"), _Q121_ANCHORS)
    rel = (F.col("clab") == F.col("qlab")).cast("int")
    # n_rel over ALL candidates is a plain keyed aggregate (map-side
    # partials) — only the top-k ranking needs the two-phase window
    nrel = d.groupBy("qid").agg(F.sum(rel).cast("long").alias("n_rel"))
    top = per_anchor_topk(
        d, ["qid"], [F.col("sim").desc(), F.col("cid")], _NDCG_K
    )
    dcg = top.groupBy("qid").agg(
        F.sum(
            F.when(
                F.col("clab") == F.col("qlab"),
                F.lit(1.0) / F.log2(F.col("rnk") + 1),
            ).otherwise(F.lit(0.0))
        ).alias("dcg")
    )
    per_q = nrel.join(dcg, "qid")
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in _IDCG]),
        F.least(F.lit(_NDCG_K), F.col("n_rel")).cast("int") + 1,
    )
    return per_q.select(
        F.col("qid").alias("vec_id"),
        "n_rel",
        F.round(F.col("dcg") / idcg, 4).alias("ndcg"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# q249: retrieval eval — MRR + MAP@10 over exact integer distances
# ---------------------------------------------------------------------------

_Q249_NQ = 8


_Q249_K = 10


_Q249_SQL = f"""
WITH ranked AS (
  SELECT vec_id, label,
         ROW_NUMBER() OVER (ORDER BY {{anchor_key}}, vec_id) AS rk
  FROM embeddings
  ORDER BY {{anchor_key}}, vec_id LIMIT {_Q249_NQ}
),
quant AS (
  SELECT vec_id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
dists AS (
  SELECT r.vec_id AS qid, r.label AS qlabel, v.vec_id, ANY_VALUE(v.label)
           AS vlabel,
         CAST(SUM((v.q - qv.q) * (v.q - qv.q)) AS BIGINT) AS d
  FROM ranked r
  JOIN quant qv ON qv.vec_id = r.vec_id
  JOIN quant v ON v.pos = qv.pos AND v.vec_id <> r.vec_id
  GROUP BY r.vec_id, r.label, v.vec_id
),
top AS (
  SELECT qid, qlabel, vlabel,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rnk
  FROM dists QUALIFY rnk <= {_Q249_K}
),
flags AS (
  SELECT qid, rnk,
         CASE WHEN vlabel = qlabel THEN 1 ELSE 0 END AS rel,
         SUM(CASE WHEN vlabel = qlabel THEN 1 ELSE 0 END)
           OVER (PARTITION BY qid ORDER BY rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rel
  FROM top
),
rtotal AS (
  SELECT r.vec_id AS qid, CAST(COUNT(*) AS BIGINT) AS n_rel_total
  FROM ranked r JOIN embeddings e
    ON e.label = r.label AND e.vec_id <> r.vec_id
  GROUP BY r.vec_id
)
SELECT f.qid, t.n_rel_total,
       ROUND(COALESCE(MAX(CASE WHEN f.rel = 1 THEN 1.0 / f.rnk END), 0), 4)
         AS rr,
       ROUND(COALESCE(SUM(CASE WHEN f.rel = 1
                          THEN CAST(f.cum_rel AS DOUBLE) / f.rnk END), 0)
             / LEAST(t.n_rel_total, {_Q249_K}), 4) AS ap10
FROM flags f JOIN rtotal t ON t.qid = f.qid
GROUP BY f.qid, t.n_rel_total ORDER BY f.qid
"""


_Q249_SQL = _Q249_SQL.format(anchor_key=_sql_anchor_order("vec_id"))


@register(
    "q249_retrieval_metrics",
    _Q249_SQL,
    doc=(
        f"retrieval evaluation (MRR + MAP@{_Q249_K}) for label-match "
        "relevance over exact nearest neighbors: the fixed-k "
        "hash-anchor query panel broadcasts onto the corpus, "
        "distances are integer milli-unit L2 (the q243 quantization "
        "— zero float-summation exposure in the RANKING), top-10 per "
        "query via per_anchor_topk, reciprocal rank and average "
        "precision from a 10-row-per-query cumulative window; "
        "complements q121's NDCG with the binary-relevance metrics"
    ),
    tables=("embeddings",),
)
def q249(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = fixed_k_anchors(emb, "vec_id", _Q249_NQ).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    quant = milli_quantize(emb, "label")
    qquant = anchors.join(
        quant.select(F.col("vec_id").alias("qid"), "pos", F.col("q").alias("qq")),
        "qid",
    )
    dists = (
        quant.join(F.broadcast(qquant), "pos")
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "qlabel", "vec_id")
        .agg(
            F.first("label").alias("vlabel"),
            F.sum(
                (F.col("qq") - F.col("q")) * (F.col("qq") - F.col("q"))
            ).alias("d"),
        )
    )
    top = per_anchor_topk(
        dists, ["qid"], [F.col("d"), F.col("vec_id")], _Q249_K
    )
    w_cum = Window.partitionBy("qid").orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rel = F.when(F.col("vlabel") == F.col("qlabel"), 1).otherwise(0)
    flags = top.select(
        "qid",
        "rnk",
        rel.alias("rel"),
        F.sum(rel).over(w_cum).alias("cum_rel"),
    )
    rtotal = (
        anchors.join(
            emb.select(F.col("vec_id").alias("cid"), F.col("label").alias("clabel")),
            F.col("clabel") == F.col("qlabel"),
        )
        .where(F.col("cid") != F.col("qid"))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_rel_total"))
    )
    return (
        flags.join(F.broadcast(rtotal), "qid")
        .groupBy("qid", "n_rel_total")
        .agg(
            F.round(
                F.coalesce(
                    F.max(F.when(F.col("rel") == 1, 1.0 / F.col("rnk"))),
                    F.lit(0.0),
                ),
                4,
            ).alias("rr"),
            F.round(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("rel") == 1,
                            F.col("cum_rel").cast("double") / F.col("rnk"),
                        )
                    ),
                    F.lit(0.0),
                )
                / F.least(F.col("n_rel_total"), F.lit(_Q249_K)),
                4,
            ).alias("ap10"),
        )
        .select("qid", "n_rel_total", "rr", "ap10")
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q264: reciprocal-rank fusion of exact and PQ-ADC rankings
# ---------------------------------------------------------------------------

_Q264_RRF_K = 60


_Q264_LIST = 20   # depth of each input ranking


_Q264_TOP = 10    # fused output depth


# the two q264/q268 rankings over pq_adc: self-hits excluded from both
# rankers, each list the top _Q264_LIST per query
_PQ_RANK_CTES = f"""{_PQ_CTES},
adc_r AS (
  SELECT qid, vec_id, rn FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d, vec_id) AS rn
    FROM adc WHERE vec_id NOT IN (SELECT qid FROM qpanel))
  WHERE rn <= {_Q264_LIST}
),
ex_r AS (
  SELECT qid, vec_id, rn FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ex_d, vec_id) AS rn
    FROM exact WHERE vec_id NOT IN (SELECT qid FROM qpanel))
  WHERE rn <= {_Q264_LIST}
)"""


def _pq_rank_lists(spark: SparkSession, sf_dir: str):
    """``(qpanel, adc_r, ex_r)``: q243's PQ panel ranked both ways, the
    spelling of ``_PQ_RANK_CTES``; ranks are ``a_rn`` and ``e_rn``."""
    emb = load_table(spark, sf_dir, "embeddings")
    qpanel, adc, exact = pq_adc(emb, _Q243_SUB, _Q243_K, _Q243_NQ)
    not_query = qpanel.withColumnRenamed("qid", "vec_id")
    adc_r = per_anchor_topk(
        adc.join(not_query, "vec_id", "anti"),
        ["qid"],
        [F.col("adc_d"), F.col("vec_id")],
        _Q264_LIST,
    ).select("qid", "vec_id", F.col("rnk").alias("a_rn"))
    ex_r = per_anchor_topk(
        exact.join(not_query, "vec_id", "anti"),
        ["qid"],
        [F.col("ex_d"), F.col("vec_id")],
        _Q264_LIST,
    ).select("qid", "vec_id", F.col("rnk").alias("e_rn"))
    return qpanel, adc_r, ex_r


_Q264_SQL = f"""
WITH {_PQ_RANK_CTES},
fused AS (
  SELECT COALESCE(a.qid, e.qid) AS qid,
         COALESCE(a.vec_id, e.vec_id) AS vec_id,
         COALESCE(1.0 / ({_Q264_RRF_K} + a.rn), 0)
           + COALESCE(1.0 / ({_Q264_RRF_K} + e.rn), 0) AS score
  FROM adc_r a FULL OUTER JOIN ex_r e
    ON e.qid = a.qid AND e.vec_id = a.vec_id
)
SELECT qid, CAST(frk AS BIGINT) AS fused_rank, vec_id,
       ROUND(score, 6) AS rrf_score
FROM (
  SELECT qid, vec_id, score,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, vec_id) AS frk
  FROM fused
) WHERE frk <= {_Q264_TOP}
ORDER BY qid, fused_rank
"""


@register(
    "q264_rrf_fusion",
    _Q264_SQL,
    doc=(
        f"reciprocal-rank fusion (Cormack et al. 2009, k={_Q264_RRF_K}) "
        "of the exact integer-L2 ranking and the PQ-ADC ranking "
        "(q243's codebook): the standard hybrid-search ensemble — "
        f"each ranker contributes 1/({_Q264_RRF_K}+rank) for its "
        f"top-{_Q264_LIST}, absent lists contribute 0 via the FULL "
        "OUTER join of the two per-query rank lists (bounded "
        f"{_Q264_LIST}-row frames per query, never corpus-sized); "
        "the fused score is a sum of exactly TWO deterministic "
        "rationals, so ordering is engine-exact with a vec_id "
        "tie-break; self-hits are excluded from BOTH rankers"
    ),
    tables=("embeddings",),
)
def q264(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, adc_r, ex_r = _pq_rank_lists(spark, sf_dir)
    fused = (
        adc_r.join(ex_r, ["qid", "vec_id"], "full_outer")
        .select(
            "qid",
            "vec_id",
            (
                F.coalesce(1.0 / (_Q264_RRF_K + F.col("a_rn")), F.lit(0.0))
                + F.coalesce(1.0 / (_Q264_RRF_K + F.col("e_rn")), F.lit(0.0))
            ).alias("score"),
        )
    )
    top = per_anchor_topk(
        fused, ["qid"], [F.col("score").desc(), F.col("vec_id")], _Q264_TOP,
        rank_col="frk",
    )
    return top.select(
        "qid",
        F.col("frk").cast("long").alias("fused_rank"),
        "vec_id",
        F.round("score", 6).alias("rrf_score"),
    ).orderBy("qid", "fused_rank")


# ---------------------------------------------------------------------------
# q268: rank-biased overlap between the exact and ADC rankings
# ---------------------------------------------------------------------------

_Q268_P = 0.9
# tail coefficients S(m) = sum_{d=m..LIST} p^(d-1)/d, computed ONCE in
# Python and injected as identical double literals into BOTH the SQL
# and the engine — no engine ever calls pow(), so there is no libm
# surface in the metric at all
_Q268_TAIL = []


for _m in range(1, _Q264_LIST + 1):
    _Q268_TAIL.append(
        sum(_Q268_P ** (d - 1) / d for d in range(_m, _Q264_LIST + 1))
    )


_Q268_TAIL_VALUES = ", ".join(f"({m + 1}, {s!r})" for m, s in enumerate(_Q268_TAIL))


_Q268_SQL = f"""
WITH {_PQ_RANK_CTES},
tail(m, s) AS (
  SELECT * FROM (VALUES {_Q268_TAIL_VALUES}) v(m, s)
),
common AS (
  SELECT a.qid, GREATEST(a.rn, e.rn) AS mx
  FROM adc_r a JOIN ex_r e ON e.qid = a.qid AND e.vec_id = a.vec_id
)
SELECT q.qid,
       CAST(COUNT(c.mx) AS BIGINT) AS n_common,
       ROUND((1 - {_Q268_P}) * COALESCE(SUM(t.s), 0), 6) AS rbo
FROM qpanel q
LEFT JOIN common c ON c.qid = q.qid
LEFT JOIN tail t ON t.m = c.mx
GROUP BY q.qid ORDER BY q.qid
"""


@register(
    "q268_rank_biased_overlap",
    _Q268_SQL,
    doc=(
        f"rank-biased overlap (Webber et al. 2010, p={_Q268_P}, "
        f"truncated at depth {_Q264_LIST}, no extrapolation) between "
        "the exact and PQ-ADC rankings — the top-weighted agreement "
        "metric q264 fuses and this one GRADES: each doc in both "
        "lists contributes the tail sum S(max(rank_a, rank_b)), and "
        "the 20 tail coefficients are computed ONCE in Python and "
        "injected as identical double literals into both engines — "
        "neither engine ever calls pow(), zero libm surface; "
        "per-query work is a join of two bounded 20-row lists"
    ),
    tables=("embeddings",),
)
def q268(spark: SparkSession, sf_dir: str) -> DataFrame:
    qpanel, adc_r, ex_r = _pq_rank_lists(spark, sf_dir)
    tail = F.broadcast(
        spark.createDataFrame(
            [(m + 1, s) for m, s in enumerate(_Q268_TAIL)], "m LONG, s DOUBLE"
        )
    )
    common = adc_r.join(ex_r, ["qid", "vec_id"]).select(
        "qid", F.greatest("a_rn", "e_rn").alias("m")
    )
    return (
        qpanel.join(common.join(tail, "m"), "qid", "left")
        .groupBy("qid")
        .agg(
            F.count("m").alias("n_common"),
            F.round(
                (1 - _Q268_P) * F.coalesce(F.sum("s"), F.lit(0.0)), 6
            ).alias("rbo"),
        )
        .orderBy("qid")
    )

"""ANN index structures, recall calibration & compression (SURVEY §2 ANN family core).

The index half of the ANN family: LSH and IVF top-k (a51/a52 and
their calibration-gated recall properties), the IVF-routed
contrastive miner (q135), int8 rerank (q146), persisted and
incremental IVF indexes (q150/q151), the sharded inverted index
(q176), and PQ-ADC (q243).  Round-10 family regrouping (mechanical
relocation, zero behavior change — pre/post registry hash dump):
embedding analytics moved to ann_embeddings.py and ranking
evaluation/fusion to ann_ranking.py; both import the shared DIM /
calibration machinery from here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.anchors import (
    sql_anchor_order as _sql_anchor_order,
)
from osm_changesets_to_parquet_spark.operators.similarity import (
    cosine_topk,
    ivf_build,
    ivf_topk,
    lsh_topk,
)
from osm_changesets_to_parquet_spark.queries import FixtureGateError, register


DIM = 64

# Recall-property calibration is dataset-specific: the brute-force
# oracle only equals the approximate path on fixtures where these
# parameters were verified to reach recall 1.0.  A new/regenerated
# dataset must be re-swept (tests/test_ann.py) and added here —
# otherwise we fail fast with a calibration error instead of letting
# the driver record a spurious correctness mismatch for a correct ANN
# implementation.
A51_CALIBRATED_SFS = frozenset({"sf0.001", "sf0.01"})


A52_CALIBRATED_SFS = frozenset({"sf0.001", "sf0.01", "sf0.1"})


def _require_calibrated(sf_dir: str, ok: frozenset, name: str) -> None:
    base = os.path.basename(os.path.normpath(sf_dir))
    if base not in ok:
        raise FixtureGateError(
            f"{name} is a calibration-pinned recall property (verified at "
            f"{sorted(ok)}); fixture {base!r} needs a parameter re-sweep "
            "before its brute-force oracle is meaningful"
        )

# brute-force cosine top-10 vs vec_id=0, identical to q36's oracle — the
# recall-property queries must reproduce these exact rows through the
# approximate path
BRUTE_TOPK_SQL = """
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    z AS (
      SELECT e.vec_id,
             CAST(unnest(e.embedding) AS DOUBLE) AS x,
             CAST(unnest(q.qe) AS DOUBLE) AS y
      FROM embeddings e, q
    ),
    d AS (
      SELECT vec_id, SUM(x*y) AS dot, SUM(x*x) AS nx, SUM(y*y) AS ny
      FROM z GROUP BY vec_id
    )
    SELECT vec_id, ROUND(dot / (SQRT(nx) * SQRT(ny)), 4) AS sim
    FROM d ORDER BY sim DESC, vec_id LIMIT 10
    """


def _recall_verdict(ann: DataFrame, exact: DataFrame, floor: float) -> DataFrame:
    """Tolerance verdict row for an ANN result: recall@10 vs the exact
    brute-force top-10 (both computed in Spark), thresholded at
    ``floor``.  The oracle is the constant expected verdict — a T-mode
    contract: any regression in bucketing/probing/rerank that drops
    recall below the floor (or loses the query vector itself) flips a
    boolean and the driver's hash check goes red."""
    hits = ann.select("vec_id").join(exact.select("vec_id"), "vec_id")
    return (
        ann.agg(
            F.max((F.col("vec_id") == 0).cast("int")).alias("__self"),
            F.count(F.lit(1)).alias("__n"),
        )
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("__hits")))
        .select(
            F.lit(10).cast("long").alias("k"),
            (F.col("__self") == 1).alias("self_hit"),
            (F.col("__hits") >= F.lit(int(floor * 10))).alias("recall_ok"),
        )
    )


_ANN_VERDICT_ORACLE = (
    "SELECT CAST(10 AS BIGINT) AS k, TRUE AS self_hit, TRUE AS recall_ok"
)


@register(
    "a51_lsh_ann_topk",
    _ANN_VERDICT_ORACLE,
    doc="SRP-LSH bucketed ANN top-10 at PRODUCTION parameters (bits=4, "
    "n_tables=8): bucket-join prunes the scan to ~n_tables/2^bits of "
    "the corpus; exact rerank on candidates only. Tolerance oracle: "
    "recall@10 vs the exact top-10 (computed in-Spark) must stay >= "
    "0.6 and the query vector must find itself — measured 0.8-0.9 on "
    "these fixtures; the exact-match evidence for the same code path "
    "at calibration parameters is a51_lsh_recall_prop",
    tables=("embeddings",),
)
def a51(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    ann = lsh_topk(emb, query, k=10, dim=DIM, bits=4, n_tables=8)
    exact = cosine_topk(emb, query, k=10)
    return _recall_verdict(ann, exact, floor=0.6)


@register(
    "a52_ivf_ann_topk",
    _ANN_VERDICT_ORACLE,
    doc="IVF ANN top-10 at PRODUCTION parameters (16-cell inverted "
    "file, 1 distributed Lloyd step, probe 6 cells, exact rerank — "
    "partition-pruned scan at scale). Tolerance oracle: recall@10 vs "
    "the exact top-10 (computed in-Spark) must stay >= 0.9 and the "
    "query vector must find itself — measured 1.0 on these fixtures; "
    "the exact-match evidence for the same code path is "
    "a52_ivf_recall_prop",
    tables=("embeddings",),
)
def a52(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=16)
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    ann = ivf_topk(assigned, centroids, qvec, k=10, nprobe=6)
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = cosine_topk(emb, query, k=10)
    return _recall_verdict(ann, exact, floor=0.9)


@register(
    "a51_lsh_recall_prop",
    BRUTE_TOPK_SQL,
    doc=(
        "H-mode recall property: SRP-LSH ANN at calibration params "
        "(bits=4, n_tables=16) returns exactly the brute-force top-10 — "
        "the full bucketing+rerank path hash-matched against DuckDB"
    ),
    tables=("embeddings",),
)
def a51_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    _require_calibrated(sf_dir, A51_CALIBRATED_SFS, "a51_lsh_recall_prop")
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return lsh_topk(emb, query, k=10, dim=DIM, bits=4, n_tables=16)


@register(
    "a52_ivf_recall_prop",
    BRUTE_TOPK_SQL,
    doc=(
        "H-mode recall property: IVF ANN (16 cells, nprobe=6) returns "
        "exactly the brute-force top-10 while scanning a strict subset "
        "of the corpus — probing+pruning+rerank hash-matched vs DuckDB"
    ),
    tables=("embeddings",),
)
def a52_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    _require_calibrated(sf_dir, A52_CALIBRATED_SFS, "a52_ivf_recall_prop")
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=16)
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_topk(assigned, centroids, qvec, k=10, nprobe=6)


# shared by q132 (ann_embeddings.py) and q135 below: the per-anchor
# hardest-positive/hardest-negative argmax over a scored candidate set
def _contrastive_argmax(d: DataFrame) -> DataFrame:
    """Per-anchor (top positive, top negative) as ONE min_by aggregation.

    The ordering key is struct(-sim, cid) — lexicographic struct
    comparison makes min_by the (sim DESC, cid ASC) argmax; wrapping
    the key in F.when(...) makes min_by skip the other class's rows
    (NULL ordering keys are ignored), so both argmaxes come out of a
    single map-side-partial aggregation: zero windows, one shuffle of
    k·n tiny rows keyed by k distinct anchors.
    """
    ordk = F.struct((-F.col("sim")).alias("ns"), F.col("cid").alias("c"))
    val = F.struct(F.col("cid").alias("cid"), F.col("sim").alias("sim"))
    same = F.col("clab") == F.col("qlab")
    agg = d.groupBy("qid").agg(
        F.min_by(val, F.when(same, ordk)).alias("pos"),
        F.min_by(val, F.when(~same, ordk)).alias("neg"),
    )
    return (
        # anchors lacking either class are dropped (the oracle's inner
        # join does the same)
        agg.where(F.col("pos").isNotNull() & F.col("neg").isNotNull())
        .select(
            F.col("qid").alias("vec_id"),
            F.col("pos.cid").alias("pos_id"),
            F.col("pos.sim").alias("pos_sim"),
            F.col("neg.cid").alias("neg_id"),
            F.col("neg.sim").alias("neg_sim"),
            F.round(F.col("pos.sim") - F.col("neg.sim"), 4).alias("margin"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Q135: ANN-pruned contrastive mining — q132 semantics, IVF candidate pass
# ---------------------------------------------------------------------------

# Calibration (the a51/a52 discipline): with 16 cells and nprobe=N135 the
# IVF-pruned candidate pass provably recovers every anchor's exact top
# positive AND top negative on these fixtures, so the oracle is the SAME
# exact SQL as q132 — the whole pruned path (cell assignment, probe-cell
# pick, keyed candidate join, rerank) is hash-matched against DuckDB.
# New fixtures need a re-sweep (tests/test_ann.py) before the exact
# oracle is meaningful; fail fast otherwise.  On these near-random
# synthetic embeddings the calibrated nprobe is high (12/16 — hard
# negatives sit near label boundaries, weakly separated by cells); on
# real clustered embeddings the same machinery prunes much harder.
Q135_CALIBRATED_SFS = frozenset({"sf0.001", "sf0.01"})


_N135_CELLS = 16


_N135_PROBE = 12

# q135 keeps its own anchor panel (vec_id % 100 — a fixed SHARE of the
# corpus) rather than q132's fixed-k hash draw: the IVF-routed candidate
# pass makes per-anchor cost the probed share of one corpus scan, so a
# corpus-proportional panel is the workload this query exists to carry
# (VERDICT r06 explicitly holds q135 up as the scale-correct routing for
# exactly that shape).  The nprobe=12 exactness calibration below was
# measured against THIS panel.  Round-8 recalibration sweep (VERDICT
# r07 item 7, pinned in tests/test_ann.py::
# test_q135_fixed_k_panel_nprobe_tradeoff): a fixed-k hash panel's
# contrastive argmaxes are exact only at nprobe=16/16 on the sf0.01
# fixture — zero pruning headroom (the fixture's near-random geometry,
# sims ~ N(0, 1/sqrt(64)), puts hard negatives in arbitrary cells) —
# while the SAME machinery on a 16-cluster gaussian fixture is exact at
# nprobe=4/16.  The limitation is the fixture, not the operator; a
# hash-panel q135 at nprobe<16 would be a lie and at 16 would not
# prune.  Hence the %100 panel and its separate oracle stay.
_Q135_SQL = f"""
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
a AS (SELECT * FROM e WHERE vec_id % 100 = 0),
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
    "q135_contrastive_ann",
    _Q135_SQL,
    doc=(
        "ANN-pruned contrastive pair mining over the modulo-100 anchor "
        "panel (a fixed SHARE of the corpus — the many-anchor workload "
        "the IVF routing exists for; q132 mines the fixed-k audit "
        "panel), but the candidate pass goes through the IVF index — "
        "each anchor "
        "probes its nprobe nearest cells (Arrow-batched broadcast-"
        "centroid pick), the probe list explodes to (anchor, cell) rows, "
        "and ONE keyed join against the cell-assigned corpus yields "
        "candidates: the corpus is scanned once total, never once per "
        "anchor (q132's full-scan-per-anchor is the oracle-side cost). "
        "Candidate volume ~ anchors x nprobe/n_cells of the corpus; at "
        "scale n_cells grows with the corpus so cells stay "
        "executor-sized. Calibration-gated exact oracle (= q132's SQL)"
    ),
    tables=("embeddings",),
)
def q135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import (
        cosine_similarity_col,
        ivf_probe_cells_udf,
    )

    _require_calibrated(sf_dir, Q135_CALIBRATED_SFS, "q135_contrastive_ann")
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    assigned, centroids = ivf_build(e, n_cells=_N135_CELLS, vec_col="v")
    probe = ivf_probe_cells_udf(spark, centroids, nprobe=_N135_PROBE)
    anchors = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("v").alias("qv"),
        F.explode(probe(F.col("v"))).alias("cell"),
    )
    # each corpus vector lives in exactly one cell, so a candidate pairs
    # with an anchor at most once — no post-join dedup needed
    cand = assigned.select(
        "cell",
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clab"),
        F.col("v").alias("cv"),
    )
    sim = F.round(cosine_similarity_col(F.col("qv"), F.col("cv")), 4)
    d = (
        cand.join(F.broadcast(anchors), "cell")
        .where(F.col("cid") != F.col("qid"))
        .select("qid", "qlab", "cid", "clab", sim.alias("sim"))
    )
    return _contrastive_argmax(d)


# ---------------------------------------------------------------------------
# q146: int8-quantized prefilter + exact rerank (the PQ-shaped scan path)
# ---------------------------------------------------------------------------
# Calibration: exactness needs tau <= (true 10th-best sim) - (int8
# quantization error).  Measured kth sims on the fixtures: 0.240-0.317
# (sf0.001/0.01/0.1, queries vec_id<4); int8 error at dim 64 is ~5e-3;
# tau=0.2 leaves a >=0.035 margin everywhere and passes ~5% of this
# near-random corpus (real embedding corpora prune far harder — sims
# concentrate near 0 at sigma ~ 1/sqrt(dim) = 0.125 here).
Q146_CALIBRATED_SFS = frozenset({"sf0.001", "sf0.01", "sf0.1"})


_Q146_TAU = 0.2


_Q146_K = 10


_Q146_NQ = 4


_Q146_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {_Q146_NQ}),
z AS (
  SELECT q.qid, e.vec_id,
         CAST(unnest(e.embedding) AS DOUBLE) AS x,
         CAST(unnest(q.qe) AS DOUBLE) AS y
  FROM embeddings e, q
),
d AS (
  SELECT qid, vec_id,
         ROUND(SUM(x*y) / (SQRT(SUM(x*x)) * SQRT(SUM(y*y))), 4) AS sim
  FROM z GROUP BY qid, vec_id
),
r AS (
  SELECT qid, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM d
)
SELECT qid, vec_id, sim FROM r WHERE rn <= {_Q146_K}
ORDER BY qid, sim DESC, vec_id
"""


@register(
    "q146_quantized_rerank",
    _Q146_SQL,
    doc=(
        "exact cosine top-10 for 4 queries through an int8-quantized "
        "prefilter (operators/similarity.py quantized_rerank_topk): "
        "corpus scanned as 4x-smaller codes, scale-free quantized-"
        "cosine threshold keeps ~5% as a MAP-ONLY filter (no corpus "
        "shuffle, no per-query single-reducer window), survivors fetch "
        "full vectors by id for the exact rerank — the IVF-PQ-shaped "
        "production scan path.  Calibration-gated brute-force oracle "
        "(tau 0.2 vs measured kth sims 0.240+ and ~5e-3 int8 error)"
    ),
    tables=("embeddings",),
)
def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import (
        quantized_rerank_topk,
    )

    _require_calibrated(sf_dir, Q146_CALIBRATED_SFS, "q146_quantized_rerank")
    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_rerank_topk(emb, _Q146_NQ, _Q146_K, _Q146_TAU)


@register(
    "q150_ann_persisted_index",
    BRUTE_TOPK_SQL,
    doc=(
        "a52's IVF ANN (16 cells, nprobe=6, exact rerank) against a "
        "PERSISTED index (operators/similarity.py ivf_index_write / "
        "ivf_probe_persisted) — the ANN twin of q142's persisted "
        "near-dup index: the corpus is clustered ONCE and written "
        "partitionBy(cell), so the probe's cell filter is PARTITION "
        "PRUNING (plan-pinned) and per-query cost is nprobe/n_cells "
        "of the files plus a tiny centroid read; same calibrated "
        "brute-force oracle as a52"
    ),
    tables=("embeddings",),
)
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from osm_changesets_to_parquet_spark.operators.similarity import (
        ivf_index_write,
        ivf_probe_persisted,
    )

    _require_calibrated(sf_dir, A52_CALIBRATED_SFS, "q150_ann_persisted_index")
    emb = load_table(spark, sf_dir, "embeddings")
    base = os.path.basename(os.path.normpath(sf_dir))
    # one index build per (fixture, machine); _READY makes repeat runs
    # pure probes — the daily-increment shape (q142's discipline)
    idx = os.path.join(tempfile.gettempdir(), f"ivf_index_{base}")
    ready = os.path.join(idx, "_READY")
    if not os.path.exists(ready):
        ivf_index_write(emb, idx, n_cells=16)
        open(ready, "w").close()
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_probe_persisted(spark, idx, qvec, k=10, nprobe=6)


# q151 calibration: the 90%-built centroids differ from a full-corpus
# build, so a52's nprobe=6 does NOT carry over — swept 2026-08-14:
# nprobe=6 exact only at sf0.001; nprobe=8 exact at all three SFs.
Q151_CALIBRATED_SFS = frozenset({"sf0.001", "sf0.01", "sf0.1"})


_Q151_NPROBE = 8


@register(
    "q151_ann_incremental",
    BRUTE_TOPK_SQL,
    doc=(
        "incremental ANN index growth — the q139/q142 increment story "
        "for the IVF side: the 90% corpus is clustered and persisted "
        "once; the arriving 10% batch is assigned to the EXISTING "
        "centroids (broadcast argmin over the increment only, corpus "
        "untouched) and appended under its own __gen partition with "
        "dynamic-overwrite idempotency (operators/similarity.py "
        "ivf_index_append); the probe then reranks across base + "
        "increment.  Centroid drift is the documented trade: nprobe "
        "is recalibrated (8 vs a52's 6) and a real deployment "
        "re-clusters when drift accumulates.  Brute-force oracle over "
        "the full corpus"
    ),
    tables=("embeddings",),
)
def q151(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket
    from osm_changesets_to_parquet_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_write,
        ivf_probe_persisted,
    )

    _require_calibrated(sf_dir, Q151_CALIBRATED_SFS, "q151_ann_incremental")
    emb = load_table(spark, sf_dir, "embeddings")
    b = hash_bucket("vec_id", 100)
    existing, incoming = emb.where(b < 90), emb.where(b >= 90)
    base = os.path.basename(os.path.normpath(sf_dir))
    idx = os.path.join(tempfile.gettempdir(), f"ivf_inc_index_{base}")
    ready = os.path.join(idx, "_READY")
    if not os.path.exists(ready):
        ivf_index_write(existing, idx, n_cells=16)
        ivf_index_append(spark, incoming, idx, gen="inc1")
        open(ready, "w").close()
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return ivf_probe_persisted(spark, idx, qvec, k=10, nprobe=_Q151_NPROBE)


# ---------------------------------------------------------------------------
# Q176: inverted index (sharded posting lists) + boolean AND retrieval
# ---------------------------------------------------------------------------

_Q176_A = "merge"


_Q176_B = "vector"


_Q176_SHARDS = 16


_Q176_SQL = f"""
WITH tok AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  )
),
a AS (SELECT doc_id FROM tok WHERE token = '{_Q176_A}'),
b AS (SELECT doc_id FROM tok WHERE token = '{_Q176_B}'),
i AS (SELECT a.doc_id FROM a JOIN b USING (doc_id))
SELECT (SELECT COUNT(*) FROM a) AS df_a,
       (SELECT COUNT(*) FROM b) AS df_b,
       (SELECT COUNT(*) FROM i) AS n_both,
       (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM i) AS docsum
"""


def build_postings(docs: DataFrame, n_shards: int = _Q176_SHARDS) -> DataFrame:
    """Inverted index as a DataFrame: (token, shard, plist, df_shard).

    Posting lists are SHARDED by doc-id hash — a stop word's posting
    list is the whole corpus, and a single collect_set row for it is
    the classic skew OOM; sharding bounds every row at ~|docs|/shards
    ids and lets a probe read the shards in parallel.  Lists are
    sort_array'd so the layout is deterministic (delta-encodable at
    rest).  Construction is one explode + distinct + keyed collect —
    shuffle carries each (token, doc) once.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    return (
        tok.withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)))
        .groupBy("token", "shard")
        .agg(
            F.sort_array(F.collect_set("doc_id")).alias("plist"),
            F.count(F.lit(1)).alias("df_shard"),
        )
    )


@register(
    "q176_inverted_index",
    _Q176_SQL,
    doc=(
        "inverted-index retrieval: build sharded posting lists (token, "
        "doc-id-hash shard) -> sorted doc-id arrays — sharding bounds "
        "the stop-word row and parallelizes probes — then answer the "
        f"boolean AND query '{_Q176_A} AND {_Q176_B}' by intersecting "
        "the two terms' postings (explode + equi-join on doc_id, "
        "touching only those terms' shards, never the corpus); the "
        "oracle replays the same conjunction relationally"
    ),
    tables=("documents",),
)
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    postings = build_postings(docs)
    a = postings.where(F.col("token") == _Q176_A).select(
        F.explode("plist").alias("doc_id")
    )
    b = postings.where(F.col("token") == _Q176_B).select(
        F.explode("plist").alias("doc_id")
    )
    both = a.join(b, "doc_id")
    stats_a = a.agg(F.count(F.lit(1)).alias("df_a"))
    stats_b = b.agg(F.count(F.lit(1)).alias("df_b"))
    stats_i = both.agg(
        F.count(F.lit(1)).alias("n_both"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias("docsum"),
    )
    return (
        stats_a.crossJoin(stats_b)
        .crossJoin(stats_i)
        .select("df_a", "df_b", "n_both", "docsum")
    )


# ---------------------------------------------------------------------------
# q243: product quantization + ADC scoring (round 7)
# ---------------------------------------------------------------------------

_Q243_M = 4          # subspaces (64 dims -> 4 x 16)


_Q243_SUB = 16       # dims per subspace


_Q243_K = 16         # centroids per subspace codebook


_Q243_NQ = 8         # query panel size (hash ranks 17..24)


_Q243_TOPK = 10


_Q243_SQL = f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         ROW_NUMBER() OVER (ORDER BY {{anchor_key}}, vec_id) AS rk
  FROM embeddings
  ORDER BY {{anchor_key}}, vec_id LIMIT {_Q243_K + _Q243_NQ}
),
quant AS (
  SELECT vec_id,
         CAST((generate_subscripts(embedding, 1) - 1) // {_Q243_SUB}
              AS BIGINT) AS m,
         generate_subscripts(embedding, 1) AS pos,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM embeddings
),
cb AS (
  SELECT r.rk AS j, qt.m, qt.pos, qt.q AS cq
  FROM ranked r JOIN quant qt ON qt.vec_id = r.vec_id
  WHERE r.rk <= {_Q243_K}
),
enc_d AS (
  SELECT v.vec_id, v.m, c.j,
         CAST(SUM((v.q - c.cq) * (v.q - c.cq)) AS BIGINT) AS d
  FROM quant v JOIN cb c ON c.pos = v.pos AND c.m = v.m
  GROUP BY v.vec_id, v.m, c.j
),
codes AS (
  SELECT vec_id, m, j AS code
  FROM (SELECT vec_id, m, j,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, j) AS rn
        FROM enc_d)
  WHERE rn = 1
),
qpanel AS (SELECT vec_id AS qid FROM ranked WHERE rk > {_Q243_K}),
lut AS (
  SELECT p.qid, c.m, c.j,
         CAST(SUM((v.q - c.cq) * (v.q - c.cq)) AS BIGINT) AS qd
  FROM qpanel p
  JOIN quant v ON v.vec_id = p.qid
  JOIN cb c ON c.pos = v.pos AND c.m = v.m
  GROUP BY p.qid, c.m, c.j
),
adc AS (
  SELECT l.qid, k.vec_id, CAST(SUM(l.qd) AS BIGINT) AS adc_d
  FROM codes k JOIN lut l ON l.m = k.m AND l.j = k.code
  GROUP BY l.qid, k.vec_id
),
exact AS (
  SELECT p.qid, v.vec_id,
         CAST(SUM((qv.q - v.q) * (qv.q - v.q)) AS BIGINT) AS ex_d
  FROM qpanel p
  JOIN quant qv ON qv.vec_id = p.qid
  JOIN quant v ON v.pos = qv.pos
  GROUP BY p.qid, v.vec_id
),
adc_top AS (
  SELECT qid, vec_id, rn FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d, vec_id) AS rn
    FROM adc) WHERE rn <= {_Q243_TOPK}
),
ex_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ex_d, vec_id) AS rn
    FROM exact) WHERE rn <= {_Q243_TOPK}
)
SELECT a.qid,
       CAST(MAX(CASE WHEN a.rn = 1 THEN a.vec_id END) AS BIGINT) AS adc_top1,
       ROUND(CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / {_Q243_TOPK}, 2) AS recall_at_{_Q243_TOPK}
FROM adc_top a
LEFT JOIN ex_top e ON e.qid = a.qid AND e.vec_id = a.vec_id
GROUP BY a.qid ORDER BY a.qid
"""


_Q243_SQL = _Q243_SQL.format(anchor_key=_sql_anchor_order("vec_id"))


@register(
    "q243_pq_adc",
    _Q243_SQL,
    doc=(
        f"product quantization ANN: {_Q243_M}x{_Q243_SUB}-dim "
        f"subspaces, {_Q243_K}-centroid codebooks seeded from the "
        "fixed-k hash-anchor panel (the q179 discipline — codebook "
        "and query panel sizes are CONSTANTS, never corpus "
        "fractions), vectors quantized to integer milli-units at the "
        "scan so every distance is EXACT integer arithmetic (no "
        "float-summation order anywhere); encode = argmin over k "
        "broadcast centroids per subspace (Θ(n·D·k/M) work, the "
        "standard PQ encode cost), query scoring = the 512-row "
        "(qid,m,j) ADC lookup table broadcast onto the n·M code "
        "table — the 100 TB path stores CODES (M bytes/vector), not "
        "vectors; per-query rankings run through per_anchor_topk so "
        "no reducer holds a corpus-sized frame; output = ADC top-1 + "
        f"recall@{_Q243_TOPK} vs the exact integer top-{_Q243_TOPK} "
        "(Jégou et al., PAMI 2011)"
    ),
    tables=("embeddings",),
)
def q243(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.anchors import (
        fixed_k_anchors,
        per_anchor_topk,
    )
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # panel: 16 codebook seeds + 8 queries by deterministic hash rank
    panel = fixed_k_anchors(emb, "vec_id", _Q243_K + _Q243_NQ)
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket
    from osm_changesets_to_parquet_spark.operators.anchors import ANCHOR_MOD

    wp = Window.orderBy(hash_bucket("vec_id", ANCHOR_MOD), F.col("vec_id"))
    ranked = panel.withColumn("rk", F.row_number().over(wp))

    quant = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        (F.col("pos0") / _Q243_SUB).cast("long").alias("m"),
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("v").cast("double") * 1000).cast("long").alias("q"),
    )
    # quant feeds the codebook, encode, LUT and exact branches: cut
    # lineage once so the posexplode over embeddings runs a single
    # time instead of per consumer
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage as _tl,
    )

    quant = _tl(quant)
    cb = (
        ranked.where(F.col("rk") <= _Q243_K)
        .select("vec_id", F.col("rk").alias("j"))
        .join(quant, "vec_id")
        .select("j", "m", "pos", F.col("q").alias("cq"))
    )
    diff = F.col("q") - F.col("cq")
    enc_d = (
        quant.join(F.broadcast(cb), ["m", "pos"])
        .groupBy("vec_id", "m", "j")
        .agg(F.sum(diff * diff).alias("d"))
    )
    w_code = Window.partitionBy("vec_id", "m").orderBy("d", "j")
    codes = (
        enc_d.withColumn("rn", F.row_number().over(w_code))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", F.col("j").alias("code"))
    )
    qpanel = ranked.where(F.col("rk") > _Q243_K).select(
        F.col("vec_id").alias("qid")
    )
    lut = (
        qpanel.join(quant, F.col("qid") == F.col("vec_id"))
        .drop("vec_id")
        .join(F.broadcast(cb), ["m", "pos"])
        .groupBy("qid", "m", "j")
        .agg(F.sum(diff * diff).alias("qd"))
    )
    adc = (
        codes.join(
            F.broadcast(lut.withColumnRenamed("j", "code")), ["m", "code"]
        )
        .groupBy("qid", "vec_id")
        .agg(F.sum("qd").alias("adc_d"))
    )
    qquant = qpanel.join(
        quant.select(
            F.col("vec_id").alias("qid"), "pos", F.col("q").alias("qq")
        ),
        "qid",
    )
    exact = (
        quant.join(F.broadcast(qquant), "pos")
        .groupBy("qid", "vec_id")
        .agg(F.sum((F.col("qq") - F.col("q")) * (F.col("qq") - F.col("q"))).alias("ex_d"))
    )
    adc_top = per_anchor_topk(
        adc, ["qid"], [F.col("adc_d"), F.col("vec_id")], _Q243_TOPK
    )
    ex_top = per_anchor_topk(
        exact, ["qid"], [F.col("ex_d"), F.col("vec_id")], _Q243_TOPK
    ).select("qid", "vec_id")
    return (
        adc_top.join(
            F.broadcast(ex_top.withColumn("hit", F.lit(1))),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.max(
                F.when(F.col("rnk") == 1, F.col("vec_id"))
            ).cast("long").alias("adc_top1"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / _Q243_TOPK,
                2,
            ).alias(f"recall_at_{_Q243_TOPK}"),
        )
        .orderBy("qid")
    )

"""Similarity search over embedding columns (array<float>).

Two paths behind one API:

- :func:`cosine_topk` — exact brute force.  The dot/norm fold runs
  JVM-side (``F.zip_with`` + ``F.aggregate``, whole-stage codegen); the
  query vector is a broadcast one-row frame, and the final top-k
  executes as TakeOrderedAndProject (per-partition heap + driver merge
  of k rows — no global sort, no full shuffle).  This is the correct
  100 TB plan for single-query top-k: one scan, O(k) driver memory.
- :func:`lsh_topk` — random-hyperplane (SRP) LSH bucketing: candidates
  are rows sharing a signature bucket with the query; exact cosine is
  then computed only on candidates.  The scale path when QPS matters:
  the bucket join prunes the scan to a fixed expected fraction
  (2^-bits per table).

``cosine_topk``/``lsh_topk`` run no Python at all; the IVF family
(:func:`ivf_build` / :func:`ivf_topk`) uses one Arrow-batched pandas
UDF for the broadcast-centroid argmin (numpy matmul per batch) — the
only Python in this module, and it touches k×dim floats per batch,
never the corpus pairwise.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

from osm_changesets_to_parquet_spark.operators.iterutils import truncate_lineage


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _sq_norm(a):
    return F.aggregate(
        a, F.lit(0.0).cast("double"), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def cosine_similarity_col(a, b):
    """Column-level cosine similarity between two array<float|double> cols."""
    return _dot(a, b) / (F.sqrt(_sq_norm(a)) * F.sqrt(_sq_norm(b)))


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Exact top-k by cosine similarity to the single row in ``query``
    (a one-row frame with a ``q`` array column)."""
    sim = cosine_similarity_col(F.col(vec_col), F.col("q"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        embeddings.crossJoin(query)
        .select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def int8_codes(vec_col):
    """Symmetric per-vector int8 quantization codes (q74's
    round-half-up spelling): scale = array_max(|x|)/127, code =
    floor(x/scale + 0.5), codes in [-127, 127].

    The per-row scale is braided in via ``array_repeat`` + ``zip_with``
    rather than a separate column: a scale column referenced once would
    be inlined by CollapseProject into the per-element lambda and the
    array_max would re-run PER ELEMENT (O(dim^2) per row); as the
    single argument of array_repeat it is evaluated once per row.
    Cosine on the codes needs no scale at all — per-vector scales
    cancel in the ratio — so the prefilter score is scale-free.
    """
    am = F.array_max(F.transform(vec_col, lambda x: F.abs(x.cast("double"))))
    sc = F.array_repeat(
        F.when(am > F.lit(0.0), am / F.lit(127.0)).otherwise(F.lit(1.0)),
        F.size(vec_col),
    )
    return F.zip_with(
        vec_col,
        sc,
        lambda x, s: F.floor(x.cast("double") / s + F.lit(0.5)).cast("long"),
    )


def quantized_rerank_topk(
    embeddings: DataFrame,
    n_queries: int,
    k: int,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-``k`` per query through an int8-quantized
    prefilter — the IVF-PQ-shaped production ANN path: scan compact
    codes, threshold-prune, fetch full vectors only for survivors.

    Stages (and why each scales):

    1. quantize: corpus rows -> int8 codes (:func:`int8_codes`) — the
       4x-smaller representation a real deployment PERSISTS as the
       scan-side index (the q142 persisted-index discipline; derived
       in-query here so the query stays self-contained);
    2. prefilter: broadcast the ``n_queries`` quantized query vectors
       and keep corpus rows with quantized cosine >= ``tau`` — a
       MAP-ONLY filter over the code scan: no corpus shuffle and no
       per-query single-reducer top-m window (a per-query window would
       put the whole corpus in one task at 100 TB);
    3. rerank: survivors (a ``tau``-bounded sliver) join back to the
       full-precision vectors by id and to the broadcast queries;
       exact cosine, rounded to 4, ranked per query.

    EXACTNESS contract: output equals brute-force top-k iff every true
    top-k member clears ``tau`` on the QUANTIZED score — guaranteed
    when tau <= (true kth sim) - (int8 quantization error, ~1e-2 at
    dim 64).  Callers gate on calibrated fixtures (queries/ann.py).
    """
    codes = embeddings.select(
        F.col(id_col), int8_codes(F.col(vec_col)).alias("__cv")
    )
    qcodes = (
        embeddings.where(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("qid"), int8_codes(F.col(vec_col)).alias("__qv")
        )
    )
    cand = (
        codes.crossJoin(qcodes)
        .where(cosine_similarity_col(F.col("__cv"), F.col("__qv")) >= tau)
        .select("qid", id_col)
    )
    full_q = embeddings.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("__qe")
    )
    sim = F.round(cosine_similarity_col(F.col(vec_col), F.col("__qe")), 4)
    reranked = (
        cand.join(embeddings.select(id_col, vec_col), id_col)
        .join(full_q, "qid")
        .select("qid", id_col, sim.alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col(id_col))
    return (
        reranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("qid", id_col, "sim")
        .orderBy("qid", F.desc("sim"), id_col)
    )


def srp_signature(vec_col, planes: list[list[float]]):
    """Signed-random-projection bit signature as a long (<=63 planes)."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = _dot(vec_col, F.array(*[F.lit(float(v)) for v in plane]))
        sig = sig + F.when(d >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
    return sig


def make_planes(dim: int, bits: int, n_tables: int, seed: int = 42) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]
        for _ in range(n_tables)
    ]


def lsh_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine over the union of rows that share
    any of ``n_tables`` SRP bucket signatures with the query vector.

    Recall/scan tradeoff: expected candidate fraction ~ n_tables * 2^-bits.
    """
    tables = make_planes(dim, bits, n_tables, seed)
    cand = None
    for t, planes in enumerate(tables):
        e_sig = embeddings.select(
            id_col, vec_col, srp_signature(F.col(vec_col), planes).alias("sig")
        )
        q_sig = query.select("q", srp_signature(F.col("q"), planes).alias("sig"))
        c = e_sig.join(q_sig, "sig").select(id_col, vec_col, "q")
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.dropDuplicates([id_col])
    sim = F.round(cosine_similarity_col(F.col(vec_col), F.col("q")), 4)
    return (
        cand.select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def pairwise_cosine_neardup(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    n_tables: int = 3,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold).

    LSH-bucketed: only pairs sharing a bucket in some table are compared —
    the all-pairs quadratic join never materializes.  Returns
    (id_a, id_b, sim) with sim rounded to 4.
    """
    tables = make_planes(dim, bits, n_tables, seed)
    pairs = None
    for planes in tables:
        sigged = embeddings.select(
            F.col(id_col), F.col(vec_col), srp_signature(F.col(vec_col), planes).alias("sig")
        )
        a = sigged.select(
            F.col("sig"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        )
        b = sigged.select(
            F.col("sig"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        )
        p = a.join(b, "sig").where(F.col("id_a") < F.col("id_b")).drop("sig")
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.dropDuplicates(["id_a", "id_b"])
    sim = F.round(cosine_similarity_col(F.col("va"), F.col("vb")), 4)
    return (
        pairs.select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the scale path for repeated queries
# ---------------------------------------------------------------------------


def _nearest_cell_udf(spark, centroids: list[list[float]]):
    """Arrow-batched argmax-dot cell assignment against a *broadcast*
    centroid matrix.

    Why not a JVM expression: an argmin spelled as literals is an
    O(n_cells x dim) expression tree — at a realistic 4096 cells x 64
    dims Catalyst analysis/codegen explodes.  Why not a join: a
    broadcast join + groupBy(vec_id) argmin shuffles n_cells copies of
    every row.  A pandas UDF is one numpy matmul per Arrow batch with a
    plan of constant size; the centroid matrix ships once per executor
    via a Spark broadcast, not once per task in the closure.
    """
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        cmat = bc.value  # (n_cells, dim)
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        # argmax dot == argmin(-dot); np.argmax ties -> lowest index,
        # matching the struct-min tie-break of the previous JVM spelling
        return pd.Series(np.argmax(m @ cmat.T, axis=1).astype("int32"))

    return nearest


def ivf_build(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 1,
) -> tuple[DataFrame, list[list[float]]]:
    """Build an IVF index: deterministic seed centroids (the ``n_cells``
    smallest ids) refined by ``n_iters`` distributed Lloyd steps, then
    every vector assigned to its nearest centroid cell.

    Returns ``(assigned_df, centroids)`` where ``assigned_df`` carries a
    ``cell`` column.  At 100 TB the assigned frame is what you persist,
    ``partitionBy("cell")`` — a probe then reads only nprobe/n_cells of
    the data via partition pruning.  Centroids are tiny (n_cells x dim)
    and always fit the driver; assignment is one Arrow-batched matmul
    per partition against the broadcast centroid matrix — no shuffle,
    and plan size independent of n_cells.  Each Lloyd step is one scan
    + one (cell, pos)-keyed aggregation whose result is n_cells x dim
    scalars — driver-safe at any SF.
    """
    spark = embeddings.sparkSession
    seeds = [
        [float(x) for x in r[0]]
        for r in embeddings.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    ]
    dim = len(seeds[0])

    centroids = seeds
    for _ in range(n_iters):
        assigned_i = embeddings.withColumn(
            "cell", _nearest_cell_udf(spark, centroids)(F.col(vec_col))
        )
        means = (
            assigned_i.select("cell", F.posexplode(vec_col).alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r.cell, {})[r.pos] = r.m
        # empty cells keep their previous centroid (deterministic)
        centroids = [
            [by_cell.get(c, {}).get(p, centroids[c][p]) for p in range(dim)]
            for c in range(len(centroids))
        ]
    assigned = embeddings.withColumn(
        "cell", _nearest_cell_udf(spark, centroids)(F.col(vec_col))
    )
    return assigned, centroids


# ---------------------------------------------------------------------------
# Vector column utilities: normalization + int8 quantization
# ---------------------------------------------------------------------------


def normalize_vectors(df: DataFrame, vec_col: str = "embedding", out_col: str | None = None):
    """L2-normalize an array<float|double> column (JVM-side transform).

    Zero vectors stay zero (no NaN): the norm is coalesced to 1.
    """
    out = out_col or vec_col
    norm = F.sqrt(_sq_norm(F.col(vec_col)))
    safe = F.when(norm > 0, norm).otherwise(F.lit(1.0))
    return df.withColumn(
        out, F.transform(F.col(vec_col), lambda x: x.cast("double") / safe)
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding"):
    """Symmetric per-vector int8 quantization: 4x smaller storage.

    Adds ``q`` (array<tinyint>, round-half-up to [-127, 127]) and
    ``scale`` (double, max|x|/127).  Dequantize = q * scale; max error
    per component <= scale/2.  All JVM expressions — at 100 TB this is
    the difference between shipping 4-byte floats and 1-byte codes
    through every shuffle and sink.
    """
    absmax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0).cast("double"),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    scale = F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))
    df = df.withColumn("scale", scale)
    return df.withColumn(
        "q",
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") / F.col("scale") + F.lit(0.5)).cast(
                "tinyint"
            ),
        ),
    )


def ivf_probe_cells_udf(spark, centroids: list[list[float]], nprobe: int):
    """Arrow-batched "which cells would this vector probe" — the
    many-query generalization of :func:`ivf_topk`'s driver-side probe
    pick: per input vector, the ``nprobe`` cell ids nearest by cosine
    (ties to the lower cell id, matching ivf_topk's (dist, i) sort).

    Returns a pandas UDF ``array<float> -> array<int>``; the centroid
    matrix ships once per executor via a Spark broadcast.  Used to turn
    per-anchor candidate generation into ONE keyed join: explode the
    probe list to (anchor, cell) rows and equi-join the cell-assigned
    corpus — the corpus is scanned once total, never once per anchor.
    """
    cmat = np.asarray(centroids, dtype=np.float64)
    norms = np.sqrt((cmat * cmat).sum(axis=1))
    norms[norms == 0.0] = 1.0
    bc = spark.sparkContext.broadcast(cmat / norms[:, None])

    @pandas_udf("array<int>")
    def topcells(vecs: pd.Series) -> pd.Series:
        cn = bc.value  # (n_cells, dim), rows L2-normalized
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        sims = m @ cn.T  # query norm is rank-invariant
        # stable argsort of -sim => ties resolve to the lower cell id
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    return topcells


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = 4,
) -> DataFrame:
    """Probe the ``nprobe`` cells nearest the query and rerank exactly.

    The cell filter is a pushable predicate: with the index persisted
    ``partitionBy("cell")`` this is partition pruning — the scan touches
    nprobe/n_cells of the corpus instead of all of it.
    """
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q)) or 1.0

    def cdist(c):
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return -sum(a * b for a, b in zip(q, c)) / (qn * cn)

    probes = sorted(range(len(centroids)), key=lambda i: (cdist(centroids[i]), i))[:nprobe]
    sim = cosine_similarity_col(F.col(vec_col), F.array(*[F.lit(x) for x in q]))
    if round_to is not None:
        sim = F.round(sim, round_to)
    return (
        assigned.where(F.col("cell").isin(probes))
        .select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by cluster-then-compare
# ---------------------------------------------------------------------------


def semdedup(
    embeddings: DataFrame,
    threshold: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic dedup (Abbas et al., "SemDeDup"): k-means-cluster the
    embeddings, compare pairs only WITHIN a cluster, keep the minimum id
    of each cosine-connected group.

    Returns (id, keep): keep=False for every vector whose cluster holds
    an earlier vector within ``threshold`` cosine similarity (transitive
    via min-label propagation inside the cluster's pair graph).

    Scale shape: the cluster assignment is the IVF build (broadcast
    numpy centroid matrix, Arrow-batched argmin — plan size independent
    of n_cells); the pairwise compare is per-cell, so the quadratic
    term is bounded by the largest cell, not the corpus (pick n_cells
    so cells fit the executor; the all-pairs join never materializes).
    Differs from :func:`pairwise_cosine_neardup` (SRP-LSH buckets) in
    recall shape: clustering guarantees each vector is compared against
    its whole semantic neighborhood cell, the standard trade for
    curation-grade semantic dedup.
    """
    from osm_changesets_to_parquet_spark.operators.clusters import (
        connected_components,
    )

    assigned, _centroids = ivf_build(embeddings, n_cells=n_cells)

    # Per-cell pairwise cosine as ONE numpy kernel per cell (r14,
    # guide §4.2 — the q115 kmeans-kernel discipline): the self-join
    # spelling evaluated the interpreted HOF dot/norm fold per PAIR per
    # element.  Bit-exactness: the gram matrix accumulates with ONE
    # outer product per dimension in index order — each pair's dot is
    # ((v_a0*v_b0) + v_a1*v_b1) + ... , the identical IEEE addition
    # chain as the zip_with+aggregate fold; the squared norms
    # accumulate the same way, and cosine divides by
    # (sqrt(na)*sqrt(nb)) in the fold's operation order.  The kernel
    # pre-filters at threshold - 1e-4 (JVM ROUND(,4) can lift a value
    # by at most 5e-5) and the EXACT rounded filter stays JVM-side, so
    # the surviving pair set is byte-identical to the join spelling.
    def _cell_pairs(pdf):
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        gram = np.zeros((n, n))
        nrm = np.zeros(n)
        for j in range(V.shape[1]):
            c = V[:, j]
            gram += np.outer(c, c)
            nrm += c * c
        rt = np.sqrt(nrm)
        sim = gram / (rt[:, None] * rt[None, :])
        iu, ju = np.triu_indices(n, 1)
        keep = sim[iu, ju] >= threshold - 1e-4
        iu, ju = iu[keep], ju[keep]
        ia, ib = ids[iu], ids[ju]
        lo = np.minimum(ia, ib)
        hi = np.maximum(ia, ib)
        return pd.DataFrame(
            {"id_a": lo, "id_b": hi, "sim": sim[iu, ju]}
        ).astype({"id_a": "int64", "id_b": "int64", "sim": "float64"})

    cand = assigned.select("cell", id_col, vec_col).groupBy("cell").applyInPandas(
        _cell_pairs, "id_a long, id_b long, sim double"
    )
    pairs = (
        cand.select("id_a", "id_b", F.round("sim", 4).alias("sim"))
        .where(F.col("sim") >= threshold)
    )
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    return (
        embeddings.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            (F.coalesce(F.col("label"), F.col(id_col)) == F.col(id_col)).alias(
                "keep"
            ),
        )
    )


def _kmeans_assign_hof():
    """The interpreted-HOF argmin fold over the broadcast ``cs`` array
    (RETAINED SPELLING — the fasthash discipline): squared distance via
    a sequential ``zip_with`` + ``aggregate`` fold, argmin keeps the
    strictly smaller distance, ties break to the lower cid.  Kept as
    the executable specification the vectorized kernel is
    equivalence-tested against (tests/test_merge_pii_kmeans.py)."""

    def sq_dist(v, c):
        return F.aggregate(
            F.zip_with(v, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    return F.aggregate(
        F.transform(
            F.col("cs"),
            lambda s: F.struct(
                sq_dist(F.col("v"), s.c).alias("d"), s.cid.alias("cid")
            ),
        ),
        F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).cast("int").alias("cid")
        ),
        lambda acc, s: F.when(s.d < acc.d, s).otherwise(acc),
    )["cid"]


@pandas_udf(IntegerType())
def _kmeans_assign_udf(vs: pd.Series, css: pd.Series) -> pd.Series:
    """Vectorized NumPy respell of :func:`_kmeans_assign_hof` —
    BYTE-IDENTICAL cids by construction (guide §4.2 discipline):

    - the squared distance accumulates SEQUENTIALLY over dimensions
      (``acc += (x_j - c_j)**2`` one j at a time, vectorized over
      rows), each step one IEEE-double op in the same order as the
      HOF/oracle left fold, so the doubles are bit-identical (the
      fold's ``0.0 + d_0`` initial step is exact: squares are never
      ``-0.0``);
    - centroids iterate in ascending-cid order (``cs`` is array_sort'd
      on the struct, cid first) with a strict ``<`` replacement —
      identical tie-to-lower-cid behavior;
    - a row whose vector length differs from a centroid's skips that
      centroid (the HOF's ``zip_with`` null-pads mismatched lengths,
      poisoning the fold to NULL, which the strict ``<`` never
      accepts); a NULL element poisons via NaN the same way; a row
      matching no centroid keeps the fold's init cid -1.

    ``css`` is the broadcast one-row centroid array crossJoined onto
    every row — identical within a batch, decoded once per batch.
    """
    n = len(vs)
    out = np.full(n, -1, dtype=np.int32)
    if n == 0:
        return pd.Series(out)
    cs = css.iloc[0]
    lens = np.fromiter(
        ((-1 if v is None else len(v)) for v in vs), count=n, dtype=np.int64
    )
    for length in np.unique(lens[lens >= 0]):
        idx = np.nonzero(lens == length)[0]
        x = np.empty((len(idx), length), dtype=np.float64)
        for r, i in enumerate(idx):
            x[r] = np.asarray(vs.iloc[i], dtype=np.float64)
        best_d = np.full(len(idx), np.inf)
        best_c = np.full(len(idx), -1, dtype=np.int32)
        for s in cs:
            c = np.asarray(s["c"], dtype=np.float64)
            if len(c) != length:
                continue
            acc = np.zeros(len(idx), dtype=np.float64)
            for j in range(length):
                d = x[:, j] - c[j]
                acc += d * d
            m = acc < best_d
            best_d[m] = acc[m]
            best_c[m] = np.int32(s["cid"])
        out[idx] = best_c
    return pd.Series(out)


def kmeans_lloyd(
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_centroids: int = 6,
    use_kernel: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means, fully distributed: returns the 2-tuple
    ``(assignments, centroids)`` — assignments as (id, cid) rows,
    centroids as (cid, c: array<double>) rows — after ``iters``
    assignment/update rounds from deterministic seeds (the ``k``
    lowest-id vectors).

    Each iteration is two Catalyst stages, no driver collect:
    - ASSIGN: a PURE MAP stage — the k centroids are collapsed into a
      one-row frame holding an array of (cid, vector) structs sorted by
      cid, broadcast, and each data row takes the argmin over it.  Two
      spellings of the SAME double arithmetic (additions sequential
      left-to-right, so the oracle's ``list_reduce`` reproduces the
      distance bit-for-bit; ties break to the lower cid): the default
      Arrow/NumPy kernel (:func:`_kmeans_assign_udf` — k*dim vectorized
      passes per batch) and the interpreted-HOF fold
      (:func:`_kmeans_assign_hof` — k*dim*rows interpreted expression
      steps; ``use_kernel=False``, retained as the executable spec the
      kernel is equivalence-tested against).  The data frame is never
      shuffled for assignment;
    - UPDATE: posexplode components, avg per (cluster, position) — ONE
      shuffle of k*dim partial sums per task (map-side combine) — then
      rebuild the centroid array ordered by position.

    Centroid components are rounded to ``round_centroids`` decimals
    after every update: cross-engine (and run-to-run) double summation
    wobble in avg() is ~1e-13 relative, far inside the rounding grid,
    so both engines feed bit-identical centroids to the next round.

    At 100 TB: the data frame is only ever mapped (assignment is a
    broadcast join), per-iteration shuffle traffic is k*dim partial
    sums per task — the textbook scalable k-means layout.  Seeds being
    the k lowest ids is a determinism contract, not a quality claim
    (use k-means|| sampling upstream when quality matters).
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    from pyspark.sql.window import Window

    e = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    # deterministic seeds: the k lowest-id vectors, cid = rank 0..k-1.
    # orderBy().limit(k) is TakeOrderedAndProject — the window only ever
    # runs over the k-row result, never a global sort of the data.
    cent = (
        e.orderBy("id")
        .limit(k)
        .withColumn("__rn", F.row_number().over(Window.orderBy("id")))
        .select((F.col("__rn") - 1).alias("cid"), F.col("v").alias("c"))
    )
    best_cid = (
        _kmeans_assign_udf(F.col("v"), F.col("cs"))
        if use_kernel
        else _kmeans_assign_hof()
    )
    assigned = None
    for _ in range(iters):
        # one row: array of (cid, centroid) sorted by cid
        cent_arr = cent.agg(
            F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("cs")
        )
        assigned = (
            e.crossJoin(cent_arr)
            .select("id", "v", best_cid.alias("cid"))
        )
        # materialize each round's assignment (the q84 lineage
        # discipline): it is read TWICE — by this round's centroid
        # update AND by either the next round's assignment or the
        # caller's assignment consumer — and without the cut each
        # consumer re-executed the whole accumulated chain (the q115
        # counts/centroid branches ran every iteration's fold twice)
        assigned = truncate_lineage(assigned)
        cent = (
            assigned.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), round_centroids).alias("cx"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cx"))),
                    lambda s: s.cx,
                ).alias("c")
            )
        )
    return assigned.select("id", "cid"), cent


def ivf_index_write(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """PERSIST an IVF index — the ANN twin of the near-dup contract in
    :func:`~.dedup.lsh_index_write`: cluster the corpus ONCE, write

    - ``cells/``:     the cell-assigned vectors, ``partitionBy("cell")``
      so a probe's ``cell IN (probes)`` predicate becomes PARTITION
      PRUNING — the scan touches nprobe/n_cells of the files, which is
      the entire point of IVF at 100 TB;
    - ``centroids/``: the n_cells x dim centroid table (tiny).

    Every future probe reads these frames; the corpus is never
    re-clustered per query.
    """
    import os

    assigned, centroids = ivf_build(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col, n_iters=n_iters
    )
    (
        assigned.select(
            id_col, vec_col, F.lit("base").alias("__gen"), "cell"
        )
        .write.mode("overwrite")
        .partitionBy("__gen", "cell")
        .parquet(os.path.join(path, "cells"))
    )
    spark = embeddings.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    (
        spark.createDataFrame(rows, "cell int, centroid array<double>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, "centroids"))
    )


def ivf_index_append(
    spark,
    incoming: DataFrame,
    path: str,
    gen: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append an increment to a persisted IVF index
    (:func:`ivf_index_write`) WITHOUT re-clustering: new vectors are
    assigned to the EXISTING centroids (one Arrow-batched broadcast
    argmin over the increment — the corpus is never touched) and land
    under their own generation partition ``__gen=<gen>``; dynamic
    partition overwrite makes a retried append overwrite only its own
    (gen, cell) leaves, never the base — the q142/s14 idempotency
    discipline for the ANN index.  Centroid drift is the operator's
    documented trade: probes may need a higher nprobe than a
    fresh-build index (callers calibrate — queries/ann.py q151), and a
    real deployment re-clusters when drift accumulates.
    """
    import os

    cents = {
        int(r.cell): [float(x) for x in r.centroid]
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    }
    centroids = [cents[i] for i in range(len(cents))]
    pick1 = ivf_probe_cells_udf(spark, centroids, 1)
    (
        incoming.select(
            id_col,
            vec_col,
            F.lit(gen).alias("__gen"),
            F.element_at(pick1(F.col(vec_col)), 1).alias("cell"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__gen", "cell")
        .parquet(os.path.join(path, "cells"))
    )


def ivf_probe_persisted(
    spark,
    path: str,
    query_vec: list[float],
    k: int,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a persisted IVF index (:func:`ivf_index_write`): read the
    centroid table (n_cells rows — a bounded driver collect, the same
    O(k x dim) envelope as ivf_build's seeds), pick the nprobe nearest
    cells driver-side, and rerank exactly inside those cells.  The
    ``cell IN probes`` filter prunes partitions of the cells/ dataset —
    verified by plan test (PartitionFilters on the scan)."""
    import os

    cents = {
        int(r.cell): [float(x) for x in r.centroid]
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    }
    centroids = [cents[i] for i in range(len(cents))]
    assigned = spark.read.parquet(os.path.join(path, "cells"))
    return ivf_topk(
        assigned, centroids, query_vec, k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


def mmr_rerank(
    embeddings: DataFrame,
    query: DataFrame,
    pool_k: int,
    select_k: int,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998, public): greedily pick ``select_k`` of the ``pool_k`` most
    query-similar items maximizing
    ``lam*sim(q,c) - (1-lam)*max_{s in S} sim(c,s)`` — relevance minus
    redundancy, the diversified-retrieval standard.

    Distribution of labor at 100 TB: the corpus-sized work — the top-
    ``pool_k`` scan (TakeOrderedAndProject) and the pool×pool cosine
    matrix — is all DataFrame plans; the greedy itself touches only
    the collected pool (``pool_k`` rows + ``pool_k²`` rounded sims, a
    bounded driver loop of the IVF-seed-collect class, never corpus
    data).  Determinism: every similarity is rounded to 4 BEFORE the
    greedy, so the scores are arithmetic on exact 1e-4 multiples —
    identical doubles in any engine — and rank ties break on id.
    """
    pool = cosine_topk(
        embeddings, query, pool_k, id_col=id_col, vec_col=vec_col
    )
    pv = embeddings.join(pool.select(id_col), id_col).select(
        F.col(id_col).alias("__a"), F.col(vec_col).alias("__va")
    )
    pw = (
        pv.crossJoin(
            F.broadcast(
                pv.select(F.col("__a").alias("__b"), F.col("__va").alias("__vb"))
            )
        )
        .where(F.col("__a") != F.col("__b"))
        .select(
            "__a",
            "__b",
            F.round(
                cosine_similarity_col(F.col("__va"), F.col("__vb")), 4
            ).alias("__s"),
        )
    )
    sims = {(r[0], r[1]): r[2] for r in pw.collect()}
    cands = [(r[0], r[1]) for r in pool.collect()]  # (id, simq) — rounded
    selected: list[tuple] = []
    chosen: list = []
    for rank in range(1, select_k + 1):
        best = None
        for cid, sq in cands:
            if cid in chosen:
                continue
            pen = max((sims[(cid, s)] for s in chosen), default=0.0)
            score = lam * sq - (1.0 - lam) * pen
            # raw-double compare, id tie-break — mirrors the oracle's
            # ORDER BY score DESC, id LIMIT 1
            if best is None or score > best[0] or (score == best[0] and cid < best[1]):
                best = (score, cid, sq)
        if best is None:
            break
        selected.append((rank, best[1], best[2], best[0]))
        chosen.append(best[1])
    spark = embeddings.sparkSession
    out = spark.createDataFrame(
        selected, f"rank long, {id_col} long, simq double, mmr_score double"
    )
    return out.select(
        "rank", id_col, "simq", F.round("mmr_score", 6).alias("mmr_score")
    ).orderBy("rank")


def k_center_greedy(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_id: int = 0,
):
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985 2-approximation; the active-learning coreset of Sener &
    Savarese 2018 — public): start from ``seed_id``, then repeatedly
    take the point FARTHEST from everything selected so far.

    Distribution of labor at 100 TB: each of the k-1 rounds is one
    distributed pass — the running min-distance column updates against
    only the NEWEST center (a broadcast dim-length literal; earlier
    centers are already folded into the column), and the argmax is a
    TakeOrderedAndProject, never a global sort.  The only driver
    materialization is the k selected vectors (the bounded IVF-seed
    class).  Engine-lockstep determinism: distances are the identical
    sequential left-fold the kmeans oracle uses (``list_reduce`` ==
    ``F.aggregate`` bit-for-bit), argmax ties break on id, and the
    reported distance rounds JVM-side only at output.

    Returns (step, <id_col>, dist): dist is the squared L2 distance to
    the previously-selected set at selection time (NULL for the seed).
    """
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )

    def sqd(v, center: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in center])
        return F.aggregate(
            F.zip_with(v, arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    seed = e.where(F.col("id") == seed_id).collect()[0]
    picked: list[tuple] = [(1, seed["id"], None)]
    chosen_ids = [seed["id"]]
    state = None
    center = list(seed["v"])
    for step in range(2, k + 1):
        upd = sqd(F.col("v"), center)
        state = (
            e.withColumn("mind", upd)
            if state is None
            else state.withColumn("mind", F.least(F.col("mind"), upd))
        )
        nxt = (
            state.where(~F.col("id").isin(chosen_ids))
            .orderBy(F.col("mind").desc(), "id")
            .limit(1)
            .collect()[0]
        )
        picked.append((step, nxt["id"], nxt["mind"]))
        chosen_ids.append(nxt["id"])
        center = list(nxt["v"])
    spark = embeddings.sparkSession
    out = spark.createDataFrame(picked, f"step long, {id_col} long, dist double")
    return out.select(
        "step", id_col, F.round("dist", 6).alias("dist")
    ).orderBy("step")


def pca_power_top(
    embeddings: DataFrame,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Top principal direction of the mean-centered embedding corpus by
    POWER ITERATION on the covariance (von Mises 1929; the standard
    large-scale PCA first step — public).

    Each iteration is one distributed pass computing
    ``w = sum_i (x_i - mu) * ((x_i - mu) . v)`` — a fold for the scalar
    projection plus a positional weighted sum; the only driver
    materialization is the dim-length w vector (IVF-seed class), which
    broadcasts back as the next v.  No per-step normalization: with
    O(1) eigenvalues a 3-step iterate stays well inside double range,
    and skipping it keeps every driver-side number an exact 6dp
    decimal (the kmeans engine-lockstep discipline: positional sums
    round to 6dp JVM-side each update; the oracle replays the same
    fold order; nothing is ever rounded in Python).  v0 = e_1, so the
    output sign is deterministic.

    Returns (pos 1-based, loading): the final iterate normalized and
    rounded engine-side.
    """
    e = embeddings.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    )
    mu_rows = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .collect()
    )
    mu = [r["m"] for r in sorted(mu_rows, key=lambda r: r["pos"])]
    mu_arr = F.array(*[F.lit(float(m)) for m in mu])
    c = e.select(F.zip_with("v", mu_arr, lambda x, y: x - y).alias("c"))

    def fold_dot(col, w: list[float]):
        arr = F.array(*[F.lit(float(x)) for x in w])
        return F.aggregate(
            F.zip_with(col, arr, lambda x, y: x * y),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )

    w: list[float] | None = None  # None => v0 = e_1, s = c[1] exactly
    w_df = None
    for it in range(iters):
        s = F.element_at("c", 1) if w is None else fold_dot(F.col("c"), w)
        w_df = (
            c.select(s.alias("s"), F.posexplode("c").alias("pos", "x"))
            .groupBy("pos")
            .agg(F.round(F.sum(F.col("x") * F.col("s")), 6).alias("w"))
        )
        if it < iters - 1:  # the final iterate stays a DataFrame
            rows = w_df.collect()
            w = [r["w"] for r in sorted(rows, key=lambda r: r["pos"])]
    nrm = w_df.agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    return (
        w_df.crossJoin(nrm)
        .select(
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.round(F.col("w") / F.col("nrm"), 6).alias("loading"),
        )
        .orderBy("pos")
    )

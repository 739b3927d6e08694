"""Graph analytics on DataFrame edge lists: PageRank, triangle count.

Companion to operators.clusters (connected components): the weighted
propagation pattern.  Each iteration is one join (ranks onto out-edges)
and one keyed aggregation (sum of incoming mass) — the standard
MapReduce PageRank, with lineage truncated per iteration (see
operators.iterutils — reliable checkpoint when a dir is configured) so
the plan stays constant-size.

Dangling nodes (no out-edges) are handled by redistributing their mass
uniformly — the rank vector keeps summing to 1, so results are
comparable across graphs.  Deterministic: fixed iteration count, no
sampling; the same unrolled arithmetic is expressible in SQL, which is
how the q84 oracle verifies every rank value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.operators.iterutils import (
    checkpoint_metrics,
    truncate_lineage,
)


def copurchase_pairs(
    li: DataFrame,
    min_orders: int = 2,
    src: str = "u",
    dst: str = "v",
    weight_col: str | None = None,
) -> DataFrame:
    """Co-purchase pair graph over lineitem: unordered part pairs
    sharing at least ``min_orders`` orders (``src < dst``); optionally
    keep the shared-order count as ``weight_col``.

    The ONE authority for the build every co-purchase graph query
    rides (q218/q238/q257/q258/q308/q323/q331/q333/q336/q342/q347):
    pairs-per-order expand IN-ROW from one ``collect_set`` per order
    (guide §2.3/§2.4) instead of the old inc-distinct + self-join,
    which shuffled the 600k-row incidence list twice and materialized
    3M join rows through a SortMergeJoin.  One shuffle (groupBy
    orderkey, set-dedup riding it) replaces distinct + join; order
    baskets are small (<= ~7 parts at every SF), so the k^2 in-row
    expansion is bounded.  Each order contributes a pair at most once
    (set semantics), so the repeat-count filter is unchanged.
    """
    per_order = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("ps")
    )
    pairs = (
        per_order.select(F.explode("ps").alias("__p1"), "ps")
        .select(
            "__p1",
            F.explode(F.filter("ps", lambda y: y > F.col("__p1"))).alias(
                "__p2"
            ),
        )
        .groupBy("__p1", "__p2")
        .agg(F.count(F.lit(1)).alias("__m"))
        .where(F.col("__m") >= min_orders)
    )
    cols = [F.col("__p1").alias(src), F.col("__p2").alias(dst)]
    if weight_col is not None:
        cols.append(F.col("__m").cast("long").alias(weight_col))
    return pairs.select(*cols)


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Count triangles of the undirected graph; returns one row
    ``(n_triangles: long)``.

    The scale-critical trick is degree ordering (Cohen / Suri-Vassilvitskii
    MapReduce triangle counting): orient every edge from the endpoint
    with the smaller ``(degree, id)`` to the larger, then count wedges
    ``u->v, u->w`` closed by an oriented edge ``v->w``.  Each triangle
    is found exactly once (from its order-minimal vertex), and — the
    100 TB point — the wedge join fans out per-node by *out*-degree,
    which the orientation bounds at O(sqrt(m)) even when a hub's raw
    degree is O(n).  A naive orientation by id alone leaves a
    low-id hub with O(n) out-degree and an O(n^2) wedge stage.

    Three shuffles: degree agg, wedge self-join on the apex, closing
    semi-join on (v, w).  All keyed DataFrame ops; no driver-side graph.
    """
    und = (
        edges.select(F.col(src_col).cast("long").alias("a"), F.col(dst_col).cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo"))
        .distinct()
    )
    sym = und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    ranked = (
        sym.join(deg.withColumnRenamed("u", "u_").withColumnRenamed("deg", "du"), F.col("u") == F.col("u_"))
        .drop("u_")
        .join(deg.withColumnRenamed("u", "v_").withColumnRenamed("deg", "dv"), F.col("v") == F.col("v_"))
        .drop("v_")
    )
    # orient small (deg, id) -> large (deg, id); exactly one direction kept
    oriented = ranked.where(
        (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    ).select("u", "v")
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).where(
        F.col("e1.v") != F.col("e2.v")
    ).select(F.col("e1.v").alias("x"), F.col("e2.v").alias("y"))
    closing = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    # each triangle appears as both (x,y) and (y,x) wedges but only one
    # matches the oriented closing edge -> exact count, no halving
    return (
        wedges.join(closing, ["x", "y"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    n_iters: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Ranks after exactly ``n_iters`` power iterations from a uniform
    start.  Returns (id, rank).  Edges are directed; duplicates count
    (weighted by multiplicity)."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    nodes = truncate_lineage(
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    outdeg = truncate_lineage(
        e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iters):
        contribs = (
            e.join(ranks, e.src == ranks.id)
            .join(outdeg, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inmass"))
        )
        # dangling mass: rank held by nodes with no out-edges
        dangling = (
            ranks.join(outdeg, ranks.id == outdeg.src, "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        ranks = truncate_lineage(
            nodes.join(contribs, "id", "left")
            .crossJoin(dangling)
            .select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inmass"), F.lit(0.0)) + F.col("dm") / F.lit(n))
                ).alias("rank"),
            )
        )
    return ranks


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Peel to the k-core: the maximal subgraph where every node has
    degree >= k.  Returns the surviving undirected edge list
    ``(u: long, v: long)`` with u < v (possibly empty).

    Classic iterative peeling (Batagelj-Zaversnik, distributed per
    Montresor et al.): each round computes degrees (one keyed agg) and
    drops edges touching an under-k node (two semi-joins), until an
    edge-count fixpoint.  Rounds are bounded by the peeling depth of
    the graph — O(log n) on real-world skewed graphs — and each round
    is ONE job, the :func:`iterutils.checkpoint_metrics` cut that also
    counts the surviving edges; no driver-side adjacency ever exists.

    ``max_rounds`` is a runaway backstop (a path graph peels in O(n)
    rounds; real corpora don't) — hitting it raises rather than
    silently returning a non-core.
    """
    cur = (
        edges.select(
            F.col(src_col).cast("long").alias("a"),
            F.col(dst_col).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    cur, m = checkpoint_metrics(cur, n=F.count(F.lit(1)))
    n_edges = m["n"]
    for _ in range(max_rounds):
        if n_edges == 0:
            return cur
        sym = cur.select(F.col("u").alias("n")).unionByName(
            cur.select(F.col("v").alias("n"))
        )
        keep = (
            sym.groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= k)
            .select("n")
        )
        nxt = cur.join(
            keep.withColumnRenamed("n", "u"), "u", "semi"
        ).join(keep.withColumnRenamed("n", "v"), "v", "semi").select("u", "v")
        nxt, m = checkpoint_metrics(nxt, n=F.count(F.lit(1)))
        n_next = m["n"]
        if n_next == n_edges:
            return nxt
        cur, n_edges = nxt, n_next
    raise RuntimeError(f"k_core did not converge in {max_rounds} rounds")

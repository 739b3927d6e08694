"""Graph analytics on DataFrame edge lists.

The co-purchase graph every lineitem graph query reads
(:func:`copurchase_pairs`), its symmetric edge list (:func:`undirected`),
synchronous label propagation (:func:`label_propagation`), degree-oriented
triangle listing (:func:`oriented_triangles`, :func:`triangle_count`),
k-core peeling (:func:`k_core`) and PageRank (:func:`pagerank`).
Connected components live in operators.clusters.

Iterative operators run a fixed or fixpoint-bounded number of rounds,
each one keyed join plus one keyed aggregation, with lineage truncated
per round (see operators.iterutils — reliable checkpoint when a dir is
configured) so the plan stays constant-size.  PageRank handles dangling
nodes (no out-edges) by redistributing their mass uniformly, so the
rank vector keeps summing to 1.  Everything is deterministic: fixed
iteration counts, total tie-breaks, no sampling — the same unrolled
arithmetic is expressible in SQL, which is how the oracles verify it.
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
    rides (q210/q218/q238/q257/q258/q308/q323/q331/q333/q336/q338/q342/
    q347; q338 passes its train-split incidence as ``li``): pairs-per-
    order expand IN-ROW from one ``collect_set`` per order (guide
    §2.3/§2.4) instead of an inc-distinct + self-join, which shuffles
    the incidence list twice and materializes the pair stream through
    a SortMergeJoin.  One shuffle (groupBy orderkey, set-dedup riding
    it) replaces distinct + join; order baskets are small (<= ~7 parts
    at every SF), so the k^2 in-row expansion is bounded.  Each order
    contributes a pair at most once (set semantics), so the
    repeat-count filter is unchanged.
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


def undirected(e: DataFrame) -> DataFrame:
    """Both directions of an edge list ``(u, v, *rest)``, as
    ``(src, dst, *rest)``: every edge once as ``u -> v`` and once as
    ``v -> u``, its other columns carried on both."""
    rest = [c for c in e.columns if c not in ("u", "v")]
    fwd = e.select(F.col("u").alias("src"), F.col("v").alias("dst"), *rest)
    rev = e.select(F.col("v").alias("src"), F.col("u").alias("dst"), *rest)
    return fwd.unionByName(rev)


def label_propagation(sym: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara, Phys.
    Rev. E 76, 2007) for exactly ``rounds`` rounds over a symmetric
    edge list ``(src, dst)``; returns ``(node, lbl)``.

    Every node starts with its own id as label; each round every node
    takes the label most frequent among its neighbors, ties to the
    SMALLEST label.  The (count, smallest-label) key is one BIGINT
    ``cnt*1e9-lbl`` (labels are ids < 10^9), so the argmax is a plain
    ``max_by`` aggregation, never a per-node window.  The round count
    is fixed because synchronous LPA can oscillate: a fixed-round
    snapshot is deterministic and unrollable in SQL.  One lineage cut
    per round.
    """
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").cast("long").alias("lbl")
    )
    for _ in range(rounds):
        msg = sym.join(
            labels.withColumnRenamed("node", "src"), "src"
        ).groupBy(F.col("dst").alias("node"), "lbl").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = truncate_lineage(
            msg.groupBy("node").agg(
                F.max_by(
                    "lbl", F.col("cnt") * F.lit(1_000_000_000) - F.col("lbl")
                ).alias("lbl")
            )
        )
    return labels


def oriented_triangles(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-oriented triangle listing over an undirected edge list
    ``(u, v)``, deduplicated with ``u < v``.  Returns ``(deg, tri)``:
    ``deg`` is ``(n, d)``, the degree of every node; ``tri`` is
    ``(s, t, w)``, one row per oriented edge ``s -> t`` with ``w`` the
    third vertices closing a triangle on it.

    Degree orientation (Suri & Vassilvitskii 2011): every edge points
    from its endpoint with the smaller ``(degree, id)`` to the larger,
    which bounds out-degree by O(sqrt(m)) even when a hub's raw degree
    is O(n).  Each oriented edge then intersects the out-adjacency
    arrays of its endpoints in-row, so every triangle ``{s, t, x}``
    appears exactly once, in ``w`` of the oriented edge between its two
    order-minimal vertices, and nothing is materialized at wedge
    cardinality.  Degree and orientation are each cut once, because
    both feed two joins.
    """
    deg = truncate_lineage(
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("d_v"))
    u_first = (F.col("d_u") < F.col("d_v")) | (
        (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
    )
    o = truncate_lineage(
        edges.join(F.broadcast(du), "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    adj = o.groupBy("s").agg(F.collect_list("t").alias("ns"))
    adj_t = adj.select(F.col("s").alias("t"), F.col("ns").alias("nt"))
    # LEFT join on t: an orientation sink (out-degree 0) has no adj row
    tri = (
        o.join(F.broadcast(adj), "s")
        .join(F.broadcast(adj_t), "t", "left")
        .select(
            "s",
            "t",
            F.array_intersect(
                "ns", F.coalesce("nt", F.array().cast("array<long>"))
            ).alias("w"),
        )
    )
    return deg, tri


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Count triangles of the undirected graph; returns one row
    ``(n_triangles: long)``.

    Edges may come in either direction, repeated or as self-loops:
    they are normalized to distinct ``u < v`` pairs, and the count is
    ``SUM(size(w))`` over :func:`oriented_triangles`, which finds each
    triangle exactly once.  All keyed DataFrame ops; no driver-side
    graph.
    """
    # cut once: both of oriented_triangles' cuts read it, and would each
    # recompute the caller's edge build (q107: a self-join plus distinct)
    und = truncate_lineage(
        edges.select(F.col(src_col).cast("long").alias("a"), F.col(dst_col).cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
    )
    _, tri = oriented_triangles(und)
    return tri.agg(
        F.coalesce(F.sum(F.size("w")), F.lit(0)).cast("long").alias("n_triangles")
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

"""Near-duplicate cluster resolution: connected components over
candidate pairs, and canonical-representative selection.

The missing last step of every dedup pipeline: pair generation
(MinHash-LSH, SimHash, embedding-LSH — operators.dedup / .similarity)
emits *edges*; keeping one document per near-dup group needs the
*components* of that graph and a deterministic representative per
component (here: the minimum doc id).

Algorithm: iterative min-label propagation on the undirected edge set.
Each iteration is one shuffle (groupBy node id of the label+neighbor
union); labels monotonically decrease to the component minimum, so the
loop converges in O(graph diameter) iterations.  Near-dup graphs are
shallow (components are cliques-ish around shared buckets), so the
diameter is small in practice.  Per-iteration lineage is truncated with
:func:`operators.iterutils.truncate_lineage` — without it the plan
doubles every iteration; with a configured checkpoint dir the cut is a
reliable checkpoint (executor-loss-recoverable at 100 TB).

At 100 TB: every step is a keyed DataFrame op (no driver-side graph);
the driver holds only the converged/changed counter.  For adversarial
long-chain graphs :func:`connected_components_star` implements the
alternating small-star / large-star rounds of Kiveris et al.
"Connected Components in MapReduce and Beyond" (O(log^2 n) rounds on
any topology) — same primitives, same storage shape, same contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.operators import iterutils
from osm_changesets_to_parquet_spark.operators.iterutils import (
    checkpoint_metrics,
    truncate_lineage,
)


def _components_single_task(edges: DataFrame) -> DataFrame:
    """Union-find over the (already symmetrized, deduped, checkpointed)
    edge frame inside ONE ``mapInPandas`` task.

    Union-by-min: a root only ever changes to a SMALLER root, so every
    component's final representative is its minimum node id — the
    identical contract as min-label propagation, deterministic for any
    edge arrival order.  Path compression keeps finds near-O(1).
    """

    def uf(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
                s = int(s)
                d = int(d)
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        if parent:
            ids = sorted(parent)
            yield pd.DataFrame(
                {"id": ids, "label": [find(i) for i in ids]}
            )

    return edges.repartition(1).mapInPandas(uf, "id long, label long")


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve components of the undirected pair graph.

    Returns (id, cluster_id) for every node appearing in ``pairs``,
    where ``cluster_id`` is the smallest node id in the component.
    Deterministic for any edge order.

    Cost shape: exactly ONE job per iteration, the
    :func:`iterutils.checkpoint_metrics` cut that also counts changed
    labels (labels monotonically decrease, so "changed" = strict
    decreases vs the previous label, carried through the aggregation).

    Convergence guard (ADVICE r10): min-label propagates one hop per
    round, so a graph whose diameter exceeds ``max_iters`` would leave
    the loop with WRONG (unconverged) labels.  Rather than return them
    silently, the operator detects the exhausted-but-still-changing
    state and falls back to :func:`connected_components_star`, whose
    O(log^2 n) rounds converge within the same budget on any topology
    — correctness never depends on a diameter assumption.

    Single-task finish: when the deduped symmetric edge set has at
    most ``iterutils.LOCAL_FINISH_MAX_ROWS`` rows (counted on the edge
    checkpoint's job), a union-find inside one ``mapInPandas`` task
    replaces O(diameter) scheduling round-trips — the local endgame of
    Kiveris et al.'s contraction algorithms.  Larger graphs take the
    iterative path.  Union-by-min returns the identical (id,
    component-min) labeling, deterministic for any edge order.
    """
    sym = pairs.select(
        F.col(src_col).cast("long").alias("src"), F.col(dst_col).cast("long").alias("dst")
    )
    edges = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges, m = checkpoint_metrics(edges, n=F.count(F.lit(1)))
    if m["n"] <= iterutils.LOCAL_FINISH_MAX_ROWS:
        return _components_single_task(edges)

    labels = truncate_lineage(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )

    converged = False
    # max_iters bounds the number of LABEL-CHANGING rounds; the +1 is
    # the confirming observation (ADVICE r11): a graph whose diameter
    # exactly equals max_iters finishes its last propagation on round
    # max_iters with changed>0, and only the NEXT round can observe
    # changed==0 — without the spare round, correct labels would be
    # discarded and the whole computation rerun via star contraction.
    for _ in range(max_iters + 1):
        nbr = (
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("label"))
        )
        # every id occurs exactly once in `labels`, so max(__old) per id
        # recovers its previous label; nbr rows carry null and drop out.
        merged = labels.withColumn("__old", F.col("label")).unionByName(
            nbr.withColumn("__old", F.lit(None).cast("long"))
        )
        # the checkpoint is the iteration's single action; the metric is
        # available as soon as it completes
        labels, m = checkpoint_metrics(
            merged.groupBy("id").agg(
                F.min("label").alias("label"), F.max("__old").alias("__old")
            ),
            changed=F.sum((F.col("label") < F.col("__old")).cast("long")),
        )
        labels = labels.select("id", "label")
        if m["changed"] == 0:
            converged = True
            break
    if not converged:
        # diameter > max_iters: labels are unconverged and WRONG.
        # Star contraction finishes in O(log^2 n) rounds regardless of
        # topology — rerun with it rather than return bad labels.
        import warnings

        warnings.warn(
            "connected_components: min-label propagation did not "
            f"converge within max_iters={max_iters} (graph diameter "
            "exceeds the budget); falling back to star contraction",
            RuntimeWarning,
            stacklevel=2,
        )
        # feed the already-symmetrized, deduped, lineage-cut edge frame
        # (ADVICE r11) — the star prep's own filter+distinct then reads
        # a checkpoint instead of recomputing `pairs`' full lineage
        return connected_components_star(
            edges, src_col="src", dst_col="dst", max_iters=max_iters
        )
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its larger neighbors to the
    minimum of its closed neighborhood.  Emitted edges are oriented
    big->small, self-loop-free, distinct."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    w = Window.partitionBy("src")
    return (
        sym.withColumn("m", F.least(F.min("dst").over(w), F.col("src")))
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller neighbors (and
    itself) to the minimum of those neighbors."""
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    w = Window.partitionBy("src")
    with_min = e.withColumn("m", F.min("dst").over(w))
    # (v, m) for each smaller neighbor v != m, plus (u, m) for the node
    # itself (u > every dst, so u != m always)
    nbr_edges = with_min.where(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = with_min.select("src", F.col("m").alias("dst"))
    return nbr_edges.unionByName(self_edges).distinct()


def connected_components_star(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Components via alternating small-star / large-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — O(log^2 n) rounds on ANY graph, vs O(diameter) for
    :func:`connected_components`'s min-label propagation.

    Same contract: (id, label) for every node of ``pairs``, label = the
    component minimum; deterministic for any edge order.  Prefer this
    variant when the pair graph can contain long chains (transitive
    near-dup edges over sliding shingles, web-link graphs); min-label
    propagation stays preferable on the shallow clique-ish graphs LSH
    emits, where diameter ~ 2-3 beats the star rounds' extra shuffles.

    Cost shape: each round is two window aggregations + two distincts
    (all keyed shuffles, no driver-side graph) and exactly ONE action —
    the lineage-cut checkpoint, whose ``observe`` metrics (edge count +
    order-independent xxhash64 XOR) double as the fixpoint probe.  A
    fixpoint of both phases is exactly a forest of depth-1 stars rooted
    at component minima, so equal (count, hashxor) for one round means
    converged (hash-collision false-stop chance ~2^-64 per round).
    """
    edges = (
        pairs.select(
            F.col(src_col).cast("long").alias("src"),
            F.col(dst_col).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = truncate_lineage(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    edges = truncate_lineage(edges)

    prev: tuple[int, int] | None = None
    converged = False
    for _ in range(max_iters):
        stepped = _small_star(_large_star(edges))
        edges, m = checkpoint_metrics(
            stepped,
            n=F.count(F.lit(1)),
            # bit_xor: order-independent and overflow-free (a SUM of
            # xxhash64 trips ANSI long overflow); edges are distinct so
            # no pair can self-cancel
            hs=F.expr("bit_xor(xxhash64(src, dst))"),
        )
        sig = (m["n"], m["hs"])
        if sig == prev:
            converged = True
            break
        prev = sig
    if not converged:
        # No fixpoint within the budget: the edge set is not yet a
        # forest of depth-1 stars, so labeling from it would be WRONG.
        # There is no cheaper algorithm to fall back to (this IS the
        # any-topology fallback), so fail loudly — the same discipline
        # as connected_components' guard, one level down.  O(log^2 n)
        # rounds means the default budget of 50 never exhausts on any
        # graph that fits in storage; hitting this means max_iters was
        # lowered below the topology's need.
        raise RuntimeError(
            "connected_components_star: no fixpoint within "
            f"max_iters={max_iters}; labels would be unconverged — "
            "raise max_iters"
        )

    # at fixpoint every edge is (member, component-min); minima appear
    # only as dst, so a left join + coalesce labels them with themselves
    return nodes.join(
        edges.select(F.col("src").alias("id"), F.col("dst").alias("label")),
        "id",
        "left",
    ).select("id", F.coalesce("label", "id").alias("label"))


def canonical_docs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup verdict per document: (doc_id, cluster_id, keep).

    Documents in no pair form their own singleton cluster and are kept;
    in each near-dup component only the minimum doc id is kept.
    """
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    return (
        docs.select(id_col)
        .join(comp, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def canonical_docs_collapsed(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Same verdict as ``canonical_docs(docs, jaccard_pairs(docs, t))``
    but with exact duplicates collapsed BEFORE pair generation.

    Identical texts have identical shingle sets, so (a) every
    exact-duplicate group is pairwise Jaccard 1 >= any threshold — one
    component — and (b) each copy has exactly the same neighbors as its
    group's representative.  Clustering the distinct texts and mapping
    copies back through md5(text) therefore yields the identical
    component structure, while a group of k literal copies costs one
    node instead of k nodes and k(k-1)/2 pairs.

    This is the duplicate-heavy-corpus fix: on web-crawl-shaped data
    (boilerplate copied thousands of times) the exact-duplicate groups
    are the dominant quadratic term of the shingle-index self-join;
    collapsing them first is strictly less work for a provably equal
    answer.  Measured on a 16x replica corpus (80k docs, dup groups of
    16): 146 s -> 106 s end-to-end; result equality is pinned by
    ``test_collapsed_clusters_equal_plain`` at sf0.001.

    Edge case: the Jaccard-1 argument assumes a NON-EMPTY shingle set.
    Documents shorter than ``n`` tokens produce zero shingles, so the
    pair graph gives identical short docs NO edge — each is its own
    singleton cluster.  Collapsing them would merge what the plain
    path keeps apart, so shingle-less docs get a unique group key and
    are never collapsed (``test_collapsed_clusters_short_dup_docs``).
    """
    from osm_changesets_to_parquet_spark.operators.dedup import jaccard_pairs

    has_shingles = F.size(F.split(F.col(text_col), " ")) >= n
    keyed = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.when(has_shingles, F.md5(F.col(text_col))).otherwise(
            F.concat(F.lit("solo:"), F.col(id_col).cast("string"))
        ).alias("__h"),
    )
    reps = keyed.groupBy("__h").agg(
        F.min(id_col).alias(id_col), F.first(text_col).alias(text_col)
    )
    pairs = jaccard_pairs(reps, threshold, text_col=text_col, id_col=id_col, n=n)
    comp = connected_components(pairs).withColumnRenamed("id", "__rep")
    mapping = keyed.select(id_col, "__h").join(
        reps.select(F.col(id_col).alias("__rep"), "__h"), "__h"
    )
    return (
        mapping.join(comp, mapping["__rep"] == comp["__rep"], "left")
        .select(
            mapping[id_col],
            F.coalesce(F.col("label"), mapping["__rep"]).alias("cluster_id"),
        )
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )

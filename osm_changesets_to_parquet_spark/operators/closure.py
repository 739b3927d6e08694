"""Hierarchy (forest) transitive closure by pointer doubling.

Spark has no recursive CTE; BOM explosions, org charts, category trees
and reply-chains all need "walk each node to its root" over a
(child, parent) edge table.  Naive chain-following joins once per LEVEL
— O(height) shuffles.  Pointer doubling (the classic PRAM technique,
also the backbone of Kiveris-style star contraction in
``operators/clusters.py``) squares the pointer every round:

    state(node) = (ptr, depth)      # ptr = ancestor reached, depth = #edges
    next round:  ptr' = state(ptr).ptr,  depth' = depth + state(ptr).depth

so a forest of height ``h`` closes in ``ceil(log2 h)`` self-joins —
at height 10^6, twenty rounds instead of a million.

Each round is ONE keyed equi-join of the state with itself (shuffle on
the pointer), lineage-cut through :func:`iterutils.truncate_lineage`
(reliable checkpoints when a dir is configured — the plan would
otherwise double per round).  Roots are self-stable fixpoints
(ptr = node, depth = 0), so converged rows pass through unchanged and
over-iterating is safe — callers size ``rounds`` from a height bound
(e.g. 64-bit keys can never chain deeper than 2^63: rounds=63 is an
absolute ceiling; real hierarchies need 5-20).

The q116 oracle replays the same closure as a DuckDB recursive CTE, so
the iterative Spark spelling is hash-matched against true SQL recursion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.operators.iterutils import checkpoint_metrics


def forest_closure(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "node",
    child_col: str = "child",
    parent_col: str = "parent",
    rounds: int = 20,
) -> DataFrame:
    """Resolve every node of a forest to ``(node, root, depth)``.

    ``nodes``: one row per node (roots included).  ``edges``: one
    (child, parent) row per non-root node — a node with no edge is a
    root.  A node with multiple parents raises upstream assumptions
    (this is a forest closure, not a DAG closure); supply
    deduplicated edges.  ``rounds`` must satisfy 2^rounds >= height.

    ``rounds`` is a BUDGET, not a fixed cost: each doubling round is
    one :func:`iterutils.checkpoint_metrics` job that also counts the
    moved pointers, and the loop exits after the first round that
    moved NO pointer.  A no-op round proves every pointer
    sits on a root (or on a missing parent, which never changes), so
    all remaining rounds would be no-ops too — the early exit is
    exact.  Provision ``rounds`` for the worst-case height; pay only
    ceil(log2(actual height)) + 1 confirming round.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    n = nodes.select(F.col(node_col).alias("node"))
    # a self-edge would make its node a perpetual non-root (depth grows
    # every round); treat child==parent as "is a root" and drop it
    e = edges.where(F.col(child_col) != F.col(parent_col)).select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("__p")
    )
    state = n.join(e, "node", "left").select(
        "node",
        F.coalesce("__p", F.col("node")).alias("ptr"),
        F.when(F.col("__p").isNotNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("depth"),
    )
    converged = False
    # rounds bounds the number of POINTER-MOVING rounds; the +1 is the
    # confirming observation (the connected_components discipline): a
    # forest whose closure needs exactly `rounds` doublings finishes on
    # round `rounds` with changed>0, and only the NEXT round can observe
    # changed==0 — without it the guard below would reject correct state.
    for _ in range(rounds + 1):
        hop = state.select(
            F.col("node").alias("ptr"),
            F.col("ptr").alias("__ptr2"),
            F.col("depth").alias("__d2"),
        )
        # LEFT join: a pointer at a parent absent from ``nodes`` has no
        # hop row — treat that missing parent as a root (ptr and depth
        # unchanged) instead of silently dropping the node, so
        # inconsistent node/edge inputs surface as (node, missing_id,
        # depth) rows rather than vanished output.  For consistent
        # forests every ptr resolves and this is the inner join.
        # __moved rides the cut; the next projections drop it.
        state, m = checkpoint_metrics(
            state.join(hop, "ptr", "left").select(
                "node",
                F.coalesce("__ptr2", F.col("ptr")).alias("ptr"),
                (F.col("depth") + F.coalesce("__d2", F.lit(0))).alias("depth"),
                (
                    F.col("__ptr2").isNotNull() & (F.col("__ptr2") != F.col("ptr"))
                ).alias("__moved"),
            ),
            changed=F.sum(F.col("__moved").cast("long")),
        )
        if m["changed"] == 0:
            converged = True
            break
    if not converged:
        # the budget ran out with the LAST round still moving pointers
        # (ADVICE r13): some node may sit on a non-root ancestor, i.e.
        # the returned depths/roots would be silently WRONG for forests
        # taller than 2^rounds.  Mirror k_core's non-convergence error
        # rather than return unverified state.
        raise RuntimeError(
            f"forest_closure did not converge within rounds={rounds} "
            "(forest height exceeds 2^rounds); raise the budget"
        )
    return state.select("node", F.col("ptr").alias("root"), "depth")

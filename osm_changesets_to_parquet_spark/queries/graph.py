"""Graph algorithms over the lineitem co-purchase graph.

Connectivity and structure: PageRank (q84), triangle counting
(q107/q218), hierarchy closure (q116), recursive CTE reachability
(q164), k-core peeling (q238), label propagation (q257), degree
assortativity (q258), edge embeddedness (q308), connected components
(q323), HITS (q324), Weisfeiler-Leman refinement (q331), k-hop reach
(q333), and modularity (q342).  Graph-powered applications (TextRank,
item-CF recommenders, DBSCAN, CF eval, coverage) moved to
graph_apps.py in the round-10 family regrouping (mechanical
relocation, zero behavior change — pre/post registry hash dump).

The co-purchase oracles share one CTE prelude per piece
(copurchase_ctes, min_label_ctes, _LPA_CTES), as the engine side shares
operators.graph; graph_apps.py and stats.py import them from here.

Scale contract shared by every query here: each iteration/round is one
O(edges) equi-join on integer keys plus one keyed aggregate — edge
volume rides a constant number of stages per round (the §8 graph
ladder measures per-edge cost FALLING 10x from 1x to 64x edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.anchors import sql_anchor_order
from osm_changesets_to_parquet_spark.operators.graph import (
    copurchase_pairs,
    k_core,
    label_propagation,
    oriented_triangles,
    pagerank,
    undirected,
)
from osm_changesets_to_parquet_spark.operators.iterutils import truncate_lineage
from osm_changesets_to_parquet_spark.queries import register


_D = 0.85


_K = 3


_SUPP_OFFSET = 1_000_000


_MAX_PART = 200


_EDGES_SQL = f"""
  SELECT l_partkey AS src, l_suppkey + {_SUPP_OFFSET} AS dst
  FROM lineitem WHERE l_partkey <= {_MAX_PART}
  UNION ALL
  SELECT l_suppkey + {_SUPP_OFFSET} AS src, l_partkey AS dst
  FROM lineitem WHERE l_partkey <= {_MAX_PART}
"""


def _iter_cte(k: int) -> str:
    prev = f"r{k - 1}"
    return f"""r{k} AS (
  SELECT nd.id,
         (1 - {_D}) / (SELECT n FROM nn) + {_D} * (
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


_Q84_SQL = f"""
WITH e AS ({_EDGES_SQL}),
nodes AS (
  SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{", ".join(_iter_cte(k) for k in range(1, _K + 1))}
SELECT id, ROUND(rank, 6) AS rank FROM r{_K} ORDER BY id
"""


@register(
    "q84_pagerank",
    _Q84_SQL,
    doc=(
        f"PageRank, {_K} power iterations (d={_D}) over the bipartite "
        "part<->supplier graph: per iteration one join of ranks onto "
        "out-edges + one keyed sum, lineage checkpointed — the oracle "
        "unrolls the identical arithmetic as chained CTEs"
    ),
    tables=("lineitem",),
)
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") <= _MAX_PART
    )
    fwd = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + _SUPP_OFFSET).alias("dst"),
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, n_iters=_K, damping=_D)
    return ranks.select("id", F.round("rank", 6).alias("rank")).orderBy("id")


# --- triangle counting ------------------------------------------------------

# co-supply graph: suppliers that both ship the same part in bulk
# (l_quantity >= 50 keeps the projection sparse — the full co-supply
# graph on the synthetic data is the complete K100, which has structure
# only a formula can love)
_Q107_SQL = """
WITH s AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS k
  FROM lineitem WHERE l_quantity >= 50
),
e AS (
  SELECT DISTINCT a.k AS x, b.k AS y
  FROM s a JOIN s b ON a.p = b.p AND a.k < b.k
)
SELECT COUNT(*) AS n_triangles
FROM e ab JOIN e bc ON ab.y = bc.x JOIN e ac ON ac.x = ab.x AND ac.y = bc.y
"""


@register(
    "q107_triangle_count",
    _Q107_SQL,
    doc=(
        "triangle count of the bulk co-supply graph via degree-ordered "
        "orientation (operators.graph.oriented_triangles: out-degree "
        "bounded O(sqrt(m)) regardless of hub degree, each triangle "
        "found once as an in-row intersection of out-adjacency arrays) "
        "— the oracle counts the same triangles by canonical id-ordered "
        "3-way self-join"
    ),
    tables=("lineitem",),
)
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 50)
    parts = li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("k")).distinct()
    a = parts.alias("a")
    b = parts.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.k") < F.col("b.k")))
        .select(F.col("a.k").alias("src"), F.col("b.k").alias("dst"))
        .distinct()
    )
    return triangle_count(pairs)


# ---------------------------------------------------------------------------
# Q116: forest transitive closure (operators/closure.py forest_closure)
# ---------------------------------------------------------------------------

# Synthetic 7-ary customer forest: parent(c) = c div 7; customers 1-6
# are roots.  Height <= 5 even at sf1 — rounds=5 covers 2^5 = 32 levels.
_Q116_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
  FROM customer
  UNION ALL
  SELECT node, cur // 7 AS cur, depth + 1 FROM chain WHERE cur >= 7
)
SELECT node, cur AS root, depth FROM chain WHERE cur < 7 ORDER BY node
"""


@register(
    "q116_hierarchy_closure",
    _Q116_SQL,
    doc=(
        "walk-to-root over a (child, parent) forest — the recursive-CTE "
        "workload Spark lacks natively — via pointer doubling "
        "(operators/closure.py): each round ONE self-equi-join squares "
        "the pointer, so height h closes in ceil(log2 h) shuffles, not "
        "h; lineage cut per round; the oracle is DuckDB's true "
        "WITH RECURSIVE over the same forest, so the iterative spelling "
        "is hash-matched against actual SQL recursion"
    ),
    tables=("customer",),
)
def q116(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.closure import forest_closure

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("node")
    )
    edges = c.where(F.col("node") >= 7).select(
        F.col("node").alias("child"), F.expr("node div 7").alias("parent")
    )
    return forest_closure(c, edges, rounds=5).orderBy("node")


# ---------------------------------------------------------------------------
# Q164: native recursive CTE (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

# The SAME string runs verbatim on both engines (q161's shared-ANSI
# discipline): FLOOR(cur / 7) instead of the engine-specific integer
# division, BIGINT casts pinned.  Semantically identical to q116's
# forest walk — q116 proves the pointer-doubling spelling (log₂ h
# shuffle rounds, the 100 TB path); this witnesses that Spark now runs
# the actual SQL recursion a reference user would paste in (one
# iteration per level — h rounds, fine for shallow hierarchies).
_Q164_SQL = """
WITH RECURSIVE chain AS (
  SELECT c_custkey AS node, c_custkey AS cur, CAST(0 AS BIGINT) AS depth
  FROM customer
  UNION ALL
  SELECT node, CAST(FLOOR(cur / 7) AS BIGINT) AS cur, depth + 1 AS depth
  FROM chain WHERE cur >= 7
)
SELECT node, cur AS root, depth FROM chain WHERE cur < 7 ORDER BY node
"""


@register(
    "q164_recursive_cte",
    _Q164_SQL,
    doc=(
        "native WITH RECURSIVE through spark.sql — the identical string "
        "is the DuckDB oracle (zero translation, q161's discipline) "
        "over the q116 7-ary customer forest; linear rounds per level "
        "(each iteration one self-union) vs q116's log-round pointer "
        "doubling, both now first-class"
    ),
    tables=("customer",),
)
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q164_SQL)


# ---------------------------------------------------------------------------
# The co-purchase graph, oracle side: the CTE preludes every lineitem
# graph oracle shares.  Each stays a DuckDB self-join, independent of
# operators.graph (the engine builds pairs in-row per order).
# ---------------------------------------------------------------------------


def copurchase_ctes(min_orders: int) -> str:
    """CTEs ``inc(l_orderkey, l_partkey)``, ``e(u, v, m)`` — part pairs
    ``u < v`` sharing ``m >= min_orders`` orders — and its symmetric
    edge list ``sym(src, dst, m)``."""
    return f"""inc AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(COUNT(*) AS BIGINT) AS m
  FROM inc a JOIN inc b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_orders}
),
sym AS MATERIALIZED (
  SELECT u AS src, v AS dst, m FROM e UNION ALL SELECT v, u, m FROM e
)"""


def min_label_ctes(adj: str, rounds: int) -> str:
    """CTEs ``l0 .. l{rounds}(id, lbl)``: min-label propagation over the
    symmetric edge list ``adj(src, dst)`` — every node starts as its own
    label and takes the least label of itself and its neighbors each
    round — plus ``conv(ok)``, 1 when round ``rounds`` moved no label.
    Labels only ever decrease, so a fixpoint is equal label sums; a
    deeper graph fails LOUDLY through error() instead of reporting
    unconverged components (the q238 guard).  Reading ``conv`` is what
    arms the guard."""
    steps = ",\n".join(
        f"""l{r} AS MATERIALIZED (
  SELECT n.id, LEAST(n.lbl, MIN(x.lbl)) AS lbl
  FROM l{r - 1} n JOIN {adj} a ON a.src = n.id JOIN l{r - 1} x ON x.id = a.dst
  GROUP BY n.id, n.lbl
)"""
        for r in range(1, rounds + 1)
    )
    return f"""l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM {adj}),
{steps},
conv AS (
  SELECT CASE WHEN (SELECT COALESCE(SUM(lbl), 0) FROM l{rounds})
                <> (SELECT COALESCE(SUM(lbl), 0) FROM l{rounds - 1})
              THEN error('min-label propagation not converged within '
                         || '{rounds} rounds')
              ELSE 1 END AS ok
)"""


# ---------------------------------------------------------------------------
# q218: triangle counting with degree orientation
# ---------------------------------------------------------------------------

_Q218_SQL = f"""
WITH {copurchase_ctes(1)},
deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
  ) GROUP BY n
),
o AS (
  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
),
wedge AS (
  SELECT a.t AS x, b.t AS y
  FROM o a JOIN o b ON a.s = b.s AND a.t < b.t
),
tri AS (
  SELECT COUNT(*) AS n FROM wedge w
  WHERE EXISTS (SELECT 1 FROM o
                WHERE LEAST(o.s, o.t) = w.x AND GREATEST(o.s, o.t) = w.y)
)
SELECT (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM deg) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles
"""


@register(
    "q218_triangle_count",
    _Q218_SQL,
    doc=(
        "triangle counting over the part co-purchase graph with "
        "DEGREE ORIENTATION (Suri & Vassilvitskii 2011 / Latapy's "
        "compact-forward, public): every undirected edge points from "
        "its lower-(degree, id) endpoint, so out-degree is bounded by "
        "O(sqrt(m)) — the hub whose naive wedge count is deg² "
        "contributes almost none as a source; each triangle is "
        "counted exactly once (at its source-top oriented edge) as "
        "the size of the in-row intersection of outadj(s) and "
        "outadj(t) summed over oriented edges "
        "(operators.graph.oriented_triangles), nothing materialized "
        "at wedge cardinality"
    ),
    tables=("lineitem",),
)
def q218(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the edge list feeds degree, orientation and the edge count
    e = truncate_lineage(copurchase_pairs(li, min_orders=1))
    deg, tri = oriented_triangles(e)
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(
            tri.agg(
                F.coalesce(F.sum(F.size("w")), F.lit(0))
                .cast("long")
                .alias("n_triangles")
            )
        )
    )


# ---------------------------------------------------------------------------
# q238: k-core decomposition by iterative peeling (round 7)
# ---------------------------------------------------------------------------

_Q238_K = 3
# the oracle statically unrolls this many peel rounds; peeling is
# idempotent at the fixpoint, so any round beyond convergence is a
# no-op — sf0.01 converges in 11 rounds, sf0.001 in 1
_Q238_ROUNDS = 16


def _peel_cte(r: int, k: int) -> str:
    prev = f"p{r - 1}"
    return f"""p{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  WHERE e.u IN (SELECT n FROM (
          SELECT n, COUNT(*) c FROM (
            SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
          ) GROUP BY n) WHERE c >= {k})
    AND e.v IN (SELECT n FROM (
          SELECT n, COUNT(*) c FROM (
            SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
          ) GROUP BY n) WHERE c >= {k})
)"""


_Q238_SQL = f"""
WITH {copurchase_ctes(2)},
p0 AS (SELECT u, v FROM e),
{", ".join(_peel_cte(r, _Q238_K) for r in range(1, _Q238_ROUNDS + 1))}
SELECT CAST({_Q238_K} AS BIGINT) AS k,
       (SELECT CAST(COUNT(DISTINCT n) AS BIGINT) FROM (
          SELECT u AS n FROM p{_Q238_ROUNDS}
          UNION ALL SELECT v FROM p{_Q238_ROUNDS})) AS n_nodes,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       -- convergence guard (ADVICE r07): the static unroll is only
       -- valid if the peel reached its fixpoint within _Q238_ROUNDS;
       -- at a scale factor deep enough to still be shedding edges in
       -- the last round, fail LOUDLY instead of reporting a non-core
       CAST(CASE WHEN (SELECT COUNT(*) FROM p{_Q238_ROUNDS})
                   <> (SELECT COUNT(*) FROM p{_Q238_ROUNDS - 1})
                 THEN error('q238 oracle: peel not converged within '
                            || '{_Q238_ROUNDS} rounds - raise _Q238_ROUNDS')
                 ELSE COALESCE(SUM(u + v), 0) END AS BIGINT) AS edge_id_sum
FROM p{_Q238_ROUNDS}
"""


@register(
    "q238_kcore",
    _Q238_SQL,
    doc=(
        f"{_Q238_K}-core of the repeat-co-purchase graph (parts that "
        "share >= 2 orders — the multiplicity floor keeps the "
        "projection sparse and heterogeneous): iterative peeling via "
        "operators/graph.k_core — each round is one degree agg + two "
        "semi-joins + ONE count() action with lineage truncated (the "
        "q117 star-contraction discipline), terminating at the "
        "edge-count fixpoint (11 rounds at sf0.01); the oracle "
        f"unrolls {_Q238_ROUNDS} statically-chained peel rounds, "
        "valid because peeling past the fixpoint is a no-op; output "
        "is the core's (n_nodes, n_edges, edge-id checksum)"
    ),
    tables=("lineitem",),
)
def q238(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(li, src="src", dst="dst")
    core = k_core(edges, k=_Q238_K)
    nodes = core.select(F.col("u").alias("n")).unionByName(
        core.select(F.col("v").alias("n"))
    )
    return (
        spark.range(1)
        .select(F.lit(_Q238_K).cast("long").alias("k"))
        .crossJoin(nodes.agg(F.count_distinct("n").alias("n_nodes")))
        .crossJoin(
            core.agg(
                F.count(F.lit(1)).alias("n_edges"),
                F.coalesce(F.sum(F.col("u") + F.col("v")), F.lit(0))
                .cast("long")
                .alias("edge_id_sum"),
            )
        )
    )


# ---------------------------------------------------------------------------
# q257: synchronous label propagation (4 unrolled rounds)
# ---------------------------------------------------------------------------

_Q257_ROUNDS = 4
# composite argmax key: maximize count, tie-break to the SMALLEST
# label — encoded as one BIGINT (labels are part keys < 10^9)
_Q257_KEY = "cnt * 1000000000 - lbl"


def _lpa_cte(r: int) -> str:
    prev = f"l{r - 1}"
    return f"""l{r} AS MATERIALIZED (
  SELECT node, arg_max(lbl, {_Q257_KEY}) AS lbl FROM (
    SELECT s.dst AS node, p.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM sym s JOIN {prev} p ON p.node = s.src
    GROUP BY s.dst, p.lbl
  ) GROUP BY node
)"""


# the oracle of operators.graph.label_propagation over sym(src, dst):
# CTEs l0 .. l4 (node, lbl), shared by q257 and q342
_LPA_CTES = f"""l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl FROM sym
),
{", ".join(_lpa_cte(r) for r in range(1, _Q257_ROUNDS + 1))}"""


_Q257_SQL = f"""
WITH {copurchase_ctes(2)},
{_LPA_CTES}
SELECT CAST(lbl AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members
FROM l{_Q257_ROUNDS}
GROUP BY lbl ORDER BY n_members DESC, community LIMIT 20
"""


@register(
    "q257_label_propagation",
    _Q257_SQL,
    doc=(
        f"synchronous label propagation ({_Q257_ROUNDS} fixed rounds, "
        "operators.graph.label_propagation) over the repeat-co-purchase "
        "graph: each round is ONE (node,label) count rollup + ONE keyed "
        "max_by argmax on the single BIGINT key cnt*1e9-lbl (most "
        "frequent label, ties to the smallest), never a per-node "
        "window; lineage truncated per round; FIXED round count "
        "because sync LPA can oscillate — the oracle unrolls the same "
        "rounds as MATERIALIZED CTEs (_LPA_CTES, shared with q342); "
        "output = 20 largest communities"
    ),
    tables=("lineitem",),
)
def q257(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sym = truncate_lineage(undirected(copurchase_pairs(li)))
    labels = label_propagation(sym, _Q257_ROUNDS)
    return (
        labels.groupBy(F.col("lbl").cast("long").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.col("n_members").desc(), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q258: degree assortativity (Pearson over directed edge endpoints)
# ---------------------------------------------------------------------------

_Q258_SQL = f"""
WITH {copurchase_ctes(2)},
deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
pairs AS (
  SELECT du.d AS x, dv.d AS y
  FROM sym s JOIN deg du ON du.n = s.src JOIN deg dv ON dv.n = s.dst
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs
)
SELECT n AS n_directed_edges,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS assortativity
FROM s
"""


@register(
    "q258_degree_assortativity",
    _Q258_SQL,
    doc=(
        "degree assortativity (Newman 2002): Pearson correlation of "
        "endpoint degrees over the DIRECTED edge list of the "
        "repeat-co-purchase graph — do high-degree parts co-purchase "
        "with high-degree parts?  Degrees are one keyed rollup "
        "broadcast onto the edges, the coefficient comes from exact "
        "integer power sums (the q232 discipline); negative = "
        "hub-leaf structure, positive = rich-club"
    ),
    tables=("lineitem",),
)
def q258(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sym = undirected(copurchase_pairs(li))
    deg = sym.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("d")
    )
    pairs = (
        sym.join(
            deg.select(F.col("n").alias("src"), F.col("d").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("n").alias("dst"), F.col("d").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n_d * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n_d * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# q308: edge embeddedness — per-edge triangle support (round 8)
# ---------------------------------------------------------------------------

_Q308_TOPK = 20

# oracle: independent spelling — common neighbors via the symmetrized
# adjacency self-join (the engine intersects oriented out-adjacency
# arrays; the two agree exactly, which is the point)
_Q308_SQL = f"""
WITH {copurchase_ctes(1)},
deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY src),
t AS (
  SELECT e.u, e.v, CAST(COUNT(*) AS BIGINT) AS tri
  FROM e JOIN sym a ON a.src = e.u JOIN sym b ON b.src = e.v AND b.dst = a.dst
  GROUP BY e.u, e.v
),
top AS (
  SELECT u, v, tri FROM t ORDER BY tri DESC, u, v LIMIT {_Q308_TOPK}
)
SELECT top.u, top.v, top.tri,
       ROUND(CAST(top.tri AS DOUBLE)
             / (du.d + dv.d - 2 - top.tri), 6) AS jaccard
FROM top JOIN deg du ON du.n = top.u JOIN deg dv ON dv.n = top.v
ORDER BY top.tri DESC, top.u, top.v
"""


@register(
    "q308_edge_embeddedness",
    _Q308_SQL,
    doc=(
        "edge embeddedness (per-EDGE triangle support + neighborhood "
        "Jaccard — the tie-strength metric of Granovetter-style graph "
        "curation, and the standard edge feature for link prediction): "
        "degree-oriented adjacency-array intersection — each oriented "
        "edge (s,t) finds its triangles in-row as the intersection of "
        "outadj(s) and outadj(t) (operators.graph.oriented_triangles; "
        "out-degree of a degree-oriented graph is O(sqrt m), so the "
        "arrays are hub-safe), then every triangle credits its three "
        "undirected edges; nothing is materialized at wedge "
        "cardinality.  The oracle counts common neighbors through the "
        "symmetrized adjacency self-join (an independent spelling).  "
        "Jaccard = tri/(deg_u + deg_v - 2 - tri) composed from "
        "integers, ROUND 6; top-k is TakeOrdered with a total "
        "(tri desc, u, v) order"
    ),
    tables=("lineitem",),
)
def q308(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Triangles come from operators.graph.oriented_triangles: each
    # oriented edge (s,t) carries w, the in-row intersection of the
    # out-adjacency arrays of s and t, so the only exploded stream is
    # 2 rows per TRIANGLE (3.8M at sf0.1) and nothing is materialized
    # at wedge cardinality.
    li = load_table(spark, sf_dir, "lineitem")
    e = truncate_lineage(copurchase_pairs(li, min_orders=1))
    deg, tri = oriented_triangles(e)
    ed = tri.where(F.size("w") > 0)
    # each triangle {s,t,w} contributes 1 to ALL THREE of its edges:
    # (s,t) takes |w| in-row, (s,w)/(t,w) via a 2-rows-per-triangle
    # explode — each aggregated as an explicit count so one groupBy
    # sums them
    base = ed.select(
        F.least("s", "t").alias("u"),
        F.greatest("s", "t").alias("v"),
        F.size("w").cast("long").alias("c"),
    )
    others = (
        ed.select("s", "t", F.explode("w").alias("x"))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("s", "x").alias("u"),
                        F.greatest("s", "x").alias("v"),
                    ),
                    F.struct(
                        F.least("t", "x").alias("u"),
                        F.greatest("t", "x").alias("v"),
                    ),
                )
            ).alias("ed")
        )
        .select("ed.u", "ed.v", F.lit(1).cast("long").alias("c"))
    )
    per_edge = (
        base.unionByName(others)
        .groupBy("u", "v")
        .agg(F.sum("c").cast("long").alias("tri"))
    )
    top = per_edge.orderBy(F.col("tri").desc(), "u", "v").limit(_Q308_TOPK)
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    return (
        top.join(F.broadcast(du), "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            "tri",
            F.round(
                F.col("tri").cast("double")
                / (F.col("du") + F.col("dv") - 2 - F.col("tri")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("tri").desc(), "u", "v")
    )


# ---------------------------------------------------------------------------
# q323: connected components of the repeat-co-purchase graph (round 8)
# ---------------------------------------------------------------------------

# the oracle statically unrolls this many min-label rounds; propagation
# is idempotent at the fixpoint (sf0.001 converges in 4 rounds,
# sf0.01/sf0.1 in 11), with min_label_ctes' loud convergence guard
_Q323_ROUNDS = 16


_Q323_SQL = f"""
WITH {copurchase_ctes(2)},
{min_label_ctes("sym", _Q323_ROUNDS)},
hist AS (
  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
  FROM l{_Q323_ROUNDS} GROUP BY lbl
)
SELECT CAST(sz AS BIGINT) AS size,
       CAST(COUNT(*) * (SELECT ok FROM conv) AS BIGINT) AS n_components
FROM hist GROUP BY sz ORDER BY size
"""


@register(
    "q323_connected_components",
    _Q323_SQL,
    doc=(
        "connected components of the repeat-co-purchase graph (q238's "
        "projection: parts sharing >= 2 orders) as a component-size "
        "histogram — the general-graph registration of "
        "operators/clusters.connected_components: iterative min-label "
        "propagation, ONE job per round (the convergence counter "
        "rides the checkpoint action as an observe() metric), lineage "
        "truncated per round, O(diameter) rounds, with the r14 "
        "single-task union-find finish when the observed edge count "
        "fits one task (the Kiveris local endgame — this graph is "
        "3,573 edges at sf0.1, so the fixture-scale path is the local "
        "finish; the iterative path is unchanged for graphs over the "
        "cap).  Build: in-row pair expansion from one collect_set per "
        "order (no self-join).  Oracle: "
        f"{_Q323_ROUNDS} statically unrolled MATERIALIZED min-label "
        "rounds (min_label_ctes, shared with q337) with the q238 "
        "loud-error convergence guard"
    ),
    tables=("lineitem",),
)
def q323(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.clusters import (
        connected_components,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # in-row build, shared authority (operators.graph.copurchase_pairs)
    pairs = copurchase_pairs(li, src="p1", dst="p2")
    comp = connected_components(pairs, "p1", "p2")
    sizes = comp.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
        .orderBy("size")
    )


# ---------------------------------------------------------------------------
# q324: HITS hubs & authorities over the customer->part order graph (round 8)
# ---------------------------------------------------------------------------

# Kleinberg (1999).  Two full iterations (auth <- hubs, hub <- auths)
# with the q243 integer-quantization discipline in place of per-round
# float normalization: iteration 1 runs on exact BIGINTs (h0 = 1 makes
# a1 the indegree), the intermediate scores are L1-normalized as an
# exact BIGINT/BIGINT ratio and QUANTIZED to integer nano-units
# (floor(x*1e9 + 0.5)), so iteration 2 is again pure integer sums and
# both engines see bit-identical doubles at every step.  Headroom: the
# quantized scale caps every partial at <= 1e9 * deg, so the integer
# sums survive to ~1e9-edge graphs (vs the un-normalized form, whose
# |C|^3-ish growth overflows BIGINT near sf~0.5).
_Q324_MAX_PART = 200


_Q324_Q = 1_000_000_000


_Q324_SQL = f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey <= {_Q324_MAX_PART}
),
a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS s FROM e GROUP BY p),
h1 AS (
  SELECT e.c, CAST(SUM(a1.s) AS BIGINT) AS s
  FROM e JOIN a1 ON a1.p = e.p GROUP BY e.c
),
th1 AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM h1),
h1q AS (
  SELECT c, CAST(FLOOR(s * {_Q324_Q}.0 / (SELECT t FROM th1) + 0.5)
                 AS BIGINT) AS q
  FROM h1
),
a2 AS (
  SELECT e.p, CAST(SUM(h1q.q) AS BIGINT) AS s
  FROM e JOIN h1q ON h1q.c = e.c GROUP BY e.p
),
ta2 AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM a2),
a2q AS (
  SELECT p, CAST(FLOOR(s * {_Q324_Q}.0 / (SELECT t FROM ta2) + 0.5)
                 AS BIGINT) AS q
  FROM a2
),
h2 AS (
  SELECT e.c, CAST(SUM(a2q.q) AS BIGINT) AS s
  FROM e JOIN a2q ON a2q.p = e.p GROUP BY e.c
),
th2 AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM h2)
SELECT side, id, score FROM (
  SELECT 'auth' AS side, p AS id,
         ROUND(s * 1.0 / (SELECT t FROM ta2), 6) AS score FROM a2
  UNION ALL
  SELECT 'hub' AS side, c AS id,
         ROUND(s * 1.0 / (SELECT t FROM th2), 6) AS score FROM h2
)
ORDER BY side, id
"""


@register(
    "q324_hits",
    _Q324_SQL,
    doc=(
        "HITS hubs & authorities (Kleinberg 1999) over the directed "
        "customer->part order bipartite graph, 2 full iterations: "
        "iteration 1 is exact integer sums (uniform start makes the "
        "first authority pass the indegree), the L1 normalization "
        "between iterations is an exact BIGINT/BIGINT ratio quantized "
        "to integer nano-units (the q243 discipline — per-round float "
        "normalization would make every subsequent sum order-"
        "dependent), iteration 2 is again pure integer sums.  Per "
        "iteration: one join of scores onto the edge list + one keyed "
        "sum — shuffles carry (node, BIGINT) pairs only; the edge "
        "list is materialized once and reused by all four passes"
    ),
    tables=("orders", "lineitem"),
)
def q324(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_partkey") <= _Q324_MAX_PART
    )
    e = truncate_lineage(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a1 = e.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("s"))
    h1 = (
        e.join(a1, "p")
        .groupBy("c")
        .agg(F.sum("s").cast("long").alias("s"))
    )
    th1 = h1.agg(F.sum("s").cast("long").alias("t"))
    h1q = h1.crossJoin(th1).select(
        "c",
        F.floor(F.col("s") * F.lit(float(_Q324_Q)) / F.col("t") + 0.5)
        .cast("long")
        .alias("q"),
    )
    a2 = truncate_lineage(
        e.join(h1q, "c").groupBy("p").agg(F.sum("q").cast("long").alias("s"))
    )
    ta2 = a2.agg(F.sum("s").cast("long").alias("t"))
    a2q = a2.crossJoin(ta2).select(
        "p",
        F.floor(F.col("s") * F.lit(float(_Q324_Q)) / F.col("t") + 0.5)
        .cast("long")
        .alias("q"),
    )
    h2 = truncate_lineage(
        e.join(a2q, "p").groupBy("c").agg(F.sum("q").cast("long").alias("s"))
    )
    th2 = h2.agg(F.sum("s").cast("long").alias("t"))
    auth = a2.crossJoin(ta2).select(
        F.lit("auth").alias("side"),
        F.col("p").alias("id"),
        F.round(F.col("s") * F.lit(1.0) / F.col("t"), 6).alias("score"),
    )
    hub = h2.crossJoin(th2).select(
        F.lit("hub").alias("side"),
        F.col("c").alias("id"),
        F.round(F.col("s") * F.lit(1.0) / F.col("t"), 6).alias("score"),
    )
    return auth.unionByName(hub).orderBy("side", "id")


# ---------------------------------------------------------------------------
# q331: Weisfeiler-Lehman color refinement over the co-purchase graph
# ---------------------------------------------------------------------------

# 1-WL (Weisfeiler & Lehman 1968; the graph-isomorphism fingerprint and
# the expressiveness ceiling of message-passing GNNs): each node's color
# is iteratively replaced by a hash of (own color, sorted multiset of
# neighbor colors).  The color-class partition can only REFINE round
# over round; its statistics (class count, largest class, singletons)
# are the structural-diversity profile of the graph.  Colors are md5
# hex strings — identical bytes in both engines — built from
# degree-string seeds; the neighbor multiset is serialized by an
# in-group lexicographic sort (array_sort / string_agg ORDER BY: both
# binary collation).
_Q331_ROUNDS = 2


_Q331_SQL = f"""
WITH {copurchase_ctes(2)},
c0 AS (SELECT src AS v, CAST(COUNT(*) AS VARCHAR) AS col FROM sym GROUP BY src),
c1 AS (
  SELECT a.src AS v,
         md5(own.col || '|' || string_agg(n.col, ',' ORDER BY n.col)) AS col
  FROM sym a JOIN c0 n ON n.v = a.dst JOIN c0 own ON own.v = a.src
  GROUP BY a.src, own.col
),
c2 AS (
  SELECT a.src AS v,
         md5(own.col || '|' || string_agg(n.col, ',' ORDER BY n.col)) AS col
  FROM sym a JOIN c1 n ON n.v = a.dst JOIN c1 own ON own.v = a.src
  GROUP BY a.src, own.col
),
s0 AS (SELECT col, CAST(COUNT(*) AS BIGINT) AS n FROM c0 GROUP BY col),
s1 AS (SELECT col, CAST(COUNT(*) AS BIGINT) AS n FROM c1 GROUP BY col),
s2 AS (SELECT col, CAST(COUNT(*) AS BIGINT) AS n FROM c2 GROUP BY col)
SELECT r, n_classes, max_class, n_singletons FROM (
  SELECT 0 AS r, CAST(COUNT(*) AS BIGINT) AS n_classes,
         CAST(MAX(n) AS BIGINT) AS max_class,
         CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) AS n_singletons
  FROM s0
  UNION ALL
  SELECT 1, CAST(COUNT(*) AS BIGINT), CAST(MAX(n) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(MAX(n) AS BIGINT),
         CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) FROM s2
)
ORDER BY r
"""


@register(
    "q331_wl_refinement",
    _Q331_SQL,
    doc=(
        "Weisfeiler-Lehman color refinement (1-WL, the graph-"
        "isomorphism fingerprint and the expressiveness ceiling of "
        "message-passing GNNs) over the repeat-co-purchase graph, "
        f"{_Q331_ROUNDS} rounds: color(v) <- md5(own | sorted "
        "neighbor-color multiset), seeded from degree strings; per "
        "round ONE join of the 16-byte color table onto the adjacency "
        "+ one keyed sort-serialize aggregate (shuffles carry (node, "
        "md5) pairs, never text), colors materialized once per round "
        "(each feeds the own- AND neighbor-side of the next).  The "
        "output is the per-round partition profile (classes / largest "
        "/ singletons) — monotone refining by construction"
    ),
    tables=("lineitem",),
)
def q331(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    adj = truncate_lineage(undirected(copurchase_pairs(li)))
    colors = truncate_lineage(
        adj.groupBy(F.col("src").alias("v")).agg(
            F.count(F.lit(1)).cast("string").alias("col")
        )
    )
    stats = []

    def class_stats(c: DataFrame, r: int) -> DataFrame:
        s = c.groupBy("col").agg(F.count(F.lit(1)).cast("long").alias("n"))
        return s.agg(
            F.lit(r).cast("int").alias("r"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.max("n").cast("long").alias("max_class"),
            F.sum((F.col("n") == 1).cast("long")).alias("n_singletons"),
        )

    stats.append(class_stats(colors, 0))
    for r in range(1, _Q331_ROUNDS + 1):
        nb = adj.join(
            colors.select(F.col("v").alias("dst"), F.col("col").alias("ncol")),
            "dst",
        )
        agg = nb.groupBy(F.col("src").alias("v")).agg(
            F.array_join(F.array_sort(F.collect_list("ncol")), ",").alias(
                "nbs"
            )
        )
        colors = truncate_lineage(
            agg.join(colors, "v").select(
                "v",
                F.md5(
                    F.concat(F.col("col"), F.lit("|"), F.col("nbs"))
                ).alias("col"),
            )
        )
        stats.append(class_stats(colors, r))
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out.orderBy("r")


# ---------------------------------------------------------------------------
# q333: bounded k-hop reach from a fixed-k anchor seed panel (round 8)
# ---------------------------------------------------------------------------

# The friend-of-friend / blast-radius probe: exact 1-hop and 2-hop
# neighborhood sizes for 16 deterministic seed nodes.  The seed panel
# is operators/anchors.fixed_k_anchors (hash-rank TakeOrdered — a
# FIXED number of seeds regardless of corpus size, the q179 lesson),
# so the expansion cost is bounded by k * max_deg^2 candidate rows,
# never corpus-shaped; a full all-pairs 2-hop census on this graph
# would shuffle the squared wedge volume (41M oriented wedges at
# sf0.1, the count q218 avoids materializing) for no extra operator
# coverage.
_Q333_K = 16


_Q333_SQL = f"""
WITH {copurchase_ctes(2)},
nodes AS (SELECT DISTINCT src AS v FROM sym),
seeds AS (
  SELECT v AS seed FROM nodes
  ORDER BY {sql_anchor_order("v")}, v LIMIT {_Q333_K}
),
n1 AS (
  SELECT s.seed, a.dst AS nbr FROM seeds s JOIN sym a ON a.src = s.seed
),
n2 AS (
  SELECT DISTINCT n1.seed, a.dst AS cand
  FROM n1 JOIN sym a ON a.src = n1.nbr
  WHERE a.dst <> n1.seed
),
n2x AS (
  SELECT seed, cand FROM n2
  WHERE NOT EXISTS (SELECT 1 FROM n1
                    WHERE n1.seed = n2.seed AND n1.nbr = n2.cand)
),
c1 AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_1hop FROM n1 GROUP BY seed),
c2 AS (SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_2hop_new
       FROM n2x GROUP BY seed)
SELECT s.seed, COALESCE(c1.n_1hop, 0) AS n_1hop,
       COALESCE(c2.n_2hop_new, 0) AS n_2hop_new,
       1 + COALESCE(c1.n_1hop, 0) + COALESCE(c2.n_2hop_new, 0) AS reach
FROM seeds s
LEFT JOIN c1 ON c1.seed = s.seed
LEFT JOIN c2 ON c2.seed = s.seed
ORDER BY s.seed
"""


@register(
    "q333_khop_reach",
    _Q333_SQL,
    doc=(
        "exact 2-hop neighborhood sizes (the friend-of-friend / "
        f"blast-radius probe) for a fixed panel of {_Q333_K} hash-rank "
        "anchor seeds over the repeat-co-purchase graph: 1-hop via one "
        "seed-filtered adjacency join, 2-hop via one more join with "
        "the seed itself and its 1-hop set anti-joined away — the "
        "expansion is bounded by k*max_deg^2 rows because the seed "
        "panel is FIXED-k (operators/anchors, the q179 discipline), "
        "never corpus-proportional; an all-pairs 2-hop census would "
        "shuffle the squared wedge volume (41M oriented wedges at "
        "sf0.1) for this graph"
    ),
    tables=("lineitem",),
)
def q333(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.anchors import (
        fixed_k_anchors,
    )

    li = load_table(spark, sf_dir, "lineitem")
    adj = truncate_lineage(undirected(copurchase_pairs(li)))
    nodes = adj.select(F.col("src").alias("v")).distinct()
    seeds = truncate_lineage(
        fixed_k_anchors(nodes, "v", _Q333_K).select(
            F.col("v").alias("seed")
        )
    )
    n1 = truncate_lineage(
        seeds.join(adj, F.col("seed") == F.col("src")).select(
            "seed", F.col("dst").alias("nbr")
        )
    )
    n2 = (
        n1.join(
            adj.select(F.col("src").alias("nbr"), F.col("dst").alias("cand")),
            "nbr",
        )
        .where(F.col("cand") != F.col("seed"))
        .select("seed", "cand")
        .distinct()
    )
    n2x = n2.join(
        n1.select("seed", F.col("nbr").alias("cand")),
        ["seed", "cand"],
        "left_anti",
    )
    c1 = n1.groupBy("seed").agg(F.count(F.lit(1)).cast("long").alias("n_1hop"))
    c2 = n2x.groupBy("seed").agg(
        F.count(F.lit(1)).cast("long").alias("n_2hop_new")
    )
    return (
        seeds.join(c1, "seed", "left")
        .join(c2, "seed", "left")
        .select(
            "seed",
            F.coalesce(F.col("n_1hop"), F.lit(0)).cast("long").alias("n_1hop"),
            F.coalesce(F.col("n_2hop_new"), F.lit(0))
            .cast("long")
            .alias("n_2hop_new"),
            (
                F.lit(1)
                + F.coalesce(F.col("n_1hop"), F.lit(0))
                + F.coalesce(F.col("n_2hop_new"), F.lit(0))
            )
            .cast("long")
            .alias("reach"),
        )
        .orderBy("seed")
    )


# ---------------------------------------------------------------------------
# q342: modularity of the LPA partition (round 8)
# ---------------------------------------------------------------------------

# Newman & Girvan (2004): Q = Σ_c [ m_c/m − (D_c/2m)² ] — the quality
# score for q257's 4-round LPA communities that turns "we found
# communities" into a graded claim.  Everything up to the final ratios
# is exact integers: m (edges), m_c (within-community edges — one
# semi-comparison join of edge endpoints' labels), D_c (degree mass
# per community).  The per-community terms are identical doubles both
# engines; the Σ over communities is float (6dp absorbs add order).
_Q342_SQL = f"""
WITH {copurchase_ctes(2)},
{_LPA_CTES},
lab AS (SELECT node, lbl FROM l{_Q257_ROUNDS}),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
mc AS (
  SELECT lu.lbl, CAST(COUNT(*) AS BIGINT) AS m_c
  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
  WHERE lu.lbl = lv.lbl GROUP BY lu.lbl
),
dg AS (
  SELECT l.lbl, CAST(COUNT(*) AS BIGINT) AS d_c
  FROM sym s JOIN lab l ON l.node = s.src GROUP BY l.lbl
),
terms AS (
  SELECT dg.lbl,
         COALESCE(mc.m_c, 0) * 1.0 / m.m
           - (dg.d_c * 1.0 / (2 * m.m)) * (dg.d_c * 1.0 / (2 * m.m)) AS q
  FROM dg LEFT JOIN mc ON mc.lbl = dg.lbl CROSS JOIN m
)
SELECT (SELECT m FROM m) AS n_edges,
       CAST(COUNT(*) AS BIGINT) AS n_communities,
       ROUND(SUM(q), 6) AS modularity
FROM terms
"""


@register(
    "q342_modularity",
    _Q342_SQL,
    doc=(
        "Newman-Girvan modularity of q257's 4-round LPA partition — "
        "the quality score that grades the community structure: "
        "Q = Σ_c [m_c/m − (D_c/2m)²] with every count exact integer "
        "(within-community edges by ONE label-comparison join of "
        "edge endpoints, degree mass by one keyed rollup) and only "
        "the |communities|-term final sum floating (6dp).  Runs "
        "q257's operators.graph.label_propagation engine-side and its "
        "_LPA_CTES oracle-side, so the partition under audit is "
        "q257's by construction"
    ),
    tables=("lineitem",),
)
def q342(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = truncate_lineage(copurchase_pairs(li))
    sym = truncate_lineage(undirected(e))
    labels = label_propagation(sym, _Q257_ROUNDS)
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    lu = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lv = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    mc = (
        e.join(lu, "u")
        .join(lv, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
    )
    dg = (
        sym.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("d_c"))
    )
    q = (
        F.coalesce(F.col("m_c"), F.lit(0)) * F.lit(1.0) / F.col("m")
        - (F.col("d_c") * F.lit(1.0) / (2 * F.col("m")))
        * (F.col("d_c") * F.lit(1.0) / (2 * F.col("m")))
    )
    terms = dg.join(mc, "lbl", "left").crossJoin(m)
    return terms.select(q.alias("q"), "m").agg(
        F.first("m").cast("long").alias("n_edges"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.round(F.sum("q"), 6).alias("modularity"),
    )

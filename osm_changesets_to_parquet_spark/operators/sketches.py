"""DataFrame-native Count-Min Sketch: heavy-hitter estimation whose
sketch is itself a (depth x width) DataFrame.

Why not a binary sketch blob: Spark's ``count_min_sketch`` aggregate
returns an opaque byte array with no probe function in SQL — useless
for composition.  Building the sketch *as a table* keeps everything in
the engine: construction is one explode + one keyed count (map-side
partials make the shuffle O(depth x width), independent of the token
count), merging two sketches is a union + sum, and probing is a
broadcast join + min.  All integer math uses the same portable
polynomial hash as operators.dedup, so the entire sketch — every
counter — can be hash-matched against a SQL oracle.

Guarantee (standard CMS): estimate >= true count always;
estimate <= true + eps*N with probability 1-delta for
width >= e/eps, depth >= ln(1/delta).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.operators.dedup import HASH_MOD, char_hash

CMS_DEPTH = 4
CMS_WIDTH = 1024
_rng = random.Random(424242)
CMS_A = [_rng.randrange(1, HASH_MOD) for _ in range(CMS_DEPTH)]
CMS_B = [_rng.randrange(0, HASH_MOD) for _ in range(CMS_DEPTH)]


def cms_bucket(token_hash: Column, j: int) -> Column:
    """Row j's bucket for a pre-hashed token."""
    return ((F.lit(CMS_A[j]) * token_hash + F.lit(CMS_B[j])) % F.lit(HASH_MOD)) % F.lit(
        CMS_WIDTH
    )


def cms_build(tokens: DataFrame, token_col: str = "token") -> DataFrame:
    """Build the sketch table (j, bucket, cnt) from a token stream.

    One pass: per-row hash fold, explode into CMS_DEPTH (j, bucket)
    pairs, keyed count.  The shuffle carries at most depth x width
    counters after map-side combine.

    The token hash is the vectorized Arrow kernel and is materialized
    ONCE per row (r14): inlining the interpreted HOF fold into the
    CMS_DEPTH bucket expressions re-evaluated it per sketch row.
    """
    from osm_changesets_to_parquet_spark.operators import fasthash

    hashed = tokens.select(fasthash.char_hash_udf(F.col(token_col)).alias("__th"))
    rows = hashed.select(
        F.posexplode(
            F.array(*[cms_bucket(F.col("__th"), j) for j in range(CMS_DEPTH)])
        ).alias("j", "bucket")
    )
    return rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(sketch: DataFrame, queries: DataFrame, token_col: str = "token") -> DataFrame:
    """Estimate each query token's count: min over rows of its counters.

    ``queries`` is small (the candidate heavy hitters) and broadcasts;
    the sketch side is depth x width at most.  Missing counters (bucket
    never touched) read as 0.
    """
    th = char_hash(F.col(token_col))
    probes = queries.select(
        token_col,
        F.posexplode(
            F.array(*[cms_bucket(th, j) for j in range(CMS_DEPTH)])
        ).alias("j", "bucket"),
    )
    joined = probes.join(sketch, ["j", "bucket"], "left").select(
        token_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(token_col).agg(F.min("cnt").alias("cms_est"))


# ---------------------------------------------------------------------------
# Bloom filter: semi-join pre-filtering (runtime-filter pattern)
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_K = 3
_brng = random.Random(777)
BLOOM_A = [_brng.randrange(1, HASH_MOD) for _ in range(BLOOM_K)]
BLOOM_B = [_brng.randrange(0, HASH_MOD) for _ in range(BLOOM_K)]


def bloom_positions(key: Column) -> list[Column]:
    """The BLOOM_K bit positions of an integer key."""
    return [
        ((F.lit(a) * key + F.lit(b)) % F.lit(HASH_MOD)) % F.lit(BLOOM_BITS)
        for a, b in zip(BLOOM_A, BLOOM_B)
    ]


def _bloom_key(df: DataFrame, key: str | Column | list[str]) -> Column:
    """Normalize any key spec to the integer domain the bit hashes need.

    - integer column/expr -> cast long, used directly;
    - string column/expr  -> portable char_hash (same fold as dedup);
    - list of columns     -> composite: null-safe '|'-joined string,
      then char_hash.

    Build and probe sides MUST resolve through the same rule — they do,
    because both call this on their own schema.
    """
    if isinstance(key, (list, tuple)):
        col = F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in key])
        return char_hash(col)
    col = F.col(key) if isinstance(key, str) else key
    dtype = df.select(col.alias("__k")).schema[0].dataType.simpleString()
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return col.cast("long")
    return char_hash(col.cast("string"))


def bloom_build(keys: DataFrame, key_col: str | Column | list[str]) -> DataFrame:
    """Build the filter as a one-column (bit) DataFrame of set bits.

    At most BLOOM_BITS rows regardless of key count — always
    broadcastable.  ``key_col`` may be an integer column, a string
    column, any Column expression, or a list of column names (composite
    key).
    """
    return (
        keys.select(
            F.explode(F.array(*bloom_positions(_bloom_key(keys, key_col)))).alias("bit")
        )
        .distinct()
    )


def bloom_prefilter(
    probe: DataFrame, bloom: DataFrame, key_col: str | Column | list[str]
) -> DataFrame:
    """Keep probe rows whose key MIGHT be in the filter (all K bits set).

    The probe side never shuffles: the bit table broadcasts and the
    membership test is K broadcast lookups per row — the semi-join
    pre-filter that spares the big side a full shuffle when the final
    join is selective.  False positives pass (by design) and are
    eliminated by the real join downstream; true keys always pass.
    ``key_col`` accepts the same specs as :func:`bloom_build` and must
    name the same logical key.
    """
    pos = bloom_positions(_bloom_key(probe, key_col))
    out = probe
    for i, p in enumerate(pos):
        b = bloom.select(F.col("bit").alias(f"__b{i}"))
        out = out.join(
            b, p == F.col(f"__b{i}"), "left_semi"
        )
    return out


# --- HyperLogLog (Apache DataSketches, JVM-native) --------------------------
#
# Unlike the CMS/Bloom table sketches above, HLL uses Spark's built-in
# DataSketches aggregates (hll_sketch_agg / hll_union_agg, Spark >=3.5):
# the sketch is a binary column, so a sketch TABLE keyed by (source,
# day, ...) is the incremental-distinct-count building block — union
# sketches instead of rescanning history.  Merging is associative and
# loss-free at fixed lg_k; the shuffle carries ~(1<<lg_k) bytes per
# key, never the raw ids.  Estimates are deterministic for identical
# input sets (DataSketches HLL has no RNG), but NOT SQL-portable, so
# the registered query (q108) verifies a relative-error bound against
# the exact distinct count rather than hash-matching raw estimates.


def hll_sketches(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-key HLL sketch table: (key_cols..., hll: binary)."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias("hll")
    )


def hll_rollup(
    sketches: DataFrame,
    key_cols: list[str],
    lg_k: int = 12,
    sketch_col: str = "hll",
) -> DataFrame:
    """Merge sketches to a coarser key — no re-scan of the base data."""
    return sketches.groupBy(*key_cols).agg(
        F.hll_union_agg(F.col(sketch_col), F.lit(False)).alias(sketch_col)
    )


def hll_estimate(sketches: DataFrame, sketch_col: str = "hll") -> DataFrame:
    """Replace the sketch column with its cardinality estimate (long)."""
    return sketches.withColumn(
        "uniques_est", F.hll_sketch_estimate(F.col(sketch_col))
    ).drop(sketch_col)


def int_key_hash(col: Column) -> Column:
    """Fold a non-negative 64-bit integer key into [0, HASH_MOD).

    The same overflow-safe spelling as operators.quality.hash_bucket
    (fold below 2^31, Knuth multiply) so the SQL mirror is
    ``sql_hash_bucket(key, HASH_MOD)`` — identical integer math in any
    engine.
    """
    from osm_changesets_to_parquet_spark.operators.quality import ID_FOLD, KNUTH

    return ((col % F.lit(ID_FOLD)) * F.lit(KNUTH)) % F.lit(HASH_MOD)


def cms_build_keys(keys: DataFrame, key_col: str) -> DataFrame:
    """CMS over an integer key stream (same table shape as cms_build)."""
    th = int_key_hash(F.col(key_col))
    rows = keys.select(
        F.posexplode(
            F.array(*[cms_bucket(th, j) for j in range(CMS_DEPTH)])
        ).alias("j", "bucket")
    )
    return rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_join_estimate(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two CMS tables: the sketch
    inner product (Cormode & Muthukrishnan 2005, public).

    |A JOIN B on key| = sum_v fA(v)*fB(v); each depth row j estimates
    it as sum_bucket cntA[j,b]*cntB[j,b] (always an OVERestimate —
    colliding keys add cross terms), and the estimate is the MIN over
    the depth rows.  Cost: the join carries at most depth x width
    counters per side — join-size estimation without running the join,
    the optimizer-statistics primitive.  Returns one row
    ``(cms_join_est)``.
    """
    dot = (
        a.join(b.withColumnRenamed("cnt", "cnt_b"), ["j", "bucket"])
        .groupBy("j")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("dot"))
    )
    return dot.agg(F.min("dot").alias("cms_join_est"))


# ---------------------------------------------------------------------------
# SpaceSaving heavy hitters: bounded-memory candidates + exact recount
# ---------------------------------------------------------------------------


def spacesaving_candidates(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition SpaceSaving summaries (Metwally et al., "Efficient
    computation of frequent and top-k elements in data streams", ICDT
    2005 — public algorithm), capacity ``k`` counters per partition.

    Returns the DISTINCT union of every partition's counter keys — a
    PROVABLE superset of all items with global ``count * k > N``:
    if ``count(x) * k > N`` then by averaging some partition has
    ``count_p(x) * k > N_p``, and SpaceSaving with ``k`` counters
    guarantees any such item occupies a counter at stream end (its
    overestimation error is bounded by ``N_p / k``).

    Each task holds exactly ``k`` counters regardless of stream length
    — the bounded-memory property that makes the first pass safe at
    100 TB (vs a full groupBy whose map side buffers every distinct
    key).  This toy keeps the counters in a dict with an O(k) min scan
    on replacement; a production build uses the stream-summary
    doubly-linked bucket structure for O(1) updates.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    item_type = df.schema[item_col].dataType.simpleString()

    def summarize(batches):
        import pandas as pd

        counters: dict = {}
        for pdf in batches:
            for x in pdf[item_col]:
                if x in counters:
                    counters[x] += 1
                elif len(counters) < k:
                    counters[x] = 1
                else:
                    m = min(counters, key=counters.get)
                    cm = counters.pop(m)
                    counters[x] = cm + 1
        yield pd.DataFrame({item_col: list(counters.keys())})

    return df.select(item_col).mapInPandas(
        summarize, schema=f"{item_col} {item_type}"
    ).distinct()


def heavy_hitters_exact(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """EXACT heavy hitters (items with ``count * k > N``) via the
    two-pass sketch-prune discipline: pass 1 builds bounded-memory
    SpaceSaving candidate sets per partition (no-false-negative
    superset, see :func:`spacesaving_candidates`); pass 2 exactly
    recounts ONLY the candidates (a semi-join keyed scan) and applies
    the threshold with integer arithmetic (``cnt * k > N`` — no
    division, engine-exact).  Provably equals the brute-force
    ``GROUP BY HAVING`` — which is the oracle — while the first pass
    never materializes the full key space on the map side.
    """
    cands = spacesaving_candidates(df, item_col, k)
    n_row = df.agg(F.count(F.lit(1)).alias("__n"))
    counts = (
        df.join(cands, item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counts.crossJoin(n_row)
        .where(F.col("cnt") * F.lit(k) > F.col("__n"))
        .select(item_col, "cnt")
    )

"""Deduplication operators for training-data pipelines.

Five families, all built on one *engine-portable* hash — a polynomial
rolling hash (base 31, mod a 2^30-ish prime) over character codes — so
every step can be hash-matched against a SQL oracle.  Since round 13
the hash/fingerprint kernels (char hash, shingles, MinHash, SimHash)
are evaluated as vectorized NumPy over Arrow batches
(operators.fasthash, guide §4.2) instead of interpreted HOF lambda
folds — byte-identical integers, ~10x less scan-stage CPU; everything
downstream (banding, buckets, joins, verification) stays pure JVM
DataFrame composition:

- :func:`exact_dedup`        — normalize -> 128-bit md5 group key
  (the shuffle carries 16 bytes/row, never the document text)
- :func:`shingles`           — word n-gram shingle arrays
- :func:`minhash_signature`  — k permutation-style min-hashes
- :func:`lsh_candidates`     — banded signature join (candidate pairs)
- :func:`jaccard_pairs`      — exact n-gram Jaccard via shingle
  explode + co-occurrence self-join (the truth set for MinHash recall)
- :func:`simhash`            — 30-bit SimHash from token-hash sign sums

Scale notes: shingle explode + groupBy is one token-keyed shuffle;
LSH banding turns the quadratic all-pairs problem into |bands| keyed
joins whose bucket sizes are the only quadratic term (bounded by
collision probability, tunable via bands x rows).  MinHash constants
are module-level so the DuckDB oracle can be generated with the same
integers (queries/llm_ops.py does exactly that).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import fan_out
from osm_changesets_to_parquet_spark.operators.iterutils import truncate_lineage

# portable polynomial hash modulus (fits: acc*31+c < 2^35 << 2^63)
HASH_MOD = 1_000_000_007

# MinHash: k=32 universal-hash functions h_j(x) = (a_j*x + b_j) % HASH_MOD,
# banded 8x4 for LSH.  Constants are fixed and mirrored into the oracle SQL.
N_HASHES = 32
N_BANDS = 8
ROWS_PER_BAND = 4
_rng = random.Random(12345)
MINHASH_A = [_rng.randrange(1, HASH_MOD) for _ in range(N_HASHES)]
MINHASH_B = [_rng.randrange(0, HASH_MOD) for _ in range(N_HASHES)]


def char_hash(col: Column) -> Column:
    """Portable rolling hash of a string column (JVM lambda fold)."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(HASH_MOD),
    )


def normalize(col: Column) -> Column:
    """Dedup normalization: lower + collapse whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct normalized text: (keep_id, n_copies).

    Groups on md5(normalized) so the shuffle key is 16 bytes regardless
    of document size — the difference between shuffling 100 TB of text
    and 1.6 TB of hashes.
    """
    return (
        docs.groupBy(F.md5(normalize(F.col(text_col))).alias("__h"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add ``shingle_hashes``: array<long> of hashed word n-gram shingles.

    Shingle hash = base-31 fold over the n *token* hashes; the token-hash
    + combine construction mirrors 1:1 into the oracle's list_transform +
    range spelling (queries/dedup_sim.py).

    Since round 13 the fold is evaluated as ONE vectorized NumPy kernel
    over Arrow batches (operators.fasthash — guide §4.2: hand whole
    columnar batches to native code) instead of nested HOF lambdas,
    whose bodies are interpreted per character and never enter
    whole-stage codegen.  Byte-identical integers by construction
    (fasthash module docstring walks the tokenization/codepoint/fold
    equivalence; pinned by test_fasthash_kernels_equal_hof_spellings);
    measured at sf0.1 the char-hash pass drops ~10x.  The HOF spelling
    is kept as :func:`shingles_hof` — the equivalence witness.
    """
    from osm_changesets_to_parquet_spark.operators import fasthash

    return docs.withColumn(
        "shingle_hashes", fasthash.shingle_hashes_udf(n)(F.col(text_col))
    )


def shingles_hof(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """The pre-r13 higher-order-function spelling of :func:`shingles` —
    kept as the in-JVM equivalence witness for the vectorized kernel
    (every character is still hashed exactly once per document)."""
    tk = F.split(F.col(text_col), " ")
    th = F.transform(
        tk,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(HASH_MOD),
        ),
    )
    docs = docs.withColumn("__th", th)
    thc = F.col("__th")
    idx = F.when(
        F.size(thc) >= n, F.sequence(F.lit(1), F.size(thc) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))

    def comb(i):
        # acc stays < HASH_MOD*31 + HASH_MOD ~ 2^35 << 2^63: no overflow
        acc = F.element_at(thc, i)
        for j in range(1, n):
            acc = (acc * F.lit(31) + F.element_at(thc, i + j)) % F.lit(HASH_MOD)
        return acc

    return docs.withColumn("shingle_hashes", F.transform(idx, comb)).drop("__th")


def minhash_signature(
    docs_with_shingles: DataFrame, out_col: str = "sig"
) -> DataFrame:
    """Add ``sig``: array<long> of N_HASHES min-hash values.

    Empty shingle sets get HASH_MOD sentinel values (never matches a
    real hash, so empty docs only pair with empty docs).

    Evaluated as one vectorized NumPy kernel over Arrow batches since
    round 13 (operators.fasthash): the HOF spelling walked the shingle
    array 32 times through the interpreted lambda evaluator; the kernel
    does 32 vectorized (a*h+b)%p + segmented-min passes.  Identical
    integers (:func:`minhash_signature_hof` is the pinned witness).
    """
    from osm_changesets_to_parquet_spark.operators import fasthash

    return docs_with_shingles.withColumn(
        out_col,
        fasthash.minhash_sig_udf(MINHASH_A, MINHASH_B)(F.col("shingle_hashes")),
    )


def minhash_signature_hof(
    docs_with_shingles: DataFrame, out_col: str = "sig"
) -> DataFrame:
    """Pre-r13 HOF spelling of :func:`minhash_signature` (equivalence
    witness for the vectorized kernel)."""
    hs = F.col("shingle_hashes")

    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_MOD)

    sig = F.array(
        *[
            F.coalesce(
                F.array_min(F.transform(hs, perm(a, b))),
                F.lit(HASH_MOD).cast("long"),
            )
            for a, b in zip(MINHASH_A, MINHASH_B)
        ]
    )
    return docs_with_shingles.withColumn(out_col, sig)


def band_keys(sig_col: Column) -> Column:
    """The LSH banding generator: one ``(band, bkey)`` row per band, the
    key folding the band's signature rows with the same base-31 combine
    as the char hash (portable to SQL)."""
    keys = []
    for band in range(N_BANDS):
        acc = F.lit(0).cast("long")
        for r in range(ROWS_PER_BAND):
            acc = (acc * F.lit(31) + F.element_at(sig_col, band * ROWS_PER_BAND + r + 1)) % F.lit(
                HASH_MOD
            )
        keys.append(acc)
    return F.posexplode(F.array(*keys)).alias("band", "bkey")


def lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int | None = None,
    shingle_frame: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b), deterministic.

    explode(band_idx, band_key) -> groupBy bucket -> in-bucket pair
    generation -> distinct pairs.  Single pass: the signature subtree is
    computed once (a self-join spelling executes it twice — Catalyst
    does not reuse the exchange across the renamed join sides).  The
    shuffle key is (band, band_key).

    Per-row memory is O(bucket) — NOT O(bucket^2): pair generation
    first re-explodes each bucket into one row per member (carrying the
    sorted id array + its position), then slices only that member's
    tail.  A hot bucket of m ids therefore peaks at an m-element array
    per row, never an m^2-element array-of-pairs in a single row (which
    would hit Spark's 2 GB / 2^31-element single-value limits on
    near-duplicate-heavy corpora — the exact workload LSH targets).
    The O(m^2) candidate *stream* is LSH's collision bound, tunable via
    bands x rows; ``max_bucket`` is the skew escape valve — buckets
    larger than it are dropped (a bucket that hot means the band key is
    degenerate, e.g. boilerplate; its members are better handled by
    exact dedup upstream).

    ``shingle_frame`` (optional): a lineage-truncated (id_col,
    shingle_hashes) frame to compute signatures from, instead of
    re-running the char-hash pass over the raw text — min-hash is
    duplicate-blind (min over a multiset equals min over its set), so
    a distinct-shingle frame yields byte-identical signatures.  When
    absent, one is built and truncated here: the char-hash fold is the
    dominant per-row cost, and materializing the (much smaller) hash
    arrays once beats recomputing them inside the signature subtree —
    measured 2.76 -> 1.65 s standalone and 2.76 -> 0.85 s when the
    caller shares an already-built frame (sf0.1, warm; the
    lsh_jaccard_pairs verify frame is exactly such a caller).
    """
    if shingle_frame is None:
        # NOT fanned out (catalog.fan_out): measured interleaved A/B at
        # sf0.1 showed the vectorized shingle kernel is faster as one
        # Arrow batch in the scan task than fanned across cores
        # (q35b 1.41 vs 1.65 s) — the exchange + per-batch overhead
        # exceeds the kernel's serial cost at this corpus size
        shingle_frame = truncate_lineage(
            shingles(docs, text_col, n).select(
                F.col(id_col),
                F.array_distinct("shingle_hashes").alias("shingle_hashes"),
            )
        )
    banded = minhash_signature(shingle_frame).select(
        F.col(id_col), band_keys(F.col("sig"))
    )
    keep = F.size("ids") >= 2
    if max_bucket is not None:
        keep = keep & (F.size("ids") <= max_bucket)
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(keep)
    )
    members = buckets.select("ids", F.posexplode("ids").alias("i", "id_a"))
    return (
        members.select(
            "id_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold (id_a < id_b, jac rounded 4).

    Distinct-shingle explode + self-join on shingle hash: only pairs
    sharing at least one shingle are ever materialized (pairs with
    Jaccard > 0 — the quadratic all-pairs never exists).

    The exploded (id, shingle) set is checkpointed once: three
    consumers (both join sides + the size aggregate) would otherwise
    each recompute the full hashing subtree (4 scans observed).  At
    100 TB this materialization is the shingle index you would persist
    anyway (reliable checkpoint when a checkpoint dir is configured —
    see operators.iterutils).  Pair enumeration stays a streaming hash
    join — a collect_list-per-shingle spelling would buffer entire
    hot-shingle buckets in memory.
    """
    sh = truncate_lineage(
        shingles(docs, text_col, n).select(
            F.col(id_col), F.explode(F.array_distinct("shingle_hashes")).alias("h")
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("h"), F.col(id_col).alias("id_a"))
    b = sh.select(F.col("h"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jac",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def lsh_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact-Jaccard pairs >= threshold, enumerated via LSH candidates.

    The 100 TB spelling of :func:`jaccard_pairs`: instead of the
    inverted shingle index (whose self-join output is quadratic in
    every shared-shingle group), candidate pairs come from the banded
    MinHash buckets (:func:`lsh_candidates` — collision-bounded), and
    each candidate is verified with the exact in-row Jaccard over the
    two distinct-shingle arrays.  The verification join shuffles only
    (candidate pair x two shingle arrays) — never a token stream.

    Equals :func:`jaccard_pairs` exactly when LSH recall at the
    threshold is 1.0 (collision prob 1-(1-j^r)^b; tune bands x rows).
    Pairs the banding misses are absent — that is the approximation
    being bought.

    Shingle-less docs (< n tokens) are excluded BEFORE banding: they
    all share the identical all-sentinel MinHash signature, so they
    land in one degenerate bucket whose pair stream is quadratic in
    their count — yet none of them can be a true pair (empty shingle
    sets never reach any Jaccard threshold; :func:`jaccard_pairs`
    never emits them either), so the filter changes nothing but cost.
    The shared shingle frame is checkpointed once and read by ALL
    THREE consumers — both verification join sides AND candidate
    generation (min-hash is duplicate-blind, so the distinct-shingle
    arrays yield byte-identical signatures; the char-hash pass over
    the raw text runs exactly once per query).
    """
    eligible = docs.where(
        F.size(F.split(F.col(text_col), " ")) >= n
    )
    sh = truncate_lineage(
        shingles(eligible, text_col, n).select(
            F.col(id_col), F.array_distinct("shingle_hashes").alias("shingle_hashes")
        )
    )
    cands = lsh_candidates(
        eligible, text_col, id_col, n, max_bucket, shingle_frame=sh
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingle_hashes").alias("ha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingle_hashes").alias("hb"))
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jac",
            F.round(inter / (F.size("ha") + F.size("hb") - inter), 4),
        )
        .where(F.col("jac") >= threshold)
        .select("id_a", "id_b", "jac")
    )


def lsh_neardup_incremental(
    existing: DataFrame,
    incoming: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Incremental near-dup check: (new_id, old_id, jac) pairs between
    an arriving batch and the existing corpus — the append-only analog
    of :func:`lsh_jaccard_pairs` (and the near-dup counterpart of the
    exact-hash incremental dedup in q94): candidates are ONLY
    incoming x existing rows sharing an LSH band bucket, never
    incoming x incoming or existing x existing, so a daily increment
    costs O(batch-bands + matched-bucket collisions), not a re-cluster
    of the corpus.

    At 100 TB the existing side's banded signature frame is what you
    PERSIST (partitioned by (band, bkey)): each increment then builds
    signatures for the batch alone and probes the stored index — the
    same equi-join as here with the expensive side pre-materialized.

    Exactness contract mirrors lsh_jaccard_pairs: candidates the
    banding misses are absent (recall is the banding collision bound);
    every emitted pair is verified with the exact in-row Jaccard.
    Shingle-less docs are excluded on both sides for the same
    degenerate-bucket reason documented there.
    """
    def prep(df):
        # checkpoint the shingle frame once per side: both the banding
        # and the verification read it (the lsh_jaccard_pairs 4-scans-
        # to-1 discipline)
        elig = df.where(F.size(F.split(F.col(text_col), " ")) >= n)
        return truncate_lineage(shingles(elig, text_col, n))

    sh_new, sh_old = prep(incoming), prep(existing)

    def banded(sh, out_id):
        return minhash_signature(sh).select(
            F.col(id_col).alias(out_id), band_keys(F.col("sig"))
        )

    cands = (
        banded(sh_new, "new_id")
        .join(banded(sh_old, "old_id"), ["band", "bkey"])
        .select("new_id", "old_id")
        .distinct()
    )
    a = sh_new.select(
        F.col(id_col).alias("new_id"), F.array_distinct("shingle_hashes").alias("ha")
    )
    b = sh_old.select(
        F.col(id_col).alias("old_id"), F.array_distinct("shingle_hashes").alias("hb")
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cands.join(a, "new_id")
        .join(b, "old_id")
        .withColumn(
            "jac", F.round(inter / (F.size("ha") + F.size("hb") - inter), 4)
        )
        .where(F.col("jac") >= threshold)
        .select("new_id", "old_id", "jac")
    )


def lsh_index_write(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """PERSIST the banded-signature near-dup index for a corpus — the
    on-disk contract :func:`lsh_neardup_incremental`'s docstring names:
    at 100 TB you band the corpus ONCE, write the index, and every
    increment probes the stored frame instead of re-banding petabytes.

    Two parquet datasets under ``path``, each under the base increment
    label ``__bid=base`` (mirroring ``ivf_index_write``'s ``__gen=base``
    layout) so that :func:`lsh_index_append`'s ``__bid=N`` increments
    land at the SAME partition depth — mixing write and append on one
    path previously produced leaf files at different depths and broke
    parquet partition discovery with "Conflicting directory structures"
    (ADVICE r06):

    - ``bands/__bid=base/band=*``: (id, bkey) — the probe side of the
      candidate equi-join.  Partitioned by ``band`` so a probe that only
      touches some bands prunes files; on a real cluster you would
      additionally BUCKET BY ``bkey`` so the probe join co-locates
      without a shuffle of the corpus side.
    - ``shingles/__bid=base``: (id, hs) — the distinct shingle-hash
      arrays the exact-Jaccard verification reads (so verification
      never touches corpus text either).

    One scan of the corpus feeds both writes (the shingle frame is
    checkpointed; the signature subtree derives from it).
    """
    import os

    elig = docs.where(F.size(F.split(F.col(text_col), " ")) >= n)
    sh = truncate_lineage(shingles(elig, text_col, n))
    (
        minhash_signature(sh)
        .select(F.col(id_col).alias("id"), band_keys(F.col("sig")))
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(path, "bands", "__bid=base"))
    )
    (
        sh.select(
            F.col(id_col).alias("id"), F.array_distinct("shingle_hashes").alias("hs")
        )
        .write.mode("overwrite")
        .parquet(os.path.join(path, "shingles", "__bid=base"))
    )


def lsh_index_append(
    docs: DataFrame,
    path: str,
    part_label: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> None:
    """Append one increment's frames to a persisted banded index
    under an IDEMPOTENT partition label (e.g. ``__bid=3``): the
    increment writes ``bands/<label>/band=*/`` and ``shingles/<label>/``
    in overwrite mode, so a retried streaming batch overwrites its own
    subdirectory instead of double-appending — exactly-once index
    growth on top of at-least-once foreachBatch delivery.  The label
    sits at the SAME partition depth as :func:`lsh_index_write`'s
    ``__bid=base``, so a base index plus appends form one discoverable
    parquet dataset (the write-then-append-then-probe composition is
    tested); :func:`lsh_neardup_probe_index` filters on the ``__bid``
    column for retry-safe probes and otherwise ignores it.
    """
    import os

    elig = docs.where(F.size(F.split(F.col(text_col), " ")) >= n)
    sh = truncate_lineage(shingles(elig, text_col, n))
    (
        minhash_signature(sh)
        .select(F.col(id_col).alias("id"), band_keys(F.col("sig")))
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(os.path.join(path, "bands", part_label))
    )
    (
        sh.select(
            F.col(id_col).alias("id"), F.array_distinct("shingle_hashes").alias("hs")
        )
        .write.mode("overwrite")
        .parquet(os.path.join(path, "shingles", part_label))
    )


def _bid_num(col):
    """Numeric order for ``__bid`` labels: ``base`` sorts before every
    batch id.  The discovered partition column may be int (append-only
    paths) or string (mixed with ``base``) — normalize via string."""
    s = col.cast("string")
    return F.when(s == "base", F.lit(-1)).otherwise(s.cast("long"))


def lsh_neardup_probe_index(
    spark,
    index_path: str,
    incoming: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    before_bid: int | None = None,
) -> DataFrame:
    """Incremental near-dup probe against a PERSISTED index
    (:func:`lsh_index_write`): bands are computed for the incoming
    batch ALONE; the corpus side is read back as (id, band, bkey) and
    (id, hs) parquet — the corpus text is never re-shingled, so the
    per-increment cost is O(batch bands + matched-bucket collisions +
    index scan), independent of how the corpus GREW since indexing.

    Same exactness contract as :func:`lsh_neardup_incremental` (which
    computes both sides in-session): candidates are only new x old
    band collisions; every emitted pair carries the exact in-row
    Jaccard; recall is the banding collision bound.

    ``before_bid`` (retry safety, ADVICE r06): when set, only index
    increments with ``__bid`` strictly below it are probed (``base``
    counts as -1) — a REPLAYED at-least-once foreachBatch batch that
    already appended itself under ``__bid=N`` must not probe its own
    prior append, or it would emit self-pairs (jac 1.0) and
    intra-batch pairs and overwrite the correct output.  The filter is
    a partition-column predicate, so pruning happens at file listing.
    """
    import os

    bands_all = spark.read.parquet(os.path.join(index_path, "bands"))
    sh_all = spark.read.parquet(os.path.join(index_path, "shingles"))
    if before_bid is not None and "__bid" in bands_all.columns:
        bands_all = bands_all.where(_bid_num(F.col("__bid")) < before_bid)
        sh_all = sh_all.where(_bid_num(F.col("__bid")) < before_bid)
    bands_old = bands_all.select(F.col("id").alias("old_id"), "band", "bkey")
    sh_old = sh_all.select(F.col("id").alias("old_id"), F.col("hs").alias("hb"))
    elig = incoming.where(F.size(F.split(F.col(text_col), " ")) >= n)
    sh_new = truncate_lineage(shingles(elig, text_col, n))
    banded_new = minhash_signature(sh_new).select(
        F.col(id_col).alias("new_id"), band_keys(F.col("sig"))
    )
    cands = (
        banded_new.join(bands_old, ["band", "bkey"])
        .select("new_id", "old_id")
        .distinct()
    )
    a = sh_new.select(
        F.col(id_col).alias("new_id"), F.array_distinct("shingle_hashes").alias("ha")
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        cands.join(a, "new_id")
        .join(sh_old, "old_id")
        .withColumn(
            "jac", F.round(inter / (F.size("ha") + F.size("hb") - inter), 4)
        )
        .where(F.col("jac") >= threshold)
        .select("new_id", "old_id", "jac")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Ordered containment pairs: |shingles(A) n shingles(B)| / |shingles(A)|
    >= threshold, A != B — "A is (nearly) contained in B".

    The asymmetric companion to :func:`jaccard_pairs`: Jaccard misses
    subset duplication (a paragraph pasted into a much longer page has
    low Jaccard but containment ~1), which is its own boilerplate mode
    in web corpora.  Same shingle-index machinery — the exploded
    (id, shingle) set is checkpointed once and the join only ever
    materializes pairs sharing a shingle; the ordered (A, B) stream is
    at most 2x the unordered pair count.
    """
    sh = truncate_lineage(
        shingles(docs, text_col, n).select(
            F.col(id_col), F.explode(F.array_distinct("shingle_hashes")).alias("h")
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("h"), F.col(id_col).alias("id_a"))
    b = sh.select(F.col("h"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, "h")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .withColumn("containment", F.round(F.col("n_inter") / F.col("n_a"), 4))
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_span: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_locs: int = 2,
) -> DataFrame:
    """Span-level repeated-substring detection — the suffix-array-style
    dedup of "Deduplicating Training Data Makes Language Models Better"
    (Lee et al. 2022, public), respelled as a DataFrame pipeline:
    flag maximal token spans (>= ``min_span`` tokens) every one of whose
    ``k``-token grams occurs at >= ``min_locs`` distinct (doc, position)
    locations corpus-wide.  Unlike q136's 3-gram *burden counting*,
    this returns the spans themselves — what a curation pass excises.

    Spelling: in-row k-token gram STRINGS (array_join over slices of
    the split-once token array — the :func:`~..quality.word_ngrams`
    shape, kept inline here because positions must survive), one
    posexplode to (doc, pos, gram), then ``xxhash64(gram)`` AFTER the
    explode so downstream shuffles ride 8-byte keys while the hash is
    computed by the native codegen'd kernel, never an interpreted
    per-char lambda.  One map-side-partial count finds duplicated
    grams, a semi-join marks hits, then gaps-and-islands over gram
    positions per document: a new island starts where the gap between
    consecutive duplicated gram starts exceeds ``k`` (token windows no
    longer overlap or touch).  Island -> span
    [min pos, max pos + k - 1], 1-based token indices.

    Two Catalyst traps this spelling dodges (both measured at ~100x
    wall-clock on sf0.1, not hypothetical):

    * ``posexplode`` (outer=false) lets InferFiltersFromGenerate add
      ``size(child) > 0``, and predicate pushdown then INLINES the
      whole gram-building expression into that Filter — every row
      pays the in-row pipeline twice, with the token array re-split
      per element.  ``posexplode_outer`` is exempt from the rule; the
      null-position rows it keeps are dropped right above the
      Generate, where the filter cannot sink.
    * hashing inside the exploded expression would ride the
      interpreted higher-order-function evaluator (HOF lambdas never
      enter whole-stage codegen); hashing the exploded ROWS keeps the
      hot path in codegen.

    Scale: one shuffle on the 8-byte gram hash for the count, one for
    the semi-join, and a per-document window (state bounded by doc
    length) for the islands — no suffix array, no cross join, nothing
    quadratic.  Two grams hash-colliding under xxhash64 (p ~ 2^-64
    per pair — the q86/q136 key discipline) could conjoin a false
    span; the SQL oracle groups by the raw gram string, so a
    collision would surface as an oracle mismatch instead of hiding.
    """
    grams = positional_gram_hashes(docs, k, text_col, id_col)
    dup = (
        grams.groupBy("h")
        .agg(F.count(F.lit(1)).alias("locs"))
        .where(F.col("locs") >= min_locs)
        .select("h")
    )
    hits = grams.join(dup, "h", "semi").select(id_col, "pos")
    return gram_islands_to_spans(hits, k, min_span, id_col)


def positional_gram_hashes(
    docs: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, h): every k-token gram of every document as an 8-byte
    xxhash64 key with its 1-based token start — the shared front end of
    the span operators (:func:`repeated_spans`,
    :func:`contaminated_spans`).  Carries the outer-explode + post-hash
    spelling those docstrings justify (InferFiltersFromGenerate /
    interpreted-HOF traps)."""
    # fan the (often single-row-group) scan across cores before the
    # in-row gram build (guide §2.5): the transform/array_join pass
    # dominates and would otherwise run in the scan's lone task
    toks = fan_out(docs, id_col).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__tk")
    ).where(F.size("__tk") >= k)
    gram_arr = F.transform(
        F.sequence(F.lit(1), F.size("__tk") - F.lit(k - 1)),
        lambda i: F.array_join(F.slice("__tk", i, k), " "),
    )
    return (
        toks.select(
            F.col(id_col), F.posexplode_outer(gram_arr).alias("pos0", "gram")
        )
        .where(F.col("pos0").isNotNull())
        # 1-based gram start (mirrors SQL generate_subscripts)
        .select(
            id_col,
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.xxhash64("gram").alias("h"),
        )
    )


def gram_islands_to_spans(
    hits: DataFrame, k: int, min_span: int, id_col: str = "doc_id"
) -> DataFrame:
    """Gaps-and-islands over flagged gram positions: a new island starts
    where the gap between consecutive flagged starts exceeds ``k``
    (token windows no longer overlap or touch); island -> span
    [min pos, max pos + k - 1], kept when >= ``min_span`` tokens.
    Window state is bounded by document length."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    lagp = F.lag("pos").over(w)
    brk = F.when(lagp.isNull() | (F.col("pos") - lagp > k), F.lit(1)).otherwise(
        F.lit(0)
    )
    grp = (
        hits.withColumn("__brk", brk)
        .withColumn(
            "__g",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    spans = grp.groupBy(id_col, "__g").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
    )
    return (
        spans.withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .where(F.col("span_tokens") >= min_span)
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def contaminated_spans(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 8,
    min_span: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-level benchmark decontamination — q86 flags WHICH train
    docs share an 8-gram with the eval set; this returns WHERE: the
    maximal train-doc token spans (>= ``min_span`` tokens) every one
    of whose ``k``-grams occurs somewhere in the eval corpus — the
    excision targets of a decontamination pass (the Lee et al. 2022
    span machinery pointed across corpora instead of within one).

    Same scale shape as :func:`repeated_spans`: the eval side reduces
    to DISTINCT 8-byte gram hashes before the semi-join (its size is
    the eval gram vocabulary, not the eval token stream), and the
    islands window is per-train-doc."""
    tr = positional_gram_hashes(train, k, text_col, id_col)
    ev = (
        positional_gram_hashes(eval_df, k, text_col, id_col)
        .select("h")
        .distinct()
    )
    hits = tr.join(ev, "h", "semi").select(id_col, "pos")
    return gram_islands_to_spans(hits, k, min_span, id_col)


SIMHASH_BITS = 30


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Add ``simhash``: 30-bit SimHash over whitespace tokens.

    Token hash = portable char hash; bit j of the fingerprint is the
    sign of sum over tokens of (2*bit_j(hash) - 1).  Pure integer math,
    mirrored in the oracle SQL.  Near-dup = small hamming distance
    (use bit_count(a ^ b) — see tests).

    Evaluated as one vectorized NumPy kernel over Arrow batches since
    round 13 (operators.fasthash): the HOF spelling paid an interpreted
    per-character fold PLUS 30 more interpreted passes over the
    token-hash array (one per fingerprint bit); the kernel hashes each
    character once and reduces all 30 bit sums in two vectorized ops.
    Identical integers (:func:`simhash_hof` is the pinned witness).
    """
    from osm_changesets_to_parquet_spark.operators import fasthash

    return docs.withColumn("simhash", fasthash.simhash_udf(F.col(text_col)))


def simhash_hof(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pre-r13 HOF spelling of :func:`simhash` (equivalence witness
    for the vectorized kernel)."""
    tk = F.split(F.col(text_col), " ")
    hs = F.transform(
        tk,
        lambda t: F.aggregate(
            F.split(t, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(HASH_MOD),
        ),
    )
    docs = docs.withColumn("__th", hs)

    def bit_sum(j: int):
        return lambda acc, h: acc + (
            F.shiftright(h, j).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1)
        )

    fp = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        vj = F.aggregate(F.col("__th"), F.lit(0).cast("long"), bit_sum(j))
        fp = fp + F.when(vj >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return docs.withColumn("simhash", fp).drop("__th")


def simhash_neardup_pairs(
    docs: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT hamming-ball near-dup pairs via bit-band LSH on SimHash.

    Pigeonhole completeness: the ``SIMHASH_BITS``-bit fingerprint is cut
    into ``n_bands`` disjoint bit bands; a pair within hamming distance
    ``max_hamming`` can touch at most ``max_hamming`` bands, so with
    ``max_hamming < n_bands`` at least one band is bit-identical and the
    pair collides in that band's bucket.  Candidates are therefore a
    superset of the true result, and the in-row ``bit_count(a ^ b)``
    verification makes the output EXACT — equal to the O(n^2) brute
    force, at bucketed cost.

    Scale: one scan, one shuffle on (band, band_key) — the shuffle rows
    are (16-byte struct, band key), never text.  Per-row memory is
    O(bucket) via the member re-explode + tail slice (same discipline as
    :func:`lsh_candidates`); verification happens in-row on the struct
    pair, so no join back to the corpus.  ``max_bucket`` is the hot
    bucket escape valve (a degenerate band key — e.g. all-boilerplate
    documents — is better collapsed by exact dedup upstream).
    """
    sh = simhash(docs.select(id_col, text_col), text_col, id_col)
    return hamming_pairs_from_fingerprints(
        sh,
        max_hamming=max_hamming,
        n_bands=n_bands,
        id_col=id_col,
        sh_col="simhash",
        max_bucket=max_bucket,
    )


def hamming_pairs_from_fingerprints(
    fps: DataFrame,
    max_hamming: int = 2,
    n_bands: int = 3,
    id_col: str = "doc_id",
    sh_col: str = "simhash",
    max_bucket: int | None = None,
) -> DataFrame:
    """Bit-band LSH pair join over PRECOMPUTED fingerprints — the
    banding/verification half of :func:`simhash_neardup_pairs`, exposed
    so callers that already hold (id, fingerprint) rows can skip the
    text scan: cluster-resolution queries contract same-fingerprint
    docs first (identical fingerprint = hamming 0 = trivially in-ball)
    and band only the DISTINCT fingerprints, which shrinks both the
    bucket explode (quadratic in bucket size) and the downstream
    component graph by the duplication factor squared.

    Same completeness/exactness contract as the caller: pigeonhole over
    disjoint bit bands + in-row ``bit_count`` verification."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"completeness needs max_hamming < n_bands (got {max_hamming} >= {n_bands})"
        )
    if SIMHASH_BITS % n_bands:
        raise ValueError(f"n_bands must divide SIMHASH_BITS={SIMHASH_BITS}")
    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    sh = fps.select(
        F.struct(F.col(id_col).alias("id"), F.col(sh_col).alias("sh")).alias("m")
    )
    keys = [
        F.shiftright(F.col("m.sh"), b * band_bits).bitwiseAND(F.lit(mask))
        for b in range(n_bands)
    ]
    banded = sh.select("m", F.posexplode(F.array(*keys)).alias("band", "bkey"))
    keep = F.size("ms") >= 2
    if max_bucket is not None:
        keep = keep & (F.size("ms") <= max_bucket)
    buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .where(keep)
    )
    members = buckets.select("ms", F.posexplode("ms").alias("i", "a"))
    pairs = members.select(
        "a",
        F.explode(F.slice(F.col("ms"), F.col("i") + F.lit(2), F.size("ms"))).alias("b"),
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )


def jaccard_prefix_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard pairs >= threshold via PPJoin-style PREFIX
    FILTERING (Chaudhuri et al. SSJoin / Bayardo et al. WWW'07 — public
    algorithms): same result as :func:`jaccard_pairs`, smaller index.

    Under a GLOBAL canonical shingle order (ascending document
    frequency, ties by hash — rarest first), a set only needs its first
    ``|s| - ceil(t*|s|) + 1`` shingles indexed: if ``J(a,b) >= t`` then
    ``|a∩b| >= ceil(t*|a|)`` (and symmetrically), so the smallest
    common element must sit inside BOTH prefixes — candidates are the
    prefix-index self-join, a strict subset of the full inverted-index
    join.  At t=0.6 the index (and its shuffle) shrinks ~60%, and
    because prefixes hold the RAREST shingles, hot-shingle buckets —
    the quadratic term of the full join — are mostly excluded.

    Verification is restricted to candidates: fan candidates out over
    side-a's shingles, equi-join side-b's, count intersections — cost
    O(candidates x avg set size), never all co-occurring pairs.

    MEASURED trade-off (replica fixtures, SURVEY §8): the prefix index
    cuts the index shuffle ~60% and wins on the base corpus (6.2 s vs
    8.4 s at sf0.1), but on the 4x duplicate-heavy replica the
    candidate set itself is large and the per-candidate verification
    fan-out exceeds the full co-occurrence join's one-pass counting
    (33.8 s vs 8.5 s).  Prefix filtering pays on sparse vocabularies
    with high thresholds and few true pairs — the web-corpus shape;
    on dense near-dup-heavy corpora prefer :func:`jaccard_pairs` or
    the banded :func:`lsh_candidates` path.

    Rounding guard: the q35a contract compares ROUND(j, 4) >= t, which
    admits true Jaccard as low as t - 0.00005; candidates are therefore
    generated at ``t - 0.001`` so the prefix lemma covers every pair
    the rounded filter can pass.

    Verification (respelled r14, the q308/q218 discipline): each
    candidate pair intersects the two docs' distinct shingle-hash
    ARRAYS in-row (``size(array_intersect(ha, hb))``) instead of
    fanning every candidate out over side-a's shingles and equi-joining
    side-b's — the explode+join+count paid two shuffles at candidate x
    set-size cardinality for what is a per-pair set intersection the
    rows already carry.  Cost is the same O(candidates x avg set size)
    hash ops, but inside codegen with nothing materialized.
    """
    sets = truncate_lineage(
        shingles(docs, text_col, n).select(
            F.col(id_col).alias("id"),
            F.array_distinct("shingle_hashes").alias("hs"),
        )
    )
    ex = sets.select("id", F.explode("hs").alias("h"))
    from pyspark.sql.window import Window

    t_gen = max(0.0, threshold - 0.001)
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    w = Window.partitionBy("id").orderBy("f", "h")
    pos = ex.join(freq, "h").select("id", "h", F.row_number().over(w).alias("r"))
    sizes = sets.select("id", F.size("hs").cast("long").alias("sz"))
    pref = (
        pos.join(sizes, "id")
        .where(
            F.col("r")
            <= F.col("sz") - F.ceil(F.lit(t_gen) * F.col("sz")) + F.lit(1)
        )
        .select("id", "h")
    )
    cand = (
        pref.select(F.col("id").alias("id_a"), "h")
        .join(pref.select(F.col("id").alias("id_b"), "h"), "h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("ha", "hb")).cast("long").alias("ni"),
            F.size("ha").cast("long").alias("na"),
            F.size("hb").cast("long").alias("nb"),
        )
        .withColumn(
            "jac",
            F.round(F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")), 4),
        )
        .where(F.col("jac") >= F.lit(threshold))
        .select("id_a", "id_b", "jac")
    )


def group_token_jaccard(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """EXACT Jaccard similarity between the distinct-token sets of every
    group pair — the corpus-overlap matrix (which sources/domains are
    near-copies of each other, which languages share vocabulary).

    Returns (group_a, group_b, n_a, n_b, n_common, jaccard) for every
    unordered pair with group_a < group_b, including zero-overlap pairs.

    Scale: the token×token blow-up never happens.  Tokens reduce to
    DISTINCT (group, xxhash64(token)) first — one shuffle keyed on the
    8-byte hash with map-side partial dedup — then intersections come
    from a self-EQUI-join on the hash: a token present in G groups
    contributes at most G(G-1)/2 rows, bounded by the (small) group
    count squared, never by corpus size.  Set sizes ride a tiny
    broadcast frame that also completes the zero-overlap pairs.  The
    hash never reaches the output (the q136/q143 oracle discipline);
    a 2^-64 collision would surface as an oracle mismatch, not hide.
    """
    tok = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("w"),
        )
        .where(F.col("w") != "")
        .select("g", F.xxhash64("w").alias("h"))
        .distinct()
    )
    sizes = tok.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        tok.select(F.col("g").alias("ga"), "h")
        .join(tok.select(F.col("g").alias("gb"), "h"), "h")
        .where(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        sizes.select(F.col("g").alias("ga"), F.col("sz").alias("n_a"))
        .crossJoin(sizes.select(F.col("g").alias("gb"), F.col("sz").alias("n_b")))
        .where(F.col("ga") < F.col("gb"))
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(inter, ["ga", "gb"], "left")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_a",
            "n_b",
            nc.alias("n_common"),
            F.round(
                nc / (F.col("n_a") + F.col("n_b") - nc).cast("double"), 6
            ).alias("jaccard"),
        )
    )

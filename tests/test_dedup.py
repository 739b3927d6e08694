"""Property tests for dedup/similarity operators (SURVEY Q35 P-mode +
extras): LSH candidate sets must cover the exact truth sets."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators import dedup as D
from osm_changesets_to_parquet_spark.operators.similarity import (
    lsh_topk,
    cosine_topk,
)


def test_minhash_lsh_covers_truth(spark, sf_dir):
    """Candidates ⊇ exact Jaccard>=0.6 pairs (8 bands x 4 rows: a J=0.6
    pair collides in some band w.p. 1-(1-0.6^4)^8 ≈ 0.71; the fixture's
    true pairs are J>=0.9 where coverage is ≈ 1-1e-7)."""
    docs = load_table(spark, sf_dir, "documents")
    truth = {
        (r.id_a, r.id_b) for r in D.jaccard_pairs(docs, threshold=0.9).collect()
    }
    cands = {(r.id_a, r.id_b) for r in D.lsh_candidates(docs).collect()}
    assert truth, "fixture should contain true near-dup pairs"
    missing = truth - cands
    assert not missing, f"LSH missed true pairs: {sorted(missing)[:5]}"


def test_exact_dedup_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()
    deduped = D.exact_dedup(docs)
    agg = deduped.agg(
        F.sum("n_copies").alias("before"), F.count(F.lit(1)).alias("after")
    ).collect()[0]
    assert agg.before == total
    assert agg.after <= total


def test_simhash_similar_docs_close(spark, sf_dir):
    """Docs that are near-identical by Jaccard should have small SimHash
    hamming distance vs the corpus background."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.9)
    sh = D.simhash(docs).select("doc_id", "simhash")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    ham = joined.select(
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("d")
    )
    avg_dup = ham.agg(F.avg("d")).collect()[0][0]
    assert avg_dup is not None and avg_dup < 8, f"near-dup hamming too large: {avg_dup}"


@pytest.mark.slow  # >8 s: full-suite gate only (pytest.ini)
def test_lsh_topk_recall(spark, sf_dir):
    """SRP-LSH approximate top-k should recover most of the exact top-k."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = [r.vec_id for r in cosine_topk(emb, query, k=10).collect()]
    # the fixture's nearest neighbors are weak (sim ~0.4 => ~66deg), so
    # recall needs short signatures + many tables: P(bucket match/table)
    # = 0.63^3 ~ 0.25, over 10 tables ~ 0.94
    approx = [
        r.vec_id
        for r in lsh_topk(emb, query, k=10, dim=64, bits=3, n_tables=10).collect()
    ]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, f"LSH top-k recall too low: {overlap}/10"


def test_lsh_pairs_share_one_shingle_frame(spark, sf_dir):
    """lsh_jaccard_pairs must read ONE materialized shingle frame from
    all three consumers (candidate generation + both verify join
    sides): the plan shows exactly three ExistingRDD scans and NO
    parquet re-scan or char-hash fold — the expensive text pass runs
    once, in the lineage-truncation build (round-13 discipline;
    min-hash is duplicate-blind so the distinct-shingle frame yields
    byte-identical signatures)."""
    docs = load_table(spark, sf_dir, "documents")
    plan = (
        D.lsh_jaccard_pairs(docs, threshold=0.6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan ExistingRDD") == 3
    assert plan.count("FileScan parquet") == 0
    assert "aggregate(" not in plan  # char-hash fold absent


def test_prefix_filter_equals_full_jaccard_join(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    full = {
        (r.id_a, r.id_b, r.jac)
        for r in D.jaccard_pairs(docs, threshold=0.6).collect()
    }
    pref = {
        (r.id_a, r.id_b, r.jac)
        for r in D.jaccard_prefix_pairs(docs, threshold=0.6).collect()
    }
    assert pref == full and pref


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_fasthash_kernels_equal_hof_spellings(spark, sf_dir):
    """The round-13 vectorized NumPy kernels (operators.fasthash) must
    produce BYTE-IDENTICAL integers to the in-JVM HOF folds they
    replaced — on the real fixture corpus plus the edge rows the
    equivalence argument names (empty text, NULL text, consecutive/
    leading/trailing spaces, sub-n-token docs)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (90001, ""),
            (90002, None),
            (90003, "a"),
            (90004, "a b"),
            (90005, "a  b "),
            (90006, " lead"),
            (90007, "x y z w"),
        ],
        "doc_id long, text string",
    )
    docs = docs.unionByName(edges)

    sh_new = D.shingles(docs).select("doc_id", "shingle_hashes")
    sh_old = D.shingles_hof(docs).select("doc_id", "shingle_hashes")
    bad = (
        sh_new.withColumnRenamed("shingle_hashes", "n")
        .join(sh_old.withColumnRenamed("shingle_hashes", "o"), "doc_id")
        .where(~F.col("n").eqNullSafe(F.col("o")))
    )
    assert bad.count() == 0, "shingle kernel drifted from HOF spelling"

    fp_new = D.simhash(docs).select("doc_id", "simhash")
    fp_old = D.simhash_hof(docs).select("doc_id", "simhash")
    bad = (
        fp_new.withColumnRenamed("simhash", "n")
        .join(fp_old.withColumnRenamed("simhash", "o"), "doc_id")
        .where(~F.col("n").eqNullSafe(F.col("o")))
    )
    assert bad.count() == 0, "simhash kernel drifted from HOF spelling"

    sh = D.shingles(docs).select(
        "doc_id", F.array_distinct("shingle_hashes").alias("shingle_hashes")
    )
    sig_new = D.minhash_signature(sh).select("doc_id", "sig")
    sig_old = D.minhash_signature_hof(sh).select("doc_id", "sig")
    bad = (
        sig_new.withColumnRenamed("sig", "n")
        .join(sig_old.withColumnRenamed("sig", "o"), "doc_id")
        .where(~F.col("n").eqNullSafe(F.col("o")))
    )
    assert bad.count() == 0, "minhash kernel drifted from HOF spelling"

    from osm_changesets_to_parquet_spark.operators import fasthash as FH

    toks = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("t"))
        .distinct()
    )
    bad = (
        toks.select(
            "t",
            D.char_hash(F.col("t")).alias("o"),
            FH.char_hash_udf(F.col("t")).alias("n"),
        )
        .where(~F.col("n").eqNullSafe(F.col("o")))
    )
    assert bad.count() == 0, "char-hash kernel drifted from HOF spelling"

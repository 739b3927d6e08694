"""Property-based operator checks against independent references:
connected_components vs a union-find, merge_asof vs pandas.merge_asof.
Randomized inputs (seeded via hypothesis) catch structure the fixed
testdata can't."""

from __future__ import annotations

import pytest

import pandas as pd
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osm_changesets_to_parquet_spark.operators import iterutils
from osm_changesets_to_parquet_spark.operators.asof import merge_asof
from osm_changesets_to_parquet_spark.operators.clusters import (
    connected_components,
    connected_components_star,
)


# recall/property/brute-force ladders: excluded from the fast
# default run (pytest.ini); the builder's full-suite gate runs
# them with -m ""
pytestmark = pytest.mark.slow


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress fully, label = component minimum
    labels = {}
    for x in list(parent):
        r = find(x)
        labels[x] = min(labels.get(r, r), r)
    # second pass: min id per root
    roots = {}
    for x in parent:
        roots.setdefault(find(x), []).append(x)
    return {x: min(members) for r, members in roots.items() for x in members}


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_connected_components_matches_union_find(spark, pairs):
    pdf = pd.DataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], columns=["id_a", "id_b"]
    ).drop_duplicates()
    df = spark.createDataFrame(pdf)
    # default cap: these small graphs take the r14 single-task
    # union-find finish — checked against the independent reference
    got = {r.id: r.label for r in connected_components(df).collect()}
    want = _union_find([tuple(r) for r in pdf.itertuples(index=False)])
    assert got == want
    # cap 0: the ITERATIVE min-label path must produce the same labels
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(iterutils, "LOCAL_FINISH_MAX_ROWS", 0)
        got_iter = {r.id: r.label for r in connected_components(df).collect()}
    assert got_iter == want


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_connected_components_star_matches_union_find(spark, pairs):
    pdf = pd.DataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs], columns=["id_a", "id_b"]
    ).drop_duplicates()
    df = spark.createDataFrame(pdf)
    got = {r.id: r.label for r in connected_components_star(df).collect()}
    want = _union_find([tuple(r) for r in pdf.itertuples(index=False)])
    assert got == want


def test_connected_components_star_long_chain_few_rounds(spark):
    """Adversarial-diameter graph: a 200-node path has diameter 199, so
    min-label propagation needs ~199 rounds; star contraction must
    resolve it within a logarithmic budget (max_iters caps the loop —
    a wrong fixpoint or non-convergence surfaces as wrong labels)."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {r.id: r.label for r in connected_components_star(pairs, max_iters=16).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_star_no_fixpoint_raises(spark):
    """The any-topology fallback has no cheaper algorithm behind it, so
    an exhausted budget must be LOUD: a 200-node path cannot reach the
    depth-1-star fixpoint in 2 rounds, and returning the intermediate
    edge set as labels would be silently wrong."""
    import pytest

    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_star(pairs, max_iters=2).collect()


def test_connected_components_unconverged_falls_back_to_star(spark, monkeypatch):
    """ADVICE r10: min-label propagation moves the component minimum one
    hop per round, so a path longer than max_iters would leave WRONG
    labels.  The guard must detect the exhausted-but-still-changing loop,
    warn, and rerun via star contraction — correct labels either way."""
    import warnings

    n = 60  # diameter 59 > max_iters=8
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # cap 0 bypasses the single-task union-find (which would solve this
    # 59-edge path without ever iterating) so the ITERATIVE guard stays
    # exercised
    monkeypatch.setattr(iterutils, "LOCAL_FINISH_MAX_ROWS", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.id: r.label
            for r in connected_components(pairs, max_iters=8).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert any(
        issubclass(w.category, RuntimeWarning) and "did not" in str(w.message)
        for w in caught
    )


def test_connected_components_diameter_equals_max_iters_converges(spark, monkeypatch):
    """ADVICE r11: a path of diameter exactly max_iters finishes its last
    label-changing propagation on round max_iters; only the NEXT round can
    observe changed==0.  The spare confirming round must let the guard see
    convergence instead of discarding correct labels and rerunning the whole
    computation via star contraction (which would emit the RuntimeWarning)."""
    import warnings

    n = 9  # path 0-1-...-8: diameter 8 == max_iters
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # cap 0 bypasses the single-task finish: this pins the ITERATIVE
    # path's spare confirming round (ADVICE r11)
    monkeypatch.setattr(iterutils, "LOCAL_FINISH_MAX_ROWS", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.id: r.label
            for r in connected_components(pairs, max_iters=n - 1).collect()
        }
    assert got == {i: 0 for i in range(n)}
    assert not any(issubclass(w.category, RuntimeWarning) for w in caught)


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda p: p[0] != p[1]),
        min_size=0,
        max_size=40,
    )
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_triangle_count_matches_brute_force(spark, pairs):
    from itertools import combinations

    from osm_changesets_to_parquet_spark.operators.graph import (
        oriented_triangles,
        triangle_count,
    )

    edge_set = {tuple(sorted(p)) for p in pairs}
    nodes = sorted({x for e in edge_set for x in e})
    want = sorted(
        (a, b, c)
        for a, b, c in combinations(nodes, 3)
        if {(a, b), (a, c), (b, c)} <= edge_set
    )
    # triangle_count normalizes its input: every edge in both
    # directions, one duplicate and one self-loop count nothing extra
    raw = [p for a, b in edge_set for p in ((a, b), (b, a))]
    raw += raw[:1] + [(0, 0)]
    df = spark.createDataFrame(raw, "src long, dst long")
    got = triangle_count(df).collect()[0].n_triangles
    assert got == len(want)
    # the primitive lists every triangle exactly once, as (s, t, x in w)
    edges = spark.createDataFrame(sorted(edge_set), "u long, v long")
    deg, tri = oriented_triangles(edges)
    listed = sorted(
        tuple(sorted((r.s, r.t, x))) for r in tri.collect() for x in r.w
    )
    assert listed == want
    want_deg = {n: sum(n in e for e in edge_set) for n in nodes}
    assert {r.n: r.d for r in deg.collect()} == want_deg


def test_connected_components_one_action_per_iteration(spark, monkeypatch):
    """The convergence counter rides the checkpoint job via observe():
    no DataFrame.count() action may run inside the iteration loop."""
    from pyspark.sql import DataFrame

    def _forbidden_count(self):
        raise AssertionError(
            "connected_components ran a separate count() action; the "
            "changed-counter must ride the checkpoint via observe()"
        )

    monkeypatch.setattr(DataFrame, "count", _forbidden_count)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {r.id: r.label for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=25),
    st.lists(st.integers(0, 1000), min_size=1, max_size=25),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_merge_asof_matches_pandas(spark, left_ts, right_ts):
    left = pd.DataFrame(
        {"k": 1, "t": sorted(set(left_ts)), }
    )
    right = pd.DataFrame({"k": 1, "t": sorted(set(right_ts))})
    right["val"] = right["t"] * 10

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = (
        merge_asof(ldf, rdf, on="t", by="k", value_cols=["val"], strict=False)
        .orderBy("t")
        .toPandas()
    )
    want = pd.merge_asof(
        left, right, on="t", by="k", direction="backward", allow_exact_matches=True
    )
    got_vals = [None if pd.isna(v) else int(v) for v in got["val"]]
    want_vals = [None if pd.isna(v) else int(v) for v in want["val"]]
    assert got_vals == want_vals

    # strict (no exact matches) against pandas' allow_exact_matches=False
    got_s = (
        merge_asof(ldf, rdf, on="t", by="k", value_cols=["val"], strict=True)
        .orderBy("t")
        .toPandas()
    )
    want_s = pd.merge_asof(
        left, right, on="t", by="k", direction="backward", allow_exact_matches=False
    )
    got_vals_s = [None if pd.isna(v) else int(v) for v in got_s["val"]]
    want_vals_s = [None if pd.isna(v) else int(v) for v in want_s["val"]]
    assert got_vals_s == want_vals_s


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=25),
    st.lists(st.integers(0, 1000), min_size=1, max_size=25),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_merge_asof_forward_matches_pandas(spark, left_ts, right_ts):
    """Forward direction (first over a following frame) vs pandas, both
    strictness modes — q105 witnesses the non-strict path end-to-end."""
    left = pd.DataFrame({"k": 1, "t": sorted(set(left_ts))})
    right = pd.DataFrame({"k": 1, "t": sorted(set(right_ts))})
    right["val"] = right["t"] * 10

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    for strict, allow_exact in ((False, True), (True, False)):
        got = (
            merge_asof(
                ldf, rdf, on="t", by="k", value_cols=["val"],
                strict=strict, direction="forward",
            )
            .orderBy("t")
            .toPandas()
        )
        want = pd.merge_asof(
            left, right, on="t", by="k",
            direction="forward", allow_exact_matches=allow_exact,
        )
        got_vals = [None if pd.isna(v) else int(v) for v in got["val"]]
        want_vals = [None if pd.isna(v) else int(v) for v in want["val"]]
        assert got_vals == want_vals, f"strict={strict}"


@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=60, unique=True),
    st.lists(st.integers(0, 500), min_size=60, max_size=60),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_global_cumsum_matches_python_prefix_sum(spark, ids, vals):
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    rows = [(i, v) for i, v in zip(ids, vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.c
        for r in global_cumsum(df, "k", "v", out_col="c", num_partitions=5).collect()
    }
    acc = 0
    for i, v in sorted(rows):
        acc += v
        assert got[i] == acc


def test_global_cumsum_precomputed_bounds_skips_quantile_pass(spark, monkeypatch):
    """bounds= must (a) produce the identical prefix sum and (b) never
    touch approxQuantile — the operator becomes single-pass."""
    from pyspark.sql.dataframe import DataFrameStatFunctions

    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum

    def _forbidden(self, *a, **k):
        raise AssertionError("bounds= was given but approxQuantile still ran")

    monkeypatch.setattr(DataFrameStatFunctions, "approxQuantile", _forbidden)
    rows = [(i, i % 7) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.c
        for r in global_cumsum(
            df, "k", "v", out_col="c", num_partitions=5, bounds=[20, 40, 60, 80]
        ).collect()
    }
    acc = 0
    for i, v in sorted(rows):
        acc += v
        assert got[i] == acc


@given(st.lists(st.tuples(st.integers(0, 1023), st.integers(0, 1023)), min_size=1, max_size=50))
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_zvalue_interleave_is_injective_and_bounded(spark, points):
    from osm_changesets_to_parquet_spark.operators.layout import zvalue

    df = spark.createDataFrame(points, "sx long, sy long")
    out = df.withColumn("z", zvalue(["sx", "sy"], 10)).collect()
    def ref(x, y):
        z = 0
        for b in range(10):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z
    for r in out:
        assert r.z == ref(r.sx, r.sy)
        assert 0 <= r.z < (1 << 20)


def test_zvalue_rejects_bit_budget_overflow():
    import pytest

    from osm_changesets_to_parquet_spark.operators.layout import zvalue, zvalue_sql

    # 4 cols x 16 bits = 64 target bits — would overflow the long sign bit
    with pytest.raises(ValueError, match="bit budget"):
        zvalue(["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError, match="bit budget"):
        zvalue_sql(["a", "b", "c", "d"], bits=16)
    # 62 bits exactly is the boundary and stays legal
    assert zvalue_sql(["a", "b"], bits=31)


@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=12
    )
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_word_ngrams_match_python_reference(spark, words):
    from osm_changesets_to_parquet_spark.operators.quality import word_ngrams

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = sorted(r.ngram for r in word_ngrams(df, 3, keep=["doc_id"]).collect())
    toks = text.split(" ")
    expect = sorted(
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    ) if len(toks) >= 3 else []
    assert got == expect


# --- round-4 operators -------------------------------------------------------


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60), st.integers(1, 15)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 20),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_interval_overlap_matches_brute(spark, ivs, width):
    from osm_changesets_to_parquet_spark.operators.intervals import (
        interval_overlap_pairs,
    )

    rows = [(i, s, s + ln) for i, (s, _, ln) in enumerate(ivs)]
    df = spark.createDataFrame(rows, ["id", "s", "e"])
    got = {
        (r.id_a, r.id_b, r.overlap)
        for r in interval_overlap_pairs(df, "id", "s", "e", bucket_width=width).collect()
    }
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            (ia, sa, ea), (ib, sb, eb) = rows[i], rows[j]
            ov = min(ea, eb) - max(sa, sb)
            if ov > 0:
                want.add((min(ia, ib), max(ia, ib), ov))
    assert got == want


@given(
    st.lists(st.integers(0, 40), min_size=1, max_size=40, unique=True),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_forest_closure_matches_python_walk(spark, nodes):
    from osm_changesets_to_parquet_spark.operators.closure import forest_closure

    # deterministic forest: parent(x) = x // 3 if that node exists and
    # differs, else root
    nodeset = set(nodes)
    parent = {x: x // 3 for x in nodes if x // 3 in nodeset and x // 3 != x}
    ndf = spark.createDataFrame([(x,) for x in nodes], ["node"])
    edf_rows = [(c, p) for c, p in parent.items()]
    if edf_rows:
        edf = spark.createDataFrame(edf_rows, ["child", "parent"])
    else:
        edf = ndf.selectExpr("node AS child", "node AS parent").limit(0)
    got = {r.node: (r.root, r.depth) for r in forest_closure(ndf, edf, rounds=8).collect()}

    def walk(x):
        d = 0
        while x in parent:
            x = parent[x]
            d += 1
        return x, d

    assert got == {x: walk(x) for x in nodes}


@given(
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 5)), min_size=1, max_size=30),
    st.lists(st.tuples(st.integers(0, 20), st.integers(0, 5)), min_size=1, max_size=30),
)
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_snapshot_diff_partitions_exactly(spark, old_rows, new_rows):
    from osm_changesets_to_parquet_spark.operators.merge import snapshot_diff

    old = {k: v for k, v in old_rows}  # last wins => unique keys
    new = {k: v for k, v in new_rows}
    odf = spark.createDataFrame(list(old.items()), ["k", "v"])
    ndf = spark.createDataFrame(list(new.items()), ["k", "v"])
    got = {r.k: r.change_type for r in snapshot_diff(odf, ndf, "k", ["v"]).collect()}
    for k in set(old) | set(new):
        if k not in old:
            assert got[k] == "added"
        elif k not in new:
            assert got[k] == "removed"
        elif old[k] != new[k]:
            assert got[k] == "changed"
        else:
            assert got[k] == "unchanged"


# --- repeated_spans vs brute force over random tiny-alphabet corpora --------

def _brute_spans(texts, k, min_span):
    locs = {}
    for did, t in texts:
        toks = [w for w in t.split(" ") if w]
        for p in range(len(toks) - k + 1):
            locs.setdefault(tuple(toks[p : p + k]), []).append((did, p + 1))
    dup_pos = {}
    for g, ps in locs.items():
        if len(ps) >= 2:
            for did, p in ps:
                dup_pos.setdefault(did, set()).add(p)
    out = []
    for did, ps in dup_pos.items():
        ps = sorted(ps)
        start = prev = ps[0]
        for p in ps[1:] + [None]:
            if p is None or p - prev > k:
                end = prev + k - 1
                if end - start + 1 >= min_span:
                    out.append((did, start, end, end - start + 1))
                if p is not None:
                    start = p
            if p is not None:
                prev = p
    return sorted(out)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=24).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_repeated_spans_matches_brute_force_random(spark, docs):
    # a 3-letter alphabet makes duplicated k-grams (and island merges,
    # boundary spans, in-doc repeats) common at tiny sizes — exactly
    # the edge structure the fixed-fixture test can't enumerate
    from osm_changesets_to_parquet_spark.operators.dedup import repeated_spans

    texts = list(enumerate(docs))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in repeated_spans(df, k=3, min_span=4).collect()
    )
    assert got == _brute_spans(texts, k=3, min_span=4)


# --- BPE merge rounds vs a reference implementation --------------------------

def _brute_bpe(texts, n_merges):
    """Reference BPE trainer: vocab word counts, per-round pair counts,
    winner by (count DESC, left, right), greedy left-to-right
    non-overlapping merge inside each word."""
    from collections import Counter

    vocab = Counter(w for t in texts for w in t.split(" ") if w)
    seqs = {w: list(w) for w in vocab}
    out = []
    for r in range(1, n_merges + 1):
        pc = Counter()
        for w, syms in seqs.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        if not pc:
            break
        (l, rt), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((r, l, rt, cnt))
        for w, syms in seqs.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rt:
                    merged.append(l + rt)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            seqs[w] = merged
    return out, {w: len(s) for w, s in seqs.items()}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=5),
            min_size=1,
            max_size=8,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
def test_bpe_rounds_match_reference(spark, docs):
    # a 2-letter alphabet makes self-overlapping runs (aaaa), ties, and
    # merged-symbol collisions (a+ab vs aa+b) common — exactly where
    # greedy merge order and (count, l, r) tie-breaks can diverge
    from osm_changesets_to_parquet_spark.operators.text import (
        bpe_encode_counts,
        bpe_merge_steps,
    )

    texts = list(enumerate(docs))
    want_rounds, want_lens = _brute_bpe(docs, 3)
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got_rounds = [
        (r["round"], r.left_sym, r.right_sym, r.pair_count)
        for r in bpe_merge_steps(df, 3).orderBy("round").collect()
    ]
    # the engine emits a row per requested round even when the vocab
    # exhausts pairs; the reference stops — compare the common prefix
    assert got_rounds[: len(want_rounds)] == want_rounds
    got_counts = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_encode_counts(df, 3).collect()
    }
    for did, text in texts:
        words = [w for w in text.split(" ") if w]
        assert got_counts[did] == (
            len(words),
            sum(want_lens[w] for w in words),
        ), (did, text)


# --- unigram entropy vs a direct Counter reference ---------------------------

def _brute_entropy(text):
    import math
    from collections import Counter

    ws = [w for w in text.split(" ") if w]
    if not ws:
        return (0, 0, None, None)
    c, n = Counter(ws), len(ws)
    h = -sum(v / n * math.log2(v / n) for v in c.values())
    return (n, len(c), round(len(c) / n, 6), round(h, 6))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=0, max_size=3),
            min_size=0,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_unigram_entropy_matches_counter(spark, docs):
    # empty tokens (consecutive spaces), single-word docs, empty docs,
    # and all-same-word docs are the run-fold edge cases
    from osm_changesets_to_parquet_spark.operators.text import unigram_entropy

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_distinct, r.ttr, r.entropy)
        for r in unigram_entropy(df).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == _brute_entropy(t), (i, t)


# --- 2-D grid ε-join vs brute force ------------------------------------------

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(
            # multiples of eps/4 land points exactly ON cell borders and
            # at exact distance eps (strict < must exclude them);
            # negatives exercise floor-toward-minus-infinity cell ids
            st.integers(min_value=-20, max_value=20).map(lambda i: i * 0.25),
            st.integers(min_value=-20, max_value=20).map(lambda i: i * 0.25),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_grid_neighbor_pairs_matches_brute_force(spark, pts):
    import math

    from osm_changesets_to_parquet_spark.operators.intervals import (
        grid_neighbor_pairs_2d,
    )

    eps = 1.0
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in grid_neighbor_pairs_2d(df, "id", "x", "y", eps).collect()
    }
    want = {}
    for i, (xa, ya) in enumerate(pts):
        for j, (xb, yb) in enumerate(pts):
            if i < j:
                d2 = (xa - xb) ** 2 + (ya - yb) ** 2
                if d2 < eps * eps:
                    want[(i, j)] = round(math.sqrt(d2), 6)
    assert got == want


# --- rolling median / rolling distinct vs brute force -------------------------

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5).map(float)),
        min_size=1,
        max_size=40,
    ),
    frame=st.integers(min_value=1, max_value=7),
)
def test_rolling_median_matches_brute(spark, vals, frame):
    # NULL gaps, repeated values, and tiny frames — the interpolation
    # and null-drop edges of the q157 spelling
    from pyspark.sql.window import Window

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v double"
    )
    w = Window.orderBy("i").rowsBetween(-(frame - 1), 0)
    arr = F.array_sort(F.collect_list("v").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + 1).cast("int"))
    med = F.when(n > 0, (lo + hi) / 2.0)
    got = {r.i: r.m for r in df.select("i", F.round(med, 6).alias("m")).collect()}
    import statistics

    for i in range(len(vals)):
        window = [v for v in vals[max(0, i - frame + 1) : i + 1] if v is not None]
        want = round(statistics.median(window), 6) if window else None
        assert got[i] == want, (i, vals, frame)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),  # day
            st.integers(min_value=0, max_value=6),   # user
        ),
        min_size=1,
        max_size=60,
    )
)
def test_rolling_distinct_users_matches_brute(spark, pairs):
    # the explode-to-serving-windows spelling vs a literal trailing-7
    # set union per observed day
    df = spark.createDataFrame(pairs, "day long, user_id long")
    du = df.distinct()
    observed = du.select("day").distinct()
    exploded = du.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("day"),
        "user_id",
    )
    got = {
        r.day: r.c
        for r in exploded.join(F.broadcast(observed), "day")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    days = sorted({d for d, _ in pairs})
    for d in days:
        want = len({u for dd, u in pairs if d - 6 <= dd <= d})
        assert got[d] == want, (d, pairs)


def test_skyline_2d_matches_bruteforce(spark):
    """skyline_2d_max == O(n^2) dominance scan on an anti-correlated
    synthetic set (rich Pareto front), including duplicate pairs and
    same-x columns."""
    from osm_changesets_to_parquet_spark.operators.skyline import (
        skyline_2d_max,
    )

    import itertools
    rows = []
    # deterministic anti-correlated lattice + noise from a fixed LCG
    seed = 1234567
    for i in range(400):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        x = seed % 100
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        y = 100 - x + (seed % 25) - 12
        rows.append((x, y))
    rows += [(50, 70), (50, 70), (50, 10)]  # dup pair + same-x column
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"], r["n_points"])
        for r in skyline_2d_max(df, "x", "y", bounds=[20.0, 40.0, 60.0, 80.0]).collect()
    }
    from collections import Counter
    cnt = Counter(rows)
    sky = set()
    for (x, y), n in cnt.items():
        dominated = any(
            (a >= x and b >= y and (a > x or b > y)) for (a, b) in cnt
        )
        if not dominated:
            sky.add((x, y, n))
    assert got == sky and len(sky) >= 5

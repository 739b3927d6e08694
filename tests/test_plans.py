"""Plan-shape regression tests (SURVEY.md §5.2 item 5).

Correctness tests prove the numbers; these prove the PLAN — the thing
that decides whether a query survives a 100x scale-up.  Each assertion
pins a physical-plan property worth defending:

- dimension joins broadcast (no fact-side shuffle),
- global top-k executes as TakeOrderedAndProject (per-partition heap +
  O(k) driver merge, never a total sort),
- filters and column pruning reach the parquet scan,
- aggregates are partial (map-side combine) before the shuffle.
"""

from __future__ import annotations

from pathlib import Path

from osm_changesets_to_parquet_spark import queries as Q

Q.load_all_modules()

# Lines of the package that force a join strategy with ``F.broadcast(``.
# Every remaining hint changes an sf0.1 plan when removed; the rest were
# deleted because Spark's size-based selection already picks the same plan.
_BROADCAST_HINT_LINES = 67


def _plan(spark, sf_dir, name: str) -> str:
    df = Q.REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_hints_do_not_grow():
    pkg = Path(Q.__file__).resolve().parent.parent
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "F.broadcast(" in line
    ]
    assert len(hits) <= _BROADCAST_HINT_LINES, (
        f"{len(hits)} lines force F.broadcast(), cap {_BROADCAST_HINT_LINES}. "
        "A hint overrides spark.sql.autoBroadcastJoinThreshold, so on a table "
        "that grows with the data it can OOM the driver. Add one only together "
        "with an sf0.1 plan that changes without it (README, 'Join strategy')."
    )


def test_q10_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q10_join4_revenue")
    assert "BroadcastHashJoin" in plan
    # the orders fact table must not be exchanged for the dim joins:
    # every join with region/nation/customer is broadcast, so no
    # SortMergeJoin should appear at this scale shape
    assert "SortMergeJoin" not in plan


def test_q23_global_ntile_without_single_partition_window(spark, sf_dir):
    # the global ntile/percent_rank must ride the range-bucketed
    # global_rank discipline: the only full-data window is PARTITIONED
    # BY __bucket, and the builtin single-task window functions never
    # appear — tile/pr are arithmetic over (rank, n)
    plan = _plan(spark, sf_dir, "q23_ntile_percent_rank")
    assert "ntile" not in plan
    assert "percent_rank" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__bucket" in line, line  # never a partition-less full-data window
    # tiny frames only: the 1-row count agg + the |buckets|-row offsets
    assert plan.count("Exchange SinglePartition") <= 2


def test_q24_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q24_topk")
    assert "TakeOrderedAndProject" in plan


def test_q36_cosine_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q36_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    # brute-force scan must not globally sort 100 TB of similarities
    assert "rangepartitioning" not in plan.lower()


def test_q02_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q02_filter_project")
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: untouched wide columns never leave the scan
    assert "l_comment" not in plan


def test_q04_partial_aggregation(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q04_groupby_agg")
    # partial_ aggregate functions before the exchange, final after —
    # the shuffle carries O(keys) rows, not O(input)
    assert "partial_sum" in plan or "partial_count" in plan


def test_q01_count_prunes_all_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_count")
    assert "ReadSchema: struct<>" in plan


def test_q19_single_window_exchange(spark, sf_dir):
    # rank/row_number/dense_rank over the same window spec must share
    # one shuffle + sort, not one per function
    plan = _plan(spark, sf_dir, "q19_rank_topn")
    assert plan.count("Exchange hashpartitioning(o_custkey") <= 1


def test_s1_streaming_uses_stateful_agg(spark, sf_dir):
    # batch spelling of the tumbling window still plans as a hash agg
    # over window structs — no explode of per-row windows
    plan = _plan(spark, sf_dir, "s1_tumbling_window")
    assert "HashAggregate" in plan


# ---------------------------------------------------------------------------
# Extended relational surface (q53-q67) + format round-trips (cs4-cs6)
# ---------------------------------------------------------------------------


def test_q53_pivot_no_discovery_single_shuffle(spark, sf_dir):
    # explicit pivot value list => pivotfirst runs directly (no
    # distinct-discovery pre-job); both shuffles sit above partial
    # aggregates, so they carry O(keys) rows, never O(input)
    plan = _plan(spark, sf_dir, "q53_pivot")
    assert "pivotfirst" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "partial_pivotfirst" in plan and "partial_count" in plan


def test_q54_unpivot_is_expand_no_hash_shuffle(spark, sf_dir):
    # melt = Expand (row generation in-task); the only exchange is the
    # final presentation sort
    plan = _plan(spark, sf_dir, "q54_unpivot")
    assert "Expand" in plan
    assert "Exchange hashpartitioning" not in plan


def test_q55_grouping_sets_expand_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q55_grouping_sets")
    assert "Expand" in plan
    assert "partial_count" in plan


def test_q56_scalar_subquery_broadcast_not_collected(spark, sf_dir):
    # the 1-row aggregate joins in as a broadcast — never a driver
    # collect, never a sort-merge
    plan = _plan(spark, sf_dir, "q56_scalar_subquery")
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_q57_in_subquery_semi_with_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q57_in_subquery")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(l_quantity" in plan


def test_q58_exists_chain_semi_then_anti(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q58_exists_not_exists")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_q59_having_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q59_having")
    assert "partial_count" in plan or "partial_sum" in plan


def test_q61_stats_agg_one_pass_partials(spark, sf_dir):
    # distributed moments: map-side partials, shuffle carries O(keys)
    plan = _plan(spark, sf_dir, "q61_stats_agg")
    assert "partial_" in plan


def test_q62_argminmax_single_agg_no_window(spark, sf_dir):
    # min_by/max_by = one hash aggregate; the window spelling would add
    # a per-partition sort + full-row shuffle
    plan = _plan(spark, sf_dir, "q62_argmin_argmax")
    assert "min_by" in plan and "max_by" in plan
    assert "Window" not in plan


def test_q63_collect_set_object_hash_agg(spark, sf_dir):
    # collect_set aggregates buffer objects — ObjectHashAggregate, still
    # with map-side partials (no raw-row shuffle)
    plan = _plan(spark, sf_dir, "q63_string_agg")
    assert "ObjectHashAggregate" in plan
    assert "partial_" in plan


def test_q64_conditional_agg_partial(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q64_conditional_agg")
    assert "partial_" in plan


def test_q65_single_window_exchange(spark, sf_dir):
    # four window functions over compatible specs share one shuffle+sort
    plan = _plan(spark, sf_dir, "q65_window_frame_funcs")
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_q66_values_lookup_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q66_values_lookup_join")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q67_distinct_map_side_partial(spark, sf_dir):
    # DISTINCT = two-level hash agg: partial dedup before the exchange
    plan = _plan(spark, sf_dir, "q67_distinct_multicol")
    assert plan.count("HashAggregate") >= 2


def test_cs4_csv_read_prunes_unused_columns(spark, sf_dir):
    # explicit schema (no inference scan) + column pruning through the
    # CSV read: columns not used by the aggregate never materialize
    plan = _plan(spark, sf_dir, "cs4_csv_roundtrip")
    assert "FileScan csv" in plan
    assert "l_orderkey" not in plan


def test_cs5_json_read_prunes_unused_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cs5_json_roundtrip")
    assert "FileScan json" in plan
    assert "user_id" not in plan


def test_cs6_orc_read_prunes_unused_columns(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cs6_orc_roundtrip")
    assert "orc" in plan.lower()
    assert "o_orderpriority" not in plan


# ---------------------------------------------------------------------------
# Curation + vector ops (q69-q74), cluster resolution input, fallback scan
# ---------------------------------------------------------------------------


def test_q69_sample_filters_in_scan_stage(spark, sf_dir):
    # the hash-sample predicate is arithmetic, so it can't become a
    # parquet PushedFilter — but it must run in the scan stage (before
    # the only exchange), and the scan must prune to the 3 used columns
    plan = _plan(spark, sf_dir, "q69_hash_sample")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan
    assert "source" not in plan.split("ReadSchema: ")[-1]


def test_q71_profile_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q71_profile")
    assert plan.count("FileScan") == 1  # one scan feeds every statistic


def test_q72_histogram_tiny_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q72_histogram")
    assert "partial_" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q73_q74_vector_ops_no_shuffle(spark, sf_dir):
    for name in ("q73_vector_normalize", "q74_quantize_int8"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, name
        assert "BatchEvalPython" not in plan, name  # pure JVM expressions


def test_q35b_single_scan_bucket_aggregation(spark, sf_dir):
    # the one-pass bucket spelling: the expensive signature subtree must
    # appear exactly once (a self-join spelling scanned it twice).
    # Since round 13 the char-hash pass runs ONCE in the lineage-
    # truncated shingle-frame build; the query plan reads that
    # materialized frame (ExistingRDD) and must not re-scan the
    # parquet or re-fold the text.
    plan = _plan(spark, sf_dir, "q35b_minhash_lsh")
    assert plan.count("FileScan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 1
    assert "aggregate(" not in plan  # char-hash fold absent from query plan
    assert "ObjectHashAggregate" in plan  # collect_list buckets


def test_q81_merge_is_anti_join_plus_union(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q81_merge_upsert")
    assert "LeftAnti" in plan
    assert "Union" in plan


def test_q82_resample_single_user_shuffle_window(spark, sf_dir):
    # densify + ffill: the forward-fill window and the grid join share
    # the user_id partitioning — no repeated wide shuffles
    plan = _plan(spark, sf_dir, "q82_resample_ffill")
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_q16b_rewrite_has_no_join(spark, sf_dir):
    # the pair-free spelling must plan as aggregates + window only
    plan = _plan(spark, sf_dir, "q16b_theta_join_agg_rewrite")
    assert "Join" not in plan
    assert "Window" in plan and "partial_" in plan


def test_q80_cms_build_partial_agg_bounded_shuffle(spark, sf_dir):
    # the sketch-construction groupBy(j,bucket) must combine map-side:
    # the shuffle then carries at most depth x width counters per task,
    # independent of token count — the property that makes the sketch
    # buildable over 100 TB of tokens
    plan = _plan(spark, sf_dir, "q80_count_min_sketch")
    assert "partial_count" in plan or "partial_" in plan
    # probing joins the broadcast-sized sketch — never a cartesian
    assert "CartesianProduct" not in plan


def test_q82_grid_join_no_cartesian(spark, sf_dir):
    # grid densification must be sequence+explode then a keyed join —
    # a calendar cross-join spelling would be quadratic at scale
    plan = _plan(spark, sf_dir, "q82_resample_ffill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Explode" in plan or "Generate" in plan


def test_q84_pagerank_plan_size_constant_across_iterations(spark, sf_dir):
    # lineage truncation per iteration: the final plan must not grow
    # with n_iters (an untruncated loop doubles the plan every round)
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.graph import pagerank
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_partkey") <= 50)
    fwd = li.select(
        F.col("l_partkey").alias("src"), (F.col("l_suppkey") + 10_000).alias("dst")
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def plan_len(n):
        df = pagerank(edges, n_iters=n)
        return len(df._jdf.queryExecution().executedPlan().toString())

    l1, l4 = plan_len(1), plan_len(4)
    assert l4 <= l1 * 1.5, (l1, l4)


def test_q109_bm25_take_ordered_no_token_explode_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q109_bm25_topk")
    # top-k must be per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()
    # query-term df and N/avgdl ride broadcast exchanges, so the only
    # hash exchanges are the per-(doc, term) tf agg and small aggs
    assert "BroadcastExchange" in plan


def test_q107_triangle_orientation_halves_edges(spark, sf_dir):
    # degree-ordered orientation means the wedge join's build/stream
    # sides are the oriented (halved) edge set, not the symmetric one;
    # the closing join is a LeftSemi
    plan = _plan(spark, sf_dir, "q107_triangle_count")
    assert "LeftSemi" in plan


def test_q110_single_scan_band_bucket_aggregation(spark, sf_dir):
    # SimHash banding mirrors q35b's discipline: ONE scan of documents
    # (the fingerprint subtree never duplicates into a self-join), one
    # bucket collect, and verification in-row — no join back to the
    # corpus for the hamming check
    plan = _plan(spark, sf_dir, "q110_simhash_neardup")
    assert plan.count("FileScan parquet") == 1
    assert "ObjectHashAggregate" in plan  # collect_list buckets
    assert "Join" not in plan  # verify happens on the in-bucket structs


def test_q135_ann_candidates_are_keyed_join_not_cross(spark, sf_dir):
    # the ANN-pruned contrastive pass must join anchors to the corpus on
    # the probed cell id (one corpus scan total) — q132's broadcast
    # nested-loop full-scan-per-anchor is exactly what it replaces
    plan = _plan(spark, sf_dir, "q135_contrastive_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q136_boilerplate_partial_aggs_hash_keys(spark, sf_dir):
    # both aggregates (phrase doc-frequency, per-doc rollup) must take
    # map-side partials, and the doc-frequency count must NOT be a
    # window over __h (VERDICT r13 item 5: count() over
    # (partition by __h) takes no partials and is outside AQE skew
    # splitting — one hot phrase would serialize its whole stream).
    # The gram build itself is lineage-cut at construction (it feeds
    # two consumers), so the final plan reads the checkpointed frame;
    # the hash-keyed shuffle (__h, a long xxhash64 key — never the
    # phrase string) is pinned via the exchange key name.
    plan = _plan(spark, sf_dir, "q136_boilerplate_phrases")
    assert "partial_count" in plan
    assert "__h" in plan
    for line in plan.splitlines():
        assert "Window" not in line, line


def test_q137_equifreq_no_single_partition_window(spark, sf_dir):
    # the NTILE(10) spelling must ride the bucketed global_rank: every
    # window is partitioned by __bucket (the offsets window orders by it)
    plan = _plan(spark, sf_dir, "q137_equifreq_deciles")
    assert "ntile" not in plan
    for line in plan.splitlines():
        if "Window [" in line:
            assert "__bucket" in line, line


def test_q139_incremental_candidates_keyed_join(spark, sf_dir):
    # the batch-vs-corpus candidate pass must be an equi-join on the
    # (band, bkey) bucket — never a cross join of the two sides
    plan = _plan(spark, sf_dir, "q139_incremental_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q112_candidates_are_equi_join_not_cross(spark, sf_dir):
    # PassJoin blocking must plan as a hash/sort-merge equi-join on the
    # (len, segment, substring) key — a cross join would be the brute
    # force the blocking exists to avoid
    plan = _plan(spark, sf_dir, "q112_editdist_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q143_spans_no_inferred_filter_no_interpreted_hash(spark, sf_dir):
    # the respelled repeated-spans plan must keep BOTH properties that
    # fixed the 100x regression: no InferFiltersFromGenerate filter
    # re-evaluating the gram pipeline below the Generate (the
    # outer-explode spelling), and the gram keys hashed by the native
    # xxhash64 kernel AFTER the explode, never an interpreted per-char
    # aggregate lambda
    plan = _plan(spark, sf_dir, "q143_repeated_spans")
    assert "xxhash64" in plan.lower()
    # the regression symptom was a Filter node re-evaluating the whole
    # in-row gram pipeline (array_join over slices) below the Generate;
    # with posexplode_outer no Filter may contain the gram expression
    for line in plan.splitlines():
        if "Filter" in line:
            assert "array_join" not in line, line
    # the char-fold hash (aggregate over split chars) must be absent
    assert "ascii" not in plan


def test_q146_prefilter_before_rerank_no_corpus_shuffle(spark, sf_dir):
    # the quantized prefilter must be a map-side filter over the code
    # scan feeding broadcast joins — the corpus is never exchanged
    # before the threshold prunes it, and no cartesian product appears
    plan = _plan(spark, sf_dir, "q146_quantized_rerank")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # rerank joins are broadcast (survivor sliver + tiny query side)
    assert "BroadcastHashJoin" in plan


def test_s14_probe_is_keyed_join_not_cross(spark, sf_dir):
    # the streaming probe reuses lsh_neardup_probe_index: candidates
    # come from a (band, bkey) equi-join against the persisted index —
    # pin the batch spelling of that plan (the streaming job runs the
    # same code per micro-batch)
    import tempfile

    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators import dedup as D
    from osm_changesets_to_parquet_spark.operators.quality import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("doc_id", 100)
    idx = tempfile.mkdtemp(prefix="s14_plan_idx_")
    D.lsh_index_append(docs.where(b < 50), idx, "__bid=0")
    probe = D.lsh_neardup_probe_index(spark, idx, docs.where(b >= 50), 0.6)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q150_persisted_ivf_probe_prunes_partitions(spark, sf_dir):
    # the entire point of persisting the IVF index partitionBy(cell):
    # the probe's cell filter must reach the scan as PartitionFilters
    # so only nprobe/n_cells of the files are read
    plan = _plan(spark, sf_dir, "q150_ann_persisted_index")
    scan = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in scan), plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_q144_bpe_plan_size_constant_across_rounds(spark, sf_dir):
    # lineage truncation per merge round (the q84 discipline): the plan
    # of the final vocab must not grow with n_merges — pinned on the
    # RETAINED Catalyst spelling (the kernel path is trivially constant)
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.text import _bpe_rounds

    docs = load_table(spark, sf_dir, "documents").limit(50)

    def plan_len(n):
        cur, _ = _bpe_rounds(docs, n, "text", use_kernel=False)
        return len(cur._jdf.queryExecution().executedPlan().toString())

    l1, l3 = plan_len(1), plan_len(3)
    assert l3 <= l1 * 1.5, (l1, l3)


def test_q144_bpe_kernel_plan_shape(spark, sf_dir):
    # the round-13 training kernel: ONE MapInPandas over the
    # repartition(1) vocabulary — an explicit round-robin exchange (so
    # the word-count aggregation keeps its parallelism; coalesce(1)
    # would pull it into the single task), and no per-round checkpoint
    # chain at all
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.text import _bpe_rounds

    docs = load_table(spark, sf_dir, "documents").limit(50)
    cur, winners = _bpe_rounds(docs, 3, "text")
    for df in (cur, winners):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan, plan[:2000]
        assert "Exchange SinglePartition" in plan, plan[:2000]
        assert "Coalesce" not in plan, plan[:2000]


def test_q152_entropy_zero_shuffle(spark, sf_dir):
    # the whole point of the in-row fold spelling: the word multiset
    # never leaves the row, so before the presentation orderBy there is
    # NO shuffle at all — scan -> project.  Build the operator directly
    # (the registered query adds an orderBy whose range exchange is
    # presentation, not computation).
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.text import unigram_entropy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    plan = (
        unigram_entropy(docs, keep=["doc_id", "lang"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    # and the sort is not inlined per-element (the q143 CollapseProject
    # trap): exactly one array_sort in the plan
    assert plan.count("array_sort") == 1


def test_q153_group_jaccard_equi_join_broadcast_sizes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q153_group_jaccard")
    # the intersection must be the hash-keyed EQUI-join, never a
    # cartesian token×token comparison; the only nested-loop join
    # allowed is the tiny broadcast sizes×sizes pair frame
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the |groups|² pair completion
    assert "xxhash64" in plan


def test_q155_grid_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q155_grid_join_2d")
    # the ε-join must be the cell-keyed equi-join — any nested-loop
    # spelling is the O(n²) plan this operator exists to avoid
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q171_pairs_in_row_no_self_join(spark, sf_dir):
    # pair generation must be in-row (posexplode tail-slice), never a
    # basket-table self-join: every join in the plan is an equi hash
    # join (item-frequency semi + stat lookups), no cartesian shape
    plan = _plan(spark, sf_dir, "q171_frequent_pairs")
    assert "CartesianProduct" not in plan
    # the single BNLJ is the broadcast of the 1-row basket-count frame
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "posexplode" in plan


def test_q174_blocking_is_rank_offset_equi_join(spark, sf_dir):
    # sorted-neighborhood candidates join on the rank+offset key — an
    # equi join carrying O(n*w) rows, never a range/cross join; and the
    # rank itself must ride the bucketed window, not a single task
    plan = _plan(spark, sf_dir, "q174_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "Window [" in line and "row_number" in line:
            assert "__bucket" in line, line


def test_q172_auc_no_single_partition_data_window(spark, sf_dir):
    # the strictly-below prefix count must ride global_cumsum's
    # bucketed window; only the tiny per-bucket offset frame may be a
    # single partition
    plan = _plan(spark, sf_dir, "q172_roc_auc")
    for line in plan.splitlines():
        if "Window [" in line and "sum(" in line and "cnt" in line:
            assert "__bucket" in line, line


def test_q176_probe_touches_postings_not_corpus(spark, sf_dir):
    # the AND-query probes explode ONLY the two matched tokens'
    # posting shards: the token filter must be pushed into the
    # aggregate subtree, and the doc intersection is an equi join
    plan = _plan(spark, sf_dir, "q176_inverted_index")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 1-row stat glue only


def test_q177_kcenter_argmax_is_take_ordered(spark, sf_dir):
    # each greedy round's argmax must be TakeOrderedAndProject — a
    # per-partition heap — never a global sort of the corpus
    from osm_changesets_to_parquet_spark.catalog import load_table
    from osm_changesets_to_parquet_spark.operators.similarity import (
        k_center_greedy,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    seed = e.where(F.col("vec_id") == 0).collect()[0]
    arr = F.array(*[F.lit(float(x)) for x in seed["v"]])
    dist = F.aggregate(
        F.zip_with("v", arr, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    step = (
        e.withColumn("mind", dist)
        .where(F.col("vec_id") != 0)
        .orderBy(F.col("mind").desc(), "vec_id")
        .limit(1)
    )
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q191_dynamic_partition_pruning_in_scan(spark, sf_dir):
    # the fact scan must carry a DynamicPruningExpression in its
    # partition filters — the runtime-pruning contract, not just a
    # plain broadcast join
    plan = _plan(spark, sf_dir, "q191_dynamic_partition_pruning")
    assert "dynamicpruning" in plan.lower()


def test_q190_skyline_no_partitionless_window(spark, sf_dir):
    # every full-data window in the skyline plan is partitioned (by
    # __bucket or by x); the only global window is the |buckets|-row
    # suffix-max frame
    plan = _plan(spark, sf_dir, "q190_skyline")
    import re

    for line in plan.splitlines():
        if "Window [" in line and "windowspecdefinition(" in line:
            spec = line.split("windowspecdefinition(")[1]
            if spec.startswith("x#") or "__bucket" in spec:
                continue
            # global frame: must be the per-bucket suffix maxima
            assert "__bucket" in line or "__mx" in line, line


def test_q200_tpch_q3_take_ordered_broadcast(spark, sf_dir):
    # the verbatim TPC-H Q3: top-10 must be TakeOrderedAndProject and
    # the dimension-filtered joins broadcast at this scale shape
    plan = _plan(spark, sf_dir, "q200_tpch_q3")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q179_fixed_anchors_and_no_corpus_sized_window(spark, sf_dir):
    # the VERDICT r06 item 3 respell: the anchor draw must execute as
    # TakeOrderedAndProject (fixed k, O(n) scan — never a corpus sort),
    # and every corpus-sized window must be partitioned by (qid, __pid)
    # — the two-phase top-k.  The only single-key (qid) window runs on
    # the <= k * num_partitions pruned rows.
    plan = _plan(spark, sf_dir, "q179_knn_label_audit")
    assert "TakeOrderedAndProject" in plan
    windows = [
        line
        for line in plan.splitlines()
        if "Window [" in line and "windowspecdefinition(" in line
    ]
    assert len(windows) == 2, plan
    # phase-1 window (deepest in the plan = listed later) carries the
    # spark_partition_id pruning key
    assert any("__pid" in line for line in windows), plan


def test_q132_contrastive_single_aggregation_no_windows(spark, sf_dir):
    # pos + neg argmax must be ONE min_by keyed aggregation over the
    # broadcast-anchor candidate stream: zero Window nodes, map-side
    # partial min_by, and no join between pos and neg branches (the
    # old spelling ran two windowed rank passes + a join)
    plan = _plan(spark, sf_dir, "q132_contrastive_mining")
    assert "Window" not in plan
    assert "partial_min_by" in plan or "min_by" in plan, plan


def test_q207_reservoir_is_take_ordered(spark, sf_dir):
    # the fixed-k hash draw must execute as TakeOrderedAndProject
    # (per-partition k-heap), never a global sort of the corpus
    # (the plan's only Sort is the parent ordering the 20-row result
    # by doc_id — corpus-sized sorting would show as a range exchange)
    plan = _plan(spark, sf_dir, "q207_reservoir_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_q211_haversine_candidates_equi_join(spark, sf_dir):
    # grid blocking must plan as an equi-join on the cell coordinates —
    # the all-pairs cross join is the oracle's cost, not the engine's
    plan = _plan(spark, sf_dir, "q211_haversine_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q210_projection_keyed_join_partial_agg(spark, sf_dir):
    # the bipartite projection must equi-join on the order key and
    # take map-side partial counts on the (p1, p2) pairs
    plan = _plan(spark, sf_dir, "q210_bipartite_projection")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_q216_bloom_bits_broadcast(spark, sf_dir):
    # the bit-set and blocklist probes must be broadcast (semi) joins —
    # the fact table is never shuffled for membership testing
    plan = _plan(spark, sf_dir, "q216_bloom_antijoin")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q218_triangle_joins_all_equi(spark, sf_dir):
    # degree orientation + the undirected-key wedge close must keep
    # every DATA join an equi-join — a nested-loop close defeats the
    # O(sqrt m) wedge bound.  (The only nested-loop joins allowed are
    # the final 1-row count combiners — broadcast scalar cross joins.)
    plan = _plan(spark, sf_dir, "q218_triangle_count")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line  # 1-row scalar combiner only
        if "LeftSemi" in line:  # the wedge close: must be an equi-join
            assert "SortMergeJoin" in line or "BroadcastHashJoin" in line, line


def test_q226_lateral_decorrelates_to_rank_join(spark, sf_dir):
    # the correlated LATERAL ... LIMIT must decorrelate into one
    # partitioned row_number + a single equi-join with the predicate
    # pushed to both scans — never a per-outer-row nested loop
    plan = _plan(spark, sf_dir, "q226_lateral_topn")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "row_number" in plan
    assert plan.count("(o_custkey") >= 1  # pushed correlation predicate


def test_q232_spearman_rank_frames_broadcast_no_corpus_window(spark, sf_dir):
    # both doubled-rank frames must broadcast back onto the cells, and
    # every window must be partitioned by the group key over
    # |distinct value| rows — no partitionless/corpus-sized frame
    plan = _plan(spark, sf_dir, "q232_spearman")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "Window [" in line:
            assert "windowspecdefinition(g#" in line, line


def test_q243_pq_adc_broadcast_lut_and_two_phase_topk(spark, sf_dir):
    # the anchor panel must be TakeOrderedAndProject; codebook + ADC
    # LUT joins broadcast; rankings two-phase (__pid local prune); and
    # nothing falls back to a sort-merge or cartesian plan
    plan = _plan(spark, sf_dir, "q243_pq_adc")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__pid" in plan  # per_anchor_topk local phase present


def test_q244_streaks_take_ordered_user_windows(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q244_activity_streaks")
    assert "TakeOrderedAndProject(limit=10" in plan
    for line in plan.splitlines():
        if "windowspecdefinition(" in line and "Window [" in line:
            assert "user_id#" in line, line  # bounded per-user frames


def test_q245_quantile_normalize_bucketed_global_rank(spark, sf_dir):
    # the global order-statistic table must come from the bucketed
    # global_rank (per-bucket windows + the |buckets|-row offset
    # frame), and the mapped-index join must broadcast — never a
    # corpus-wide sort-merge
    plan = _plan(spark, sf_dir, "q245_quantile_normalize")
    assert "__bucket" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_q273_apriori_candidates_broadcast(spark, sf_dir):
    # the Apriori candidate generation joins TINY frequent-pair frames
    # — all broadcast, never a sort-merge of the pair table; the
    # 3-way support count builds from the broadcast candidate set
    plan = _plan(spark, sf_dir, "q273_apriori_triples")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_q281_session_lift_materializes_baskets_once(spark, sf_dir):
    # baskets feed four consumers: lineage is cut after the
    # sessionization, so the LAG + running-sum window pair appears
    # ONCE in the executed plan (pre-fix: five recomputations)
    plan = _plan(spark, sf_dir, "q281_session_lift")
    lags = [
        line
        for line in plan.splitlines()
        if "lag(ts_us" in line and "Window [" in line
    ]
    assert len(lags) == 0, plan  # behind the lineage cut -> scan nodes


def test_q305_single_lineitem_scan_all_parents_broadcast(spark, sf_dir):
    # the fused audit: five lineitem checks ride ONE scan (the naive
    # per-check spelling scans the fact table five times) and every
    # parent key set is broadcast — no fact-side shuffle for the FK
    # probes
    plan = _plan(spark, sf_dir, "q305_fk_integrity")
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_q303_one_exchange_per_feature_sweep(spark, sf_dir):
    # the stump sweep groups to (feature, value) sufficient stats
    # FIRST (partial agg before the shuffle), and the cumulative /
    # total windows share the per-feature partitioning — no extra
    # exchange between the windows, no single-partition data window
    plan = _plan(spark, sf_dir, "q303_stump_split")
    assert "partial" in plan.lower()  # map-side combine before shuffle
    for line in plan.splitlines():
        if "Window [" in line:
            assert "feature" in line, line


def test_q300_single_user_shuffle(spark, sf_dir):
    # the as-of enrichment is ONE hash exchange on the entity key; the
    # forward-fill window rides it (no per-fact join explosion, which
    # is the oracle's spelling, and no additional exchange)
    plan = _plan(spark, sf_dir, "q300_pit_enrich")
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q301_islands_share_one_exchange(spark, sf_dir):
    # sweep-line windows (running max-end, island numbering) and the
    # island aggregate all ride the same user_id partitioning: exactly
    # one full-data hash exchange
    plan = _plan(spark, sf_dir, "q301_interval_coverage")
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_q312_exact_cumsum_is_range_bucketed(spark, sf_dir):
    # the exact-quantile side must ride global_cumsum (value domain
    # grows with data); the ONLY partition-less window allowed is the
    # 1024-bin histogram cumulative, whose frame is bounded by
    # construction
    plan = _plan(spark, sf_dir, "q312_histogram_quantiles")
    unpartitioned = [
        line
        for line in plan.splitlines()
        if "Window [" in line and "__bucket" not in line
    ]
    assert len(unpartitioned) <= 1, unpartitioned
    assert "__bucket" in plan  # the range-bucketed cumsum is present


# --- round-8 session-3 plan pins -------------------------------------------


def test_q325_pair_stream_reduces_map_side(spark, sf_dir):
    # q325's registered query materializes the agreement-count row via
    # truncate_lineage, so the final plan hides the join; pin the pair
    # pipeline's own shape (the subtree the checkpoint executes): the
    # within-block join must broadcast the dimension-sized twin (never
    # shuffle both sides) and the agreement counts must partially
    # aggregate BEFORE the single-partition exchange — the 9M-pair
    # stream (sf0.1) itself never shuffles
    from pyspark.sql import functions as F

    from osm_changesets_to_parquet_spark.catalog import load_table

    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("key"), F.col("c_nationkey").alias("nat")
    )
    pairs = a.alias("a").join(
        a.alias("b"), F.col("a.nat") == F.col("b.nat")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_cand"),
        F.sum((F.col("a.key") == F.col("b.key")).cast("long")).alias("m"),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_q326_windows_share_one_exchange(spark, sf_dir):
    # the three per-purchase windows (ra, rd, n) differ only in sort
    # order — they must reuse ONE hashpartitioning(pid) exchange, and
    # the credit aggregation must be partial before its exchange
    plan = _plan(spark, sf_dir, "q326_position_attribution")
    assert plan.count("Exchange hashpartitioning(pid") == 1
    assert "partial_count" in plan or "merge_count" in plan


def test_q336_topk_never_materializes_full_fan(spark, sf_dir):
    # per-item top-5 runs through per_anchor_topk: the plan must show
    # the two-phase shape (a local __pid-partitioned rank before the
    # global per-item rank), so no reducer ever sees a hub item's
    # full candidate list in one window frame
    plan = _plan(spark, sf_dir, "q336_item_cf")
    assert "__pid" in plan


def test_q339_panel_join_broadcasts_fixed_side(spark, sf_dir):
    # the fixed 40-vector panel is the broadcast side of the
    # panel x train cross join — the train corpus never shuffles for
    # the distance evaluation
    plan = _plan(spark, sf_dir, "q339_knn_classifier")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_q117_fingerprint_lineage_cut_single_text_scan(spark, sf_dir):
    # the (doc_id, simhash) projection is lineage-cut once (r11): the
    # three consumers (fp contraction, banding+verify, member map-back)
    # must read the materialized cut, never re-scan documents through
    # the 30-aggregate fingerprint expression.  The cut shows up as the
    # plan reading from ExistingRDD/checkpoint instead of repeated
    # documents FileScans — at most one text scan may remain.
    plan = _plan(spark, sf_dir, "q117_simhash_clusters")
    assert plan.count("FileScan parquet") <= 1, plan[:2000]

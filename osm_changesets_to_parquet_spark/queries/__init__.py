"""Declared query surface (SURVEY.md §2.B) — the executable contract.

Each :class:`QuerySpec` pairs a Spark implementation (a callable taking
``(spark, sf_dir)`` and returning a DataFrame) with the ANSI-SQL oracle
string DuckDB runs on the same parquet tables.  The driver hash-matches
the two at sf0.01 (CORRECTNESS_r{N}.json); ``tests/test_oracle_parity.py``
runs the same comparison locally at sf0.001.

Determinism discipline (SURVEY.md §2.B rules 1-5):
- every query's output has a unique total order key (for LIMIT queries,
  the ORDER BY is total);
- every floating aggregate is ROUND()ed, with the rounding applied to
  the *same* double on both sides;
- time arithmetic is over integer epoch micros (``catalog.load_table``
  normalizes ``events.ts`` to a ``ts_us`` long whatever physical unit a
  fixture generation carries — the current fixtures are
  TIMESTAMP(MICROS); integer micros is the Spark/DuckDB shared domain);
- column names are aliased identically on both sides (the driver sorts
  columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class FixtureGateError(ValueError):
    """A calibration-pinned query refusing an uncalibrated fixture.

    Recall-property queries (a51/a52/q135/q146/q150/q151) verify their
    approximate path against a brute-force oracle only on fixtures
    where the parameters were swept to recall 1.0; on any other
    fixture they fail fast with THIS error instead of letting a
    spurious mismatch be recorded.  A dedicated type (ADVICE r09) lets
    bench.py record the refusal as a ``tier2_skipped`` entry while any
    other ValueError — a genuine bug — still crashes the bench loudly.
    Subclasses ValueError so pre-r10 callers' handling is unchanged.
    """


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver does a weaker rows-only check
    doc: str = ""
    tables: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    tables: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tables=tables)
        return fn

    return deco


# The driver records correctness rows in registry order and its window
# has held exactly 50 entries per round (CORRECTNESS_r01-r13.json) — so
# ordering is part of the verification contract.  Round 14 continues
# the REGISTRATION FREEZE (VERDICT r09-r13): zero new queries.  This
# is steady-state window #2: pure oldest-witnessed-first output of
# tools/next_window.py over the tracked ledger through r13 — it
# fronts the r5-witnessed q36-q40/s11/s12/t41-t45 names and fills
# with the oldest remaining r5 names in ascending name order.
#
# STANDING DEBT RULE (VERDICT r08 item 2): new registrations per round
# <= 50 minus the never-witnessed backlog; while backlog > 0, zero new
# names (hard cap 3, only for driver-found defects).
#
# STANDING ROTATION RULE (VERDICT r10 item 5) — this window IS the
# rule's output: the window is chosen OLDEST-WITNESSED-FIRST, computed
# from the git-TRACKED CORRECTNESS_r*.json ledger by
# ``tools/next_window.py`` (ties broken by registry name; see that
# tool's docstring for why the rule reads only tracked ledgers — the
# driver drops each round's ledger untracked after the final commit).
# With 410 names and 50-slot windows the full cycle is ~8.2 rounds, so
# the maximum witness age under the rule is bounded at ~9 rounds;
# _PRIORITY is regenerated from the tool's output each round (the tool
# prints the tuple to paste here, and
# tests/test_registry_integrity.py::test_window_follows_rotation_rule
# pins that the head of _PRIORITY equals the tool's choice).
_PRIORITY: tuple[str, ...] = (
    # ---- window (50): oldest-witnessed-first ----
    "q191_dynamic_partition_pruning",
    "q192_emd_drift",
    "q193_decile_lift",
    "q197_table_digest",
    "q200_tpch_q3",
    "s16_streaming_transitions",
    "s17_full_outer_stream_join",
    "s18_streaming_cms",
    "s19_streaming_conversions",
    "u5_arrow_grouped_stats",
    "u6_udtf_analyze_dynamic_schema",
    "cs12_python_datasource_writer",
    "cs14_single_file_publish",
    "e46_embedding_neardup",
    "q121_ndcg_eval",
    "q132_contrastive_mining",
    "q142_neardup_persisted_index",
    "q143_repeated_spans",
    "q144_bpe_merges",
    "q145_bpe_encode",
    "q146_quantized_rerank",
    "q147_dsir_weights",
    "q148_tokenizer_fertility",
    "q149_decontaminate_spans",
    "q150_ann_persisted_index",
    "q151_ann_incremental",
    "q179_knn_label_audit",
    "q194_embedding_dim_stats",
    "q195_negative_sampling",
    "q196_poisson_bootstrap",
    "q198_weighted_median",
    "q199_linear_interpolation",
    "q201_hll_overlap",
    "q202_matrix_projection",
    "q203_grouped_percentiles",
    "q204_nearest_score_match",
    "q205_sequential_patterns",
    "q206_stratified_sample",
    "q207_reservoir_sample",
    "q208_isotonic_calibration",
    "q209_session_entropy",
    "q210_bipartite_projection",
    "q211_haversine_join",
    "q212_theil_sen",
    "q213_mann_whitney",
    "q214_chi2_feature_select",
    "q215_winsorized_stats",
    "q216_bloom_antijoin",
    "q217_recency_weighted_ctr",
    "q218_triangle_count",
    # ---- next-oldest tail (14) ----
    "q219_kaplan_meier",
    "q220_dow_seasonality",
    "q221_anomaly_zscore",
    "q222_bigram_perplexity",
    "q223_ks_drift",
    "s13_partitioned_stream_source",
    "s14_streaming_neardup",
    "s15_streaming_quality_router",
    "s20_python_stream_sink",
    "s21_streaming_topk",
    "cs13_parse_diagnostics",
    "cs15_xml_expr_roundtrip",
    "m53_phash_neardup",
    "q224_gram_novelty",
)
# no rows-only queries remain (a51/a52 carry tolerance oracles now)
_LAST: tuple[str, ...] = ()


def load_all_modules() -> None:
    """Import every query module so REGISTRY is fully populated."""
    from osm_changesets_to_parquet_spark.queries import (  # noqa: F401
        analytics,
        analytics_metrics,
        ann,
        ann_embeddings,
        ann_ranking,
        bucketing,
        conversion,
        curation,
        dedup_sim,
        governance,
        graph,
        graph_apps,
        llm_ops,
        ml_corpus,
        ml_experiments,
        ml_model_eval,
        ml_model_fit,
        ml_stat_tests,
        ml_timeseries,
        multimodal,
        quality,
        relational,
        relational_ext,
        sketches,
        sources_roundtrip,
        stats,
        stats_inference,
        streaming_jobs,
        temporal,
        udfs,
        windows_streaming,
    )

    ordered: dict[str, QuerySpec] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in ordered and name not in _LAST:
            ordered[name] = spec
    for name in _LAST:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    REGISTRY.clear()
    REGISTRY.update(ordered)


def queries() -> dict[str, QueryFn]:
    load_all_modules()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    load_all_modules()
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}

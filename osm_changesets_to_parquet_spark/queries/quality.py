"""Corpus-curation queries Q86-Q97: benchmark decontamination,
repetition filters, stratified / rebalanced sampling, template
extraction, adaptive length filtering, incremental dedup, weighted
priority sampling, vocabulary coverage, and sequence packing.

The filter stages of a pretraining-data pipeline, downstream of dedup
(q34/q35) and upstream of the split/profile queries (q69-q72).  Every
query is oracle-backed; the sampling queries share the multiplicative
id-hash discipline of queries.curation (reproducible across engines,
partitionings, and appends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators import quality as QL
from osm_changesets_to_parquet_spark.operators import sketches as SK
from osm_changesets_to_parquet_spark.operators.dedup import HASH_MOD
from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.queries.dedup_sim import _sql_charhash

_K = QL.KNUTH
_P = HASH_MOD


# ---------------------------------------------------------------------------
# Q86: n-gram decontamination (train vs held-out eval split)
# ---------------------------------------------------------------------------

_Q86_SQL = f"""
WITH t AS (
  SELECT doc_id, lang, {QL.sql_hash_bucket('doc_id', 100)} AS b, string_split(text, ' ') AS w
  FROM documents
),
ng AS (
  SELECT doc_id, b,
         unnest(list_transform(range(1, len(w) - 6),
                               i -> array_to_string(w[i:i+7], ' '))) AS g
  FROM t
),
ev AS (SELECT DISTINCT g FROM ng WHERE b >= 98),
contam AS (
  SELECT DISTINCT doc_id FROM ng
  WHERE b < 98 AND g IN (SELECT g FROM ev)
)
SELECT lang,
       COUNT(*) AS n_train,
       CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM contam)) AS BIGINT)
         AS n_contaminated
FROM t WHERE b < 98
GROUP BY lang ORDER BY lang
"""


@register(
    "q86_ngram_decontaminate",
    _Q86_SQL,
    doc=(
        "benchmark decontamination: flag train docs sharing any word "
        "8-gram with the 2% eval split; n-grams built in-row (no "
        "shuffle), semi-join keyed on xxhash64(ngram) (8-byte shuffle "
        "keys), eval side reduced to DISTINCT hashes first"
    ),
    tables=("documents",),
)
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 8-gram builds fan out inside QL.decontaminate (guide §2.5)
    docs = load_table(spark, sf_dir, "documents")
    b = QL.hash_bucket("doc_id", 100)
    train = docs.where(b < 98)
    eval_df = docs.where(b >= 98)
    contam = QL.decontaminate(train, eval_df, n=8).withColumn("__c", F.lit(1))
    return (
        train.join(contam, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("__c").alias("n_contaminated"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q87: in-row repetition metrics (Gopher-style duplicate-word filter)
# ---------------------------------------------------------------------------

_Q87_SQL = """
WITH m AS (
  SELECT lang,
         ROUND(1 - len(list_distinct(string_split(text, ' ')))
                   / len(string_split(text, ' ')), 6) AS dup_frac
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(dup_frac), 4) AS avg_dup_frac,
       ROUND(MAX(dup_frac), 6) AS max_dup_frac,
       CAST(COUNT(*) FILTER (WHERE dup_frac > 0.5) AS BIGINT) AS n_repetitive
FROM m GROUP BY lang ORDER BY lang
"""


@register(
    "q87_repetition_filter",
    _Q87_SQL,
    doc=(
        "repetition quality signal: duplicate-word fraction computed "
        "inside the row (array_distinct/size folds — zero shuffle "
        "before the per-lang rollup); counts docs over the 0.5 "
        "repetition threshold"
    ),
    tables=("documents",),
)
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    m = QL.repetition_metrics(docs)
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("dup_word_frac"), 4).alias("avg_dup_frac"),
            F.round(F.max("dup_word_frac"), 6).alias("max_dup_frac"),
            F.count_if(F.col("dup_word_frac") > 0.5).alias("n_repetitive"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q88: top-word dominance histogram (explode -> two-level agg)
# ---------------------------------------------------------------------------

_Q88_SQL = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
pw AS (SELECT doc_id, lang, w, COUNT(*) AS c FROM tok GROUP BY 1, 2, 3),
dom AS (
  SELECT doc_id, lang, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS f
  FROM pw GROUP BY 1, 2
)
SELECT lang, CAST(FLOOR(f * 10) AS INT) AS decile, COUNT(*) AS n_docs
FROM dom GROUP BY 1, 2 ORDER BY lang, decile
"""


@register(
    "q88_top_word_dominance",
    _Q88_SQL,
    doc=(
        "most-frequent-word share per doc, bucketed into deciles per "
        "lang: explode -> (doc, word) count -> per-doc max/sum; both "
        "aggs take map-side partials, second shuffle keyed on doc_id "
        "(uniform)"
    ),
    tables=("documents",),
)
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dom = QL.top_word_dominance(docs, keep=["lang"])
    return (
        dom.select(
            "lang",
            F.floor(F.col("top_word_frac") * 10).cast("int").alias("decile"),
        )
        .groupBy("lang", "decile")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "decile")
    )


# ---------------------------------------------------------------------------
# Q89: stratified sampling with per-stratum rates
# ---------------------------------------------------------------------------

_RATES = {"en": 50, "de": 30}
_DEFAULT_RATE = 10

_Q89_SQL = f"""
SELECT lang,
       COUNT(*) AS n_kept,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE {QL.sql_hash_bucket('doc_id', 100)} <
      CASE lang WHEN 'en' THEN {_RATES['en']} WHEN 'de' THEN {_RATES['de']}
                ELSE {_DEFAULT_RATE} END
GROUP BY lang ORDER BY lang
"""


@register(
    "q89_stratified_sample",
    _Q89_SQL,
    doc=(
        "per-stratum deterministic sampling (en 50%, de 30%, rest "
        "10%): rate lookup is a literal CASE chain, membership is "
        "id-hash arithmetic — the whole predicate evaluates in the "
        "scan stage, zero shuffle, stable under appends"
    ),
    tables=("documents",),
)
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    kept = QL.stratified_sample(docs, "lang", _RATES, _DEFAULT_RATE)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q90: source rebalancing (cap any source at 4% of the corpus)
# ---------------------------------------------------------------------------

_Q90_SQL = f"""
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
r AS (
  SELECT source, n_docs,
         LEAST(1000, FLOOR(1000.0 * FLOOR(SUM(n_docs) OVER () * 40 / 1000)
                           / n_docs)) AS rate
  FROM c
),
k AS (
  SELECT d.source, COUNT(*) AS n_kept
  FROM documents d JOIN r USING (source)
  WHERE {QL.sql_hash_bucket('d.doc_id', 1000)} < r.rate
  GROUP BY d.source
)
SELECT r.source, r.n_docs, CAST(r.rate AS BIGINT) AS rate_permille,
       COALESCE(k.n_kept, 0) AS n_kept
FROM r LEFT JOIN k USING (source)
ORDER BY source
"""


@register(
    "q90_rebalance_sources",
    _Q90_SQL,
    doc=(
        "domain-mixture rebalancing: cap each source at 40 permille of "
        "the corpus via deterministic downsampling; the rate table is "
        "|sources| rows and broadcasts back — the corpus shuffles once "
        "(the per-source count)"
    ),
    tables=("documents",),
)
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return QL.rebalance_sources(docs, max_share_permille=40).orderBy("source")


# ---------------------------------------------------------------------------
# Q91: template extraction (digit-run masking over JSON props)
# ---------------------------------------------------------------------------

_Q91_SQL = """
SELECT event_type,
       regexp_replace(props, '[0-9]+', '#', 'g') AS template,
       COUNT(*) AS cnt,
       ROUND(MIN(value), 4) AS min_v,
       ROUND(MAX(value), 4) AS max_v
FROM events
GROUP BY 1, 2 ORDER BY event_type, template
"""


@register(
    "q91_props_template",
    _Q91_SQL,
    doc=(
        "log-template extraction: mask digit runs in the JSON props "
        "payload (regexp_replace, JVM-side) and aggregate per "
        "(event_type, template); min/max are order-independent so the "
        "double columns hash-match exactly"
    ),
    tables=("events",),
)
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.regexp_replace("props", "[0-9]+", "#").alias("template"),
            "value",
        )
        .groupBy("event_type", "template")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
        .orderBy("event_type", "template")
    )


# ---------------------------------------------------------------------------
# Q92: Bloom pre-filter over a composite string key
# ---------------------------------------------------------------------------

_COMPOSITE = (
    "concat_ws('|', COALESCE(CAST(lang AS VARCHAR), chr(0)), "
    "COALESCE(CAST(source AS VARCHAR), chr(0)))"
)
_Q92_ARMS = " UNION ALL ".join(
    f"SELECT (({a} * h + {b}) % {_P}) % {SK.BLOOM_BITS} AS bit FROM kh"
    for a, b in zip(SK.BLOOM_A, SK.BLOOM_B)
)
_Q92_COND = " AND ".join(
    f"(({a} * h + {b}) % {_P}) % {SK.BLOOM_BITS} IN (SELECT bit FROM bloom)"
    for a, b in zip(SK.BLOOM_A, SK.BLOOM_B)
)

_Q92_SQL = f"""
WITH keys AS (
  SELECT DISTINCT lang, source FROM documents WHERE n_chars > 300
),
kh AS (SELECT {_sql_charhash(_COMPOSITE)} AS h FROM keys),
bloom AS (SELECT DISTINCT bit FROM ({_Q92_ARMS})),
ph AS (SELECT doc_id, lang, source, {_sql_charhash(_COMPOSITE)} AS h FROM documents),
passed AS (SELECT doc_id FROM ph WHERE {_Q92_COND}),
truth AS (
  SELECT doc_id FROM documents
  WHERE (lang, source) IN (SELECT (lang, source) FROM keys)
)
SELECT (SELECT COUNT(*) FROM passed) AS n_bloom_pass,
       (SELECT COUNT(*) FROM truth) AS n_true_match,
       (SELECT COUNT(*) FROM documents) AS n_probe_rows
"""


@register(
    "q92_bloom_composite_key",
    _Q92_SQL,
    doc=(
        "Bloom semi-join pre-filter over a composite (lang, source) "
        "string key: both sides fold the null-safe '|'-joined key "
        "through the portable char hash; every bit hash-matched vs the "
        "SQL-built filter"
    ),
    tables=("documents",),
)
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.where(F.col("n_chars") > 300).select("lang", "source").distinct()
    bloom = SK.bloom_build(keys, ["lang", "source"])
    probe = docs.select("doc_id", "lang", "source")
    passed = SK.bloom_prefilter(probe, bloom, ["lang", "source"])
    truth = probe.join(keys, ["lang", "source"], "left_semi")
    return (
        passed.agg(F.count(F.lit(1)).alias("n_bloom_pass"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_true_match")))
        .crossJoin(docs.agg(F.count(F.lit(1)).alias("n_probe_rows")))
    )


# ---------------------------------------------------------------------------
# Q93: adaptive length filter (exact percentile bounds, second pass)
# ---------------------------------------------------------------------------

_Q93_SQL = """
WITH b AS (
  SELECT quantile_cont(n_chars, 0.05) AS lo, quantile_cont(n_chars, 0.95) AS hi
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND((SELECT lo FROM b), 4) AS lo,
       ROUND((SELECT hi FROM b), 4) AS hi
FROM documents
WHERE n_chars >= (SELECT lo FROM b) AND n_chars <= (SELECT hi FROM b)
GROUP BY lang ORDER BY lang
"""


@register(
    "q93_adaptive_length_filter",
    _Q93_SQL,
    doc=(
        "two-pass adaptive filter: exact p5/p95 length percentiles "
        "(linear interpolation — identical definition in both "
        "engines), joined back as a 1-row frame Spark broadcasts by "
        "size, re-scan with the bounds "
        "predicate; the second scan's filter needs no shuffle"
    ),
    tables=("documents",),
)
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.crossJoin(bounds)
        .where((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.first("lo"), 4).alias("lo"),
            F.round(F.first("hi"), 4).alias("hi"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q94: incremental dedup (new batch vs existing corpus)
# ---------------------------------------------------------------------------

_Q94_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, {QL.sql_hash_bucket('doc_id', 100)} AS b,
         md5(LOWER(TRIM(text))) AS h
  FROM documents
  WHERE text IS NOT NULL
),
corpus AS (SELECT DISTINCT h FROM d WHERE b < 90),
batch AS (SELECT * FROM d WHERE b >= 90),
keepers AS (SELECT h, MIN(doc_id) AS keep_id FROM batch GROUP BY h)
SELECT lang,
       COUNT(*) AS n_batch,
       CAST(COUNT(*) FILTER (WHERE h NOT IN (SELECT h FROM corpus)
                               AND doc_id IN (SELECT keep_id FROM keepers))
            AS BIGINT) AS n_novel
FROM batch GROUP BY lang ORDER BY lang
"""


@register(
    "q94_incremental_dedup",
    _Q94_SQL,
    doc=(
        "append-only dedup: the arriving 10% batch is checked against "
        "the existing corpus by anti-join on md5(normalized text) — "
        "16-byte shuffle keys, the corpus side reduced to DISTINCT "
        "hashes; in-batch duplicates resolve to the min doc_id"
    ),
    tables=("documents",),
)
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text is excluded symmetrically with the oracle's WHERE: a
    # NULL md5 key would otherwise diverge between SQL NOT IN (one NULL
    # in the corpus side poisons every membership test) and Spark's
    # null-dropping left_anti join — the classic cross-engine trap.
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    b = QL.hash_bucket("doc_id", 100)
    d = docs.select(
        "doc_id", "lang", F.md5(F.lower(F.trim("text"))).alias("h"), b.alias("b")
    )
    corpus_h = d.where(F.col("b") < 90).select("h").distinct()
    batch = d.where(F.col("b") >= 90)
    novel = batch.join(corpus_h, "h", "left_anti")
    keepers = (
        novel.groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("__nov", F.lit(1))
    )
    return (
        batch.join(keepers, ["h", "doc_id"], "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.count("__nov").alias("n_novel"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q95: weighted priority sample (deterministic, length-weighted)
# ---------------------------------------------------------------------------

_Q95_SQL = f"""
SELECT doc_id,
       ROUND(({QL.sql_hash_bucket('doc_id', 1000003)}) / n_chars, 9) AS priority
FROM documents
ORDER BY priority, doc_id LIMIT 100
"""


@register(
    "q95_weighted_sample",
    _Q95_SQL,
    doc=(
        "deterministic weighted sampling (priority sampling: uniform "
        "id-hash draw divided by the weight, take the k smallest) — "
        "longer documents are proportionally more likely; executes as "
        "TakeOrderedAndProject (per-partition heap, O(k) driver merge, "
        "no global sort)"
    ),
    tables=("documents",),
)
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    u = QL.hash_bucket("doc_id", 1000003)
    return (
        docs.select(
            "doc_id", F.round(u / F.col("n_chars"), 9).alias("priority")
        )
        .orderBy("priority", "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q96: tokenizer vocabulary coverage / OOV rate
# ---------------------------------------------------------------------------

_VOCAB_K = 20

_Q96_SQL = f"""
WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS t FROM documents),
tf AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
vocab AS (SELECT t FROM tf ORDER BY c DESC, t LIMIT {_VOCAB_K})
SELECT lang,
       COUNT(*) AS n_tokens,
       CAST(COUNT(*) FILTER (WHERE t NOT IN (SELECT t FROM vocab)) AS BIGINT)
         AS n_oov,
       ROUND(CAST(COUNT(*) FILTER (WHERE t NOT IN (SELECT t FROM vocab)) AS DOUBLE)
             / COUNT(*), 6) AS oov_rate
FROM tok GROUP BY lang ORDER BY lang
"""


@register(
    "q96_vocab_oov",
    _Q96_SQL,
    doc=(
        "vocabulary coverage: build the top-K token vocabulary "
        "(deterministic tie-break) and measure the out-of-vocabulary "
        "token rate per lang — the vocab side is O(K) rows, under "
        "Spark's broadcast size threshold, so the probe never shuffles "
        "for the membership test"
    ),
    tables=("documents",),
)
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(_VOCAB_K)
        .select("t")
        .withColumn("__v", F.lit(1))
    )
    flagged = tok.join(vocab, "t", "left")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("__v").isNull()).alias("n_oov"),
            F.round(
                F.count_if(F.col("__v").isNull()) / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q97: sequence packing (concatenate-then-chunk into token-budget bins)
# ---------------------------------------------------------------------------

_BUDGET = 2048

_Q97_SQL = f"""
WITH d AS (
  SELECT doc_id, len(string_split(text, ' ')) AS tok FROM documents
),
c AS (
  SELECT doc_id, tok,
         COALESCE(SUM(tok) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cumx
  FROM d
)
SELECT CAST(FLOOR(cumx / {_BUDGET}) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS total_tokens
FROM c GROUP BY 1 ORDER BY bin
"""


@register(
    "q97_sequence_packing",
    _Q97_SQL,
    doc=(
        "pretraining sequence packing: concatenate docs in doc_id "
        "order, cut every 2048 tokens, doc belongs to the chunk holding "
        "its first token; the global running sum is the two-pass "
        "distributed spelling (operators.packing.global_cumsum: an "
        "approxQuantile boundary action, then one bucketed-window pass "
        "— persist the input or pass bounds= to make it one pass) — "
        "never a single-task global window"
    ),
    tables=("documents",),
)
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import pack_into_bins

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    packed = pack_into_bins(d, _BUDGET, "tok", order_col="doc_id")
    return (
        packed.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tokens"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Q98: Z-order clustering cells (layout locality, oracle-checked bit math)
# ---------------------------------------------------------------------------

from osm_changesets_to_parquet_spark.operators import layout as LO  # noqa: E402

_ZBITS = 10

_Q98_SQL = f"""
WITH s AS (
  SELECT MIN(o_custkey) AS x_lo, MAX(o_custkey) AS x_hi,
         MIN(o_orderkey) AS y_lo, MAX(o_orderkey) AS y_hi
  FROM orders
),
d AS (
  SELECT CAST(FLOOR(CAST(o_custkey - x_lo AS DOUBLE) * {1 << _ZBITS}
              / CAST(x_hi - x_lo + 1 AS DOUBLE)) AS BIGINT) AS sx,
         CAST(FLOOR(CAST(o_orderkey - y_lo AS DOUBLE) * {1 << _ZBITS}
              / CAST(y_hi - y_lo + 1 AS DOUBLE)) AS BIGINT) AS sy
  FROM orders, s
),
z AS (SELECT sx, sy, {LO.zvalue_sql(['sx', 'sy'], _ZBITS)} AS zv FROM d)
SELECT zv >> 14 AS cell,
       COUNT(*) AS n_rows,
       MIN(sx) AS min_sx, MAX(sx) AS max_sx,
       MIN(sy) AS min_sy, MAX(sy) AS max_sy
FROM z GROUP BY 1 ORDER BY cell
"""


@register(
    "q98_zorder_cells",
    _Q98_SQL,
    doc=(
        "Z-order (Morton) clustering: scale (o_custkey, o_orderkey) to "
        "a 10-bit grid, interleave bits, bucket by z-prefix — every "
        "cell shows bounded min/max on BOTH columns, the property that "
        "makes zone-map pruning work for 2-D predicates; the oracle "
        "re-derives the identical interleave arithmetic in SQL"
    ),
    tables=("orders",),
)
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_custkey").alias("x_lo"),
        F.max("o_custkey").alias("x_hi"),
        F.min("o_orderkey").alias("y_lo"),
        F.max("o_orderkey").alias("y_hi"),
    )
    d = o.crossJoin(stats).select(
        LO.scale_to_bits(
            F.col("o_custkey"), F.col("x_lo"), F.col("x_hi"), _ZBITS
        ).alias("sx"),
        LO.scale_to_bits(
            F.col("o_orderkey"), F.col("y_lo"), F.col("y_hi"), _ZBITS
        ).alias("sy"),
    )
    z = d.withColumn("zv", LO.zvalue(["sx", "sy"], _ZBITS))
    return (
        z.select(F.shiftright("zv", 14).alias("cell"), "sx", "sy")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("sx").alias("min_sx"),
            F.max("sx").alias("max_sx"),
            F.min("sy").alias("min_sy"),
            F.max("sy").alias("max_sy"),
        )
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# Q99: salted skew join (result parity with the plain join, hash-matched)
# ---------------------------------------------------------------------------

_Q99_SQL = """
SELECT c.c_nationkey,
       COUNT(*) AS cnt,
       ROUND(MIN(e.value), 4) AS min_v,
       ROUND(MAX(e.value), 4) AS max_v
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY c_nationkey
"""


@register(
    "q99_salted_skew_join",
    _Q99_SQL,
    doc=(
        "explicit skew handling: the fact side is salted n_salts ways "
        "(deterministic content hash, operators.skew.salted_join), the "
        "dimension replicated per salt — no task ever owns a whole hot "
        "key; output is row-identical to the plain join, which is "
        "exactly what the oracle runs"
    ),
    tables=("events", "customer"),
)
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    j = salted_join(ev, cust, on=["user_id"], n_salts=8)
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# Q100: incremental aggregate maintenance (merge partials == full agg)
# ---------------------------------------------------------------------------

_Q100_SQL = """
SELECT event_type,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_mv,
       ROUND(MIN(value), 4) AS min_v,
       ROUND(MAX(value), 4) AS max_v
FROM events GROUP BY event_type ORDER BY event_type
"""


@register(
    "q100_incremental_agg",
    _Q100_SQL,
    doc=(
        "incremental view maintenance: the stored aggregate over the "
        "90% base is merged with the aggregate of the 10% arriving "
        "delta (sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes) "
        "— the algebraic-aggregate merge that lets 100 TB stats update "
        "from the delta alone; the oracle aggregates the full table in "
        "one pass and must agree exactly (integer sums, order-free "
        "min/max)"
    ),
    tables=("events",),
)
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    b = QL.hash_bucket("event_id", 100)

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 1000)).alias("sum_mv"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )

    base = partial(ev.where(b < 90))
    delta = partial(ev.where(b >= 90))
    return (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_mv").alias("sum_mv"),
            F.round(F.min("min_v"), 4).alias("min_v"),
            F.round(F.max("max_v"), 4).alias("max_v"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q118: declarative data-quality constraint report (operators/validate.py)
# ---------------------------------------------------------------------------

_Q118_SQL = """
WITH rc AS (
  SELECT CAST(COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS BIGINT) AS nn,
         CAST(COUNT(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                           OR o_totalprice > 100000 THEN 1 END) AS BIGINT) AS rr,
         CAST(COUNT(CASE WHEN o_orderstatus IS NULL
                           OR o_orderstatus NOT IN ('O','F','P') THEN 1 END) AS BIGINT) AS ss
  FROM orders
),
u AS (SELECT CAST(SUM(c - 1) AS BIGINT) AS v
      FROM (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)),
fk AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM orders o
       WHERE o_custkey IS NOT NULL
         AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
rows_ AS (
  SELECT 'not_null(o_custkey)' AS check_name, nn AS n_violations FROM rc
  UNION ALL SELECT 'in_range(o_totalprice,0.0,100000.0)', rr FROM rc
  UNION ALL SELECT 'in_set(o_orderstatus)', ss FROM rc
  UNION ALL SELECT 'unique(o_orderkey)', v FROM u
  UNION ALL SELECT 'foreign_key(o_custkey)', v FROM fk
)
SELECT check_name, n_violations, n_violations = 0 AS pass
FROM rows_ ORDER BY check_name
"""


@register(
    "q118_constraint_checks",
    _Q118_SQL,
    doc=(
        "declarative data-quality gate (operators/validate.py, the "
        "Deequ/Great-Expectations shape): all row-level checks fuse "
        "into ONE aggregate over ONE scan (count-if per check), "
        "uniqueness is a keyed count, referential integrity a "
        "left-anti join vs DISTINCT reference keys; the range check "
        "is chosen to FAIL on real data so a live violation count is "
        "part of the hash, not just zeros"
    ),
    tables=("orders", "customer"),
)
def q118(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators import validate as V

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    report = V.check_constraints(
        o,
        row_checks=[
            V.not_null("o_custkey"),
            V.in_range("o_totalprice", 0.0, 100000.0),
            V.in_set("o_orderstatus", ["O", "F", "P"]),
        ],
        unique=["o_orderkey"],
        foreign_keys=[("o_custkey", c, "c_custkey")],
    )
    return report.orderBy("check_name")


# ---------------------------------------------------------------------------
# Q119: approximate percentile with error-bound verdict (tolerance oracle)
# ---------------------------------------------------------------------------

# approx_percentile's KLL/GK-style sketch values are engine-specific, so
# like a51/a52 the registered contract is a TOLERANCE verdict: per group,
# the approximate median must land within the value-domain spread of the
# exact median by a bounded rank error (accuracy=100 => eps = 1%).  The
# oracle is the expected constant verdict table — any sketch regression
# (or a broken exact path) flips a boolean and the hash goes red.
_Q119_SQL = """
SELECT l_returnflag, TRUE AS within_bounds
FROM (SELECT DISTINCT l_returnflag FROM lineitem)
ORDER BY l_returnflag
"""


@register(
    "q119_approx_percentile_bounds",
    _Q119_SQL,
    doc=(
        "mergeable-quantile-sketch contract: per-group approx median "
        "(approx_percentile, accuracy=100 => 1% rank error, partial "
        "sketches merged map-side like any aggregate) checked in-Spark "
        "against the exact percentile at ranks 0.49 and 0.51 — the "
        "approximate value must sit between them; tolerance oracle is "
        "the constant verdict (the a51/a52 pattern)"
    ),
    tables=("lineitem",),
)
def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.expr("approx_percentile(l_quantity, 0.5, 100)").alias("apx"),
        F.expr("percentile(l_quantity, 0.49)").alias("lo"),
        F.expr("percentile(l_quantity, 0.51)").alias("hi"),
    )
    return agg.select(
        "l_returnflag",
        ((F.col("apx") >= F.col("lo")) & (F.col("apx") <= F.col("hi"))).alias(
            "within_bounds"
        ),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# Q120: population stability index (distribution drift monitor)
# ---------------------------------------------------------------------------

_Q120_SQL = """
WITH o AS (
  SELECT o_orderkey % 100 AS b,
         LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bin
  FROM orders
),
base AS (SELECT bin, COUNT(*) AS c FROM o WHERE b < 50 GROUP BY bin),
cur  AS (SELECT bin, COUNT(*) AS c FROM o WHERE b >= 50 GROUP BY bin),
tot AS (
  SELECT (SELECT SUM(c) FROM base) AS nb, (SELECT SUM(c) FROM cur) AS nc
),
bins AS (SELECT unnest(range(0, 10)) AS bin),
counts AS (
  SELECT bins.bin, COALESCE(base.c, 0) AS cb, COALESCE(cur.c, 0) AS cc
  FROM bins
  LEFT JOIN base ON base.bin = bins.bin
  LEFT JOIN cur ON cur.bin = bins.bin
),
j AS (
  SELECT counts.bin,
         (counts.cb + 1.0) / (tot.nb + 10.0) AS p,
         (counts.cc + 1.0) / (tot.nc + 10.0) AS q
  FROM counts, tot
)
SELECT bin, ROUND(p, 6) AS p, ROUND(q, 6) AS q,
       ROUND((p - q) * LN(p / q), 6) AS psi_term
FROM j ORDER BY bin
"""


@register(
    "q120_psi_drift",
    _Q120_SQL,
    doc=(
        "population stability index between two cohorts of the same "
        "feature (the standard training-data drift monitor): fixed "
        "10-bin histogram per cohort — two map-side-partial aggregates "
        "over one scan — Laplace-smoothed proportions, per-bin "
        "(p-q)*ln(p/q) contributions; total PSI = SUM(psi_term) "
        "downstream; >0.2 is the conventional alert threshold"
    ),
    tables=("orders",),
)
def q120(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 100).alias("b"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9)
        ).alias("bin"),
    )
    base = o.where(F.col("b") < 50).groupBy("bin").agg(F.count(F.lit(1)).alias("cb"))
    cur = o.where(F.col("b") >= 50).groupBy("bin").agg(F.count(F.lit(1)).alias("cc"))
    # totals ride a 1-row frame (broadcast by size) — no driver action,
    # the whole monitor stays one lazy plan over two map-side-partial
    # aggregates
    tot = base.agg(F.sum("cb").alias("nb")).crossJoin(
        cur.agg(F.sum("cc").alias("nc"))
    )
    bins = spark.range(0, 10).select(F.col("id").alias("bin"))
    j = (
        bins.join(base, "bin", "left")
        .join(cur, "bin", "left")
        .crossJoin(tot)
        .select(
            "bin",
            (
                (F.coalesce(F.col("cb"), F.lit(0)) + 1.0)
                / (F.col("nb") + F.lit(10.0))
            ).alias("p"),
            (
                (F.coalesce(F.col("cc"), F.lit(0)) + 1.0)
                / (F.col("nc") + F.lit(10.0))
            ).alias("q"),
        )
    )
    return j.select(
        "bin",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")), 6).alias(
            "psi_term"
        ),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Q128: robust outlier scrub (median / MAD per group)
# ---------------------------------------------------------------------------

# Mean/stddev outlier rules break when the outliers themselves inflate
# the stddev; median + MAD (median absolute deviation) is the standard
# robust alternative.  Determinism: med and mad are ROUNDED to 6 before
# the threshold comparison on BOTH engines, so the outlier count can
# never flip on a last-ulp interpolation difference.
_Q128_SQL = """
WITH med AS (
  SELECT event_type, ROUND(MEDIAN(value), 6) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, ROUND(MEDIAN(ABS(e.value - m.med)), 6) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       ANY_VALUE(m.med) AS med,
       ANY_VALUE(d.mad) AS mad,
       COUNT(*) AS n,
       CAST(COUNT(*) FILTER (WHERE ABS(e.value - m.med) > 3 * d.mad)
            AS BIGINT) AS n_outliers
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""


@register(
    "q128_mad_outlier_scrub",
    _Q128_SQL,
    doc=(
        "robust per-group outlier detection: median + median-absolute-"
        "deviation (the estimator outliers cannot inflate, unlike "
        "stddev), flag |v - med| > 3*MAD; two grouped exact-percentile "
        "passes, group stats broadcast back to the scan — med/mad "
        "rounded before thresholding so the count is engine-stable"
    ),
    tables=("events",),
)
def q128(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    with_med = ev.join(med, "event_type")
    mad = with_med.groupBy("event_type").agg(
        F.round(F.expr("percentile(abs(value - med), 0.5)"), 6).alias("mad")
    )
    j = with_med.join(mad, "event_type")
    return (
        j.groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q129: unigram log-prob quality score (perplexity-proxy filtering)
# ---------------------------------------------------------------------------

# CCNet-style: score each document by its mean negative log-probability
# under the corpus's own unigram LM; high scores = improbable token
# streams (gibberish / wrong-language / boilerplate-noise candidates).
_Q129_SQL = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
),
freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq),
scored AS (
  SELECT tok.doc_id, tok.lang,
         ROUND(AVG(-LN(freq.c / n.n)), 6) AS nll
  FROM tok, n JOIN freq ON freq.w = tok.w
  GROUP BY tok.doc_id, tok.lang
)
SELECT lang,
       COUNT(*) AS n_docs,
       ROUND(AVG(nll), 4) AS avg_nll,
       ROUND(MIN(nll), 6) AS min_nll,
       ROUND(MAX(nll), 6) AS max_nll
FROM scored GROUP BY lang ORDER BY lang
"""


@register(
    "q129_unigram_logprob",
    _Q129_SQL,
    doc=(
        "perplexity-proxy quality scoring: mean negative log-prob per "
        "document under the corpus's own unigram LM (the CCNet-style "
        "filter signal) — token explode, frequency table joined back "
        "(vocabulary-sized, broadcastable), per-doc average; high NLL "
        "flags improbable token streams for review/drop"
    ),
    tables=("documents",),
)
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = freq.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        tok.join(freq, "w")
        .crossJoin(n)
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 6).alias("nll"))
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            F.round(F.min("nll"), 6).alias("min_nll"),
            F.round(F.max("nll"), 6).alias("max_nll"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q136: cross-document boilerplate phrase burden (round 5)
# ---------------------------------------------------------------------------

_Q136_N = 3
_Q136_MIN_DOCS = 4

_Q136_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - {_Q136_N - 2}),
                               i -> array_to_string(w[i:i+{_Q136_N - 1}], ' '))) AS g
  FROM t
),
df AS (SELECT g, COUNT(*) AS d FROM g GROUP BY g),
pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (WHERE d >= {_Q136_MIN_DOCS}) AS BIGINT) AS n_boiler
  FROM g JOIN df USING (g) GROUP BY doc_id
)
SELECT t.doc_id,
       COALESCE(pd.n_grams, 0) AS n_grams,
       COALESCE(pd.n_boiler, 0) AS n_boiler,
       ROUND(COALESCE(pd.n_boiler, 0) / GREATEST(COALESCE(pd.n_grams, 0), 1), 6)
         AS boiler_frac
FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id
"""


@register(
    "q136_boilerplate_phrases",
    _Q136_SQL,
    doc=(
        "cross-document repeated-phrase (boilerplate) burden — the "
        "span-level signal doc-level dedup cannot see (the RefinedWeb/"
        "CCNet boilerplate-removal shape on word 3-grams): a phrase in "
        ">= 4 distinct docs is boilerplate; each doc reports its "
        "distinct-gram count, boilerplate-gram count and fraction. "
        "In-row gram construction, xxhash64 8-byte shuffle keys, two "
        "map-side-partial aggregates (operators/quality.py "
        "boilerplate_burden)"
    ),
    tables=("documents",),
)
def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the gram build fans out inside QL.boilerplate_burden (guide §2.5)
    docs = load_table(spark, sf_dir, "documents")
    return QL.boilerplate_burden(
        docs, n=_Q136_N, min_docs=_Q136_MIN_DOCS
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q137: equal-frequency deciles via the distributed global rank (round 5)
# ---------------------------------------------------------------------------


@register(
    "q137_equifreq_deciles",
    """
    SELECT doc_id, n_chars,
           NTILE(10) OVER (ORDER BY n_chars, doc_id) AS decile
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "equal-frequency discretization (the feature-binning complement "
        "of q72's fixed-width histogram): NTILE(10) of every document "
        "by length — spelled through operators/packing.global_ntile "
        "(range-bucketed global_rank + closed-form NTILE arithmetic), "
        "so the global order never funnels into a single-task window; "
        "the same discipline that re-spelled q23"
    ),
    tables=("documents",),
)
def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_ntile

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tiled = global_ntile(docs, ["n_chars", "doc_id"], 10, out_col="decile")
    return tiled.select("doc_id", "n_chars", "decile").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Q147: DSIR-style importance weights (round 6)
# ---------------------------------------------------------------------------

# Data Selection via Importance Resampling (Xie et al. 2023, public),
# the bag-of-words spelling: fit add-1-smoothed unigram models on a
# small TARGET domain sample and on the RAW pool, score every raw doc
# by sum over its tokens of log(p_target(w) / p_raw(w)), and keep the
# top scorers — the docs that look most like the target.  Deterministic
# target split: id-hash buckets < 10 (the q94/q139 increment
# discipline).
_Q147_SQL = f"""
WITH tgt AS (SELECT doc_id, text FROM documents WHERE {QL.sql_hash_bucket('doc_id', 100)} < 10),
raw AS (SELECT doc_id, text FROM documents WHERE {QL.sql_hash_bucket('doc_id', 100)} >= 10),
tok_t AS (SELECT unnest(string_split(text, ' ')) AS w FROM tgt),
tok_r AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM raw),
ct AS (SELECT w, COUNT(*) AS c FROM tok_t WHERE w <> '' GROUP BY w),
cr AS (SELECT w, COUNT(*) AS c FROM tok_r WHERE w <> '' GROUP BY w),
vocab AS (
  SELECT COALESCE(ct.w, cr.w) AS w,
         COALESCE(ct.c, 0) AS c_t, COALESCE(cr.c, 0) AS c_r
  FROM ct FULL OUTER JOIN cr ON ct.w = cr.w
),
tot AS (
  SELECT CAST(SUM(c_t) AS DOUBLE) AS nt, CAST(SUM(c_r) AS DOUBLE) AS nr,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM vocab
),
lw AS (
  SELECT w, LN((c_t + 1) / (nt + v)) - LN((c_r + 1) / (nr + v)) AS lw
  FROM vocab, tot
),
scored AS (
  SELECT tok_r.doc_id, COUNT(*) AS n_tokens,
         ROUND(SUM(lw.lw), 4) AS dsir_weight
  FROM tok_r JOIN lw ON lw.w = tok_r.w
  WHERE tok_r.w <> ''
  GROUP BY tok_r.doc_id
)
SELECT doc_id, n_tokens, dsir_weight
FROM scored ORDER BY dsir_weight DESC, doc_id LIMIT 20
"""


@register(
    "q147_dsir_weights",
    _Q147_SQL,
    doc=(
        "DSIR importance weighting (Xie et al. 2023, public): add-1-"
        "smoothed unigram models over a hash-bucketed target sample vs "
        "the raw pool; each raw doc scores sum of log(p_tgt/p_raw) over "
        "its tokens and the top 20 are kept — the "
        "select-data-that-looks-like-the-target step of a pretraining "
        "pipeline.  One vocab-keyed full-outer count merge, scalar "
        "totals broadcast, per-doc score is one map-side-partial "
        "aggregate over the token stream (the q129 unigram-LM shape)"
    ),
    tables=("documents",),
)
def q147(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = QL.hash_bucket("doc_id", 100)
    target, raw = docs.where(b < 10), docs.where(b >= 10)
    tok_t = target.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    tok_r = raw.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    ct = tok_t.groupBy("w").agg(F.count(F.lit(1)).alias("c_t"))
    cr = tok_r.groupBy("w").agg(F.count(F.lit(1)).alias("c_r"))
    vocab = (
        ct.join(cr, "w", "full_outer")
        .select(
            "w",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
        )
    )
    tot = vocab.agg(
        F.sum("c_t").cast("double").alias("nt"),
        F.sum("c_r").cast("double").alias("nr"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    lw = vocab.crossJoin(tot).select(
        "w",
        (
            F.log((F.col("c_t") + 1) / (F.col("nt") + F.col("v")))
            - F.log((F.col("c_r") + 1) / (F.col("nr") + F.col("v")))
        ).alias("lw"),
    )
    scored = (
        tok_r.join(lw, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("lw"), 4).alias("dsir_weight"),
        )
    )
    return scored.orderBy(F.desc("dsir_weight"), "doc_id").limit(20).select(
        "doc_id", "n_tokens", "dsir_weight"
    )


# ---------------------------------------------------------------------------
# Q152: per-document unigram entropy (repetitiveness signal)
# ---------------------------------------------------------------------------

# The oracle recomputes H = log2(n) - (Σ c·log2 c)/n via the exploded
# spelling (unnest → group by doc,word); the engine folds the SORTED
# in-row token array instead (operators/text.py unigram_entropy) — same
# math, zero shuffle.  Both sides round to 6 so last-ulp log2/sum-order
# differences can't flip the hash.
_Q152_SQL = """
WITH t AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), w -> w <> '') AS w
  FROM documents
),
c AS (
  SELECT doc_id, word, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(w) AS word FROM t)
  GROUP BY doc_id, word
),
h AS (
  SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS d, SUM(cnt * log2(cnt)) AS s
  FROM c GROUP BY doc_id
)
SELECT t.doc_id, t.lang,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(h.d, 0) AS BIGINT) AS n_distinct,
       CASE WHEN h.n > 0 THEN ROUND(h.d / CAST(h.n AS DOUBLE), 6) END AS ttr,
       CASE WHEN h.n > 0
            THEN ROUND(log2(CAST(h.n AS DOUBLE)) - h.s / h.n, 6) END AS entropy
FROM t LEFT JOIN h USING (doc_id)
ORDER BY doc_id
"""


@register(
    "q152_unigram_entropy",
    _Q152_SQL,
    doc=(
        "per-doc unigram entropy + type-token ratio (the Gopher-style "
        "repetitiveness signal, Rae et al. 2021, public): ZERO-shuffle "
        "spelling — tokens are sorted in-row and one F.aggregate fold "
        "walks the runs accumulating n, distinct count and Σ c·log2 c; "
        "the word multiset never leaves the row, so the op rides the "
        "parquet scan as a pure map stage (the exploded spelling "
        "re-keys the whole corpus through a shuffle at 100 TB)"
    ),
    tables=("documents",),
)
def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.text import unigram_entropy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return unigram_entropy(docs, keep=["doc_id", "lang"]).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q250: Zipf rank-frequency slope (corpus-law diagnostic, round 7)
# ---------------------------------------------------------------------------

_Q250_SQL = """
WITH tok AS (
  SELECT string_split(text, ' ') AS ws FROM documents
),
grams AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS g
  FROM tok, UNNEST(range(1, len(ws))) AS u(i)
),
f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY g),
pts AS (
  SELECT ROUND(LN(ROW_NUMBER() OVER (ORDER BY c DESC, g)), 6) AS x,
         ROUND(LN(c), 6) AS y
  FROM f
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT n AS n_types,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept
FROM s
"""


@register(
    "q250_zipf_slope",
    _Q250_SQL,
    doc=(
        "Zipf rank-frequency law fit over word bigrams: OLS slope of "
        "ln(count) on ln(rank) — the corpus-health diagnostic (natural "
        "text sits near slope -1; synthetic/templated corpora flatten, "
        "which is exactly what this near-uniform fixture shows): rank "
        "comes from the |gram types|-sized frequency window (the q241 "
        "discipline), ln values ROUND()ed at 6 dp before the power "
        "sums (q129 libm rule), closed-form OLS from the sums"
    ),
    tables=("documents",),
)
def q250(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from osm_changesets_to_parquet_spark.operators.text import bigram_stream

    docs = load_table(spark, sf_dir, "documents")
    grams = bigram_stream(docs, keep=[])
    f = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    order = Window.orderBy(F.col("c").desc(), F.col("g"))
    pts = f.select(
        F.round(F.log(F.row_number().over(order).cast("double")), 6).alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    )


# ---------------------------------------------------------------------------
# q267: effective sample size of the DSIR importance weights (round 7)
# ---------------------------------------------------------------------------

_Q267_SQL = f"""
WITH tgt AS (SELECT doc_id, text FROM documents
             WHERE {QL.sql_hash_bucket('doc_id', 100)} < 10),
raw AS (SELECT doc_id, text FROM documents
        WHERE {QL.sql_hash_bucket('doc_id', 100)} >= 10),
tok_t AS (SELECT unnest(string_split(text, ' ')) AS w FROM tgt),
tok_r AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM raw),
ct AS (SELECT w, COUNT(*) AS c FROM tok_t WHERE w <> '' GROUP BY w),
cr AS (SELECT w, COUNT(*) AS c FROM tok_r WHERE w <> '' GROUP BY w),
vocab AS (
  SELECT COALESCE(ct.w, cr.w) AS w,
         COALESCE(ct.c, 0) AS c_t, COALESCE(cr.c, 0) AS c_r
  FROM ct FULL OUTER JOIN cr ON ct.w = cr.w
),
tot AS (
  SELECT CAST(SUM(c_t) AS DOUBLE) AS nt, CAST(SUM(c_r) AS DOUBLE) AS nr,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM vocab
),
lwt AS (
  SELECT w, LN((c_t + 1) / (nt + v)) - LN((c_r + 1) / (nr + v)) AS lw
  FROM vocab, tot
),
scored AS (
  SELECT tok_r.doc_id, ROUND(SUM(lwt.lw), 4) AS lw
  FROM tok_r JOIN lwt ON lwt.w = tok_r.w
  WHERE tok_r.w <> ''
  GROUP BY tok_r.doc_id
),
m AS (SELECT MAX(lw) AS mx FROM scored),
e AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         SUM(EXP(lw - mx)) AS s1,
         SUM(EXP(2 * (lw - mx))) AS s2
  FROM scored CROSS JOIN m
)
SELECT n AS n_docs,
       ROUND(s1 * s1 / s2, 2) AS ess,
       ROUND(s1 * s1 / s2 / n, 4) AS ess_fraction,
       ROUND(1 / s1, 4) AS max_weight_share
FROM e
"""


@register(
    "q267_importance_ess",
    _Q267_SQL,
    doc=(
        "effective sample size of the q147 DSIR importance weights "
        "(Kong 1992: ESS = (Σw)²/Σw² — THE degeneracy diagnostic "
        "before importance-weighted training: ESS ~ n means weights "
        "are informative-but-balanced, ESS ~ 1 means one document "
        "dominates and the reweighted corpus is a mirage): computed "
        "in log space via the max-shifted log-sum-exp (EXP of raw "
        "log-weights would under/overflow), per-doc log-weights "
        "rounded 4dp first (the q147 contract); also reports the "
        "largest single normalized weight 1/s1"
    ),
    tables=("documents",),
)
def q267(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    b = QL.hash_bucket("doc_id", 100)
    target, raw = docs.where(b < 10), docs.where(b >= 10)
    tok_t = target.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    tok_r = raw.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    ct = tok_t.groupBy("w").agg(F.count(F.lit(1)).alias("c_t"))
    cr = tok_r.groupBy("w").agg(F.count(F.lit(1)).alias("c_r"))
    vocab = ct.join(cr, "w", "full_outer").select(
        "w",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
    )
    tot = vocab.agg(
        F.sum("c_t").cast("double").alias("nt"),
        F.sum("c_r").cast("double").alias("nr"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    lw = vocab.crossJoin(tot).select(
        "w",
        (
            F.log((F.col("c_t") + 1) / (F.col("nt") + F.col("v")))
            - F.log((F.col("c_r") + 1) / (F.col("nr") + F.col("v")))
        ).alias("lw"),
    )
    scored = (
        tok_r.join(lw, "w")
        .groupBy("doc_id")
        .agg(F.round(F.sum("lw"), 4).alias("lw"))
    )
    m = scored.agg(F.max("lw").alias("mx"))
    e = scored.crossJoin(m).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.exp(F.col("lw") - F.col("mx"))).alias("s1"),
        F.sum(F.exp(2 * (F.col("lw") - F.col("mx")))).alias("s2"),
    )
    ess = F.col("s1") * F.col("s1") / F.col("s2")
    return e.select(
        F.col("n").alias("n_docs"),
        F.round(ess, 2).alias("ess"),
        F.round(ess / F.col("n"), 4).alias("ess_fraction"),
        F.round(1 / F.col("s1"), 4).alias("max_weight_share"),
    )


# ---------------------------------------------------------------------------
# q274: Good-Turing frequency-of-frequencies + unseen mass (round 7)
# ---------------------------------------------------------------------------

_Q274_SQL = """
WITH tok AS (
  SELECT ws[i] || ' ' || ws[i + 1] AS g
  FROM (SELECT string_split(text, ' ') AS ws FROM documents),
       UNNEST(range(1, len(ws))) AS u(i)
),
f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY g),
fof AS (
  SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM f GROUP BY r
),
tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n FROM fof)
SELECT fof.r, fof.n_r,
       ROUND(CAST(fof.r * fof.n_r AS DOUBLE) / tot.n, 6) AS mass,
       ROUND((SELECT CAST(n_r AS DOUBLE) FROM fof WHERE r = 1) / tot.n, 6)
         AS unseen_mass_estimate
FROM fof CROSS JOIN tot
ORDER BY fof.r LIMIT 15
"""


@register(
    "q274_good_turing",
    _Q274_SQL,
    doc=(
        "Good-Turing frequency-of-frequencies over word bigrams: the "
        "count-of-counts table (how many types occur exactly r "
        "times), per-r probability mass, and Turing's estimate of "
        "the UNSEEN mass N1/N (the singleton share — how much "
        "probability the corpus has never shown you; the q256 Heaps "
        "curve's probabilistic twin): two keyed rollups (gram, then "
        "count-of-counts), a scalar total, all exact integers until "
        "the final division"
    ),
    tables=("documents",),
)
def q274(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.text import bigram_stream

    docs = load_table(spark, sf_dir, "documents")
    tok = bigram_stream(docs, keep=[])
    f = tok.groupBy("g").agg(F.count(F.lit(1)).alias("r"))
    fof = f.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    tot = fof.agg(F.sum(F.col("r") * F.col("n_r")).alias("n"))
    # an ALWAYS-one-row frame: when the corpus has no singletons at
    # all (true at sf0.1 — the closed vocab saturates) the unseen
    # mass is NULL, matching the oracle's scalar subquery; a
    # filter-then-crossJoin would return ZERO rows instead (the sf0.1
    # gate caught exactly this)
    n1 = fof.agg(
        F.sum(F.when(F.col("r") == 1, F.col("n_r")))
        .cast("double")
        .alias("n1")
    )
    return (
        fof.crossJoin(tot)
        .crossJoin(n1)
        .select(
            "r",
            "n_r",
            F.round(
                (F.col("r") * F.col("n_r")).cast("double") / F.col("n"), 6
            ).alias("mass"),
            F.round(F.col("n1") / F.col("n"), 6).alias(
                "unseen_mass_estimate"
            ),
        )
        .orderBy("r")
        .limit(15)
    )

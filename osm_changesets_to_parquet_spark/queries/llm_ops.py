"""LLM-data-pipeline queries Q34-Q40 + training-data curation extras
(SURVEY.md §2.B [ns] scope; BASELINE.json north star).

Every entry is backed by a reusable operator in
``osm_changesets_to_parquet_spark.operators`` — the query here is the
declared, oracle-checked instantiation on the driver's tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators import text as T
from osm_changesets_to_parquet_spark.operators.similarity import cosine_topk
from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.queries.ann import BRUTE_TOPK_SQL

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@register(
    "q34_exact_dedup",
    """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY LOWER(TRIM(text))
    ORDER BY keep_id
    """,
    doc=(
        "exact dedup on normalized text: hash-groupBy, keep min doc_id. "
        "At 100 TB the group key would be a 128-bit hash of the normalized "
        "text (operators.dedup.exact_dedup does that) so the shuffle carries "
        "16 bytes/row, not documents."
    ),
    tables=("documents",),
)
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.lower(F.trim(F.col("text"))).alias("__norm"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# Similarity search / vector ops
# ---------------------------------------------------------------------------


@register(
    "q36_cosine_topk",
    BRUTE_TOPK_SQL,
    doc=(
        "exact cosine top-10 vs the vec_id=0 vector: JVM-side zip_with/"
        "aggregate fold + TakeOrderedAndProject (no global sort)"
    ),
    tables=("embeddings",),
)
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    return cosine_topk(emb, query, k=10)


@register(
    "q37_centroid",
    """
    WITH px AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    c AS (SELECT label, pos, AVG(v) AS m FROM px GROUP BY label, pos)
    SELECT label, ROUND(SQRT(SUM(m*m)), 4) AS centroid_norm
    FROM c GROUP BY label ORDER BY label
    """,
    doc="per-label centroid via posexplode + positional AVG; output its L2 norm",
    tables=("embeddings",),
)
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("label")
        .agg(F.round(F.sqrt(F.sum(F.col("m") * F.col("m"))), 4).alias("centroid_norm"))
        .orderBy("label")
    )


@register(
    "q73_vector_normalize",
    """
    WITH n AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS e1,
             SQRT(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    )
    SELECT vec_id,
           ROUND(e1 / (CASE WHEN nrm > 0 THEN nrm ELSE 1 END), 4) AS n1,
           ROUND(CASE WHEN nrm > 0 THEN 1.0 ELSE 0.0 END, 4) AS unit_norm
    FROM n ORDER BY vec_id
    """,
    doc=(
        "L2 vector normalization (JVM transform, zero-safe): first "
        "normalized component + resulting norm per vector"
    ),
    tables=("embeddings",),
)
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import (
        normalize_vectors,
        sq_norm,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    normed = normalize_vectors(emb, "embedding", "nv")
    return normed.select(
        "vec_id",
        F.round(F.element_at("nv", 1), 4).alias("n1"),
        F.round(F.round(F.sqrt(sq_norm(F.col("nv"))), 6), 4).alias("unit_norm"),
    ).orderBy("vec_id")


@register(
    "q74_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id,
             list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS am
      FROM embeddings
    ), sc AS (
      SELECT vec_id, CASE WHEN am > 0 THEN am / 127.0 ELSE 1.0 END AS scale
      FROM s
    )
    SELECT e.vec_id,
           ROUND(sc.scale, 6) AS scale_r,
           CAST(list_sum(list_transform(e.embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) / sc.scale + 0.5) AS BIGINT))) AS BIGINT)
             AS q_sum,
           CAST(FLOOR(CAST(e.embedding[1] AS DOUBLE) / sc.scale + 0.5) AS BIGINT) AS q1
    FROM embeddings e JOIN sc ON e.vec_id = sc.vec_id
    ORDER BY e.vec_id
    """,
    doc=(
        "symmetric per-vector int8 quantization (4x storage shrink; "
        "round-half-up codes in [-127,127]): per-vector scale, code "
        "checksum, and first code — all JVM expressions"
    ),
    tables=("embeddings",),
)
def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.similarity import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    qd = quantize_int8(emb, "embedding")
    return qd.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("q_sum"),
        F.element_at("q", 1).cast("long").alias("q1"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q38_token_freq",
    """
    SELECT token, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY cnt DESC, token LIMIT 20
    """,
    doc="top-20 tokens: explode + groupBy (map-side partial agg) + top-k",
    tables=("documents",),
)
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        T.term_freq(docs)
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "q39_bigrams",
    """
    WITH t AS (
      SELECT doc_id, lang,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    b AS (
      SELECT lang, tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      FROM t
    ),
    g AS (
      SELECT lang, bigram, COUNT(*) AS cnt FROM b WHERE bigram IS NOT NULL
      GROUP BY lang, bigram
    )
    SELECT lang, bigram, cnt FROM (
      SELECT lang, bigram, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
      FROM g
    ) WHERE rn <= 10
    ORDER BY lang, cnt DESC, bigram
    """,
    doc=(
        "top-10 bigrams per lang; Spark builds bigrams inside the row "
        "(zip_with over shifted slices — no window, no extra shuffle)"
    ),
    tables=("documents",),
)
def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    g = T.bigrams(docs, keep=["lang"]).groupBy("lang", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("bigram"))
    return (
        g.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("lang", "bigram", "cnt")
        .orderBy("lang", F.col("cnt").desc(), "bigram")
    )


@register(
    "q40_tfidf",
    """
    WITH t AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT lang, token, COUNT(*) AS tf FROM t GROUP BY lang, token),
    dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.lang, tf.token, ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS score
      FROM tf JOIN dfreq df USING (token) CROSS JOIN n
    )
    SELECT lang, token, score FROM (
      SELECT lang, token, score,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, token) AS rn
      FROM scored
    ) WHERE rn <= 5
    ORDER BY lang, score DESC, token
    """,
    doc="tf-idf top-5 per lang (tf in lang x ln(N/df) global); ranked on rounded score",
    tables=("documents",),
)
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = T.tf_idf(docs).withColumn("score", F.round("score", 4))
    top = T.top_terms_per_group(scored, "lang", "score", 5)
    return top.select("lang", "token", "score").orderBy(
        "lang", F.col("score").desc(), "token"
    )


# ---------------------------------------------------------------------------
# Training-data curation heuristics (beyond SURVEY's own list)
# ---------------------------------------------------------------------------


@register(
    "t41_language_id",
    """
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
    scored AS (
      SELECT doc_id, lang,
        len(list_filter(['the','and','of','to','a'], m -> list_contains(tk, m))) AS score_en,
        len(list_filter(['der','die','und','das','ist'], m -> list_contains(tk, m))) AS score_de,
        len(list_filter(['le','la','et','les','des'], m -> list_contains(tk, m))) AS score_fr,
        len(list_filter(['el','la','de','que','los'], m -> list_contains(tk, m))) AS score_es,
        len(list_filter(['de','shi','le','bu','wo'], m -> list_contains(tk, m))) AS score_zh
      FROM toks
    )
    SELECT doc_id, lang,
      CASE WHEN GREATEST(score_en, score_de, score_fr, score_es, score_zh) = 0 THEN NULL
           WHEN score_en = GREATEST(score_en, score_de, score_fr, score_es, score_zh) THEN 'en'
           WHEN score_de = GREATEST(score_en, score_de, score_fr, score_es, score_zh) THEN 'de'
           WHEN score_fr = GREATEST(score_en, score_de, score_fr, score_es, score_zh) THEN 'fr'
           WHEN score_es = GREATEST(score_en, score_de, score_fr, score_es, score_zh) THEN 'es'
           ELSE 'zh' END AS pred_lang
    FROM scored ORDER BY doc_id
    """,
    doc="marker-token language-ID heuristic; fully in-row, zero shuffle",
    tables=("documents",),
)
def t41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return T.language_id(docs).select("doc_id", "lang", "pred_lang").orderBy("doc_id")


@register(
    "t42_quality_score",
    r"""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      ROUND(len(list_filter(['the','and','of','to','a'], s -> list_contains(string_split(text,' '), s)))
            / GREATEST(len(string_split(text, ' ')), 1), 6) AS stopword_ratio,
      ROUND(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g'))
            / GREATEST(length(text), 1), 6) AS punct_ratio,
      ROUND((length(text) - (len(string_split(text, ' ')) - 1))
            / GREATEST(len(string_split(text, ' ')), 1), 6) AS mean_token_len
    FROM documents ORDER BY doc_id
    """,
    doc="quality signals: length, stopword ratio, punctuation ratio, token length",
    tables=("documents",),
)
def t42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.quality_score(docs).select(
        "doc_id", "n_tokens", "stopword_ratio", "punct_ratio", "mean_token_len"
    ).orderBy("doc_id")


@register(
    "t43_token_count",
    r"""
    SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
    FROM documents ORDER BY doc_id
    """,
    doc="whitespace + BPE-ish (GPT-2 pretokenizer regex) token counting",
    tables=("documents",),
)
def t43(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.token_count(docs).select("doc_id", "ws_tokens", "bpeish_tokens").orderBy("doc_id")


@register(
    "t44_fingerprint",
    """
    SELECT doc_id,
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
        (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
    FROM documents ORDER BY doc_id
    """,
    doc=(
        "rolling-hash fingerprint (poly base 31 mod 1e9+7 over char codes) — "
        "portable across engines, JVM-side lambda fold"
    ),
    tables=("documents",),
)
def t44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.fingerprint(docs).select("doc_id", "fp").orderBy("doc_id")


# --- BM25 retrieval ---------------------------------------------------------

_BM25_TERMS = ("join", "vector", "stream")
_K1, _B, _TOPK = 1.2, 0.75, 10

_Q109_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS dl
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM base),
q(term) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}),
tf AS (
  SELECT b.doc_id, b.dl, q.term,
         len(list_filter(b.toks, x -> x = q.term)) AS tf
  FROM base b JOIN q ON list_contains(b.toks, q.term)
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * ({_K1} + 1)
           / (tf.tf + {_K1} * (1 - {_B} + {_B} * tf.dl / s.avgdl))
         ), 4) AS score_r
  FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, score_r FROM scored
ORDER BY score_r DESC, doc_id LIMIT {_TOPK}
"""


@register(
    "q109_bm25_topk",
    _Q109_SQL,
    doc=(
        "BM25 top-10 retrieval for a fixed bag-of-words query: term "
        "frequencies computed in-row (size(filter(tokens))) for the "
        "broadcast query-term set only — no corpus-vocabulary shuffle, "
        "no token explode; df/N/avgdl are one small aggregate broadcast "
        "back; top-k is TakeOrderedAndProject. The sparse-retrieval "
        "complement to the dense ANN queries (a51/a52)"
    ),
    tables=("documents",),
)
def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(
        docs, list(_BM25_TERMS), k=_TOPK, k1=_K1, b=_B
    )


# ---------------------------------------------------------------------------
# Q114: PII redaction (operators/text.py redact_pii)
# ---------------------------------------------------------------------------

# The synthetic corpus carries no real PII, so the query injects a
# deterministic email / IPv4 / phone per document (the same expression
# on both engines) and then proves the redactor strips all three —
# counts measured on the pre-redaction text, masked text md5-hashed.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_PHONE = "\\b\\d{3}-\\d{4}\\b"

_Q114_SQL = (
    """
WITH d AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com ip 10.'
              || (doc_id % 256) || '.0.1 call 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '"""
    + _PII_EMAIL
    + """')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '"""
    + _PII_IP
    + """')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t, '"""
    + _PII_PHONE
    + """')) AS BIGINT) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '"""
    + _PII_EMAIL
    + """', '<EMAIL>', 'g'),
           '"""
    + _PII_IP
    + """', '<IP>', 'g'),
           '"""
    + _PII_PHONE
    + """', '<PHONE>', 'g')) AS red_md5
FROM d ORDER BY doc_id
"""
)


@register(
    "q114_pii_redact",
    _Q114_SQL,
    doc=(
        "PII masking (operators/text.py redact_pii): emails, IPv4s and "
        "phone-shaped tokens regexp-masked JVM-side in one codegen map "
        "stage (counts measured pre-redaction); deterministic synthetic "
        "PII is injected per-document on both engines so the redactor's "
        "effect is witnessed, not vacuous"
    ),
    tables=("documents",),
)
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.text import redact_pii

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com ip 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0.1 call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ).alias("text"),
        )
    )
    return (
        redact_pii(docs, "text")
        .select(
            "doc_id",
            "n_email",
            "n_ip",
            "n_phone",
            F.md5("redacted").alias("red_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Q123: PMI collocations (pointwise mutual information over bigrams)
# ---------------------------------------------------------------------------

_Q123_MIN_CNT = 5

_Q123_SQL = f"""
WITH t AS (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
uni AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
ntok AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
b AS (
  SELECT tok AS w1, LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM t
),
bg AS (
  SELECT w1, w2, COUNT(*) AS c2 FROM b WHERE w2 IS NOT NULL GROUP BY w1, w2
),
nbg AS (SELECT CAST(SUM(c2) AS DOUBLE) AS nb FROM bg),
pmi AS (
  SELECT bg.w1, bg.w2, bg.c2,
         ROUND(LN((bg.c2 / nbg.nb) /
               ((u1.c / ntok.n) * (u2.c / ntok.n))), 6) AS pmi
  FROM bg, nbg, ntok
  JOIN uni u1 ON u1.tok = bg.w1
  JOIN uni u2 ON u2.tok = bg.w2
  WHERE bg.c2 >= {_Q123_MIN_CNT}
)
SELECT w1, w2, c2, pmi FROM pmi
ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


@register(
    "q123_pmi_collocations",
    _Q123_SQL,
    doc=(
        "top-20 collocations by pointwise mutual information over "
        "adjacent bigrams (min count 5): bigrams built IN-ROW (no "
        "per-token window shuffle), unigram marginals broadcast back, "
        "TakeOrderedAndProject top-k — the collocation-mining step of "
        "a tokenizer/phrase pipeline"
    ),
    tables=("documents",),
)
def q123(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ntok = uni.agg(F.sum("c").cast("double").alias("n"))
    bg = (
        T.bigrams(docs, keep=[])
        .select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
        .where(F.col("c2") >= _Q123_MIN_CNT)
    )
    nbg_src = T.bigrams(docs, keep=[]).agg(F.count(F.lit(1)).cast("double").alias("nb"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_w2"))
    pmi = F.round(
        F.log(
            (F.col("c2") / F.col("nb"))
            / ((F.col("c_w1") / F.col("n")) * (F.col("c_w2") / F.col("n")))
        ),
        6,
    )
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(ntok)
        .crossJoin(nbg_src)
        .select("w1", "w2", "c2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q124: document chunking for retrieval (fixed windows with stride)
# ---------------------------------------------------------------------------

_CHUNK = 32  # tokens per chunk
_STRIDE = 24  # 8-token overlap between neighbours

_Q124_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id,
         unnest(range(0, GREATEST(1, CAST(CEIL((len(toks) - {_CHUNK}) /
                 CAST({_STRIDE} AS DOUBLE)) AS BIGINT) + 1))) AS chunk_id,
         toks
  FROM t
),
s AS (
  SELECT doc_id, chunk_id,
         toks[(chunk_id * {_STRIDE} + 1):(chunk_id * {_STRIDE} + {_CHUNK})] AS ctoks
  FROM c
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(ctoks) AS BIGINT) AS n_tokens,
       md5(array_to_string(ctoks, ' ')) AS chunk_md5
FROM s WHERE len(ctoks) > 0
ORDER BY doc_id, chunk_id
"""


@register(
    "q124_doc_chunking",
    _Q124_SQL,
    doc=(
        "RAG-style document chunking: fixed 32-token windows with "
        "stride 24 (8-token overlap), built ENTIRELY in-row (sequence "
        "of chunk starts -> slice of the token array -> md5) — a pure "
        "map stage, no shuffle, no UDF; chunk count per doc is "
        "ceil((len-C)/S)+1 so every token lands in >=1 chunk"
    ),
    tables=("documents",),
)
def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("toks") - F.lit(_CHUNK)) / F.lit(float(_STRIDE))).cast("long")
        + F.lit(1),
    )
    chunks = docs.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "doc_id",
        "chunk_id",
        F.slice(
            F.col("toks"), (F.col("chunk_id") * _STRIDE + 1).cast("int"), _CHUNK
        ).alias("ctoks"),
    )
    return (
        chunks.where(F.size("ctoks") > 0)
        .select(
            "doc_id",
            "chunk_id",
            F.size("ctoks").cast("long").alias("n_tokens"),
            F.md5(F.array_join("ctoks", " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Q130: text normalization pass (lowercase, whitespace collapse, trim)
# ---------------------------------------------------------------------------

_Q130_SQL = """
WITH n AS (
  SELECT doc_id, lang, text,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE norm != text) AS BIGINT) AS n_changed,
       CAST(SUM(len(text) - len(norm)) AS BIGINT) AS chars_removed,
       md5(string_agg(md5(norm), '' ORDER BY doc_id)) AS corpus_md5
FROM n GROUP BY lang ORDER BY lang
"""


@register(
    "q130_text_normalize",
    _Q130_SQL,
    doc=(
        "canonical text normalization (operators/dedup.py normalize — "
        "the exact prelude every dedup/fingerprint stage shares): "
        "lowercase, collapse whitespace runs, trim; one codegen map "
        "stage; per-lang change counts plus an order-pinned corpus "
        "digest (md5 of per-doc md5s) so the normalized BYTES are part "
        "of the hash, not just the counts"
    ),
    tables=("documents",),
)
def q130(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.dedup import normalize

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "lang", "text", normalize(F.col("text")).alias("norm"))
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("norm") != F.col("text"), 1)).alias("n_changed"),
            F.sum(F.length("text") - F.length("norm")).alias("chars_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", F.md5("norm").alias("h")))
                        ),
                        lambda s: s.h,
                    ),
                    "",
                )
            ).alias("corpus_md5"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# BPE tokenizer-training merge steps (q144)
# ---------------------------------------------------------------------------

_Q144_ROUNDS = 3


def _bpe_cte_chain(n_rounds: int) -> list[str]:
    """The BPE merge rounds unrolled as chained CTEs (the q84 pagerank
    discipline), shared by q144 (reports the winners t{r}) and q145
    (reads the final seq{n}): seq{r} applies round r's winning merge
    via the same left-to-right non-overlapping replace the Spark side
    uses; ``w`` rides along so the encode can join back to words."""
    ctes = [
        "words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents)",
        "vocab AS (SELECT w, COUNT(*) AS wc FROM words WHERE w <> '' GROUP BY w)",
        "seq0 AS (SELECT w, ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq, wc FROM vocab)",
    ]
    for r in range(1, n_rounds + 1):
        prev = f"seq{r - 1}"
        ctes.append(
            f"s{r} AS (SELECT string_split(trim(seq), '  ') AS syms, wc FROM {prev})"
        )
        ctes.append(
            f"p{r} AS (SELECT syms[i] AS l, syms[i+1] AS r, wc FROM "
            f"(SELECT syms, wc, generate_subscripts(syms, 1) AS i FROM s{r} WHERE len(syms) >= 2) "
            f"WHERE i < len(syms))"
        )
        ctes.append(
            f"pc{r} AS (SELECT l, r, CAST(SUM(wc) AS BIGINT) AS cnt FROM p{r} GROUP BY l, r)"
        )
        ctes.append(
            f"t{r} AS (SELECT l, r, cnt FROM pc{r} ORDER BY cnt DESC, l, r LIMIT 1)"
        )
        # LEFT JOIN ON TRUE (not a cross join): when a round finds no
        # pair at all (vocabulary exhausted before n_rounds merges),
        # t{r} is empty and a cross join would wipe the vocab — the
        # CASE mirrors the Spark side's LEFT-join no-op guard
        # (operators/text.py bpe_merge_steps), keeping seq unchanged
        ctes.append(
            f"seq{r} AS (SELECT w, CASE WHEN t{r}.l IS NULL THEN seq ELSE "
            f"replace(seq, ' ' || t{r}.l || '  ' || t{r}.r || ' ', "
            f"' ' || t{r}.l || t{r}.r || ' ') END AS seq, wc "
            f"FROM {prev} LEFT JOIN t{r} ON TRUE)"
        )
    return ctes


def _q144_sql(n_rounds: int) -> str:
    unions = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, l AS left_sym, r AS right_sym, "
        f"cnt AS pair_count FROM t{r}"
        for r in range(1, n_rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_cte_chain(n_rounds))
        + f"\nSELECT * FROM ({unions}) ORDER BY round"
    )


def _q145_sql(n_rounds: int) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_cte_chain(n_rounds))
        + f"""
, encoded AS (SELECT w, len(string_split(trim(seq), '  ')) AS nsym FROM seq{n_rounds}),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
per_doc AS (SELECT dw.doc_id, COUNT(*) AS n_words, SUM(nsym) AS n_bpe_tokens
            FROM dw JOIN encoded USING (w) WHERE dw.w <> '' GROUP BY dw.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_bpe_tokens, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc USING (doc_id)
ORDER BY d.doc_id
"""
    )


@register(
    "q144_bpe_merges",
    _q144_sql(_Q144_ROUNDS),
    doc=(
        "distributed BPE tokenizer-training merge steps (Sennrich 2016, "
        "public): 3 rounds of adjacent-symbol-pair counting over the "
        "word VOCABULARY (corpus scanned once for word counts), each "
        "round's winning pair broadcast into a single JVM replace() "
        "whose left-to-right non-overlapping scan is greedy BPE merge "
        "order (operators/text.py bpe_merge_steps); oracle unrolls the "
        "rounds as chained CTEs"
    ),
    tables=("documents",),
)
def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_merge_steps(docs, _Q144_ROUNDS).orderBy("round")


@register(
    "q145_bpe_encode",
    _q145_sql(_Q144_ROUNDS),
    doc=(
        "apply the trained BPE merge table (q144's 3 rounds) to every "
        "document — the tokenize-the-corpus step after tokenizer "
        "training: merges are applied ONCE to the distinct-word "
        "vocabulary, each doc joins its exploded words to the encoded "
        "vocab and sums BPE lengths (operators/text.py "
        "bpe_encode_counts); per-doc (n_words, n_bpe_tokens), empty "
        "docs 0/0; oracle chains the same merge CTEs then joins back"
    ),
    tables=("documents",),
)
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.bpe_encode_counts(docs, _Q144_ROUNDS).orderBy("doc_id")


def _q148_sql(n_rounds: int) -> str:
    return (
        "WITH "
        + ",\n".join(_bpe_cte_chain(n_rounds))
        + f"""
, encoded AS (SELECT w, len(string_split(trim(seq), '  ')) AS nsym FROM seq{n_rounds}),
dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
per_doc AS (SELECT dw.doc_id, COUNT(*) AS n_words, SUM(nsym) AS n_bpe
            FROM dw JOIN encoded USING (w) WHERE dw.w <> '' GROUP BY dw.doc_id)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
       ROUND(SUM(n_bpe) * 1.0 / SUM(n_words), 4) AS fertility
FROM documents d JOIN per_doc USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""
    )


@register(
    "q148_tokenizer_fertility",
    _q148_sql(_Q144_ROUNDS),
    doc=(
        "tokenizer fertility by language: BPE tokens per word under the "
        "q144-trained merge table, grouped by the documents' lang "
        "column — the per-language tokenizer-quality eval that decides "
        "whether a vocabulary under-serves a language (high fertility = "
        "more splits).  Rides q145's encoded-vocabulary join (merges "
        "applied once to distinct words, never per doc); one grouped "
        "rollup on top"
    ),
    tables=("documents",),
)
def q148(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = T.bpe_encode_counts(docs, _Q144_ROUNDS)
    return (
        per_doc.where(F.col("n_words") > 0)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_words"), 4
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q160: distinctive vocabulary per language — informative-Dirichlet log-odds
# ---------------------------------------------------------------------------

_Q160_A = 0.01  # per-word pseudo-count
_Q160_MIN = 3
_Q160_K = 5

# Monroe / Colaresi / Quinn 2008 ("Fightin' Words", public): the
# variance-stabilized log-odds z-score of word w for corpus l vs rest,
#   d = ln((y+a)/(n+a0-y-a)) - ln((y'+a)/(n'+a0-y'-a)),
#   z = d / sqrt(1/(y+a) + 1/(y'+a)),  a0 = a*V.
# Identical arithmetic both engines; z rounds to 4 before the rank so
# a last-ulp ln() difference cannot flip the ordering (the q147
# rounded-log-sum discipline), and token breaks rank ties.
_Q160_SQL = f"""
WITH tok AS (
  SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT lang, token, COUNT(*) AS y FROM tok GROUP BY 1, 2),
cw AS (SELECT token, SUM(y) AS cw FROM tf GROUP BY 1),
nl AS (SELECT lang, SUM(y) AS nl FROM tf GROUP BY 1),
g  AS (SELECT COUNT(*) AS v, SUM(cw) AS n FROM cw),
z AS (
  SELECT tf.lang, tf.token, tf.y,
         LN((tf.y + {_Q160_A}) / (nl.nl + {_Q160_A} * g.v - tf.y - {_Q160_A}))
       - LN((cw.cw - tf.y + {_Q160_A})
            / (g.n - nl.nl + {_Q160_A} * g.v - (cw.cw - tf.y) - {_Q160_A}))
         AS d,
         1.0 / (tf.y + {_Q160_A}) + 1.0 / (cw.cw - tf.y + {_Q160_A}) AS var
  FROM tf JOIN cw USING (token) JOIN nl USING (lang) CROSS JOIN g
  WHERE tf.y >= {_Q160_MIN}
),
r AS (
  SELECT lang, token, CAST(y AS BIGINT) AS y, ROUND(d / SQRT(var), 4) AS z,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY ROUND(d / SQRT(var), 4) DESC, token) AS rn
  FROM z
)
SELECT lang, token, y, z FROM r WHERE rn <= {_Q160_K}
ORDER BY lang, z DESC, token
"""


@register(
    "q160_log_odds_terms",
    _Q160_SQL,
    doc=(
        "distinctive vocabulary per language via the informative-"
        "Dirichlet log-odds z-score (Monroe et al. 2008, public) — the "
        "cross-corpus signal tf-idf and PMI don't give (variance-"
        "stabilized one-vs-rest).  One token-keyed count shuffle, "
        "vocab-keyed equi-join for global counts, per-lang totals and "
        "the (V, N) scalars broadcast; top-5 per lang through the "
        "shared top_terms_per_group window (per-lang partitions — "
        "bounded by vocab, never corpus)"
    ),
    tables=("documents",),
)
def q160(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    tf = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    cw = tf.groupBy("token").agg(F.sum("y").alias("cw"))
    nl = tf.groupBy("lang").agg(F.sum("y").alias("nl"))
    g = cw.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum("cw").cast("double").alias("n"),
    )
    a = F.lit(_Q160_A)
    j = (
        tf.where(F.col("y") >= _Q160_MIN)
        .join(cw, "token")
        .join(nl, "lang")
        .crossJoin(g)
    )
    yq = F.col("cw") - F.col("y")
    d = F.log((F.col("y") + a) / (F.col("nl") + a * F.col("v") - F.col("y") - a)) - F.log(
        (yq + a) / (F.col("n") - F.col("nl") + a * F.col("v") - yq - a)
    )
    var = F.lit(1.0) / (F.col("y") + a) + F.lit(1.0) / (yq + a)
    scored = j.select(
        "lang", "token", "y", F.round(d / F.sqrt(var), 4).alias("z")
    )
    return (
        T.top_terms_per_group(scored, "lang", "z", _Q160_K)
        .select("lang", "token", F.col("y").cast("long").alias("y"), "z")
        .orderBy("lang", F.desc("z"), "token")
    )


# ---------------------------------------------------------------------------
# Q166: nearest-centroid classification audit (embedding-space separation)
# ---------------------------------------------------------------------------

# Both engines round the centroid means to 6 before the distances and
# the distances to 6 before the argmin (clabel tie-break), so the
# assignment can't flip on aggregate-order ulps.
_Q166_SQL = """
WITH px AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
c AS (SELECT label AS clabel, pos, ROUND(AVG(v), 6) AS m FROM px GROUP BY 1, 2),
d AS (
  SELECT p.vec_id, p.label, c.clabel,
         ROUND(SUM((p.v - c.m) * (p.v - c.m)), 6) AS d2
  FROM px p JOIN c ON c.pos = p.pos
  GROUP BY 1, 2, 3
),
a AS (
  SELECT vec_id, label, clabel,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
  FROM d
)
SELECT label, clabel AS assigned, COUNT(*) AS cnt
FROM a WHERE rn = 1
GROUP BY 1, 2 ORDER BY label, assigned
"""


@register(
    "q166_nearest_centroid",
    _Q166_SQL,
    doc=(
        "embedding-space class-separation audit: per-label centroids "
        "(posexplode + positional AVG, the q37 shape), every vector "
        "assigned to its nearest centroid, confusion matrix out.  The "
        "centroid frame is |labels|*dim rows — broadcast onto the "
        "exploded vector stream, map-side-partial distance aggregate, "
        "per-vector argmin window over |labels| rows.  The production "
        "hot path for this assign is the Arrow argmax against "
        "broadcast centroids (operators/similarity.py, the IVF cell "
        "assign); this relational spelling is the oracle-matched audit"
    ),
    tables=("embeddings",),
)
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    px = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    c = (
        px.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
    )
    d = (
        px.join(c, "pos")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.round(F.sum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))), 6).alias(
                "d2"
            )
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("label", F.col("clabel").alias("assigned"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("label", "assigned")
    )

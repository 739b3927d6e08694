"""Text-analysis operators for training-data pipelines.

All pure DataFrame compositions (JVM-side, codegen'd): tokenization,
n-grams, term frequencies, tf-idf, language-id heuristic, quality
scoring, token counting, fingerprinting.  No Python in the hot path.

Scale: every op is explode -> groupBy, i.e. one shuffle keyed by token
(high cardinality, well distributed).  tf-idf joins the per-token
document frequency back in — that join is keyed on token and the
df-side is small relative to the exploded stream (broadcast when it
fits, else shuffle-hash; Catalyst/AQE decides from stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from osm_changesets_to_parquet_spark.catalog import fan_out
from osm_changesets_to_parquet_spark.operators.iterutils import truncate_lineage


def tokens(docs: DataFrame, text_col: str = "text", keep: list[str] | None = None) -> DataFrame:
    """Explode whitespace tokens with position: adds (pos, token)."""
    keep = keep or [c for c in docs.columns if c != text_col]
    return docs.select(
        *keep, F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "token")
    )


def term_freq(docs: DataFrame, text_col: str = "text", group_col: str | None = None) -> DataFrame:
    """Token counts, optionally per group (e.g. per lang).

    NO fan_out before the explode (reverted r14): the r13 exchange
    regressed the driver's q38 run 0.71x, and the r14 interleaved A/B
    (min-of-5/arm) reads no-fan 0.40 s vs fan 0.65 s — a whitespace
    split feeding a map-side partial count is too cheap to pay an
    exchange for at any corpus the scan can't already split."""
    t = tokens(docs, text_col, keep=[group_col] if group_col else [])
    keys = ([group_col] if group_col else []) + ["token"]
    return t.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))


def bigram_stream(
    docs: DataFrame, text_col: str = "text", keep: list[str] | None = None
) -> DataFrame:
    """Exploded adjacent-token bigram stream ``(*keep, g)`` — the raw
    ``transform(sequence(...))`` spelling shared by the vocabulary-
    census queries (q241/q250/q256/q272/q274/q293), with the token
    array materialized ONCE per row: a ``split`` written inside the
    lambda body is re-evaluated per element (no CSE across a lambda
    boundary), which silently turns the gram build O(len^2) per doc —
    measured 2.9 s -> 0.75 s on the sf0.1 corpus scan.

    Short/NULL-doc semantics are BYTE-IDENTICAL to the inline
    spelling it replaces (single-token docs contribute NULL grams via
    out-of-range array access, NULL text propagates to no rows) —
    callers' oracle contracts depend on them; :func:`bigrams` is the
    cleaned-up variant with a ``size >= 2`` guard for new code.  The
    access goes through ``get`` so an ANSI session yields those NULL
    grams instead of raising INVALID_ARRAY_INDEX.
    """
    keep = keep or []
    return docs.select(
        *keep, F.split(F.col(text_col), " ").alias("__ws")
    ).select(
        *keep,
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1), "
                "i -> concat(get(__ws, i - 1), ' ', get(__ws, i)))"
            )
        ).alias("g"),
    )


def bigrams(docs: DataFrame, text_col: str = "text", keep: list[str] | None = None) -> DataFrame:
    """Adjacent-token pairs via zip_with over shifted slices (no window,
    no shuffle — computed inside the row)."""
    keep = keep or [c for c in docs.columns if c != text_col]
    toks = F.split(F.col(text_col), " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.where(F.size(toks) >= 2)
        .select(*keep, F.explode(pairs).alias("bigram"))
    )


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Per-(group, token) score = tf_in_group * ln(N / df).

    N = total docs, df = docs containing the token (across all groups).
    Returns (group, token, tf, df, score) — caller ranks/filters.
    """
    # the tf and df branches each re-run the token explode (different
    # aggregate shapes — Catalyst cannot share the exchange, and a
    # common (token, group, doc) pre-aggregate was measured out: the
    # optimizer collapses it on the df branch while the tf branch pays
    # an extra shuffle).  NO fan_out either (reverted r14): r13 kept it
    # without a measurement and the driver read q40 flat; the r14
    # interleaved A/B (min-of-5/arm) reads no-fan 0.75 s vs fan 1.22 s
    # — the exchange runs TWICE (once per branch) and loses both times.
    t = tokens(docs, text_col, keep=[doc_id_col, group_col])
    tf = t.groupBy(group_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = t.groupBy("token").agg(F.countDistinct(doc_id_col).alias("df"))
    n_docs = docs.agg(F.countDistinct(doc_id_col).alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(n_docs)
        .withColumn("score", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )


def top_terms_per_group(scored: DataFrame, group_col: str, score_col: str, k: int) -> DataFrame:
    """Top-k rows per group by (score desc, token asc) — deterministic."""
    w = Window.partitionBy(group_col).orderBy(F.col(score_col).desc(), F.col("token").asc())
    return scored.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents by BM25 score for a bag-of-words query.

    Returns (doc_id, score_r) — score rounded to 4 so the float-sum
    surface is oracle-stable; total order (score_r desc, doc_id).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   (never negative)
    score  = sum_t idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Scale shape: term frequencies are computed ONLY for the (tiny,
    broadcast) query-term set — the filter lands before the groupBy, so
    the shuffle carries one row per (doc, query term), not the corpus
    vocabulary.  Document lengths are an in-row ``size(split(...))``
    (no explode, no shuffle); N/avgdl/df are one small aggregate
    broadcast back.  Top-k is orderBy+limit = TakeOrderedAndProject —
    per-partition heaps, never a global sort.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.array_intersect(terms, toks).alias("__hit"),
        toks.alias("__toks"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # per-(doc, query-term) tf: explode only matching terms
    tf = (
        base.select(
            id_col,
            "dl",
            F.explode("__hit").alias("term"),
            "__toks",
        )
        .withColumn(
            "tf", F.size(F.filter("__toks", lambda x: x == F.col("term")))
        )
        .drop("__toks")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("part"), 4).alias("score_r"))
    )
    return scored.orderBy(F.col("score_r").desc(), F.col(id_col)).limit(k)


# --- heuristics for training-data curation ---------------------------------

# tiny per-language stopword lists for the n-gram language-id heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: marker-token hit counts per language, argmax.

    Pure DataFrame: one array_intersect-style score per language computed
    inside the row; no shuffle at all.
    """
    toks = F.split(F.col(text_col), " ")
    # "# of marker tokens present" — spelled as filter+size (not
    # array_intersect) so the count semantics are engine-portable
    scores = [
        F.size(
            F.filter(
                F.array(*[F.lit(m) for m in marks]),
                lambda m: F.array_contains(toks, m),
            )
        ).alias(f"score_{lang}")
        for lang, marks in _LANG_MARKERS.items()
    ]
    out = docs.select("*", *scores)
    langs = list(_LANG_MARKERS)
    # argmax with deterministic tie-break on language code order
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", F.when(best > 0, pred)).drop(
        *[f"score_{l}" for l in langs]
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals + composite."""
    toks = F.split(F.col(text_col), " ")
    n_tok = F.size(toks)
    n_char = F.length(text_col)
    stop = F.array(*[F.lit(s) for s in _LANG_MARKERS["en"]])
    stop_ratio = F.size(F.filter(stop, lambda s: F.array_contains(toks, s))) / F.greatest(
        n_tok, F.lit(1)
    )
    punct = F.length(F.regexp_replace(F.col(text_col), r"[^!-/:-@\[-`{-~]", ""))
    punct_ratio = punct / F.greatest(n_char, F.lit(1))
    mean_tok_len = (n_char - (n_tok - 1)) / F.greatest(n_tok, F.lit(1))
    return docs.select(
        "*",
        n_tok.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
    )


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate.

    The BPE-ish estimate splits on a GPT-2-style pre-tokenizer regex
    (word / number / punctuation runs) — a cheap, deterministic proxy
    for tokenizer cost, computed JVM-side with regexp_count.
    """
    ws = F.size(F.split(F.col(text_col), " "))
    bpeish = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))
    return docs.select(
        "*",
        ws.cast("long").alias("ws_tokens"),
        bpeish.cast("long").alias("bpeish_tokens"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", modulus: int = 1_000_000_007) -> DataFrame:
    """Deterministic rolling-hash document fingerprint (polynomial, base 31,
    mod 1e9+7 over character codes) — portable across engines, computed
    with a JVM-side lambda fold (F.aggregate), no Python."""
    h = F.aggregate(
        F.split(F.col(text_col), ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(modulus),
    )
    return docs.select("*", h.alias("fp"))


# PII redaction patterns — conservative subset valid in BOTH Java regex
# (Spark, executor-side) and RE2 (DuckDB oracle): no backrefs, no
# lookaround.  Order matters (emails first: their local parts may
# contain digit runs the later patterns would otherwise mangle).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{4}\b", "<PHONE>"),
)


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / phone-shaped tokens, counting each kind.

    Counts are measured on the ORIGINAL text (stable regardless of
    pattern order); redaction applies the patterns sequentially.  All
    JVM-side ``regexp_count`` / ``regexp_replace`` inside whole-stage
    codegen — a pure map stage, no shuffle, no Python: at 100 TB this
    runs at scan speed and pushes through column pruning untouched.
    """
    cols = ["*"]
    for name, pat, _ in PII_PATTERNS:
        cols.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{name}")
        )
    red = F.col(text_col)
    for _, pat, tok in PII_PATTERNS:
        red = F.regexp_replace(red, pat, tok)
    return docs.select(*cols, red.alias("redacted"))


def bpe_merge_steps(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """Distributed BPE tokenizer-training merge steps (Sennrich et al.
    2016, public): starting from character symbols over the corpus WORD
    VOCABULARY (word -> total count), run ``n_merges`` rounds of
    count-all-adjacent-symbol-pairs -> pick the top pair -> merge it
    everywhere; returns one row per round:
    (round, left_sym, right_sym, pair_count).

    Spelling keeps every round fully declarative — no Python in the
    loop and no driver materialization:

    - a word's symbol sequence is a delimited STRING, each symbol
      wrapped in single spaces (``" a  b "``); applying merge (x, y)
      is then one JVM ``replace(seq, " x  y ", " xy ")`` whose
      left-to-right non-overlapping scan IS greedy BPE merge order
      (both Spark and the SQL oracle scan the source string, so the
      engines agree even on self-overlapping runs like x x x);
    - pair counting explodes adjacent slices of the split sequence,
      weighted by word count — a map-side-partial aggregate over the
      VOCABULARY (not the corpus: the corpus is scanned once to build
      word counts, the merge rounds touch only distinct words);
    - the round's winner is a 1-row orderBy(cnt DESC, l, r).limit(1)
      broadcast back into the next round's replace — the only data
      movement between rounds is that single row.

    At 100 TB the vocabulary is millions of rows against a corpus of
    trillions of tokens — exactly the reduction BPE training needs;
    rounds chain as narrow broadcast-joined stages over the vocab.
    The oracle unrolls the same rounds as chained CTEs (the q84
    pagerank discipline).
    """
    _, winners = _bpe_rounds(docs, n_merges, text_col)
    return winners.select(
        "round",
        F.col("l").alias("left_sym"),
        F.col("r").alias("right_sym"),
        F.col("cnt").alias("pair_count"),
    )


def _bpe_rounds_kernel(vocab: DataFrame, n_merges: int):
    """Run every BPE merge round in ONE task over the word vocabulary
    (guide §4.2: hand the whole reduced dataset to native/Python code
    instead of chaining per-round Catalyst jobs).

    The Catalyst round chain (:func:`_bpe_rounds` with
    ``use_kernel=False``, the retained executable spec) costs two
    checkpoint JOBS per merge round — ~7 sequential scheduling
    round-trips for 3 rounds — to move a vocabulary that after the
    word-count reduction is KB-to-MB sized.  Production tokenizer
    training does exactly what this kernel does: reduce the corpus to
    (word, count) in parallel, then train the merge table on ONE node
    (the vocabulary of a 100 TB corpus is millions of rows — megabytes).
    The kernel is that shape: the corpus-wide explode + count stays a
    distributed map-side-partial aggregate; the merge rounds run in a
    single ``mapInPandas`` task over the ``repartition(1)`` vocabulary
    (an explicit exchange, NOT ``coalesce(1)`` — which would pull the
    count aggregation itself into one task).

    BYTE-IDENTICAL to the Catalyst spelling by construction:

    - symbol seq = ``" " + "  ".join(word) + " "`` == ``concat(' ',
      concat_ws('  ', split(w, '')), ' ')`` (both iterate code points);
    - pair counts are exact int64 sums over ``trim(seq)`` split on the
      two-space delimiter — identical tokenization;
    - the round winner minimizes ``(-cnt, l, r)``; Python str ``<`` is
      code-point order == Spark's UTF8-byte order (UTF-8 preserves
      code-point order);
    - the merge is ``str.replace(" l  r ", " lr ")`` — the same
      left-to-right non-overlapping scan of the SOURCE string as JVM
      ``replace`` (and the SQL oracle), so self-overlapping runs agree;
    - a round with NO pairs left emits no winner row and merges
      nothing, exactly like the empty-top guard in the Catalyst loop.

    Equivalence is pinned by tests/test_round6_ops.py (kernel vs
    retained spelling on the fixture corpus + hand cases) and the
    hypothesis reference test in test_operator_properties.py.

    Single-pass dual output (ADVICE r13): the kernel emits the merged
    vocabulary AND the winner table as union-typed rows from ONE
    ``mapInPandas`` pass, so a caller consuming both never re-runs the
    training or the upstream word-count aggregation; single-output
    callers pay the same one pass (the extra rows crossing the
    boundary are the KB-sized other half, filtered JVM-side).
    """

    def run(batches):
        import pandas as pd

        ws: list[str] = []
        wcs: list[int] = []
        for pdf in batches:
            ws.extend(pdf["w"].tolist())
            wcs.extend(int(x) for x in pdf["wc"].tolist())
        seqs = [" " + "  ".join(w) + " " for w in ws]
        out_rounds: list[tuple[int, str, str, int]] = []
        for r in range(1, n_merges + 1):
            counts: dict[tuple[str, str], int] = {}
            for seq, wc in zip(seqs, wcs):
                syms = seq.strip(" ").split("  ")
                if len(syms) >= 2:
                    for a, b in zip(syms, syms[1:]):
                        counts[(a, b)] = counts.get((a, b), 0) + wc
            if not counts:
                continue
            cnt, left, right = min(
                (-c, l, rr) for (l, rr), c in counts.items()
            )
            out_rounds.append((r, left, right, -cnt))
            pat = f" {left}  {right} "
            rep = f" {left}{right} "
            seqs = [s.replace(pat, rep) for s in seqs]
        yield pd.DataFrame(
            {
                "kind": ["v"] * len(ws),
                "w": ws,
                "seq": seqs,
                "wc": pd.Series(wcs, dtype="int64"),
                "round": pd.Series([None] * len(ws), dtype="Int64"),
                "l": [None] * len(ws),
                "r": [None] * len(ws),
                "cnt": pd.Series([None] * len(ws), dtype="Int64"),
            }
        )
        yield pd.DataFrame(
            {
                "kind": ["m"] * len(out_rounds),
                "w": [None] * len(out_rounds),
                "seq": [None] * len(out_rounds),
                "wc": pd.Series([None] * len(out_rounds), dtype="Int64"),
                "round": pd.Series(
                    [t[0] for t in out_rounds], dtype="int64"
                ),
                "l": [t[1] for t in out_rounds],
                "r": [t[2] for t in out_rounds],
                "cnt": pd.Series([t[3] for t in out_rounds], dtype="int64"),
            }
        )

    both = vocab.repartition(1).mapInPandas(
        run,
        "kind string, w string, seq string, wc long, "
        "round long, l string, r string, cnt long",
    )
    cur = both.where(F.col("kind") == "v").select("w", "seq", "wc")
    winners = both.where(F.col("kind") == "m").select("round", "l", "r", "cnt")
    return cur, winners


def _bpe_rounds(
    docs: DataFrame, n_merges: int, text_col: str, use_kernel: bool = True
):
    """Shared BPE merge-round chain: returns (vocab, winners) where
    ``vocab`` is (w, seq, wc) AFTER all merges (``seq`` in the
    space-wrapped symbol spelling) and ``winners`` is the merge table
    (round, l, r, cnt), one row per non-exhausted round.
    ``bpe_merge_steps`` reports the winners; :func:`bpe_encode_counts`
    reads the final ``seq``.  ``use_kernel`` selects the single-task
    training kernel (:func:`_bpe_rounds_kernel`, default) or the
    retained per-round Catalyst chain it is equivalence-tested
    against."""
    # fan the single-row-group scan before the token explode (guide
    # §2.5): the explode + map-side partial count otherwise run in the
    # scan's lone task
    words = fan_out(docs).select(
        F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).where(F.col("w") != "")
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    if use_kernel:
        return _bpe_rounds_kernel(vocab, n_merges)
    cur = vocab.select(
        "w",
        F.concat(
            F.lit(" "), F.concat_ws("  ", F.split(F.col("w"), "")), F.lit(" ")
        ).alias("seq"),
        "wc",
    )
    rounds = []
    for r in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("seq")), "  ")
        z = F.arrays_zip(
            F.slice(syms, 1, F.size(syms) - 1), F.slice(syms, 2, F.size(syms) - 1)
        )
        pc = (
            cur.where(F.size(syms) >= 2)
            .select(F.explode(z).alias("p"), "wc")
            .select(F.col("p")["0"].alias("l"), F.col("p")["1"].alias("r"), "wc")
            .groupBy("l", "r")
            .agg(F.sum("wc").cast("long").alias("cnt"))
        )
        # the round winner is checkpointed (1 row): it is read TWICE —
        # as the broadcast merge pattern for the next round's replace
        # AND by the caller's output union — and without the cut the
        # union re-executes the whole vocabulary pair-count aggregate
        # per round (measured: the q144 output paid every round's
        # heaviest stage twice)
        top = truncate_lineage(pc.orderBy(F.desc("cnt"), "l", "r").limit(1))
        rounds.append(top.select(F.lit(r).cast("long").alias("round"), "l", "r", "cnt"))
        pat = F.concat(F.lit(" "), F.col("_l"), F.lit("  "), F.col("_r"), F.lit(" "))
        rep = F.concat(F.lit(" "), F.col("_l"), F.col("_r"), F.lit(" "))
        # LEFT join, not crossJoin: when the vocabulary exhausts its
        # pairs before n_merges rounds (every word a single symbol) the
        # winner frame is EMPTY — a cross join would wipe the vocab and
        # corrupt every later round and the encode; with the guard the
        # round is a no-op instead (caught by the hypothesis reference
        # test on docs=['a'])
        winner = top.select(
            F.lit(1).alias("__j"),
            F.col("l").alias("_l"),
            F.col("r").alias("_r"),
        )
        cur = (
            cur.withColumn("__j", F.lit(1))
            .join(F.broadcast(winner), "__j", "left")
            .withColumn(
                "seq",
                F.when(
                    F.col("_l").isNotNull(), F.replace(F.col("seq"), pat, rep)
                ).otherwise(F.col("seq")),
            )
            .select("w", "seq", "wc")
        )
        # the q84 pagerank discipline: truncate the vocab's lineage per
        # round so the plan does not grow with n_merges (a real
        # tokenizer runs tens of thousands of rounds; an untruncated
        # chain re-plans every earlier replace each round) — the
        # materialized frame is vocabulary-sized, never the corpus
        cur = truncate_lineage(cur)
    winners = rounds[0]
    for t in rounds[1:]:
        winners = winners.unionAll(t)
    return cur, winners


def bpe_encode_counts(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ENCODE with the tokenizer :func:`bpe_merge_steps` trains: apply
    the learned merge table to every document and report
    (id, n_words, n_bpe_tokens) — the tokenize-the-corpus step that
    follows tokenizer training in a real pipeline (token budgeting,
    packing inputs, $/token estimates).

    The encode rides the SAME vocabulary reduction as training: merges
    are applied to the distinct-word vocabulary once (``_bpe_rounds``),
    each word's BPE length is ``size(split(trim(seq)))`` of its final
    symbol sequence, and documents join their exploded words to that
    encoded vocabulary — the corpus text is never re-merged per
    document.  Per-doc totals are one map-side-partial aggregate; docs
    with no words (empty text) report 0/0 via the left join back to
    the doc spine.  At 100 TB the words->vocab join is the only wide
    edge (the vocab side is millions of rows; AQE picks broadcast when
    it fits).
    """
    vocab, _ = _bpe_rounds(docs, n_merges, text_col)
    encoded = vocab.select(
        "w", F.size(F.split(F.trim(F.col("seq")), "  ")).alias("__nsym")
    )
    # fan the single-row-group scan before the corpus token explode
    # (guide §2.5) — the explode + vocab join + partial agg otherwise
    # run in the scan's lone task
    doc_words = fan_out(docs, id_col).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    ).where(F.col("w") != "")
    per_doc = (
        doc_words.join(encoded, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__nsym").cast("long").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        )
    )


def unigram_entropy(
    docs: DataFrame, text_col: str = "text", keep: list[str] | None = None
) -> DataFrame:
    """Per-document unigram (word-distribution) entropy — the standard
    repetitiveness / quality signal (low entropy = template or spam,
    see Rae et al. 2021 "Gopher" app. A, public).

    Adds ``n_tokens`` / ``n_distinct`` / ``ttr`` (type-token ratio) /
    ``entropy`` (bits, rounded to 6).

    Scale: ZERO shuffle.  The word multiset never leaves the row — the
    tokens are sorted in-row (``array_sort``) and a single
    ``F.aggregate`` fold walks the sorted array accumulating run
    lengths, Σ c·log2(c), and the distinct count in one O(n log n)
    pass.  The exploded spelling (explode → groupBy doc,word) ships
    every token through a shuffle; at 100 TB that is the whole corpus
    re-keyed, while this spelling is a pure map stage that rides the
    parquet scan.  The sorted array is referenced exactly ONCE (inside
    the fold) so CollapseProject cannot inline the sort into
    per-element lambdas (the q143 trap).

    H = log2(n) - (Σ c·log2 c)/n over run lengths c; floats are summed
    in sorted-word order (deterministic) and rounded to 6 so the value
    is engine-stable.
    """
    keep = keep or [c for c in docs.columns if c != text_col]
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != F.lit(""))
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
        F.lit(0).cast("long").alias("d"),
    )

    def _close(run):
        # closed-run contribution c*log2(c); run=0 only before the
        # first word (empty docs never reach the lambda)
        return F.when(
            run > 0, run.cast("double") * F.log2(run.cast("double"))
        ).otherwise(F.lit(0.0))

    def _step(acc, w):
        same = acc["prev"] == w
        return F.struct(
            w.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, acc["s"]).otherwise(acc["s"] + _close(acc["run"])).alias("s"),
            F.when(same, acc["d"]).otherwise(acc["d"] + 1).alias("d"),
        )

    def _finish(acc):
        # the last run's c*log2(c) is still open; d already counted it
        # when the run STARTED (every run increments d on its first word)
        return F.struct(
            (acc["s"] + _close(acc["run"])).alias("s"),
            acc["d"].alias("d"),
        )

    folded = docs.select(
        *keep,
        F.size(words).cast("long").alias("n_tokens"),
        F.aggregate(F.array_sort(words), acc0, _step, _finish).alias("__f"),
    )
    n = F.col("n_tokens")
    return folded.select(
        *keep,
        "n_tokens",
        F.col("__f.d").alias("n_distinct"),
        F.when(n > 0, F.round(F.col("__f.d") / n, 6)).alias("ttr"),
        F.when(
            n > 0,
            F.round(F.log2(n.cast("double")) - F.col("__f.s") / n, 6),
        ).alias("entropy"),
    )

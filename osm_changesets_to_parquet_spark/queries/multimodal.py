"""Multimodal-column queries M47-M50 (north star surface; the reference
has no media handling — its analog is the opaque-payload Parquet contract,
reference: src/main.rs:384-408).

The decode step is a DETERMINISTIC STUB (sha256-derived pixel strip, see
operators/multimodal.py) precisely so the whole mapInPandas plumbing —
schema, Arrow batches, 1:N fan-out — is hash-matched against a pure-SQL
DuckDB oracle: byte i of the fake decode is
``CAST('0x' || substring(sha256(text), 2i+1, 2) AS INT)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.operators.multimodal import (
    attach_payload,
    decode_image_features,
    resize_images,
    sample_audio_frames,
)
from osm_changesets_to_parquet_spark.queries import register

_BYTE = "CAST('0x' || substring(sha256(text), 2*{i} + 1, 2) AS INT)"


def _docs_with_payload(spark: SparkSession, sf_dir: str, modality: str = "image") -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return attach_payload(docs, "text", modality)


@register(
    "m47_multimodal_meta",
    """
    SELECT doc_id, 'image' AS modality,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents WHERE text IS NOT NULL ORDER BY doc_id
    """,
    doc="opaque binary payload + typed metadata struct; JVM-side hash/length",
    tables=("documents",),
)
def m47(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_with_payload(spark, sf_dir)
    return df.select(
        "doc_id",
        F.col("media_meta.modality").alias("modality"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.lower(F.sha2(F.col("payload"), 256)).alias("sha"),
    ).orderBy("doc_id")


@register(
    "m48_image_decode_features",
    f"""
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           ROUND(AVG({_BYTE.format(i='t.i')}), 4) AS mean_px,
           CAST(MAX({_BYTE.format(i='t.i')}) AS BIGINT) AS max_px,
           CAST(MIN(CASE WHEN t.i = 0 THEN {_BYTE.format(i='t.i')} END) AS BIGINT) AS px0
    FROM documents d CROSS JOIN range(32) t(i)
    WHERE d.text IS NOT NULL
    GROUP BY d.doc_id, d.text
    ORDER BY d.doc_id
    """,
    doc="stubbed image decode via Arrow mapInPandas; per-image pixel stats",
    tables=("documents",),
)
def m48(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = decode_image_features(_docs_with_payload(spark, sf_dir))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("mean_px", 4).alias("mean_px"),
        "max_px",
        F.element_at("pixels", 1).alias("px0"),
    ).orderBy("doc_id")


@register(
    "m49_audio_frame_sample",
    f"""
    SELECT d.doc_id, CAST(f.i AS INT) AS frame_id,
           ROUND(AVG({_BYTE.format(i='(8*f.i + j.j)')}), 4) AS frame_mean
    FROM documents d CROSS JOIN range(4) f(i) CROSS JOIN range(8) j(j)
    WHERE d.text IS NOT NULL
    GROUP BY d.doc_id, f.i
    ORDER BY d.doc_id, frame_id
    """,
    doc="audio/video frame sampling: 1:N row fan-out inside mapInPandas",
    tables=("documents",),
)
def m49(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = sample_audio_frames(_docs_with_payload(spark, sf_dir, "audio"), 8, 8)
    return frames.select(
        "doc_id", "frame_id", F.round("frame_mean", 4).alias("frame_mean")
    ).orderBy("doc_id", "frame_id")


@register(
    "m50_image_resize",
    f"""
    SELECT d.doc_id, CAST(4 AS INT) AS width, CAST(2 AS INT) AS height,
           CAST(SUM({_BYTE.format(i='(4*j.j)')}) AS BIGINT) AS px_sum
    FROM documents d CROSS JOIN range(8) j(j)
    WHERE d.text IS NOT NULL
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
    doc="resize stub: nearest-neighbor re-sample of the decoded strip",
    tables=("documents",),
)
def m50(spark: SparkSession, sf_dir: str) -> DataFrame:
    resized = resize_images(_docs_with_payload(spark, sf_dir), width=4, height=2)
    return resized.select(
        "doc_id",
        "width",
        "height",
        F.aggregate("pixels", F.lit(0).cast("long"), lambda a, x: a + x).alias("px_sum"),
    ).orderBy("doc_id")


@register(
    "m51_media_dedup",
    """
    SELECT sha256(text) AS sha, MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents WHERE text IS NOT NULL
    GROUP BY 1 HAVING COUNT(*) > 1
    ORDER BY keep_id
    """,
    doc=(
        "exact dedup over the opaque binary payload: group on "
        "sha256(payload) so the shuffle carries a 32-byte digest per "
        "row regardless of media size — the q34 discipline applied to "
        "the multimodal column; duplicate groups keep the min doc_id"
    ),
    tables=("documents",),
)
def m51(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _docs_with_payload(spark, sf_dir)
    return (
        df.groupBy(F.lower(F.sha2(F.col("payload"), 256)).alias("sha"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") > 1)
        .orderBy("keep_id")
    )


# ---------------------------------------------------------------------------
# m52: content-defined chunk dedup over binary payloads (round 7)
# ---------------------------------------------------------------------------

_M52_SQL = """
WITH pos AS (
  SELECT doc_id, text, i, ascii(substr(text, i, 1)) AS b
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
),
h AS (
  SELECT doc_id, text, i,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS hs,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS w
  FROM pos
),
cuts AS (
  SELECT doc_id, text, i AS cut FROM h WHERE w = 8 AND hs % 16 = 0
  UNION
  SELECT doc_id, text, length(text) FROM documents
),
chunks AS (
  SELECT doc_id,
         substr(text,
                COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut),
                         0) + 1,
                cut - COALESCE(LAG(cut) OVER (PARTITION BY doc_id
                                              ORDER BY cut), 0)) AS chunk
  FROM cuts
),
per_chunk AS (
  SELECT chunk,
         CAST(COUNT(*) AS BIGINT) AS occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(LENGTH(chunk) AS BIGINT) AS len
  FROM chunks GROUP BY chunk
)
SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM chunks) AS n_docs,
       CAST(SUM(occurrences) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
       CAST(COUNT(*) FILTER (WHERE n_docs >= 2) AS BIGINT)
         AS n_cross_doc_chunks,
       ROUND(1 - CAST(SUM(len) AS DOUBLE)
             / SUM(len * occurrences), 4) AS dedup_saving
FROM per_chunk
"""


@register(
    "m52_cdc_chunk_dedup",
    _M52_SQL,
    doc=(
        "content-defined chunking dedup over the opaque binary "
        "payload (rsync/LBFS: boundaries follow the CONTENT via a "
        "rolling 8-byte sum % 16, so one inserted byte perturbs one "
        "chunk, not every fixed offset after it — the large-binary "
        "twin of q143's span dedup): operators/multimodal.cdc_chunks "
        "runs the chunker in ONE Arrow mapInPandas pass, dedup stats "
        "group on the chunk key (shuffle carries chunks, ~16 bytes "
        "each); ASCII payloads decode losslessly so the oracle "
        "reproduces every boundary relationally via ascii() + "
        "windowed sums; output = corpus-level chunk dedup accounting "
        "incl. the byte-savings ratio"
    ),
    tables=("documents",),
)
def m52(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.multimodal import cdc_chunks

    chunks = cdc_chunks(_docs_with_payload(spark, sf_dir))
    per_chunk = chunks.groupBy("chunk").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.count_distinct("doc_id").alias("n_docs_c"),
        F.max(F.length("chunk")).cast("long").alias("len"),
    )
    n_docs = chunks.agg(F.count_distinct("doc_id").alias("n_docs"))
    return (
        per_chunk.agg(
            F.sum("occurrences").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.sum(F.when(F.col("n_docs_c") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_cross_doc_chunks"),
            F.round(
                1
                - F.sum("len").cast("double")
                / F.sum(F.col("len") * F.col("occurrences")),
                4,
            ).alias("dedup_saving"),
        )
        .crossJoin(n_docs)
        .select(
            "n_docs",
            "n_chunks",
            "n_distinct_chunks",
            "n_cross_doc_chunks",
            "dedup_saving",
        )
    )


# ---------------------------------------------------------------------------
# m53: perceptual-hash (aHash) near-dup audit over decoded pixels (round 8)
# ---------------------------------------------------------------------------

_M53_SQL = """
WITH px AS (
  SELECT d.doc_id, t.i,
         CAST('0x' || substring(sha256(d.text), 2*t.i + 1, 2) AS INT) AS p
  FROM documents d CROSS JOIN range(32) t(i)
  WHERE d.text IS NOT NULL
),
s AS (SELECT doc_id, CAST(SUM(p) AS BIGINT) AS ps FROM px GROUP BY doc_id),
h AS (
  SELECT px.doc_id,
         CAST(SUM(CASE WHEN px.p * 32 > s.ps
                       THEN CAST(1 AS BIGINT) << px.i ELSE 0 END)
              AS BIGINT) AS ah
  FROM px JOIN s ON s.doc_id = px.doc_id
  GROUP BY px.doc_id
),
b AS (
  SELECT doc_id, ah, t.bi AS band, (ah >> (8 * t.bi)) & 255 AS bv
  FROM h CROSS JOIN range(4) t(bi)
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, c.doc_id AS db, a.ah AS ha, c.ah AS hb
  FROM b a JOIN b c ON a.band = c.band AND a.bv = c.bv
                   AND a.doc_id < c.doc_id
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_docs,
       (SELECT CAST(SUM(ah) AS BIGINT) FROM h) AS hash_sum,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(COALESCE(SUM(CASE WHEN bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 2
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_neardup
FROM cand
"""


@register(
    "m53_phash_neardup",
    _M53_SQL,
    doc=(
        "perceptual-hash near-duplicate audit over the DECODED pixel "
        "strip (the multimodal dedup crossover): each image's 32-px "
        "strip (m48's Arrow mapInPandas decode path) hashes to a "
        "32-bit average-hash — bit i set iff px_i*32 > sum(px), exact "
        "integer compare, no mean division — then 4x8-bit LSH bands "
        "bucket candidates and bit_count(xor) verifies hamming<=2; "
        "the pigeonhole bound makes banding EXACT for radius 2 (two "
        "differing bits cannot dirty all four bands).  On the "
        "deterministic stub decode the hashes are sha-random, so the "
        "fixture's honest answer is candidates ~ n^2/512 and near-dups "
        "only for byte-identical payloads (0 below sf0.1); the output "
        "is therefore a one-row audit (doc count, hash checksum that "
        "pins every per-doc hash, candidate + confirmed counts) "
        "rather than an empty pair list.  The hash table materializes "
        "ONCE (Python decode never re-runs); the band self-join "
        "shuffles (band, 8-bit value) keys"
    ),
    tables=("documents",),
)
def m53(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.iterutils import (
        truncate_lineage,
    )

    feats = decode_image_features(_docs_with_payload(spark, sf_dir))
    with_sum = feats.select(
        "doc_id",
        "pixels",
        F.aggregate(
            "pixels", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("ps"),
    )
    # the Python-API shiftleft wants a literal shift amount; the SQL
    # form takes a column, so the bit fold is one F.expr (still pure
    # JVM higher-order functions over the Arrow-decoded array)
    ah = F.expr(
        "aggregate(zip_with(pixels, sequence(0, 31),"
        " (p, i) -> IF(p * 32 > ps,"
        "  shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),"
        " CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    h = truncate_lineage(with_sum.select("doc_id", ah.alias("ah")))
    bands = h.select(
        "doc_id",
        "ah",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("ah"), 8 * bi)
                        .bitwiseAND(F.lit(255))
                        .alias("bv"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "ah", "bb.band", "bb.bv")
    a = bands.select(
        F.col("band"), F.col("bv"), F.col("doc_id").alias("da"), F.col("ah").alias("ha")
    )
    c = bands.select(
        F.col("band"), F.col("bv"), F.col("doc_id").alias("db"), F.col("ah").alias("hb")
    )
    cand = (
        a.join(c, ["band", "bv"])
        .where(F.col("da") < F.col("db"))
        .select("da", "db", "ha", "hb")
        .distinct()
    )
    near = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))) <= 2
    return (
        h.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ah").cast("long").alias("hash_sum"),
        )
        .crossJoin(
            cand.agg(
                F.count(F.lit(1)).cast("long").alias("n_candidates"),
                F.coalesce(
                    F.sum(F.when(near, 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_neardup"),
            )
        )
    )


# ---------------------------------------------------------------------------
# m54: video scene-cut detection over stub-decoded frames (round 8)
# ---------------------------------------------------------------------------

_M54_FRAMES = 8
_M54_FRAME_LEN = 4
_M54_CUT = 48.0  # mean-amplitude jump threshold (exact quarter units)

_M54_SQL = f"""
WITH fm AS (
  SELECT d.doc_id, CAST(f.i AS INT) AS frame_id,
         AVG({_BYTE.format(i='(4*f.i + j.j)')}) AS frame_mean
  FROM documents d CROSS JOIN range({_M54_FRAMES}) f(i)
       CROSS JOIN range({_M54_FRAME_LEN}) j(j)
  WHERE d.text IS NOT NULL
  GROUP BY d.doc_id, f.i
),
lg AS (
  SELECT doc_id, frame_id, frame_mean,
         LAG(frame_mean) OVER (PARTITION BY doc_id ORDER BY frame_id)
           AS prev
  FROM fm
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN prev IS NOT NULL
                      AND ABS(frame_mean - prev) > {_M54_CUT}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
       CAST(SUM(CASE WHEN prev IS NOT NULL
                      AND ABS(frame_mean - prev) > {_M54_CUT}
                     THEN (CAST(1 AS BIGINT) << frame_id)
                     ELSE 0 END) AS BIGINT) AS cut_mask
FROM lg GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "m54_video_scene_cuts",
    _M54_SQL,
    doc=(
        "video scene-cut detection over the stub decode: the payload "
        f"frame-samples into {_M54_FRAMES} frames of {_M54_FRAME_LEN} "
        "samples inside ONE Arrow mapInPandas pass (the m49 fan-out "
        "operator at video stride), then a cut fires wherever the "
        "frame-mean jumps by more than the threshold vs the previous "
        "frame — per-doc lag windows over the 8-frame bounded frame, "
        "emitted as a cut count + position bitmask.  Frame means of "
        "uint8 samples are exact quarter-integers, so the threshold "
        "compare is engine-exact; real codecs stay env-blocked (no "
        "PIL/ffmpeg — SURVEY §9), the Spark-side plumbing is the "
        "deliverable, hash-matched against the sha256-byte oracle"
    ),
    tables=("documents",),
)
def m54(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    frames = sample_audio_frames(
        _docs_with_payload(spark, sf_dir, "video"),
        _M54_FRAME_LEN,
        _M54_FRAME_LEN,
    )
    w = Window.partitionBy("doc_id").orderBy("frame_id")
    lg = frames.withColumn("prev", F.lag("frame_mean").over(w))
    cut = F.col("prev").isNotNull() & (
        F.abs(F.col("frame_mean") - F.col("prev")) > _M54_CUT
    )
    return (
        lg.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.sum(F.when(cut, 1).otherwise(0)).cast("long").alias("n_cuts"),
            F.sum(
                F.when(
                    cut,
                    F.expr("shiftleft(CAST(1 AS BIGINT), frame_id)"),
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("cut_mask"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# m55: voice-activity-detection segments over stub-decoded audio (round 8)
# ---------------------------------------------------------------------------

# The VAD / silence-removal shape of audio curation: frame the sample
# strip (m49's mapInPandas fan-out at 4-sample stride), threshold each
# frame's mean amplitude at the uint8 midpoint, and resolve maximal
# runs of consecutive active frames by gaps-and-islands (island id =
# frame_id - row_number, per-doc windows over the bounded 8-frame
# set).  Frame means of uint8 samples are exact quarter-integers, so
# the activity threshold is engine-exact; real decoders stay
# env-blocked (no soundfile/ffmpeg — SURVEY §9), the Spark-side
# schema/partition/batch plumbing is the deliverable.
_M55_FRAMES = 8
_M55_FRAME_LEN = 4
_M55_THRESH = 128.0

_M55_SQL = f"""
WITH fm AS (
  SELECT d.doc_id, CAST(f.i AS INT) AS frame_id,
         AVG({_BYTE.format(i='(4*f.i + j.j)')}) AS frame_mean
  FROM documents d CROSS JOIN range({_M55_FRAMES}) f(i)
       CROSS JOIN range({_M55_FRAME_LEN}) j(j)
  WHERE d.text IS NOT NULL
  GROUP BY d.doc_id, f.i
),
sp AS (
  SELECT doc_id, frame_id,
         frame_id - ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY frame_id) AS isl
  FROM fm WHERE frame_mean >= {_M55_THRESH}
),
runs AS (
  SELECT doc_id, isl, CAST(COUNT(*) AS BIGINT) AS run_len
  FROM sp GROUP BY doc_id, isl
),
agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
         CAST(MAX(run_len) AS BIGINT) AS max_run,
         CAST(SUM(run_len) AS BIGINT) AS n_active
  FROM runs GROUP BY doc_id
),
tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames FROM fm
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_frames,
       COALESCE(a.n_active, 0) AS n_active,
       COALESCE(a.n_segments, 0) AS n_segments,
       COALESCE(a.max_run, 0) AS max_run
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
ORDER BY t.doc_id
"""


@register(
    "m55_audio_vad",
    _M55_SQL,
    doc=(
        "voice-activity detection over the stub audio decode — the "
        f"silence-removal step of audio curation: {_M55_FRAMES} "
        f"frames of {_M55_FRAME_LEN} samples from ONE Arrow "
        "mapInPandas fan-out (the m49 operator at VAD stride), frames "
        f"active at mean amplitude >= {_M55_THRESH} (exact quarter-"
        "integer means make the threshold engine-exact), maximal "
        "active runs resolved by gaps-and-islands per doc (windows "
        "over the bounded 8-frame set, the q244 island discipline).  "
        "Real codecs stay env-blocked (SURVEY §9); the plumbing — "
        "schema, 1:N batch fan-out, run-length logic — is the "
        "deliverable, hash-matched against the sha256-byte oracle"
    ),
    tables=("documents",),
)
def m55(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    frames = sample_audio_frames(
        _docs_with_payload(spark, sf_dir, "audio"),
        _M55_FRAME_LEN,
        _M55_FRAME_LEN,
    )
    sp = frames.where(F.col("frame_mean") >= _M55_THRESH).select(
        "doc_id",
        "frame_id",
        (
            F.col("frame_id")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("frame_id")
            )
        ).alias("isl"),
    )
    runs = sp.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    agg = runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.max("run_len").cast("long").alias("max_run"),
        F.sum("run_len").cast("long").alias("n_active"),
    )
    tot = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )
    return (
        tot.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_frames",
            F.coalesce(F.col("n_active"), F.lit(0))
            .cast("long")
            .alias("n_active"),
            F.coalesce(F.col("n_segments"), F.lit(0))
            .cast("long")
            .alias("n_segments"),
            F.coalesce(F.col("max_run"), F.lit(0))
            .cast("long")
            .alias("max_run"),
        )
        .orderBy("doc_id")
    )

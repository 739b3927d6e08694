"""Dataset-curation queries Q69-Q72: deterministic sampling, train/test
splitting, column profiling, and histogramming.

The operations a training-data pipeline runs constantly around the
dedup/similarity core: carve reproducible subsets, hold out an eval
split, and profile what's in a 100 TB table before and after each
filter stage.

Sampling discipline: Spark's ``df.sample`` is seeded per-partition, so
its row set changes with partitioning — useless as a contract and
unmatchable by an oracle.  These queries sample by *arithmetic on the
row key* (a Knuth multiplicative hash mod 100), which is reproducible
across engines, partitionings, and runs, and — equally important at
100 TB — is a plain predicate: it pushes down into the scan, needs no
shuffle, and assigns the same document to the same split on every
re-run of an evolving dataset (stable membership under appends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table
from osm_changesets_to_parquet_spark.queries import register

# Bucket membership is delegated to operators.quality (the single
# authority): ((id % 2^31) * KNUTH) % mod — overflow-safe for any
# non-negative 64-bit id, identical integer math in both engines.
from osm_changesets_to_parquet_spark.operators.quality import (  # noqa: E402
    hash_bucket as _bucket,
    sql_hash_bucket as _sql_bucket,
)


@register(
    "q69_hash_sample",
    f"""
    SELECT lang, COUNT(*) AS cnt, ROUND(AVG(LENGTH(text)), 2) AS avg_len
    FROM documents
    WHERE {_sql_bucket('doc_id', 100)} < 10
    GROUP BY lang ORDER BY lang
    """,
    doc=(
        "deterministic 10% sample by multiplicative id hash: a pushable "
        "scan predicate (no shuffle, no per-partition seed drift), stable "
        "under appends and repartitioning"
    ),
    tables=("documents",),
)
def q69(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(_bucket("doc_id") < 10)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg(F.length("text")), 2).alias("avg_len"),
        )
        .orderBy("lang")
    )


@register(
    "q70_train_test_split",
    f"""
    SELECT lang,
           CASE WHEN {_sql_bucket('doc_id', 100)} < 80 THEN 'train' ELSE 'test' END AS split,
           COUNT(*) AS cnt,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2 ORDER BY lang, split
    """,
    doc=(
        "80/20 train/test split by the same multiplicative hash: every "
        "row gets a stable split label (membership never flips between "
        "runs or after appends); per-(lang, split) size accounting"
    ),
    tables=("documents",),
)
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    split = F.when(_bucket("doc_id") < 80, "train").otherwise("test").alias("split")
    return (
        d.groupBy("lang", split)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.length("text")).alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


@register(
    "q71_profile",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(text) AS n_text,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id,
           ROUND(AVG(LENGTH(text)), 2) AS avg_len,
           CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
           CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
    FROM documents
    """,
    doc=(
        "one-pass column profile (null/distinct/min/max/length stats) — "
        "the pre-flight check before any 100 TB curation stage; single "
        "aggregate, map-side partials for everything but the distincts"
    ),
    tables=("documents",),
)
def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("text").alias("n_text"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.round(F.avg(F.length("text")), 2).alias("avg_len"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
    )


@register(
    "q72_histogram",
    """
    SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 9) AS bucket,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM orders GROUP BY 1 ORDER BY bucket
    """,
    doc=(
        "fixed-width histogram (10 x 50k buckets, top-clamped): one "
        "scan, one tiny shuffle of 10 partial buckets — the fixed bucket "
        "bounds avoid the two-pass min/max dependency"
    ),
    tables=("orders",),
)
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(9)).alias(
        "bucket"
    )
    return (
        o.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("bucket")
    )


@register(
    "q81_merge_upsert",
    f"""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 10 != 0
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000 AS o_totalprice
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    merged AS (
      SELECT b.* FROM base b
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = b.o_orderkey)
      UNION ALL
      SELECT * FROM upd
    )
    SELECT o_orderstatus, COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 2) AS sum_price
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc=(
        "MERGE INTO emulation on plain parquet (anti-join + union, "
        "operators/merge.py): updates replace matched rows, unmatched "
        "updates insert; one keyed anti-join shuffle, O(base+updates)"
    ),
    tables=("orders",),
)
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = o.where(F.col("o_orderkey") % 10 != 0)
    updates = o.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") + 1000).alias("o_totalprice"),
    )
    merged = merge_upsert(base, updates, "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Q103: SCD2 history maintenance (operators/merge.py scd2_apply)
# ---------------------------------------------------------------------------

# One version row per (customer, order epoch-day): history = days before
# 1997-01-01 (epoch day 9862); the change feed carries the days from the
# cut onward PLUS a re-emitted, price-corrected copy of 1996 (a
# reprocessed feed) — those rows tie history on (key, ts) and must win
# the current flag via the deterministic history-before-incoming
# tie-break.  Integer epoch days via DIV keep the arithmetic exact in
# both engines (epoch micros exceed double precision).
_Q103_SQL = """
WITH v AS (
  SELECT o_custkey AS k,
         CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS ts,
         ROUND(SUM(o_totalprice), 2) AS price
  FROM orders GROUP BY 1, 2
),
hist AS (SELECT k, ts, price, 0 AS src FROM v WHERE ts < 9862),
chg AS (
  SELECT k, ts, price, 1 AS src FROM v WHERE ts >= 9862
  UNION ALL
  SELECT k, ts, price + 10 AS price, 1 AS src
  FROM v WHERE ts >= 9496 AND ts < 9862
),
allr AS (SELECT * FROM hist UNION ALL SELECT * FROM chg),
w AS (
  SELECT k, ts, price,
         LEAD(ts) OVER (PARTITION BY k ORDER BY ts, src) AS valid_to_ts
  FROM allr
)
SELECT k, ts, price, valid_to_ts, valid_to_ts IS NULL AS is_current
FROM w ORDER BY k, ts, price
"""


@register(
    "q103_scd2_history",
    _Q103_SQL,
    doc=(
        "slowly-changing-dimension type 2 (operators/merge.py "
        "scd2_apply): close superseded versions, append new ones; "
        "equal-timestamp re-emits (reprocessed feed) deterministically "
        "rank after history so the incoming row wins the current flag; "
        "one window over (key, ts) = a single shuffle on key"
    ),
    tables=("orders",),
)
def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.merge import scd2_apply

    o = load_table(spark, sf_dir, "orders")
    # parquet TIMESTAMP loads as TIMESTAMP_NTZ; cast to TIMESTAMP is a
    # no-op re-tag under the engine's pinned UTC session timezone
    day = F.expr(
        "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
    ).cast("long")
    v = (
        o.groupBy(F.col("o_custkey").alias("k"), day.alias("ts"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("price"))
    )
    history = (
        v.where(F.col("ts") < 9862)
        .withColumn("valid_to_ts", F.lit(None).cast("long"))
        .withColumn("is_current", F.lit(True))
    )
    changes = v.where(F.col("ts") >= 9862).unionByName(
        v.where((F.col("ts") >= 9496) & (F.col("ts") < 9862)).withColumn(
            "price", F.col("price") + 10
        )
    )
    out = scd2_apply(history, changes, key="k", ts_col="ts", valid_to="valid_to_ts")
    return out.select("k", "ts", "price", "valid_to_ts", "is_current").orderBy(
        "k", "ts", "price"
    )


# ---------------------------------------------------------------------------
# Q104: small-file compaction (operators/layout.py compact_parquet_dir)
# ---------------------------------------------------------------------------


@register(
    "q104_compact_parquet",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           COUNT(DISTINCT event_id) AS n_ids,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS sum_value,
           TRUE AS compacted_ok
    FROM events
    """,
    doc=(
        "small-file compaction round-trip: the events table is written "
        "as 64 fragment files (steady-state micro-batch ingest shape), "
        "compact_parquet_dir rewrites it into ceil(bytes/target) files "
        "via a narrow coalesce (no shuffle), sized through the Hadoop "
        "FileSystem API (object-store ready); the oracle pins content "
        "equality (count / id-sum / distinct / value-sum fingerprint) "
        "and compacted_ok pins 1 <= out_files < in_files"
    ),
    tables=("events",),
)
def q104(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from osm_changesets_to_parquet_spark.operators.layout import (
        compact_parquet_dir,
    )

    base = os.path.join(tempfile.gettempdir(), "osm_q104_compact")
    src, dst = os.path.join(base, "src"), os.path.join(base, "dst")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    events.repartition(64).write.mode("overwrite").parquet(src)
    n_out = compact_parquet_dir(spark, src, dst, target_bytes=256 * 1024)
    compacted = spark.read.parquet(dst)
    return compacted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_id"),
        F.countDistinct("event_id").alias("n_ids"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.lit(1 <= n_out < 64).alias("compacted_ok"),
    )


# ---------------------------------------------------------------------------
# Q113: snapshot diff / CDC (operators/merge.py snapshot_diff)
# ---------------------------------------------------------------------------

# Two synthetic snapshots of orders keyed on o_orderkey (b = key % 100):
#   old = b < 95             new = b >= 5, price lifted by 10 for b >= 50
# so b<5 => removed, b>=95 => added, 50<=b<95 => changed, else unchanged.
# Prices ride through un-rounded: both engines evaluate the identical
# IEEE double op (price + 10), so values hash-match exactly.
_Q113_SQL = """
WITH o AS (SELECT o_orderkey AS k, o_orderkey % 100 AS b, o_totalprice AS p FROM orders),
old AS (SELECT k, p FROM o WHERE b < 95),
new AS (SELECT k, CASE WHEN b >= 50 THEN p + 10 ELSE p END AS p FROM o WHERE b >= 5),
j AS (
  SELECT COALESCE(old.k, new.k) AS k, old.p AS old_price, new.p AS new_price,
         old.k IS NOT NULL AS in_old, new.k IS NOT NULL AS in_new
  FROM old FULL OUTER JOIN new ON old.k = new.k
)
SELECT k AS o_orderkey,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN old_price IS NOT DISTINCT FROM new_price THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       old_price, new_price
FROM j
WHERE NOT (in_old AND in_new AND old_price IS NOT DISTINCT FROM new_price)
ORDER BY o_orderkey
"""


@register(
    "q113_snapshot_diff",
    _Q113_SQL,
    doc=(
        "change-data-capture between two snapshots (operators/merge.py "
        "snapshot_diff): one co-partitioned full-outer join on the key, "
        "null-safe column compare, rows classified added/removed/changed "
        "(unchanged filtered) — the reconciliation plan for plain-parquet "
        "datasets with no changelog"
    ),
    tables=("orders",),
)
def q113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.merge import snapshot_diff

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 100).alias("b"),
        F.col("o_totalprice").alias("price"),
    )
    old = o.where(F.col("b") < 95).select("k", "price")
    new = o.where(F.col("b") >= 5).select(
        "k",
        F.when(F.col("b") >= 50, F.col("price") + 10)
        .otherwise(F.col("price"))
        .alias("price"),
    )
    d = snapshot_diff(old, new, "k", ["price"])
    return (
        d.where(F.col("change_type") != "unchanged")
        .select(
            F.col("k").alias("o_orderkey"),
            "change_type",
            "old_price",
            "new_price",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Q126: per-group exact-cap sampling (at most N per group, deterministic)
# ---------------------------------------------------------------------------

_Q126_CAP = 20

_Q126_SQL = f"""
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {_Q126_CAP}
ORDER BY lang, doc_id
"""


@register(
    "q126_group_cap_sample",
    _Q126_SQL,
    doc=(
        "deterministic exact-cap sampling: at most 20 documents per "
        "language, chosen by portable md5(doc_id) order (stable under "
        "appends of later ids only if their hashes rank lower — i.e. a "
        "uniform random-but-reproducible pick, the per-source cap "
        "spelling of q90's proportional rebalance); one shuffle on the "
        "group key, rank inside the group"
    ),
    tables=("documents",),
)
def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("lang", "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _Q126_CAP)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# ---------------------------------------------------------------------------
# Q159: file-level data skipping (per-file min/max manifest)
# ---------------------------------------------------------------------------

# [1998-01-01, 1998-07-01) in epoch micros — ~7.5% of the 1995–2001
# order-date domain, so a 16-file range-clustered copy reads ~2 files.
_Q159_LO = 883_612_800_000_000
_Q159_HI = 899_251_200_000_000
_Q159_FILES = 16

_Q159_SQL = f"""
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_custs,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       TRUE AS pruned_ok
FROM orders
WHERE epoch_us(o_orderdate) >= {_Q159_LO} AND epoch_us(o_orderdate) < {_Q159_HI}
"""


@register(
    "q159_manifest_skipping",
    _Q159_SQL,
    doc=(
        "Iceberg-style FILE-level data skipping on plain parquet "
        "(operators/layout.py manifest_write / manifest_pruned_read): "
        "orders are range-clustered by order date into 16 files with "
        "DISJOINT key ranges (repartitionByRange — the 1-D linear-"
        "clustering case of q98's Z-order lesson) plus a per-file "
        "(min, max, rows) manifest; a half-year predicate consults the "
        "manifest (O(files) planning collect) and scans only "
        "intersecting files, with the residual predicate re-applied "
        "in-row for exactness.  pruned_ok pins files_read < "
        "files_total — the skipping actually happened"
    ),
    tables=("orders",),
)
def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from osm_changesets_to_parquet_spark.operators.layout import (
        manifest_pruned_read,
        manifest_write,
    )

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"orders_rangeclustered_{base}")
    ready = path + "/_READY_MANIFEST"
    if not os.path.exists(ready):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            # o_orderdate arrives TIMESTAMP_NTZ; session tz is pinned
            # UTC (session.py), so the cast preserves the instant and
            # unix_micros gives the integer domain the oracle's
            # epoch_us uses
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        )
        manifest_write(o, "od_us", path, _Q159_FILES)
        open(ready, "w").close()
    df, n_read, n_total = manifest_pruned_read(
        spark, path, "od_us", _Q159_LO, _Q159_HI
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.lit(bool(n_read < n_total)).alias("pruned_ok"),
    )


# ---------------------------------------------------------------------------
# Q163: Z-order + manifest = multi-dimensional file skipping
# ---------------------------------------------------------------------------

# custkey box × calendar-1997 box.  A 1-D (date-sorted) layout gives
# file bounds on the date only — the custkey side of this predicate
# would prune nothing; Z-ordering both columns bounds BOTH per file.
_Q163_CK_LO, _Q163_CK_HI = 40, 90
_Q163_D_LO = 852_076_800_000_000   # 1997-01-01 UTC, micros
_Q163_D_HI = 883_612_800_000_000   # 1998-01-01
_Q163_FILES = 16

_Q163_SQL = f"""
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_custs,
       ROUND(SUM(o_totalprice), 2) AS sum_price,
       TRUE AS pruned_ok
FROM orders
WHERE o_custkey >= {_Q163_CK_LO} AND o_custkey < {_Q163_CK_HI}
  AND epoch_us(o_orderdate) >= {_Q163_D_LO}
  AND epoch_us(o_orderdate) < {_Q163_D_HI}
"""


@register(
    "q163_zorder_skipping",
    _Q163_SQL,
    doc=(
        "what Z-order is FOR, measured: orders clustered on the Morton "
        "curve over (custkey, orderdate) into 16 files, per-file "
        "min/max of BOTH columns in the manifest "
        "(operators/layout.py manifest_write_zordered / "
        "manifest_pruned_read_box); a 2-D box predicate then skips "
        "files on both dimensions at once — a linear date-sorted "
        "layout bounds only the date and the custkey side prunes "
        "nothing (q98 proves the cells are tight; this turns them "
        "into skipped I/O).  Residual predicate re-applied in-row; "
        "pruned_ok pins files_read < files_total"
    ),
    tables=("orders",),
)
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from osm_changesets_to_parquet_spark.operators.layout import (
        manifest_pruned_read_box,
        manifest_write_zordered,
    )

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"orders_zordered_{base}")
    ready = path + "/_READY_MANIFEST"
    if not os.path.exists(ready):
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od_us"),
        )
        manifest_write_zordered(o, ["o_custkey", "od_us"], path, _Q163_FILES)
        open(ready, "w").close()
    df, n_read, n_total = manifest_pruned_read_box(
        spark,
        path,
        {
            "o_custkey": (_Q163_CK_LO, _Q163_CK_HI),
            "od_us": (_Q163_D_LO, _Q163_D_HI),
        },
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.lit(bool(n_read < n_total)).alias("pruned_ok"),
    )


# ---------------------------------------------------------------------------
# Q167: targeted delete (right-to-be-forgotten) with bucket-pruned rewrite
# ---------------------------------------------------------------------------

_Q167_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE {_sql_bucket('user_id', 100)} >= 5
GROUP BY event_type ORDER BY event_type
"""


@register(
    "q167_targeted_delete",
    _Q167_SQL,
    doc=(
        "GDPR-style targeted erase on plain parquet "
        "(operators/merge.py targeted_delete): events persisted "
        "partitioned by hash_bucket(user_id); deleting the ~5% flagged "
        "users collects their <= n_buckets touched bucket ids, "
        "partition-prunes the store scan to those, erases via one "
        "broadcast anti-join and rewrites only those bucket dirs — "
        "untouched buckets pass through unread.  Oracle is the "
        "surviving-rows aggregate the rewrite must equal"
    ),
    tables=("events",),
)
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from osm_changesets_to_parquet_spark.operators.merge import targeted_delete

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = os.path.basename(os.path.normpath(sf_dir))
    store = os.path.join(tempfile.gettempdir(), f"events_userbuckets_{base}")
    ready = store + "/_READY"
    if not os.path.exists(ready):
        (
            ev.withColumn("__pb", _bucket("user_id", 16))
            .write.partitionBy("__pb")
            .mode("overwrite")
            .parquet(store)
        )
        open(ready, "w").close()
    doomed = ev.where(_bucket("user_id") < 5).select("user_id").distinct()
    out = tempfile.mkdtemp(prefix="events_after_delete_")
    surviving = targeted_delete(spark, store, doomed, "user_id", out, n_buckets=16)
    return (
        surviving.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Q168: token-budget corpus selection (greedy by quality density)
# ---------------------------------------------------------------------------

_Q168_BUDGET = 10_000  # tokens

# Greedy data selection under a token budget: take documents in
# unigram-entropy order (the q152 diversity signal) until the running
# token total passes the budget.  Entropy rounds to 6 on BOTH sides
# before the ordering and doc_id breaks ties, so the prefix is
# engine-deterministic.
_Q168_SQL = f"""
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
  SELECT doc_id, SUM(cnt) AS n, SUM(cnt * log2(cnt)) AS s
  FROM c GROUP BY doc_id
),
e AS (
  SELECT t.doc_id, t.lang, h.n AS n_tokens,
         ROUND(log2(CAST(h.n AS DOUBLE)) - h.s / h.n, 6) AS entropy
  FROM t JOIN h USING (doc_id) WHERE h.n > 0
),
r AS (
  SELECT doc_id, lang, n_tokens, entropy,
         SUM(n_tokens) OVER (ORDER BY entropy DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM e
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       ROUND(MIN(entropy), 6) AS min_entropy
FROM r WHERE cum <= {_Q168_BUDGET}
GROUP BY lang ORDER BY lang
"""


@register(
    "q168_budget_select",
    _Q168_SQL,
    doc=(
        "token-budget data selection: keep the highest-unigram-entropy "
        "documents (q152's zero-shuffle signal) until the running token "
        "total passes the budget — greedy knapsack by quality density, "
        "the epoch-construction step after dedup/filtering.  The "
        "running total is operators/packing.global_cumsum (range-"
        "bucketed, never a single-task window) over a composed numeric "
        "order key that preserves (entropy DESC, doc_id) with fixed "
        "bounds (entropy is in [0, ~17] bits), so no quantile pre-pass"
    ),
    tables=("documents",),
)
def q168(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.packing import global_cumsum
    from osm_changesets_to_parquet_spark.operators.text import unigram_entropy

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    e = unigram_entropy(docs, keep=["doc_id", "lang"]).where(F.col("n_tokens") > 0)
    # one numeric total order == (entropy DESC, doc_id ASC): entropy is
    # a 1e-6 multiple <= ~17 bits, so -entropy*1e8 strides in >= 100
    # while the doc_id term stays < 1 for any realistic id range
    scored = e.withColumn(
        "__ord", -F.col("entropy") * F.lit(1e8) + F.col("doc_id") * F.lit(1e-6)
    )
    c = global_cumsum(
        scored,
        "__ord",
        "n_tokens",
        out_col="__cum",
        bounds=[float(-b * 1e8) for b in range(17, 0, -1)],
    )
    return (
        c.where(F.col("__cum") <= _Q168_BUDGET)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.round(F.min("entropy"), 6).alias("min_entropy"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Q191: dynamic partition pruning (runtime file skipping from a join)
# ---------------------------------------------------------------------------

_US_PER_DAY_Q191 = 86_400_000_000

_Q191_SQL = f"""
WITH hot AS (
  SELECT DISTINCT epoch_us(ts) // {_US_PER_DAY_Q191} AS day
  FROM events WHERE event_type = 'error' AND value > 200
),
f AS (
  SELECT e.event_type, FLOOR(e.value * 100 + 0.5) AS cents
  FROM events e JOIN hot ON epoch_us(e.ts) // {_US_PER_DAY_Q191} = hot.day
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM f GROUP BY event_type ORDER BY event_type
"""


@register(
    "q191_dynamic_partition_pruning",
    _Q191_SQL,
    doc=(
        "DYNAMIC partition pruning — the runtime half of the skipping "
        "story (q159/q163 prune from static predicates): the event "
        "fact is laid out hive-partitioned by day; the probe joins it "
        "to a dimension only computable at RUN time (days containing a "
        "severe error event — a SELECTIVE base-relation filter, which "
        "the PartitionPruning rule requires on the dim side; a purely "
        "aggregate-derived dim does NOT qualify), and Spark injects the "
        "broadcast result as a DynamicPruningExpression into the fact "
        "scan's PartitionFilters — quiet-day directories are never "
        "read.  Plan shape pinned in tests/test_plans.py; the "
        "partitioned write is one-time per fixture (_READY marker, "
        "the q159 discipline)"
    ),
    tables=("events",),
)
def q191(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    base = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(tempfile.gettempdir(), f"events_dayparts_{base}")
    ready = os.path.join(path, "_READY")
    if not os.path.exists(ready):
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
            (F.unix_micros("ts") / _US_PER_DAY_Q191).cast("long").alias("day"),
        )
        # one task per day dir => exactly one file each; idempotent
        ev.repartition("day").write.partitionBy("day").mode(
            "overwrite"
        ).parquet(path)
        open(ready, "w").close()
    fact = spark.read.parquet(path)
    ev = load_table(spark, sf_dir, "events")
    hot = (
        ev.where((F.col("event_type") == "error") & (F.col("value") > 200))
        .select(
            (F.unix_micros("ts") / _US_PER_DAY_Q191).cast("int").alias("day")
        )
        .distinct()
    )
    f = fact.join(hot, "day")
    return (
        f.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q245: cross-source quantile normalization (round 7)
# ---------------------------------------------------------------------------

_Q245_SQL = """
WITH src_rank AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS r,
         COUNT(*) OVER (PARTITION BY source) AS n_s
  FROM documents
),
gstat AS (
  SELECT n_chars AS gval,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS gr
  FROM documents
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
mapped AS (
  SELECT s.source, g.gval
  FROM src_rank s CROSS JOIN nn
  JOIN gstat g
    ON g.gr = ((2 * s.r - 1) * nn.n + 2 * s.n_s - 1) // (2 * s.n_s)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(gval) AS DOUBLE) / COUNT(*), 4) AS mean_mapped,
       CAST(MIN(gval) AS BIGINT) AS min_mapped,
       CAST(MAX(gval) AS BIGINT) AS max_mapped
FROM mapped GROUP BY source ORDER BY source
"""


@register(
    "q245_quantile_normalize",
    _Q245_SQL,
    doc=(
        "cross-source quantile normalization of doc lengths (the "
        "score-alignment step before a GLOBAL quality threshold: each "
        "doc's value is replaced by the global order statistic at its "
        "source-relative midrank, so per-source scale/shift biases "
        "vanish): the mapped index ceil((2r-1)N / 2n_s) is EXACT "
        "integer arithmetic, the global order-statistic table comes "
        "from operators/packing.global_rank (range-bucketed, one wide "
        "shuffle, never a single-task window) and the per-source rank "
        "window partitions by source (respell via global_rank per "
        "source if a single source outgrows an executor)"
    ),
    tables=("documents",),
)
def q245(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from osm_changesets_to_parquet_spark.operators.packing import global_rank

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    src_rank = docs.select(
        "source",
        F.row_number().over(ws).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    glob = global_rank(docs, ["n_chars", "doc_id"], out_col="gr").select(
        F.col("n_chars").alias("gval"), "gr"
    )
    nn = docs.agg(F.count(F.lit(1)).alias("n"))
    mapped = (
        src_rank.crossJoin(nn)
        .withColumn("k", F.expr(
            "((2 * r - 1) * n + 2 * n_s - 1) div (2 * n_s)"
        ))
        .join(glob, F.col("gr") == F.col("k"))
    )
    return (
        mapped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("gval").cast("double") / F.count(F.lit(1)), 4
            ).alias("mean_mapped"),
            F.min("gval").cast("long").alias("min_mapped"),
            F.max("gval").cast("long").alias("max_mapped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q272: greedy set cover — budgeted coverage-maximizing selection
# ---------------------------------------------------------------------------

_Q272_K = 5


def _q272_round(r: int) -> str:
    prev_cov = (
        "SELECT g FROM c" + str(r - 1) if r > 1 else "SELECT NULL AS g WHERE 1=0"
    )
    return f"""p{r} AS MATERIALIZED (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_g
  FROM dg
  WHERE g NOT IN ({prev_cov})
    AND doc_id NOT IN (SELECT doc_id FROM (
      {" UNION ALL ".join(f"SELECT doc_id FROM p{i}" for i in range(1, r)) or "SELECT NULL AS doc_id WHERE 1=0"}
    ))
  GROUP BY doc_id ORDER BY new_g DESC, doc_id LIMIT 1
),
c{r} AS MATERIALIZED (
  SELECT DISTINCT g FROM dg
  WHERE doc_id IN ({" UNION ALL ".join(f"SELECT doc_id FROM p{i}" for i in range(1, r + 1))})
)"""


_Q272_SQL = f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
dg AS MATERIALIZED (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i + 1] AS g
  FROM tok, UNNEST(range(1, len(ws))) AS u(i)
),
uni AS (SELECT CAST(COUNT(DISTINCT g) AS BIGINT) AS u FROM dg),
{", ".join(_q272_round(r) for r in range(1, _Q272_K + 1))}
SELECT rk, doc_id, new_g,
       ROUND(CAST(cum AS DOUBLE) / uni.u, 4) AS cum_coverage
FROM (
  {" UNION ALL ".join(
      f"SELECT {r} AS rk, p{r}.doc_id, p{r}.new_g,"
      f" (SELECT COUNT(*) FROM c{r}) AS cum FROM p{r}"
      for r in range(1, _Q272_K + 1))}
) CROSS JOIN uni
ORDER BY rk
"""


def _q272_greedy_single_task(dg: DataFrame) -> DataFrame:
    """The full k-round greedy inside ONE ``mapInPandas`` task over the
    checkpointed distinct (doc_id, g) frame.

    Byte-identical to the distributed loop: per round the pick is
    argmax of new-gram count with ties to the LOWEST doc_id
    (np.argmax returns the first maximum and the doc axis is sorted
    ascending by np.unique), coverage updates are exact set marks, and
    ``cum_coverage`` uses the same driver-side ``round(cum/universe,
    4)`` float path.  Saturation (no live (doc, gram) pair left) stops
    early exactly like the empty-candidate break.
    """

    def greedy(batches):
        import numpy as np
        import pandas as pd

        doc_parts, gram_parts = [], []
        for pdf in batches:
            doc_parts.append(pdf["doc_id"].to_numpy())
            gram_parts.append(pdf["g"].to_numpy())
        rows: list[tuple[int, int, int, float]] = []
        if doc_parts:
            doc = np.concatenate(doc_parts)
            gram = np.concatenate(gram_parts)
            docs_u, doc_idx = np.unique(doc, return_inverse=True)
            _grams_u, gram_idx = np.unique(gram, return_inverse=True)
            universe = len(_grams_u)
            covered = np.zeros(universe, dtype=bool)
            picked = np.zeros(len(docs_u), dtype=bool)
            cum = 0
            for r in range(1, _Q272_K + 1):
                live = ~covered[gram_idx] & ~picked[doc_idx]
                if not live.any():
                    break
                counts = np.bincount(
                    doc_idx[live], minlength=len(docs_u)
                )
                best = int(np.argmax(counts))
                new_g = int(counts[best])
                picked[best] = True
                covered[gram_idx[doc_idx == best]] = True
                cum += new_g
                rows.append(
                    (r, int(docs_u[best]), new_g, round(cum / universe, 4))
                )
        yield pd.DataFrame(
            {
                "rk": pd.array([r[0] for r in rows], dtype="int32"),
                "doc_id": pd.array([r[1] for r in rows], dtype="int64"),
                "new_g": pd.array([r[2] for r in rows], dtype="int64"),
                "cum_coverage": pd.array(
                    [r[3] for r in rows], dtype="float64"
                ),
            }
        )

    return dg.repartition(1).mapInPandas(
        greedy, "rk int, doc_id long, new_g long, cum_coverage double"
    )


@register(
    "q272_greedy_set_cover",
    _Q272_SQL,
    doc=(
        f"greedy set cover, {_Q272_K} rounds — the budgeted "
        "coverage-maximizing selection (pick the eval/training "
        "examples that cover the most still-uncovered vocabulary; "
        "the (1-1/e)-approximate classic, the DISCRETE cousin of "
        "q177 k-center / q165 MMR which live in embedding space): "
        "each round is one anti-join + count rollup + a 1-row argmax "
        "action (bounded driver loop, the IVF-seed discipline); the "
        "covered set is re-derived each round as the picked docs' "
        "grams from the one checkpointed (doc, gram) frame and "
        "broadcast to the anti join — no per-round union/checkpoint — "
        "and when the checkpointed frame is one-task-sized (observe "
        "metric on the same checkpoint job, the connected_components "
        "local-finish gate) the whole k-round greedy runs as numpy "
        "bincounts inside ONE mapInPandas task instead of k "
        "scheduling round-trips; the oracle unrolls the rounds as "
        "MATERIALIZED CTEs (q238 lesson); pinned vs python greedy"
    ),
    tables=("documents",),
)
def q272(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators import iterutils
    from osm_changesets_to_parquet_spark.operators.text import bigram_stream

    docs = load_table(spark, sf_dir, "documents")
    # single-token docs make NULL grams (bigram_stream's out-of-range
    # access); the oracle's UNNEST makes none, so neither path may see
    # them — np.unique cannot sort None among str, and the distributed
    # universe would count NULL as a gram
    dg = (
        bigram_stream(docs, keep=["doc_id"])
        .where(F.col("g").isNotNull())
        .distinct()
    )
    # k-round greedy in one task when the (doc, gram) frame is small:
    # k numpy bincounts instead of k scheduling round-trips
    dg, m = iterutils.checkpoint_metrics(dg, n=F.count(F.lit(1)))
    if m["n"] <= iterutils.LOCAL_FINISH_MAX_ROWS:
        return _q272_greedy_single_task(dg).orderBy("rk")

    universe = dg.select("g").distinct().count()
    picked: list[int] = []
    rows = []
    cum = 0
    for r in range(1, _Q272_K + 1):
        cand = dg
        if picked:
            # covered-so-far IS the gram set of the picked docs — a
            # filtered re-read of the checkpointed dg, broadcast to the
            # anti join (duplicate right-side rows are a no-op for
            # anti semantics, so no distinct/union chain and no extra
            # checkpoint action per round; r13/r14 discipline: one
            # lineage cut, everything else rides it)
            covered = F.broadcast(
                dg.where(F.col("doc_id").isin(picked)).select("g")
            )
            cand = cand.where(~F.col("doc_id").isin(picked)).join(
                covered, "g", "anti"
            )
        # 1-row argmax: a bounded driver action per round (k rounds
        # total), never a corpus collect
        top = (
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("new_g"))
            .orderBy(F.col("new_g").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not top:
            # coverage saturated before k picks: every remaining doc
            # adds zero new grams AND none remain uncovered — the
            # oracle's LIMIT 1 over the empty candidate set likewise
            # emits no row, so both sides return < k rows
            break
        doc_id, new_g = int(top[0].doc_id), int(top[0].new_g)
        picked.append(doc_id)
        cum += new_g
        rows.append((r, doc_id, new_g, round(cum / universe, 4)))
    return docs.sparkSession.createDataFrame(
        rows, "rk INT, doc_id LONG, new_g LONG, cum_coverage DOUBLE"
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# q310: feature-hashing collision audit (round 8)
# ---------------------------------------------------------------------------

_Q310_NB = 256  # 2^8 hash buckets

# bucket = first 16 bits of md5(token) mod NB — md5 hex is the one
# string hash both engines compute IDENTICALLY (xxhash64 is
# Spark-internal; DuckDB hash() is DuckDB-internal), and 16 bits is
# plenty for 256 buckets
_Q310_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
tc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS occ FROM tok
       WHERE w <> '' GROUP BY w),
b AS (
  SELECT CAST('0x' || substring(md5(w), 1, 4) AS INT) % {_Q310_NB} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(occ) AS BIGINT) AS occurrences
  FROM tc GROUP BY 1
)
SELECT CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
       CAST(SUM(CASE WHEN n_tokens > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collision_buckets,
       CAST(SUM(CASE WHEN n_tokens > 1 THEN n_tokens ELSE 0 END) AS BIGINT)
         AS tokens_colliding,
       CAST(MAX(n_tokens) AS BIGINT) AS max_bucket_tokens,
       ROUND(CAST(SUM(CASE WHEN n_tokens > 1 THEN occurrences ELSE 0 END)
                  AS DOUBLE) / SUM(occurrences), 6) AS occ_collision_rate
FROM b
"""


@register(
    "q310_feature_hashing",
    _Q310_SQL,
    doc=(
        f"feature-hashing (hashing-trick) collision audit at "
        f"{_Q310_NB} buckets: how many vocabulary features share a "
        "bucket, the worst bucket, and the share of token OCCURRENCES "
        "riding a collided bucket (what actually corrupts a hashed "
        "feature vector) — the audit run before committing to a "
        "hashed feature space.  Bucket = md5-prefix mod buckets, the "
        "one string hash both engines evaluate identically; shuffles "
        "carry (token, count) then (bucket, counts) — the rollup is "
        "O(vocabulary) then O(buckets), never O(corpus)"
    ),
    tables=("documents",),
)
def q310(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w")).where(
        F.col("w") != ""
    )
    tc = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("occ"))
    bucket = (
        F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int") % _Q310_NB
    )
    b = tc.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("occ").cast("long").alias("occurrences"),
    )
    coll = F.col("n_tokens") > 1
    return b.agg(
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
        F.sum(F.when(coll, 1).otherwise(0)).cast("long").alias(
            "n_collision_buckets"
        ),
        F.sum(F.when(coll, F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("tokens_colliding"),
        F.max("n_tokens").cast("long").alias("max_bucket_tokens"),
        F.round(
            F.sum(F.when(coll, F.col("occurrences")).otherwise(0)).cast(
                "double"
            )
            / F.sum("occurrences"),
            6,
        ).alias("occ_collision_rate"),
    )

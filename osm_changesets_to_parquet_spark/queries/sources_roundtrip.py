"""Source/sink format coverage CS4-CS6: CSV, JSON-lines, ORC round-trips.

The reference supports exactly one source (XML, optionally bz2) and one
sink (Parquet) — reference src/main.rs:428-448 (source dispatch) and
:416-425 (sink).  A query engine over the same data needs the rest of
the standard format matrix; these queries prove each format's read AND
write path end-to-end by round-tripping a driver table through the
format and aggregating the result.  The oracle runs the same aggregate
over the original parquet — so any loss, truncation, or type drift in
the round-trip breaks the hash.

Determinism: timestamps cross the text formats as epoch-micros BIGINT
only in the *output* (never raw timestamps, SURVEY §2.B rule 4); inside
the round-trip they stay typed (TimestampNTZ) to exercise the format's
real timestamp codec.

Scale notes: every write here is a distributed ``df.write`` (splittable
on read: CSV/JSON by line, ORC by stripe); the read applies an explicit
schema — no inference pass over the data (inference = a second full
scan at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_changesets_to_parquet_spark.catalog import load_table, temp_dir
from osm_changesets_to_parquet_spark.queries import register


def _tmp(name: str) -> str:
    return os.path.join(temp_dir("osm_fmt_roundtrip_"), name)


_LINEITEM_CSV_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_linenumber", T.IntegerType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_returnflag", T.StringType()),
        T.StructField("l_shipdate", T.TimestampNTZType()),
    ]
)


@register(
    "cs4_csv_roundtrip",
    """
    SELECT l_returnflag, COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(MAX(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    doc=(
        "parquet -> CSV (header, typed timestamps) -> explicit-schema read "
        "-> aggregate; hash-matches the same aggregate over the original "
        "parquet, so the CSV codec must be lossless"
    ),
    tables=("lineitem",),
)
def cs4(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    path = _tmp("lineitem_csv")
    li.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(_LINEITEM_CSV_SCHEMA).option("header", "true").csv(path)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.max(F.unix_micros(F.col("l_shipdate").cast("timestamp"))).alias("max_ship_us"),
        )
        .orderBy("l_returnflag")
    )


_EVENTS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


@register(
    "cs5_json_roundtrip",
    """
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "parquet -> JSON lines -> explicit-schema read -> aggregate; the "
        "nested JSON string column (props) survives as a quoted string and "
        "is re-parsed after the round-trip"
    ),
    tables=("events",),
)
def cs5(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts_us", "user_id", "event_type", "value", "props"
    )
    path = _tmp("events_json")
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema(_EVENTS_JSON_SCHEMA).json(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.max("ts_us").alias("max_ts_us"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        )
        .orderBy("event_type")
    )


@register(
    "cs6_orc_roundtrip",
    """
    SELECT o_orderstatus, COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           CAST(MAX(epoch_us(o_orderdate)) AS BIGINT) AS max_date_us
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    doc=(
        "parquet -> ORC -> read -> aggregate; ORC is the second columnar "
        "sink (stripe-splittable, predicate pushdown on read like parquet)"
    ),
    tables=("orders",),
)
def cs6(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    path = _tmp("orders_orc")
    o.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias("max_date_us"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "cs8_schema_evolution",
    """
    WITH b1 AS (SELECT event_id, value, CAST(NULL AS VARCHAR) AS event_type
                FROM events WHERE event_id % 2 = 0),
    b2 AS (SELECT event_id, value, event_type FROM events WHERE event_id % 2 = 1),
    u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
    SELECT COALESCE(event_type, '<pre-evolution>') AS event_type,
           COUNT(*) AS cnt,
           CAST(SUM(event_id) AS BIGINT) AS sum_id,
           ROUND(SUM(value), 2) AS sum_value
    FROM u GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "parquet schema evolution: an old batch written WITHOUT "
        "event_type and a new batch WITH it land in one dataset dir; "
        "mergeSchema unions the footers (old rows null-fill) and the "
        "aggregate hash-matches the equivalent SQL union — the add-a-"
        "column-without-rewriting-history path every long-lived 100 TB "
        "dataset takes.  Note mergeSchema costs a footer read per file "
        "at planning; production pins the evolved schema explicitly "
        "(.schema(...)), which this read path equally supports"
    ),
    tables=("events",),
)
def cs8(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    root = _tmp("events_evolved")
    (
        ev.where(F.col("event_id") % 2 == 0)
        .drop("event_type")
        .write.mode("overwrite")
        .parquet(os.path.join(root, "batch=old"))
    )
    (
        ev.where(F.col("event_id") % 2 == 1)
        .write.mode("overwrite")
        .parquet(os.path.join(root, "batch=new"))
    )
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.groupBy(
            F.coalesce("event_type", F.lit("<pre-evolution>")).alias("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("event_id").alias("sum_id"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@register(
    "cs12_python_datasource_writer",
    """
    SELECT event_type, COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS sum_value,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "the WRITE half of the Spark 4 Python DataSource API "
        "(sources/events_sink_pyds.py; cs11 is the batch read half, "
        "s13 the streaming half): events -> Arrow-batch executor "
        "writes (one parquet file per partition, rows never on the "
        "driver) -> driver commit publishes _MANIFEST.json (this "
        "repo's atomic-visibility convention) -> read back through the "
        "manifest-honoring reader -> aggregate; hash-matches the same "
        "aggregate over the original table, so both halves must be "
        "lossless"
    ),
    tables=("events",),
)
def cs12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.sources import events_sink_pyds

    events_sink_pyds.register(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts_us"
    )
    path = _tmp("events_chunks_pyds")
    (
        ev.repartition(4)
        .write.format("events_chunks")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back = spark.read.format("events_chunks").option("path", path).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# cs15: XML expression round-trip (to_xml -> from_xml)
# ---------------------------------------------------------------------------

# The reference's entire job is XML record parsing (src/main.rs:294-367,
# the quick-xml event loop).  cs0/cs7/cs11 witness FILE-level XML
# ingest; this witnesses the EXPRESSION-level pair to_xml/from_xml —
# what a user reaches for when XML arrives embedded in a column (e.g. a
# Kafka payload) rather than as files.  DuckDB has no XML functions, so
# the oracle asserts round-trip FIDELITY instead: if Spark's
# parse-back mangled any row, ok_rows or the checksum would diverge
# from the oracle's direct computation on the source table.
_CS15_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS ok_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents_checksum
FROM orders
"""


@register(
    "cs15_xml_expr_roundtrip",
    _CS15_SQL,
    doc=(
        "to_xml/from_xml expression round-trip over orders (the "
        "reference's domain — src/main.rs:294-367 parses changeset "
        "XML records; cs0/cs7/cs11 cover file ingest, this covers "
        "XML-in-a-column): each row is serialized to an XML string "
        "and parsed back under an explicit schema, and the output "
        "counts rows whose parsed fields ALL equal the originals — "
        "the oracle computes the same counts/checksums directly from "
        "the table, so any Spark-side mangling (row drop, type "
        "coercion, escaping bug) hash-mismatches; both expressions "
        "are JVM-side, zero Python in the path"
    ),
    tables=("orders",),
)
def cs15(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    src = o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    xml = src.withColumn(
        "x",
        F.to_xml(
            F.struct("o_orderkey", "o_orderstatus", "cents"),
            {"rowTag": "order"},
        ),
    )
    schema = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
    back = xml.withColumn(
        "p", F.from_xml(F.col("x"), schema, {"rowTag": "order"})
    )
    ok = (
        (F.col("p.o_orderkey") == F.col("o_orderkey"))
        & (F.col("p.o_orderstatus") == F.col("o_orderstatus"))
        & (F.col("p.cents") == F.col("cents"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("ok_rows"),
        F.sum(F.col("p.o_orderkey")).cast("long").alias("key_checksum"),
        F.sum(F.col("p.cents")).cast("long").alias("cents_checksum"),
    )

"""Bucketed co-located join as a driver-witnessed query (Q111).

The 100 TB shuffle-elimination technique: two fact tables that are
repeatedly joined on the same key are written ``bucketBy(k, key)`` +
``sortBy(key)``, so every subsequent sort-merge join consumes the
bucket layout directly — ZERO exchanges (and zero sorts) on either
side.  ``tests/test_bucketing.py`` pins the plan (no
``Exchange hashpartitioning`` on either join side, ``SelectedBucketsCount``
present); this query witnesses the write + read + join path end-to-end
against a plain-join oracle over the original parquet.

Reference parity note: the reference (src/main.rs) has no join surface
at all — bucketing is part of the beyond-reference scale surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table, temp_dir
from osm_changesets_to_parquet_spark.queries import register

_N_BUCKETS = 8


def _recreate_bucketed(spark: SparkSession, df: DataFrame, name: str, key: str) -> None:
    """(Re)write ``df`` as an EXTERNAL bucketed table at a fresh temp path.

    The in-memory catalog forgets tables between sessions while their
    warehouse directories persist, so a managed ``saveAsTable`` hits
    LOCATION_ALREADY_EXISTS on the second session.  A fresh explicit
    path per call plus DROP TABLE makes the write idempotent across
    sessions — and keeps table data out of the repo's cwd warehouse.
    """
    path = os.path.join(temp_dir("osm_bucketed_"), name)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.write.bucketBy(_N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(name)
    )

_Q111_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@register(
    "q111_bucketed_join",
    _Q111_SQL,
    doc=(
        "write orders + customer bucketBy(8, custkey).sortBy(custkey), "
        "then sort-merge join the bucketed tables (merge hint, no "
        "broadcast) and aggregate — the join side of the plan has zero "
        "exchanges and zero sorts (plan-pinned in tests/test_bucketing.py); "
        "oracle is the plain join over the original parquet"
    ),
    tables=("orders", "customer"),
)
def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    _recreate_bucketed(spark, o, "q111_orders_b", "o_custkey")
    _recreate_bucketed(spark, c, "q111_customer_b", "c_custkey")
    ob = spark.table("q111_orders_b")
    cb = spark.table("q111_customer_b")
    # merge hint: force SMJ without touching the session broadcast
    # threshold — the bucketed layout then elides both exchanges.
    return (
        ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )

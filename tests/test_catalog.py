"""``catalog.load_table`` infers a table file's schema once per
SparkContext and file: later loads pass it and start no Spark job, keep
the rows and schema of a plain ``spark.read.parquet``, re-infer after a
rewrite in place, and stay fresh relations that can self-join."""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from osm_changesets_to_parquet_spark.catalog import TABLE_NAMES, _read_table, load_table
from tests.spark_jobs import jobs_started_by


@pytest.mark.parametrize("name", ["customer", "events"])
def test_second_load_starts_no_job(spark, sf_dir, tmp_path, name):
    # a copy under a fresh path: no earlier test has read this file
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    first, jobs1 = jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), name))
    second, jobs2 = jobs_started_by(spark, lambda: load_table(spark, str(tmp_path), name))
    assert len(jobs1) <= 1
    assert jobs2 == []
    assert second.schema == first.schema
    if name == "events":
        assert dict(second.dtypes)["ts"] == "timestamp"
        assert dict(second.dtypes)["ts_us"] == "bigint"
    assert sorted(map(repr, second.collect())) == sorted(map(repr, first.collect()))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_schema_given_read_equals_plain_read(spark, sf_dir, sf):
    # the events load reads under nanosAsLong; read every table the same way
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLE_NAMES:
        path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), sf, f"{name}.parquet")
        _read_table(spark, path)
        given, jobs = jobs_started_by(spark, lambda: _read_table(spark, path))
        plain = spark.read.parquet(path)
        assert jobs == [], name
        assert given.schema == plain.schema, name
        assert sorted(map(repr, given.collect())) == sorted(map(repr, plain.collect())), name


def test_rewrite_in_place_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    load_table(spark, str(tmp_path), "t")  # a remembered-schema load
    pq.write_table(pa.table({"a": [4, 5], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(4, "x"), (5, "y")]


def test_two_loads_self_join_on_column_references(spark, sf_dir):
    def load():
        return load_table(spark, sf_dir, "customer")

    load()
    (a, b), jobs = jobs_started_by(spark, lambda: (load(), load()))
    assert jobs == []
    got = sorted(
        tuple(r)
        for r in a.join(b, a["c_custkey"] == b["c_nationkey"])
        .select(a["c_custkey"], b["c_custkey"])
        .collect()
    )
    want = sorted(
        duckdb.sql(
            f"SELECT a.c_custkey, b.c_custkey FROM '{sf_dir}/customer.parquet' a "
            f"JOIN '{sf_dir}/customer.parquet' b ON a.c_custkey = b.c_nationkey"
        ).fetchall()
    )
    assert got and got == want

"""The stream runner and replay writer of ``streaming/jobs.py``: replay
caches are keyed on the source table, not on its directory name; a
failed stream leaves the session's shuffle-partition count as it was;
and every stream starts through ``_start_stream``."""

from __future__ import annotations

import ast
import shutil
from datetime import datetime, timedelta
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark import queries as Q
from osm_changesets_to_parquet_spark.streaming import jobs
from tests.oracle_utils import compare

_KEY = "spark.sql.shuffle.partitions"


def _write_events(sf: Path, n: int, event_type: str) -> None:
    t0 = datetime(2024, 1, 1)
    sf.mkdir(parents=True)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array(
                    [t0 + timedelta(minutes=13 * i) for i in range(n)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
                "event_type": pa.array([event_type] * n),
                "value": pa.array([float(i) for i in range(n)]),
            }
        ),
        sf / "events.parquet",
    )


def test_same_named_fixture_dirs_get_their_own_replay(spark, tmp_path):
    Q.load_all_modules()
    spec = Q.REGISTRY["s4a_watermark_ontime"]
    dirs = [tmp_path / "a" / "sf", tmp_path / "b" / "sf"]
    _write_events(dirs[0], 24, "click")
    _write_events(dirs[1], 31, "view")
    try:
        for d in dirs:
            assert compare(spec.fn(spark, str(d)), spec.oracle, str(d), spec.name) == []
    finally:
        for d in dirs:
            shutil.rmtree(jobs.prepare_replay_dir(spark, str(d)), ignore_errors=True)


def test_failed_stream_restores_shuffle_partitions(spark, sf_dir):
    counts = (
        jobs._read_stream(spark, jobs.prepare_replay_dir(spark, sf_dir))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    seen = []

    def body(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(_KEY))
        raise RuntimeError("injected sink failure")

    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "13")
    try:
        with pytest.raises(StreamingQueryException, match="injected sink failure"):
            jobs._start_stream(counts, body=body)
        assert spark.conf.get(_KEY) == "13"
    finally:
        spark.conf.set(_KEY, prev)
    # the stream ran on its own pinned copy of the session conf
    assert seen == [jobs.STREAM_SHUFFLE_PARTITIONS]


def test_s23_crash_and_restart_restore_shuffle_partitions(spark, sf_dir):
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, "13")
    try:
        rows = jobs.run_s23_crash_recovery(spark, sf_dir).collect()
        assert spark.conf.get(_KEY) == "13"
    finally:
        spark.conf.set(_KEY, prev)
    assert rows and all(r.recovered for r in rows)


def test_streams_start_through_one_runner():
    tree = ast.parse(Path(jobs.__file__).read_text())
    write_stream = {
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and n.attr == "writeStream"
    }
    conf_sets = {
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "set"
        and n.args
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == _KEY
    }
    assert len(write_stream) <= 1 and len(conf_sets) <= 2, (
        f"streaming/jobs.py: {len(write_stream)} code lines call writeStream "
        f"(cap 1) and {len(conf_sets)} set {_KEY} (cap 2: one pin and its "
        "restore). Start every stream through _start_stream, which owns the "
        "checkpoint dir, the state-partition pin and its restore, and the wait."
    )

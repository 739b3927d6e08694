"""The shared lineage-cut primitive and the size-gated local finish:
``iterutils.checkpoint_metrics`` costs one job and reads its metrics,
and q272 gives the oracle's answer on both sides of
``iterutils.LOCAL_FINISH_MAX_ROWS``, on text the fixtures lack.  Also
the plan-build-time job cost of ``catalog.fan_out``'s partition probe."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.operators import iterutils
from tests.oracle_utils import compare
from tests.spark_jobs import jobs_started_by


@pytest.mark.parametrize(
    "bound, want",
    [(10, {"n": 10, "s": 45}), (0, {"n": 0, "s": 0})],
    ids=["rows", "empty"],
)
def test_checkpoint_metrics_one_job_and_null_reads_zero(spark, bound, want):
    df = spark.range(0, 10, 1, 2).where(F.col("id") < bound)
    (cut, metrics), jobs = jobs_started_by(
        spark,
        lambda: iterutils.checkpoint_metrics(
            df, n=F.count(F.lit(1)), s=F.sum("id")
        ),
    )
    # SUM over no rows is NULL; the helper reads it as 0
    assert metrics == want
    assert len(jobs) == 1
    assert cut.count() == want["n"]


_DOCS = [
    (0, "a b c d"),
    (1, "c d e"),
    (2, "solo"),  # single token: no bigram on either side
    (3, None),  # NULL text
    (4, "b c x y"),
    (5, ""),
]


@pytest.mark.parametrize("cap", ["default", 0], ids=["local", "distributed"])
def test_q272_short_and_null_docs_match_oracle(spark, tmp_path, monkeypatch, cap):
    from osm_changesets_to_parquet_spark.queries.curation import _Q272_SQL, q272

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in _DOCS], pa.int64()),
                "text": pa.array([t for _, t in _DOCS], pa.string()),
            }
        ),
        tmp_path / "documents.parquet",
    )
    if cap == 0:
        monkeypatch.setattr(iterutils, "LOCAL_FINISH_MAX_ROWS", 0)
    assert compare(q272(spark, str(tmp_path)), _Q272_SQL, str(tmp_path), "q272") == []


def test_fan_out_probe_starts_no_job_on_a_table_scan(spark, sf_dir):
    from osm_changesets_to_parquet_spark.catalog import fan_out, load_table

    # df.rdd.getNumPartitions() plans the scan without running it; on an
    # input with an exchange AQE runs the map stage first (one job)
    scan = load_table(spark, sf_dir, "events")
    out, jobs = jobs_started_by(spark, lambda: fan_out(scan, "event_id"))
    assert len(jobs) == 0
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism // 2

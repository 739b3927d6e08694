"""Inputs the fixtures lack, checked against the DuckDB oracle on a
hand-built table: an empty ``events`` table (q196) and zero-norm
embedding vectors (q102)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tests.oracle_utils import compare

_ZERO_NORM_IDS = 4


def test_q196_empty_events_match_oracle(spark, sf_dir, tmp_path):
    from osm_changesets_to_parquet_spark.queries.analytics_metrics import _q196_sql, q196

    events = pq.read_table(f"{sf_dir}/events.parquet")
    pq.write_table(events.slice(0, 0), tmp_path / "events.parquet")
    df = q196(spark, str(tmp_path))
    # an ungrouped aggregate yields one row on both sides: (R, NULL, NULL)
    rows = df.collect()
    assert len(rows) == 1 and rows[0].mean_value is None and rows[0].bootstrap_se is None
    assert compare(df, _q196_sql(), str(tmp_path), "q196") == []


def test_q102_zero_norm_vectors_match_oracle(spark, sf_dir, tmp_path):
    from osm_changesets_to_parquet_spark.queries.dedup_sim import _Q102_SEMDEDUP_SQL, q102

    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.column("embedding")[0].as_py())
    zero = pa.array([[0.0] * dim] * _ZERO_NORM_IDS, emb.schema.field("embedding").type)
    vecs = pa.concat_arrays(
        [zero, emb.column("embedding").combine_chunks()[_ZERO_NORM_IDS:]]
    )
    emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding", vecs)
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    # DuckDB's 0/0 cosine is NULL and never passes the threshold; the
    # per-cell numpy pass yields NaN, which the >= filter drops
    df = q102(spark, str(tmp_path))
    assert compare(df, _Q102_SEMDEDUP_SQL, str(tmp_path), "q102") == []

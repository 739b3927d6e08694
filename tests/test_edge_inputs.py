"""Inputs the fixtures lack, checked against the DuckDB oracle on a
hand-built table: an empty ``events`` table (q196) and zero-norm
embedding vectors (q102 and the exact-cosine queries)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from osm_changesets_to_parquet_spark import queries as Q
from tests.oracle_utils import compare

Q.load_all_modules()

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


# vec 0 is q36/q165's query vector and the first fixed-k anchor draw,
# so the zero rows reach every side of these queries.  q135 and q146
# are left out: they refuse an uncalibrated fixture dir by design.
@pytest.mark.parametrize(
    "name",
    [
        "q102_semdedup",
        "q36_cosine_topk",
        "q121_ndcg_eval",
        "q132_contrastive_mining",
        "q165_mmr_rerank",
        "q179_knn_label_audit",
        "q195_negative_sampling",
        "e46_embedding_neardup",
    ],
)
def test_zero_norm_vectors_match_oracle(spark, sf_dir, tmp_path, name):
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.column("embedding")[0].as_py())
    zero = pa.array([[0.0] * dim] * _ZERO_NORM_IDS, emb.schema.field("embedding").type)
    vecs = pa.concat_arrays(
        [zero, emb.column("embedding").combine_chunks()[_ZERO_NORM_IDS:]]
    )
    emb = emb.set_column(emb.schema.get_field_index("embedding"), "embedding", vecs)
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    # a zero vector's cosine is NULL on both sides (DuckDB's 0/0, the
    # engine's try_divide; q102's per-cell numpy pass yields NaN, which
    # its >= filter drops): it never passes a threshold, ranks after
    # every defined sim, and is neither a positive nor a negative
    spec = Q.REGISTRY[name]
    df = spec.fn(spark, str(tmp_path))
    assert compare(df, spec.oracle, str(tmp_path), name) == []

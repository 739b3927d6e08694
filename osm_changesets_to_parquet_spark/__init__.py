"""PySpark-native analytics engine with the capabilities of
mvexel/osm-changesets-to-parquet (reference: /root/reference, read-only).

The reference is a single-file Rust CLI that converts the OSM planet
changeset XML dump to a queryable Parquet file and delegates querying to
an OLAP engine (reference: .github/workflows/process-changesets-r2.yml:198,207).
This package internalizes both halves, Spark-first:

- ``sources.changesets``  — the XML -> Parquet conversion pipeline
  (reference: src/main.rs:410-456), expressed as declarative DataFrame
  transforms over a split text scan parsed with ``from_xml``.
- ``queries``             — the declared relational query surface
  (SURVEY.md §2.B), each entry hash-checked against a DuckDB oracle.
- ``operators``           — library operators Spark lacks natively:
  as-of join, dedup (exact/MinHash-LSH/SimHash/Jaccard), similarity
  search, text analysis, multimodal column plumbing.
- ``streaming``           — Structured Streaming jobs (windowed aggs,
  watermarks, streaming dedup, custom stateful ops).

Everything here is public-API PySpark; no code is copied from the
reference (it is Rust; this is a ground-up Spark design).
"""

from osm_changesets_to_parquet_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"

"""Conversion-pipeline queries CS0-CS2 (SURVEY §2.B — the reference's own
surface: src/main.rs:410-456).

The driver's oracle runs DuckDB over the testdata tables, which carry no
XML — so these queries convert a *deterministic fixture* (written to a
temp dir at call time) and the oracle is the literal expected output
(a VALUES table).  That is exactly the reference's own verification
style generalized: it smoke-checks its output with a DuckDB COUNT(*)
(scripts/manage-r2.sh:150-151); we check full content.

Timestamps are emitted as epoch-ms BIGINT (the reference's physical
encoding, Timestamp(Millisecond), src/main.rs:392-397) so value
canonicalization cannot diverge between engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.queries import register
from osm_changesets_to_parquet_spark.sources import fixtures
from osm_changesets_to_parquet_spark.sources.changesets import (
    convert,
    read_changesets_xml,
)


def _as_ms_rows(df: DataFrame) -> DataFrame:
    return df.select(
        "id",
        F.unix_millis("created_at").alias("created_ms"),
        F.unix_millis("closed_at").alias("closed_ms"),
        "open",
        F.col("user").alias("osm_user"),
        "uid",
        "min_lat",
        "min_lon",
        "max_lat",
        "max_lon",
        "num_changes",
        "comments_count",
        "description",
    ).orderBy("id")


@register(
    "cs0_xml_to_parquet",
    fixtures.expected_values_sql(),
    doc=(
        "full XML->Parquet conversion of the edge-case fixture; round-trips "
        "through a real Snappy parquet write + read, compared against the "
        "declared expected rows"
    ),
)
def cs0(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = fixtures.write_fixture()
    out = os.path.join(tempfile.gettempdir(), "osm_changeset_fixtures", "cs0_out.parquet")
    convert(spark, xml, out)
    return _as_ms_rows(spark.read.parquet(out))


@register(
    "cs1_count",
    f"SELECT CAST({len(fixtures.EXPECTED_ROWS)} AS BIGINT) AS cnt",
    doc="the reference's own smoke query: COUNT(*) over the produced parquet "
    "(scripts/manage-r2.sh:151)",
)
def cs1(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = fixtures.write_fixture()
    out = os.path.join(tempfile.gettempdir(), "osm_changeset_fixtures", "cs1_out.parquet")
    convert(spark, xml, out)
    return spark.read.parquet(out).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "cs2_error_tolerant",
    """
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), CAST(1704067200000 AS BIGINT), FALSE, CAST(5 AS BIGINT)),
      (CAST(2 AS BIGINT), CAST(NULL AS BIGINT), TRUE, CAST(1 AS BIGINT))
    ) AS t(id, created_ms, open, num_changes)
    ORDER BY id
    """,
    doc=(
        "continue-on-error over a truncated dump salvages exactly the rows "
        "before the error point (reference src/main.rs:344-363; here: "
        "PERMISSIVE mode + corrupt-record filter)"
    ),
)
def cs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = fixtures.write_malformed_fixture()
    df = read_changesets_xml(spark, xml, continue_on_error=True)
    return df.select(
        "id",
        F.unix_millis("created_at").alias("created_ms"),
        "open",
        "num_changes",
    ).orderBy("id")


@register(
    "cs13_parse_diagnostics",
    f"""
    SELECT CAST({fixtures.MIDFILE_CORRUPT_POSITION} AS BIGINT) AS position,
           CAST(2 AS BIGINT) AS rows_parsed,
           CAST(2 AS BIGINT) AS last_changeset_id,
           TRUE AS has_error_detail,
           TRUE AS has_head_snippet,
           TRUE AS has_tail_snippet
    """,
    doc=(
        "parse-error DIAGNOSTICS parity (reference src/main.rs:344-363: "
        "on a parse failure it prints byte position, changesets "
        "processed, last changeset id, the error, and 500-byte buffer "
        "head/tail snippets): a mid-file corrupt element is read "
        "through the strict osm_changesets Python DataSource, the task "
        "failure carries a ChangesetParseError whose rendered report "
        "survives Spark's driver-side stringification, and the fields "
        "are extracted from the surfaced message — proving a user "
        "debugging a corrupt planet dump sees position + progress + "
        "bounded context, not an opaque zero-rows error"
    ),
)
def cs13(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re

    from osm_changesets_to_parquet_spark.sources import changesets_pyds

    changesets_pyds.register(spark)
    xml = fixtures.write_midfile_corrupt_fixture()
    df = (
        spark.read.format("osm_changesets")
        .option("path", xml)
        .option("partitions", "1")
        .load()
    )
    try:
        df.collect()  # a 5-element fixture; the task MUST fail at #3
    except Exception as e:  # noqa: BLE001 — Spark wraps the task error
        msg = str(e)
    else:
        # outside the except handler so this HARD-fails the query
        # instead of degrading into the field-extraction path (ADVICE r07)
        raise AssertionError("corrupt fixture unexpectedly parsed clean")
    pos = re.search(r"Position: (\d+)", msg)
    proc = re.search(r"Changesets processed \(this task\): (\d+)", msg)
    last = re.search(r"Last changeset ID: (\d+)", msg)
    return spark.createDataFrame(
        [
            (
                int(pos.group(1)) if pos else -1,
                int(proc.group(1)) if proc else -1,
                int(last.group(1)) if last else -1,
                "not well-formed" in msg,
                "Buffer content at error (first 500 bytes):" in msg,
                "Buffer content at error (last 500 bytes):" in msg,
            )
        ],
        "position long, rows_parsed long, last_changeset_id long, "
        "has_error_detail boolean, has_head_snippet boolean, "
        "has_tail_snippet boolean",
    )


@register(
    "cs14_single_file_publish",
    fixtures.expected_values_sql(),
    doc=(
        "single-FILE output parity (reference src/main.rs:416-425 "
        "writes exactly one changesets.parquet file; Spark writes a "
        "directory): convert -> operators/layout.py "
        "publish_single_file (coalesce(1) rewrite + Hadoop-FS rename "
        "of the lone part onto the destination) -> verify the "
        "published path is ONE plain .parquet file -> read it back "
        "and hash-match the full expected rows; pipeline.py "
        "--single-file drives the same path end-to-end"
    ),
)
def cs14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.operators.layout import (
        publish_single_file,
    )

    xml = fixtures.write_fixture()
    work = os.path.join(tempfile.gettempdir(), "osm_changeset_fixtures")
    out_dir = os.path.join(work, "cs14_out_dir.parquet")
    dest = os.path.join(work, "cs14_changesets.parquet")
    convert(spark, xml, out_dir)
    size = publish_single_file(spark, out_dir, dest)
    assert os.path.isfile(dest) and os.path.getsize(dest) == size
    return _as_ms_rows(spark.read.parquet(dest))


@register(
    "cs3_bz2_multistream",
    fixtures.expected_values_sql(),
    doc=(
        "identical conversion from a two-stream .bz2 (the planet dump is "
        "multi-stream; reference src/main.rs:431-433 — Hadoop BZip2Codec "
        "decodes concatenated streams and is splittable on top)"
    ),
)
def cs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    bz = fixtures.write_fixture_bz2_multistream()
    return _as_ms_rows(read_changesets_xml(spark, bz))


@register(
    "cs7_fallback_xml",
    fixtures.expected_values_sql(),
    doc=(
        "identical conversion through the no-from_xml fallback "
        "(lineSep-framed text scan + Arrow-batched ElementTree parse, "
        "sources/changesets_fallback.py) — proves the engine runs on "
        "Spark deployments without the JVM XML parser"
    ),
)
def cs7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
        read_changesets_xml_fallback,
    )

    xml = fixtures.write_fixture()
    return _as_ms_rows(read_changesets_xml_fallback(spark, xml))


_CS9_LM = "2024-06-01T00:00:00Z"
_CS9_URL_BASE = "https://example.com/data"


@register(
    "cs9_pipeline_roundtrip",
    f"""
    SELECT 'cs9_out.parquet' AS dataset,
           '{_CS9_URL_BASE}/cs9_out.parquet' AS url,
           CAST({len(fixtures.EXPECTED_ROWS)} AS BIGINT) AS rows_indexed,
           CAST({len(fixtures.EXPECTED_ROWS)} AS BIGINT) AS rows_read,
           'SELECT COUNT(*) FROM ''{_CS9_URL_BASE}/cs9_out.parquet''' AS example_query,
           TRUE AS second_run_skipped,
           '{_CS9_LM}' AS watermark
    """,
    doc=(
        "A14 orchestration end-to-end: pipeline.main() run TWICE with the "
        "same --source-last-modified — the first run converts, publishes "
        "index.json (size/url/rows metadata, the vendor-neutral analog of "
        "the reference workflow's index step) and commits the watermark "
        "file; the second run must SKIP (the workflow's Last-Modified "
        "incremental trigger, reference "
        ".github/workflows/process-changesets-r2.yml:35-65).  The result "
        "row binds index metadata, re-read row count, the skip verdict "
        "and the committed watermark into one hash-checked contract"
    ),
)
def cs9(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import shutil

    from osm_changesets_to_parquet_spark import pipeline as P

    work = os.path.join(tempfile.gettempdir(), "osm_changeset_fixtures", "cs9")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    xml = fixtures.write_fixture()
    out = os.path.join(work, "cs9_out.parquet")
    wm = os.path.join(work, "watermark.txt")
    idx = os.path.join(work, "index.json")
    args = [
        "--input", xml,
        "--output", out,
        "--watermark-file", wm,
        "--source-last-modified", _CS9_LM,
        "--publish-index",
        "--public-url-base", _CS9_URL_BASE,
    ]
    rc1 = P.main(args, spark=spark)
    assert rc1 == 0
    index = json.loads(open(idx).read())
    rows_read = spark.read.parquet(out).count()
    # second run, same Last-Modified: must skip before converting — if it
    # re-ran, index.json (removed here) would reappear
    os.remove(idx)
    rc2 = P.main(args, spark=spark)
    assert rc2 == 0
    row = (
        index["dataset"],
        index["url"],
        int(index["rows"]),
        int(rows_read),
        index["example_query"],
        not os.path.exists(idx),
        open(wm).read().strip(),
    )
    return spark.createDataFrame(
        [row],
        "dataset string, url string, rows_indexed long, rows_read long, "
        "example_query string, second_run_skipped boolean, watermark string",
    )


# --- CS10: downstream geo query over converted changesets (round 5) --------

# The reference's published parquet is QUERIED by bbox — "changesets
# touching my region" is the canonical downstream question for OSM
# changeset data (the reference delegates it to DuckDB over the R2
# parquet; scripts/manage-r2.sh:151 is the smoke-query form).  Query
# bbox + 16x16 world grid; every coordinate in the fixture is an exact
# multiple of 0.25 so the cell/area float math is engine-identical.
_CS10_QUERY = {"min_lat": -40.0, "max_lat": 40.0, "min_lon": -60.0, "max_lon": 90.0}


def _cs10_values() -> str:
    rows = ",\n      ".join(
        f"(CAST({i} AS BIGINT), '{u}', CAST({mnlat!r} AS DOUBLE), "
        f"CAST({mnlon!r} AS DOUBLE), CAST({mxlat!r} AS DOUBLE), CAST({mxlon!r} AS DOUBLE))"
        for i, u, mnlat, mnlon, mxlat, mxlon in fixtures.geo_rows()
    )
    return rows


_CS10_SQL = f"""
WITH cs(id, osm_user, min_lat, min_lon, max_lat, max_lon) AS (VALUES
      {_cs10_values()}
),
hit AS (
  SELECT * FROM cs
  WHERE NOT (max_lat < {_CS10_QUERY["min_lat"]} OR min_lat > {_CS10_QUERY["max_lat"]}
          OR max_lon < {_CS10_QUERY["min_lon"]} OR min_lon > {_CS10_QUERY["max_lon"]})
)
SELECT id, osm_user,
       CAST(FLOOR(((min_lat + max_lat) / 2 + 90) / 11.25) * 16
            + FLOOR(((min_lon + max_lon) / 2 + 180) / 22.5) AS BIGINT) AS cell,
       ROUND((max_lat - min_lat) * (max_lon - min_lon), 4) AS area
FROM hit ORDER BY id
"""


@register(
    "cs10_bbox_cells",
    _CS10_SQL,
    doc=(
        "downstream geo query over converted changesets — the canonical "
        "consumer question for the reference's published parquet "
        "('changesets touching my region'): XML -> typed bbox columns "
        "-> bbox-intersection filter (a pushable conjunction of range "
        "predicates — at scale this is partition/row-group pruning on "
        "the bbox min/max stats) -> 16x16 world-grid cell id + bbox "
        "area.  The oracle recomputes the same float arithmetic from "
        "the declared raw coordinates, so the conversion AND the geo "
        "math are both hash-checked"
    ),
)
def cs10(spark: SparkSession, sf_dir: str) -> DataFrame:
    xml = fixtures.write_geo_fixture()
    df = read_changesets_xml(spark, xml)
    q = _CS10_QUERY
    hit = df.where(
        ~(
            (F.col("max_lat") < q["min_lat"])
            | (F.col("min_lat") > q["max_lat"])
            | (F.col("max_lon") < q["min_lon"])
            | (F.col("min_lon") > q["max_lon"])
        )
    )
    clat = (F.col("min_lat") + F.col("max_lat")) / 2
    clon = (F.col("min_lon") + F.col("max_lon")) / 2
    cell = (
        F.floor((clat + F.lit(90.0)) / F.lit(11.25)) * 16
        + F.floor((clon + F.lit(180.0)) / F.lit(22.5))
    ).cast("long")
    area = F.round(
        (F.col("max_lat") - F.col("min_lat")) * (F.col("max_lon") - F.col("min_lon")), 4
    )
    return hit.select(
        "id",
        F.col("user").alias("osm_user"),
        cell.alias("cell"),
        area.alias("area"),
    ).orderBy("id")


@register(
    "cs11_python_datasource",
    fixtures.expected_values_sql(),
    doc=(
        "identical conversion through the Spark 4 PYTHON DATA SOURCE "
        "API (sources/changesets_pyds.py — spark.read.format("
        "'osm_changesets')): pluggable source with OUR split planning "
        "(partitions() plans byte ranges; each task owns the elements "
        "STARTING in its range and overflows past its end to complete "
        "the last one — the splittable-format frame-alignment "
        "contract), per-partition lazy ElementTree parse.  partitions=3 "
        "forces real split boundaries through the 4-row fixture"
    ),
)
def cs11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osm_changesets_to_parquet_spark.sources import changesets_pyds

    changesets_pyds.register(spark)
    xml = fixtures.write_fixture()
    df = (
        spark.read.format("osm_changesets")
        .option("path", xml)
        .option("partitions", "3")
        .load()
    )
    return _as_ms_rows(df)

"""OSM changeset XML -> DataFrame -> Parquet (the reference's pipeline,
Spark-first).

Reference behavior being reproduced (all in /root/reference/src/main.rs):
- streaming SAX scan over (optionally multi-stream bzip2) XML
  (:286-367, :431-440) -> a framed text scan plus ``from_xml`` per
  element (below); bz2 decode is Hadoop's BZip2Codec.
- 12 recognized attributes, everything else dropped (:207-221) ->
  explicit input schema (schema application = projection pushdown).
- ``description`` = value of the last <tag k="comment"> child (:240-247
  assignment semantics: last one wins).
- defaults for absent attributes: id=0, open=false, num_changes=0,
  comments_count=0; the other 9 columns null (:40-55).
- ``open`` is ``value == "true"`` — any other string is false (:211).
- fail-fast vs continue-on-error (:344-363) -> FAILFAST, or PERMISSIVE
  keeping only the rows before the first corrupt element.

Framing contract.  Spark's built-in ``xml`` source reads each file whole
in one task (``multiLine`` is its default), so it cannot spread one dump
over the cores.  Instead the text source reads the file with
``lineSep="<changeset"``: its line reader is splittable (bz2 included),
and a record belongs to the split it starts in, so every record is the
tail of exactly one element start tag, whatever the split size.
- The first record of a document is its prolog and holds the root
  ``<osm`` start tag; it is dropped.  No element can hold an unescaped
  ``<osm``, and the root's end tag ``</osm>`` does not match it.
- Every other record is parsed as ``"<changeset" + record`` by
  ``from_xml``, the same StaxXmlParser and options the ``xml`` source
  uses; the parser ignores what follows the element, e.g. the last
  record's ``</osm>``.
- The dump must not hold ``<changeset`` other than as a start tag, e.g.
  in a comment or CDATA section; OSM dumps escape ``<`` in all text.
- Whitespace before ``<?xml``, which the ``xml`` source rejects, is
  accepted.
- Salvage mode orders rows by (file, split start, row in split) and cuts
  at the first corrupt row: one extra aggregate over the scan.  Strict
  mode fails the task at the first corrupt element.

Scale design (100 TB planet-dump class inputs):
- ``convert`` lets Spark size the splits by bytes per core, so a small
  dump gets one split per core and a planet dump keeps its
  ``maxPartitionBytes`` splits; each task decodes and parses its slice —
  the reference's 1 MiB buffered single pass becomes N parallel passes.
- ``maxRecordsPerFile`` plays the reference's --batch-size role
  (:32-33) for output sizing; partition the output by day of
  ``created_at`` for partition-pruned downstream queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.schemas import (
    CHANGESET_SCHEMA,
    CHANGESET_XML_SCHEMA,
)

# the record separator of the framed scan; see the module docstring
_ELEMENT_START = "<changeset"


def read_changesets_xml(
    spark: SparkSession,
    path: str,
    continue_on_error: bool = False,
) -> DataFrame:
    """Read a changeset XML dump into the declared 13-column schema."""
    text = spark.read.option("lineSep", _ELEMENT_START).text(path)
    if continue_on_error:
        # document position of each record: splits are contiguous in file
        # order, and records within a split keep their order in its task
        text = text.withColumn(
            "_pos",
            F.struct(
                F.input_file_name(),
                F.input_file_block_start(),
                F.monotonically_increasing_id(),
            ),
        )
    element = F.from_xml(
        F.concat(F.lit(_ELEMENT_START), F.col("value")),
        CHANGESET_XML_SCHEMA,
        {
            # keep attribute values verbatim: quick_xml trims *text* nodes,
            # not attributes (src/main.rs:296-299 trim_text vs :240-247
            # stores v as-is) — Spark's default ignoreSurroundingSpaces=true
            # would turn <tag k="comment" v=" "/> into '' instead of ' '
            "ignoreSurroundingSpaces": "false",
            "mode": "PERMISSIVE" if continue_on_error else "FAILFAST",
            "columnNameOfCorruptRecord": "_corrupt_record",
        },
    )
    pos = ["_pos"] if continue_on_error else []
    raw = (
        text.where(~F.col("value").contains("<osm"))
        .select(element.alias("x"), *pos)
        .select("x.*", *pos)
    )
    if continue_on_error:
        # the reference stops at the first error (src/main.rs:344-363):
        # keep only the rows positioned before the first corrupt one
        first_error = raw.where(F.col("_corrupt_record").isNotNull()).agg(
            F.min("_pos").alias("_first_error")
        )
        raw = raw.crossJoin(first_error).where(
            F.col("_first_error").isNull() | (F.col("_pos") < F.col("_first_error"))
        )
    return _project(raw)


def _project(raw: DataFrame) -> DataFrame:
    """Attribute columns -> the reference's 13-column output schema."""
    # last <tag k="comment"> wins (src/main.rs:240-247); try_element_at:
    # ANSI mode errors on element_at(-1) over the empty (no-comment) array
    last_comment = F.try_element_at(
        F.filter(F.col("tag"), lambda t: t["_k"] == F.lit("comment")), F.lit(-1)
    )["_v"]
    out = raw.select(
        F.coalesce(F.col("_id"), F.lit(0).cast("long")).alias("id"),
        F.col("_created_at").alias("created_at"),
        F.col("_closed_at").alias("closed_at"),
        F.coalesce(F.col("_open") == "true", F.lit(False)).alias("open"),
        F.col("_user").alias("user"),
        F.col("_uid").alias("uid"),
        F.col("_min_lat").alias("min_lat"),
        F.col("_min_lon").alias("min_lon"),
        F.col("_max_lat").alias("max_lat"),
        F.col("_max_lon").alias("max_lon"),
        F.coalesce(F.col("_num_changes"), F.lit(0).cast("long")).alias("num_changes"),
        F.coalesce(F.col("_comments_count"), F.lit(0).cast("long")).alias(
            "comments_count"
        ),
        last_comment.alias("description"),
    )
    return out


def convert(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    batch_size: int = 100_000,
    continue_on_error: bool = False,
    partition_by_day: bool = False,
) -> int:
    """Full conversion: XML (possibly .bz2) -> Snappy Parquet.

    ``batch_size`` maps to ``maxRecordsPerFile`` (the reference flushes an
    Arrow RecordBatch every batch_size rows, src/main.rs:307-327; here it
    bounds output file size instead — the Spark-native meaning).
    Returns the row count (the reference prints the same, :453).
    """
    from pyspark.sql import Observation

    df = read_changesets_xml(spark, input_path, continue_on_error)
    obs = Observation("conversion")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if partition_by_day:
        observed = observed.withColumn(
            "created_day", F.to_date(F.col("created_at"))
        )
    writer = observed.write.mode("overwrite").option(
        "maxRecordsPerFile", max(batch_size, 1)
    )
    if partition_by_day:
        writer = writer.partitionBy("created_day")
    # openCost 1 byte: Spark then splits at min(maxPartitionBytes, input
    # bytes / parallelism), so a dump below the default 4 MB x cores still
    # gets one split per core; 1, not 0, keeps the split size positive for
    # an input of fewer bytes than cores
    conf = spark.conf
    prev = conf.get("spark.sql.files.openCostInBytes")
    conf.set("spark.sql.files.openCostInBytes", "1")
    try:
        writer.parquet(output_path, compression="snappy")
    finally:
        conf.set("spark.sql.files.openCostInBytes", prev)
    # row count from the write's own scan (src/main.rs:453 prints the same
    # total) — no second read of the output at planet scale.
    return int(obs.get["rows"])


def validate_schema(df: DataFrame) -> None:
    """Assert the output matches the declared schema (names + types)."""
    expected = [(f.name, f.dataType.simpleString()) for f in CHANGESET_SCHEMA.fields]
    actual = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    if expected != actual:
        raise ValueError(f"schema drift: expected {expected}, got {actual}")

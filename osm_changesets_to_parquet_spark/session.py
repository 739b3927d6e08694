"""SparkSession factory with the engine's scale-oriented defaults.

Design notes (100 TB target, tested on local[32]):

- ``spark.sql.session.timeZone=UTC``: the reference parses RFC3339
  timestamps to epoch-millis UTC (reference: src/main.rs:193-197); pinning
  the session TZ makes Spark's TimestampType semantics match, and makes
  DuckDB-oracle comparisons deterministic (SURVEY.md §2.B determinism
  rule 4).
- AQE on (coalesce partitions + skew join): at 100 TB the static
  shuffle-partition count is always wrong for some stage; AQE re-plans
  from runtime statistics and splits skewed partitions (OSM `user` is
  heavily skewed — a handful of power users/imports dominate).
- ``spark.sql.legacy.parquet.nanosAsLong=true``: defensive — a fixture
  generation whose ``events.parquet`` carries TIMESTAMP(NANOS) (which
  Spark cannot read natively) loads as epoch-nanos long and catalog.py
  converts.  The current driver fixtures are TIMESTAMP(MICROS)
  (verified round 10, ADVICE r09), for which this conf is a no-op;
  either way every declared query compares on integer epoch-micros, so
  unit truncation can never flip a comparison.
- shuffle partitions default to the local core count; on a real cluster
  leave it high (AQE coalesces down cheaply, but cannot split a
  too-coarse non-skewed partitioning).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_SHIP_MARKER = "spark.osm_changesets.pkg_shipped"

# engine defaults that can also be set on a running session
# (``configure_existing``); ``get_spark`` adds its static confs
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers via addPyFile.

    Pandas-UDF / applyInPandas closures defined in these modules pickle
    BY REFERENCE (import path), so workers must be able to import
    ``osm_changesets_to_parquet_spark`` — which fails whenever the
    driver process was launched outside the repo (the external driver
    does exactly that).  On a real cluster this is exactly how the
    engine ships too: one small zip on the Spark file server, no
    executor-side install.
    """
    try:
        if spark.conf.get(_SHIP_MARKER, "") == "true":
            return
    except Exception:
        pass
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zdir = tempfile.mkdtemp(prefix="osm_pkg_")
    zpath = os.path.join(zdir, "osm_changesets_to_parquet_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(_SHIP_MARKER, "true")


def get_spark(
    app_name: str = "osm-changesets-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = {
        **_RUNTIME_CONF,
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.parquet.compression.codec": "snappy",
        # reliable checkpoints (iterutils.truncate_lineage) are deleted
        # once their RDD is GC'd — without this, every iteration of a
        # checkpointed loop (connected components, PageRank) retains a
        # full dataset copy in the checkpoint dir for the app lifetime
        "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
        # local-mode friendliness; harmless on a cluster
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to a session we did not build
    (the driver hands us one in ``__spark_entry__.entry``)."""
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on a started session — best effort
            pass
    ship_package(spark)
    return spark

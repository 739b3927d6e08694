"""Table catalog for the driver-provided synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
``/root/testdata/sf{0.001,0.01,0.1}``.

Scale notes:
- Loads are ``spark.read.parquet`` scans; predicate pushdown and column
  pruning flow into the scan for free.  The schema is read from the
  file's footer once per SparkContext and table file (one Spark job,
  ``mergeSchemasInParallel``); every later load of that file passes the
  remembered schema and starts no job.  Each load is still a fresh
  relation with fresh attribute ids and a fresh file listing.
- ``events.ts``: ``load_table`` normalizes BOTH timestamp encodings a
  fixture generation may carry.  TIMESTAMP(NANOS) parquet (unreadable
  by Spark's vectorized reader) loads via
  ``spark.sql.legacy.parquet.nanosAsLong`` as epoch-nanos long and is
  truncated to micros; the current driver fixtures are INT64
  TIMESTAMP(MICROS, isAdjustedToUTC=false) (verified via
  parquet_schema in round 10, ADVICE r09), for which nanosAsLong is a
  no-op and the NTZ column is cast to instant TIMESTAMP under the
  UTC-pinned session tz.  Either way the queries get a TimestampType
  ``ts`` plus ``ts_us`` (epoch micros, long); every time comparison in
  the declared queries is over integer ``ts_us`` so Spark and the
  DuckDB oracle can never disagree on a boundary (SURVEY.md §2.B
  determinism rule 4).
- Derived stores (an ANN or LSH index, an aggregate state, a clustered
  layout, a partitioned fact, a stream replay) are built once per
  source table by ``table_store`` and probed by every later call.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def _file_identity(path: str) -> str:
    """The file's resolved path, size and mtime: a rewrite in place, or
    another file under the same name, gives another identity."""
    src = os.path.realpath(path)
    st = os.stat(src)
    return f"{src}:{st.st_size}:{st.st_mtime_ns}"


# (applicationId, file identity) -> the schema Spark inferred for it
_SCHEMAS: dict[tuple[str, str], StructType] = {}


def _read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark
    job reading the footer) only on the first read of the file in this
    SparkContext, and hands it to every later read, which starts no
    job."""
    key = (spark.sparkContext.applicationId, _file_identity(path))
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table, normalizing the events timestamp."""
    path = _table_path(sf_dir, name)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_table(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet + nanosAsLong: epoch-nanos long ->
            # micros timestamp; keep integer micros too.
            df = df.withColumn("ts_us", F.expr("ts div 1000")).withColumn(
                "ts", F.timestamp_micros(F.col("ts_us"))
            )
        else:
            # TIMESTAMP(MICROS) parquet arrives as TIMESTAMP_NTZ (naive)
            # or TIMESTAMP depending on isAdjustedToUTC.  Session tz is
            # pinned UTC, so casting NTZ -> TIMESTAMP preserves the
            # instant; unix_micros then gives the shared integer domain.
            if ts_type == "timestamp_ntz":
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            df = df.withColumn("ts_us", F.unix_micros("ts"))
        return df
    return _read_table(spark, path)


def table_store(
    sf_dir: str, table: str, name: str, build: Callable[[str], None]
) -> str:
    """Return the dir of store ``name`` derived from ``sf_dir``'s
    ``table``, first filling it with ``build(dir)`` unless an earlier
    run finished it.

    The dir is keyed on the table file's resolved path, size and mtime,
    so two fixture dirs that share a name, or a table rewritten in
    place, never share a store.  The ready marker is written only after
    ``build`` returns and outlives the process: a torn build is redone
    from an empty dir, a finished one is reused by every later run.
    """
    key = hashlib.sha1(_file_identity(_table_path(sf_dir, table)).encode()).hexdigest()
    store = os.path.join(
        tempfile.gettempdir(),
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}_{key[:12]}",
    )
    done = os.path.join(store, "_READY")
    if not os.path.exists(done):
        shutil.rmtree(store, ignore_errors=True)
        os.makedirs(store)
        build(store)
        open(done, "w").close()
    return store


# Per-call output dirs (stream checkpoints and sinks, merge outputs) are
# read lazily by the DataFrame a query returns, so they cannot be
# deleted when the call ends; temp_dir registers each for process-exit
# cleanup so repeated runs do not accumulate temp-dir residue.
_TEMP_DIRS: list[str] = []


@atexit.register
def _cleanup_temp_dirs() -> None:
    for d in _TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def temp_dir(prefix: str) -> str:
    """A fresh temp dir, removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


def fan_out(df: DataFrame, by: str | None = None) -> DataFrame:
    """Spread a narrow scan across the session's cores before EXPENSIVE
    per-row work (guide §2.5: unsplittable input -> repartition right
    after the read).

    Spark parallelizes a scan by file splits; a parquet file is further
    splittable only at row-group boundaries.  The driver fixtures are
    one file x ONE row group per table, so every scan stage is exactly
    one task and any per-row compute fused into it (n-gram builds,
    hash kernels, explodes feeding partial aggregates) runs on 1 of N
    cores.  Measured at sf0.1: the q136 gram build drops 2.66 -> 0.72 s
    when fanned to 32 partitions.

    Scale-adaptive, not a local[32] constant: the target is
    ``defaultParallelism`` (the session's core count — shrinks with the
    driver's low-core bench runs) and the repartition is SKIPPED when
    the frame already has at least half that many partitions, which is
    every real multi-file/multi-row-group table at cluster scale — so
    the exchange exists exactly where the input is unsplittable and
    the work would otherwise serialize.  Callers pass ``by`` (an id
    column) for a deterministic hash partitioning; round-robin
    otherwise (deterministic via Spark's sort-before-repartition).

    Only call where per-row work dominates the scan: for cheap
    codegen'd scans the exchange costs more than the serial stage.
    """
    spark = df.sparkSession
    want = spark.sparkContext.defaultParallelism
    have = df.rdd.getNumPartitions()
    if 2 * have >= want:
        return df
    return df.repartition(want, F.col(by)) if by else df.repartition(want)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the spark.sql surface)."""
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

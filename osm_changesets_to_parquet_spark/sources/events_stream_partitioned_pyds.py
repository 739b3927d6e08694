"""Events replay as a PARTITION-PLANNED Spark 4 Python streaming source.

The firehose-path twin of ``events_stream_pyds`` (the r5 `weak`): that
module's ``SimpleDataSourceStreamReader`` funnels every replayed row
through the DRIVER by API construction; this one implements the full
``DataSourceStreamReader`` so the driver plans only OFFSETS and
PARTITIONS (chunk-index metadata) while the row data is read by
EXECUTORS — the streaming analog of cs11's byte-range ``partitions()``
planner (changesets_pyds.py).

Plan shape per micro-batch:
- ``latestOffset`` advances one replay chunk per trigger, so batch
  boundaries stay exactly the replay protocol's file boundaries (the
  determinism every s-series oracle hash depends on);
- ``partitions(start, end)`` maps each chunk in ``[start, end)`` to one
  ``InputPartition`` PER PARQUET ROW GROUP — the parquet parallelism
  unit — planned from footer metadata only (no data bytes touch the
  driver);
- ``read(partition)`` runs on an executor and decodes just its row
  group via pyarrow.

At 100 TB this is the correct division of labor: driver state is
O(chunks) integers; each executor task streams one row group off
shared storage.  ``tests/test_round6_ops.py`` pins both properties —
multi-partition batches and a driver that never materializes rows.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from osm_changesets_to_parquet_spark.sources.events_stream_pyds import (
    _COLS,
    EVENTS_ARROW_SCHEMA,
    EVENTS_DDL,
    _chunk_files,
)


class EventsReplayPartitionedStreamSource(DataSource):
    """``spark.readStream.format("events_replay_partitioned")`` —
    options: ``path`` (a prepare_replay_dir-style directory of
    NNN.parquet chunk files)."""

    @classmethod
    def name(cls) -> str:
        return "events_replay_partitioned"

    def schema(self) -> str:
        return EVENTS_DDL

    def streamReader(self, schema) -> "EventsReplayPartitionedStreamReader":
        return EventsReplayPartitionedStreamReader(self.options)


class EventsReplayPartitionedStreamReader(DataSourceStreamReader):
    """Offset contract (shared with the simple reader): ``{"i": N}`` =
    "chunks [0, N) consumed".  One chunk per ``latestOffset`` call =
    one chunk per micro-batch; a drained replay parks at the chunk
    count (no new offset => Spark plans no batch)."""

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_replay_partitioned: the 'path' option is required")
        self.path = path

    def initialOffset(self) -> dict:
        return {"i": 0}

    def latestOffset(self) -> dict:
        # advance one immutable chunk per trigger; self._latest tracks
        # what this reader instance has already offered so a replay
        # drains chunk-by-chunk even though all files pre-exist
        n = len(_chunk_files(self.path))
        cur = getattr(self, "_latest", 0)
        nxt = min(cur + 1, n)
        self._latest = nxt
        return {"i": nxt}

    def partitions(self, start: dict, end: dict):
        # metadata-only planning: one InputPartition per (chunk file,
        # row group); pyarrow reads just the footer here
        import pyarrow.parquet as pq

        files = _chunk_files(self.path)
        parts = []
        for i in range(int(start["i"]), min(int(end["i"]), len(files))):
            path = files[i]
            for rg in range(pq.ParquetFile(path).metadata.num_row_groups):
                parts.append(InputPartition((path, rg)))
        # Spark requires at least one partition per planned batch
        return parts or [InputPartition((None, 0))]

    def read(self, partition):
        # executor-side: decode exactly one row group and hand it to
        # Spark as ARROW RECORD BATCHES (supported return type of the
        # Python DataSource read API) — the row-tuple spelling
        # (`to_pylist` + `zip`) materialized and pickled every row
        # through Python objects, guide §4's row-at-a-time tax; the
        # batch stays columnar end-to-end.
        import pyarrow.parquet as pq

        path, rg = partition.value
        if path is None:
            return
        t = pq.ParquetFile(path).read_row_group(rg, columns=_COLS)
        yield from t.select(_COLS).cast(EVENTS_ARROW_SCHEMA).to_batches()

    def commit(self, end: dict) -> None:
        pass  # chunk files are immutable; nothing to release


def register(spark) -> None:
    """Idempotent registration (pickle-by-value: the executor workers
    and the driver-side planner need no repo on sys.path)."""
    import sys

    from pyspark import cloudpickle

    from osm_changesets_to_parquet_spark.sources import events_stream_pyds

    for mod in (sys.modules[__name__], events_stream_pyds):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(EventsReplayPartitionedStreamSource)

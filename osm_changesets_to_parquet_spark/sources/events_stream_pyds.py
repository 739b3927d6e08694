"""Events replay as a Spark 4 PYTHON STREAMING data source.

The streaming half of the Python DataSource API (cs11 is the batch
half): ``spark.readStream.format("events_replay")`` replays the
deterministic K-file event chunks (streaming/jobs.prepare_replay_dir)
one chunk per micro-batch through a ``SimpleDataSourceStreamReader`` —
offsets are chunk indices, so batch boundaries are exactly the replay
protocol's file boundaries and the whole pipeline downstream sees the
same deterministic micro-batch sequence as the file source.

Honest scale note: the *simple* stream reader hands rows to Spark on
the DRIVER (the API distributes them afterwards) — right for control-
plane-sized streams and for witnessing the API, wrong for a firehose;
the partition-planning ``streamReader``/``DataSourceStreamReader`` API
is the 100 TB path (per-partition reads like cs11's batch planner).
The replay chunks here are fixture-sized by construction.

Offset contract: ``{"i": N}`` = "chunks [0, N) consumed".  ``read``
returns one chunk per call and parks at the end (same offset, no rows)
— with ``Trigger.AvailableNow`` Spark drains exactly the chunks present
at start and terminates.  ``readBetweenOffsets`` replays any window for
recovery, which is exact because chunk files are immutable.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

EVENTS_DDL = (
    "event_id bigint, user_id bigint, event_type string, value double, ts_us bigint"
)
# the same columns as Arrow types: every events reader casts its batches
# to this so the Arrow schema Spark receives matches EVENTS_DDL exactly
EVENTS_ARROW_SCHEMA = pa.schema(
    [
        pa.field("event_id", pa.int64()),
        pa.field("user_id", pa.int64()),
        pa.field("event_type", pa.string()),
        pa.field("value", pa.float64()),
        pa.field("ts_us", pa.int64()),
    ]
)
_COLS = EVENTS_ARROW_SCHEMA.names


def _chunk_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def _read_chunk(path: str):
    # hand the chunk over as ARROW RECORD BATCHES (the Python DataSource
    # read API accepts them from stream readers; the s13 partitioned
    # source took the same turn) — the old `to_pylist` + `zip` spelling
    # materialized and pickled every row through Python objects, the
    # guide §4 row-at-a-time tax, here paid on the DRIVER (the simple
    # reader's documented control-plane trade-off).
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=_COLS).cast(EVENTS_ARROW_SCHEMA).to_batches()


class EventsReplayStreamSource(DataSource):
    """``spark.readStream.format("events_replay")`` — options:
    ``path`` (a prepare_replay_dir-style directory of NNN.parquet)."""

    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return EVENTS_DDL

    def simpleStreamReader(self, schema) -> "EventsReplayStreamReader":
        return EventsReplayStreamReader(self.options)


class EventsReplayStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_replay: the 'path' option is required")
        self.path = path

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        files = _chunk_files(self.path)
        i = int(start["i"])
        if i >= len(files):
            return iter([]), start
        return iter(_read_chunk(files[i])), {"i": i + 1}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = _chunk_files(self.path)
        rows: list = []
        for i in range(int(start["i"]), min(int(end["i"]), len(files))):
            rows.extend(_read_chunk(files[i]))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # chunk files are immutable; nothing to release


def register(spark) -> None:
    """Idempotent registration (pickle-by-value: workers and the
    driver-side stream-reader process need no repo on sys.path)."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(EventsReplayStreamSource)

"""Events chunk sink+source — the WRITE half of the Spark 4 Python
DataSource API (cs11 reads, s13 streams, this one WRITES).

``df.write.format("events_chunks").option("path", ...).save()`` writes
one parquet file per input partition on the EXECUTORS (Arrow batches
straight to pyarrow — rows never transit the driver), then the driver's
``commit()`` publishes a ``_MANIFEST.json`` naming exactly the files
this job produced with their row counts — this repo's own
atomic-visibility convention (tmp-write + os.replace; the reference
has no manifest — its single-file output IS its atomicity story):
readers honor the MANIFEST, not the directory listing, so a torn job
(no manifest) publishes nothing and stale files from an earlier
overwrite are invisible — atomic visibility without a rename dance.

A batch OVERWRITE additionally retracts any ``_MANIFEST-<batchId>.json``
manifests left by a previous streaming job at the same path (and a
streaming query's batch-0 commit retracts stale batch/stream manifests
from previous jobs): the reader unions every published manifest, so
stale ones from a superseded job would double-count rows (ADVICE r06).

The read path (``spark.read.format("events_chunks")``) plans one
InputPartition per manifested file; executors read them with pyarrow —
so a cs-style roundtrip exercises both halves of the contract.

Task retries are idempotent: a partition's file name is its partition
id, so a re-run overwrites the same file and the manifest keeps one
entry per partition.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

from osm_changesets_to_parquet_spark.sources.events_stream_pyds import (
    _COLS,
    EVENTS_ARROW_SCHEMA,
    EVENTS_DDL,
)

MANIFEST = "_MANIFEST.json"


class EventsChunkCommit(WriterCommitMessage):
    def __init__(self, file: str | None, rows: int) -> None:
        self.file = file
        self.rows = rows


class EventsChunkSink(DataSource):
    """``format("events_chunks")`` — options: ``path`` (directory)."""

    @classmethod
    def name(cls) -> str:
        return "events_chunks"

    def schema(self) -> str:
        return EVENTS_DDL

    def writer(self, schema, overwrite: bool) -> "EventsChunkWriter":
        return EventsChunkWriter(self.options, overwrite)

    def reader(self, schema) -> "EventsChunkReader":
        return EventsChunkReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "EventsChunkStreamWriter":
        return EventsChunkStreamWriter(self.options)


def _retract_stale_manifests(path: str, keep_batch: bool) -> None:
    """Remove manifests a superseding job must invalidate: every
    streaming ``_MANIFEST-<id>.json``, and (unless ``keep_batch``) the
    batch ``_MANIFEST.json`` — the reader unions all published
    manifests, so a stale one double-counts rows."""
    import glob as _glob

    stale = _glob.glob(os.path.join(path, "_MANIFEST-*.json"))
    if not keep_batch:
        stale.append(os.path.join(path, MANIFEST))
    for name in stale:
        try:
            os.unlink(name)
        except FileNotFoundError:
            pass  # already gone — retraction's goal is met
        except OSError:
            # a stale manifest that survives (e.g. permissions) makes
            # the union-of-manifests reader double-count — the exact
            # corruption retraction exists to prevent; fail the commit
            # loudly instead of publishing beside it (ADVICE r07)
            raise


class EventsChunkWriter(DataSourceArrowWriter):
    def __init__(self, options, overwrite: bool = True) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_chunks: the 'path' option is required")
        if not overwrite:
            # append would collide with a previous job's part-<pid>
            # names and require manifest merging — refuse loudly
            # rather than silently corrupt the manifest contract
            raise ValueError(
                "events_chunks: batch writes support mode('overwrite') only"
            )
        self.path = path

    def write(self, iterator) -> EventsChunkCommit:
        # executor-side: stream this partition's Arrow batches into one
        # parquet file; the partition id names the file (retry-idempotent)
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return EventsChunkCommit(None, 0)
        os.makedirs(self.path, exist_ok=True)
        t = pa.Table.from_batches(batches)
        fname = f"part-{pid:05d}.parquet"
        pq.write_table(t, os.path.join(self.path, fname))
        return EventsChunkCommit(fname, t.num_rows)

    def commit(self, messages) -> None:
        files = sorted(
            ({"file": m.file, "rows": m.rows} for m in messages if m and m.file),
            key=lambda e: e["file"],
        )
        os.makedirs(self.path, exist_ok=True)
        # an overwrite supersedes any previous STREAMING job at this
        # path: its per-batch manifests must not survive, or the
        # union-of-manifests reader double-counts (ADVICE r06)
        _retract_stale_manifests(self.path, keep_batch=True)
        tmp = os.path.join(self.path, MANIFEST + ".tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {"files": files, "total_rows": sum(e["rows"] for e in files)}, f
            )
        os.replace(tmp, os.path.join(self.path, MANIFEST))  # atomic publish

    def abort(self, messages) -> None:
        for m in messages or []:
            if m and m.file:
                try:
                    os.unlink(os.path.join(self.path, m.file))
                except OSError:
                    pass


class EventsChunkReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_chunks: the 'path' option is required")
        self.path = path

    def partitions(self):
        import glob as _glob

        names = sorted(
            _glob.glob(os.path.join(self.path, "_MANIFEST*"))
        )
        files: list[str] = []
        for name in names:
            if name.endswith(".tmp"):
                continue
            with open(name, encoding="utf-8") as f:
                manifest = json.load(f)
            files.extend(e["file"] for e in manifest["files"])
        return [
            InputPartition(os.path.join(self.path, e)) for e in sorted(files)
        ] or [InputPartition(None)]

    def read(self, partition):
        # yield ARROW RECORD BATCHES (supported by the Python DataSource
        # read API) instead of `to_pylist` + `zip` row tuples — the
        # guide §4 row-at-a-time tax the s12/s13 stream readers also
        # avoid
        import pyarrow.parquet as pq

        if partition.value is None:
            return
        t = pq.read_table(partition.value, columns=_COLS)
        yield from t.cast(EVENTS_ARROW_SCHEMA).to_batches()


def register(spark) -> None:
    """Idempotent registration (pickle-by-value for executor workers)."""
    import sys

    from pyspark import cloudpickle

    from osm_changesets_to_parquet_spark.sources import events_stream_pyds

    for mod in (sys.modules[__name__], events_stream_pyds):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(EventsChunkSink)


class EventsChunkStreamWriter(DataSourceStreamArrowWriter):
    """STREAMING write half (the fourth Python DataSource quadrant:
    cs11 batch read, s13 partition-planned stream read, cs12 batch
    write — this is ``writeStream.format("events_chunks")``).

    Executor-side ``write`` streams each micro-batch partition's rows
    into one parquet file named (epoch, partition) — retry-idempotent
    because a replayed task overwrites its own file; driver-side
    ``commit(messages, batchId)`` atomically publishes
    ``_MANIFEST-{batchId}.json`` naming that epoch's files, so readers
    (which union every published manifest) never see a torn epoch —
    exactly-once visibility on at-least-once execution, the same
    discipline as the batch writer's single manifest.
    """

    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("events_chunks: the 'path' option is required")
        self.path = path

    def write(self, iterator) -> EventsChunkCommit:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # the epoch id is a driver-side notion (commit receives it);
        # the attempt id uniquely names this task's file — a retried
        # task writes a NEW file and only the attempt whose message
        # reaches commit() is published, so orphans stay invisible
        attempt = ctx.taskAttemptId()
        # Arrow stream writer (DataSourceStreamArrowWriter): batches
        # arrive columnar — the old row path rebuilt every column with
        # a per-row getattr loop over pickled Rows (guide §4 tax)
        batches = [b for b in iterator if b.num_rows]
        if not batches:
            return EventsChunkCommit(None, 0)
        os.makedirs(self.path, exist_ok=True)
        t = pa.Table.from_batches(batches).select(_COLS)
        fname = f"stream-{attempt:012d}-part-{pid:05d}.parquet"
        pq.write_table(t, os.path.join(self.path, fname))
        return EventsChunkCommit(fname, t.num_rows)

    def commit(self, messages, batchId: int) -> None:
        files = sorted(
            ({"file": m.file, "rows": m.rows} for m in messages if m and m.file),
            key=lambda e: e["file"],
        )
        os.makedirs(self.path, exist_ok=True)
        if batchId == 0:
            # a FRESH streaming query supersedes whatever job used this
            # path before (batch manifest or another stream's batch
            # manifests) — a replayed batch 0 has no earlier own-batch
            # manifests, so retracting everything is always safe here
            _retract_stale_manifests(self.path, keep_batch=False)
        tmp = os.path.join(self.path, f"{MANIFEST}.{batchId}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {"batch": batchId, "files": files,
                 "total_rows": sum(e["rows"] for e in files)}, f
            )
        os.replace(tmp, os.path.join(self.path, f"_MANIFEST-{batchId}.json"))

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m and m.file:
                try:
                    os.unlink(os.path.join(self.path, m.file))
                except OSError:
                    pass

"""Changeset XML as a Spark 4 PYTHON DATA SOURCE (pyspark.sql.datasource).

The third ingest path, after the ``<changeset``-framed text scan parsed
by ``from_xml`` (sources/changesets.py) and the lineSep-framed text
fallback (sources/changesets_fallback.py): a first-class pluggable source —
``spark.read.format("osm_changesets").option("path", ...)`` — built on
the public Python DataSource API new in Spark 4.  What it demonstrates
beyond the fallback:

- SPLITTABLE planning under OUR control: ``partitions()`` plans N byte
  ranges over the file; each task owns the ``<changeset`` elements whose
  START offset falls in its range and reads up to ``OVERFLOW`` bytes
  past its end to complete the last element — the same frame-alignment
  contract every splittable text format implements (and the reason the
  reference can stream a 1 MiB buffer, src/main.rs:293-294).  Element
  starts are located in BYTES (the start tag is ASCII), so multi-byte
  UTF-8 sequences crossing a split boundary can never corrupt framing;
  each element decodes independently.
- per-partition lazy parse: ``read(partition)`` yields tuples straight
  from ElementTree — no driver materialization, no whole-file read on
  any single task.

Row semantics are shared verbatim with the fallback source
(_parse_element — reference parity documented there).  Plain XML only:
bz2 inputs ride the Hadoop-codec paths of the other two sources (a
byte-range split of a .bz2 stream is block-, not offset-, addressable).
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from osm_changesets_to_parquet_spark.schemas import CHANGESET_SCHEMA
from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
    _COLS,
    ChangesetParseError,
    _fragment_error,
    _parse_fragment,
)

# one element can never span more than this many bytes past a split
# boundary (the reference's contiguous-buffer bound, src/main.rs:293)
OVERFLOW = 1 << 20
_START = b"<changeset"


class ChangesetDataSource(DataSource):
    """``spark.read.format("osm_changesets")`` — options:
    ``path`` (required, plain XML), ``partitions`` (default 4),
    ``overflow`` (bytes one element may span past a split boundary,
    default 1 MiB; exceeding it FAILS the task — never silent loss)."""

    @classmethod
    def name(cls) -> str:
        return "osm_changesets"

    def schema(self):
        return CHANGESET_SCHEMA

    def reader(self, schema) -> "ChangesetXmlReader":
        return ChangesetXmlReader(self.options)


class ChangesetXmlReader(DataSourceReader):
    def __init__(self, options) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("osm_changesets: the 'path' option is required")
        self.path = path
        self.n_parts = int(options.get("partitions", 4))
        if self.n_parts < 1:
            raise ValueError("osm_changesets: partitions must be >= 1")
        self.overflow = int(options.get("overflow", OVERFLOW))
        if self.overflow < 1:
            raise ValueError("osm_changesets: overflow must be >= 1")

    def partitions(self):
        size = os.path.getsize(self.path)
        per = max(1, (size + self.n_parts - 1) // self.n_parts)
        return [
            InputPartition((lo, min(lo + per, size)))
            for lo in range(0, size, per)
        ]

    def read(self, partition):
        lo, hi = partition.value
        want = (hi - lo) + self.overflow
        with open(self.path, "rb") as f:
            f.seek(lo)
            buf = f.read(want)
        at_eof = len(buf) < want  # short read => the buffer holds the file tail
        # element starts whose absolute offset is in [lo, hi) belong to
        # this partition; the element's bytes run to the next start (or
        # buffer end), which the overflow read guarantees we hold —
        # and when it does NOT (an element spanning > overflow past the
        # boundary), the task FAILS below instead of silently dropping
        # or force-closing a truncated element
        starts = []
        pos = buf.find(_START)
        while pos != -1 and lo + pos < hi:
            starts.append(pos)
            pos = buf.find(_START, pos + 1)
        count = 0  # changesets yielded by THIS task so far
        last_id: int | None = None
        for i, s in enumerate(starts):
            if i + 1 < len(starts):
                nxt = starts[i + 1]
            elif pos != -1:
                nxt = pos
            else:
                nxt = len(buf)
            # strict parse (retry_close=False): byte-range fragments
            # always hold their full terminator, so a fragment that
            # only parses when force-closed is truncated — raising
            # beats a silently-partial row.  Only the buffer-tail
            # fragment can be cut mid-UTF-8-sequence; decode it
            # leniently so truncation surfaces as OUR error below,
            # not an opaque UnicodeDecodeError.
            tail_may_truncate = nxt == len(buf) and not at_eof
            frag = buf[s:nxt].decode(
                "utf-8", "replace" if tail_may_truncate else "strict"
            )
            rows = _parse_fragment(frag, retry_close=False)
            if not rows:
                # the reference's parse-error report (src/main.rs:
                # 344-363): position + progress + last id + bounded
                # buffer snippets — the first thing a user needs on a
                # corrupt planet dump, surfaced through the task error
                raise ChangesetParseError(
                    position=lo + s,
                    rows_parsed=count,
                    last_changeset_id=last_id,
                    error=(
                        f"{_fragment_error(frag)} — element parsed to "
                        f"zero rows: truncated (an element may span at "
                        f"most overflow={self.overflow} bytes past the "
                        f"split boundary at {hi}; raise the 'overflow' "
                        f"option or lower 'partitions') or malformed "
                        f"XML; refusing to drop it silently"
                    ),
                    fragment=frag,
                )
            for row in rows:
                count += 1
                last_id = row["id"]
                ts = row["created_at"]
                tc = row["closed_at"]
                yield (
                    row["id"],
                    ts.to_pydatetime() if ts is not None else None,
                    tc.to_pydatetime() if tc is not None else None,
                    row["open"],
                    row["user"],
                    row["uid"],
                    row["min_lat"],
                    row["min_lon"],
                    row["max_lat"],
                    row["max_lon"],
                    row["num_changes"],
                    row["comments_count"],
                    row["description"],
                )


assert list(CHANGESET_SCHEMA.fieldNames()) == _COLS  # tuple order contract


def register(spark) -> None:
    """Idempotent registration of the data source with a session.

    The class is CLOUDPICKLED to the Python worker that plans and reads
    the source; a worker process does not necessarily have this repo on
    its sys.path (it inherits the executor env, not the driver's
    sys.path edits), so the module chain the class closes over is
    registered for pickle-BY-VALUE — the bytes travel with the plan,
    exactly like a UDF defined in __main__.
    """
    import sys

    from pyspark import cloudpickle

    from osm_changesets_to_parquet_spark import schemas
    from osm_changesets_to_parquet_spark.sources import changesets_fallback

    for mod in (sys.modules[__name__], changesets_fallback, schemas):
        cloudpickle.register_pickle_by_value(mod)
    spark.dataSource.register(ChangesetDataSource)

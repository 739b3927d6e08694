"""Deterministic changeset-XML fixtures (FIXTURES.md §1).

The fixture document covers every edge case the reference's parser
defines (self-closing vs children, absent attributes -> defaults/nulls,
open="yes" -> false, last comment wins, skipped <discussion>, unknown
attributes, XML escapes, unicode, TZ offsets, u32 > i32 range).  The
expected output rows are declared next to it — they double as the
DuckDB VALUES oracle for CS0.
"""

from __future__ import annotations

import bz2
import hashlib
import os
import tempfile

FIXTURE_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm license="http://opendatacommons.org/licenses/odbl/1-0/" version="0.6">
  <changeset id="1" created_at="2024-01-01T00:00:00Z" closed_at="2024-01-01T00:05:00Z"
             open="false" user="alice" uid="100" min_lat="-10.5" min_lon="20.25"
             max_lat="-10.0" max_lon="21.0" num_changes="12" comments_count="2"/>
  <changeset id="2" created_at="2024-01-02T10:00:00+01:00" open="true" user="b&amp;b"
             uid="101" num_changes="0" comments_count="0">
    <tag k="created_by" v="JOSM/1.5"/>
    <tag k="comment" v="first comment"/>
    <tag k="comment" v="second wins"/>
    <discussion>
      <comment date="2024-01-02T11:00:00Z" uid="7" user="c">
        <text>never parsed</text>
      </comment>
    </discussion>
  </changeset>
  <changeset id="3" open="yes" num_changes="3000000000" comments_count="1" changes_count="9"/>
  <changeset id="4" created_at="2024-02-29T12:34:56Z" open="false" user="&#28450;&#23383; &#128640;"
             uid="7" num_changes="1" comments_count="0">
    <tag k="source" v="survey"/>
  </changeset>
</osm>
"""

# (id, created_ms, closed_ms, open, user, uid, min_lat, min_lon, max_lat,
#  max_lon, num_changes, comments_count, description)
EXPECTED_ROWS = [
    (1, 1704067200000, 1704067500000, False, "alice", 100, -10.5, 20.25, -10.0, 21.0, 12, 2, None),
    (2, 1704186000000, None, True, "b&b", 101, None, None, None, None, 0, 0, "second wins"),
    (3, None, None, False, None, None, None, None, None, None, 3000000000, 1, None),
    (4, 1709210096000, None, False, "漢字 🚀", 7, None, None, None, None, 1, 0, None),
]

MALFORMED_XML = (
    '<?xml version="1.0"?>\n<osm>\n'
    '  <changeset id="1" created_at="2024-01-01T00:00:00Z" open="false"'
    ' num_changes="5" comments_count="0"/>\n'
    '  <changeset id="2" open="true" num_changes="1" comments_count="0"/>\n'
    '  <changeset id="3" created_at="2024-01-03T0'  # truncated mid-attribute
)


def _write_once(name: str, data: bytes) -> str:
    """Write ``data`` to the fixture dir (once) under ``name`` with a
    content hash before its first dot, and return the path: a changed
    fixture constant gets a new file, and two contents written under
    one name never share one."""
    d = os.path.join(tempfile.gettempdir(), "osm_changeset_fixtures")
    stem, dot, ext = name.partition(".")
    path = os.path.join(d, f"{stem}-{hashlib.sha1(data).hexdigest()[:12]}{dot}{ext}")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return path


def write_fixture(name: str = "changesets.xml", content: str = FIXTURE_XML) -> str:
    return _write_once(name, content.encode("utf-8"))


def write_fixture_bz2_multistream(name: str = "changesets.xml.bz2") -> str:
    """Two concatenated bzip2 streams — the planet dump is multi-stream
    (reference handles it via MultiBzDecoder, src/main.rs:431-433;
    Hadoop's BZip2Codec handles concatenated streams too)."""
    head, _, tail = FIXTURE_XML.partition("  <changeset id=\"3\"")
    part2 = "  <changeset id=\"3\"" + tail
    return _write_once(name, bz2.compress(head.encode()) + bz2.compress(part2.encode()))


def write_malformed_fixture(name: str = "malformed.xml") -> str:
    return write_fixture(name, MALFORMED_XML)


# Mid-file corruption (cs13): elements 1-2 are valid, element 3 has
# broken attribute quoting (the classic bit-rot/truncation artifact on
# a planet dump), elements 4-5 are valid again — so a strict reader
# must fail AT element 3 having processed exactly 2 changesets, and
# the diagnostic report's position/progress fields are deterministic.
MIDFILE_CORRUPT_XML = (
    '<?xml version="1.0"?>\n<osm>\n'
    '  <changeset id="1" created_at="2024-01-01T00:00:00Z" open="false"'
    ' num_changes="5" comments_count="0"/>\n'
    '  <changeset id="2" created_at="2024-01-02T00:00:00Z" open="false"'
    ' num_changes="3" comments_count="1"/>\n'
    '  <changeset id="3" created_at="2024-01-03T00:00:00Z" open="false'
    ' num_changes="2" comments_count="0"/>\n'
    '  <changeset id="4" created_at="2024-01-04T00:00:00Z" open="true"'
    ' num_changes="1" comments_count="0"/>\n'
    '  <changeset id="5" created_at="2024-01-05T00:00:00Z" open="false"'
    ' num_changes="7" comments_count="2"/>\n'
    "</osm>\n"
)

# the byte offset of the corrupt element's start tag — the Position
# the reference's report prints (buffer_position at the failed event)
MIDFILE_CORRUPT_POSITION = MIDFILE_CORRUPT_XML.encode("utf-8").find(
    b'<changeset id="3"'
)


def write_midfile_corrupt_fixture(name: str = "midfile_corrupt.xml") -> str:
    return write_fixture(name, MIDFILE_CORRUPT_XML)


# --- Geo fixture: many changesets with bounding boxes (cs10) ---------------

GEO_N = 40
_GEO_USERS = ["alice", "bob", "carol"]


def geo_rows() -> list[tuple]:
    """Deterministic (id, user, min_lat, min_lon, max_lat, max_lon).

    Every coordinate is an exact multiple of 0.25 (and the derived bbox
    centers multiples of 0.125), so the downstream float arithmetic —
    cell assignment against the 11.25/22.5-degree grid, area products —
    is bit-identical across engines: the inputs, the grid constants
    (45/4, 45/2) and all intermediate products are exactly
    representable doubles.
    """
    rows = []
    for i in range(1, GEO_N + 1):
        min_lat = float(((i * 7) % 140) - 70) + 0.25
        min_lon = float(((i * 13) % 340) - 170) + 0.5
        dlat = (i % 4) * 0.5 + 0.25
        dlon = (i % 3) * 0.75 + 0.25
        rows.append(
            (i, _GEO_USERS[i % 3], min_lat, min_lon, min_lat + dlat, min_lon + dlon)
        )
    return rows


def write_geo_fixture(name: str = "changesets_geo.xml") -> str:
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n'
    ]
    for i, user, mnlat, mnlon, mxlat, mxlon in geo_rows():
        parts.append(
            f'  <changeset id="{i}" created_at="2024-03-01T00:00:00Z" open="false" '
            f'user="{user}" uid="{100 + (i % 3)}" min_lat="{mnlat!r}" '
            f'min_lon="{mnlon!r}" max_lat="{mxlat!r}" max_lon="{mxlon!r}" '
            f'num_changes="{i}" comments_count="0"/>\n'
        )
    parts.append("</osm>\n")
    return write_fixture(name, "".join(parts))


def expected_values_sql(rows=None) -> str:
    """DuckDB VALUES literal matching EXPECTED_ROWS with epoch-ms longs."""
    rows = rows if rows is not None else EXPECTED_ROWS

    def lit(v, cast):
        if v is None:
            return f"CAST(NULL AS {cast})"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if cast == "BIGINT":
            return f"CAST({v} AS BIGINT)"
        return f"CAST({v} AS DOUBLE)"

    casts = ["BIGINT", "BIGINT", "BIGINT", "BOOLEAN", "VARCHAR", "BIGINT",
             "DOUBLE", "DOUBLE", "DOUBLE", "DOUBLE", "BIGINT", "BIGINT", "VARCHAR"]
    values = ",\n      ".join(
        "(" + ", ".join(lit(v, c) for v, c in zip(row, casts)) + ")" for row in rows
    )
    return f"""
    SELECT * FROM (VALUES
      {values}
    ) AS t(id, created_ms, closed_ms, open, osm_user, uid, min_lat, min_lon,
           max_lat, max_lon, num_changes, comments_count, description)
    ORDER BY id
    """

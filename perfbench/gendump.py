"""Seeded OSM changeset dump for the ``ingest`` workload.

``generate(seed, n)`` returns the dump's XML bytes and the values the
conversion must reproduce: the row count, a digest per output column,
and the answers of the read-back queries.  Everything comes from
``random.Random(seed)``, so one seed always gives byte-identical input.

The attribute mix follows the reference's input (FIXTURES.md §1): absent
attributes (open changesets, no bbox, anonymous users, no counters),
several ``comment`` tags of which the last wins, other tags,
``<discussion>`` blocks the parser skips, unknown attributes, XML
escapes, unicode, ``+01:00`` offsets and ``num_changes`` above the i32
range.  ``write_bz2`` stores it as a multi-stream bzip2 file, the
planet dump's format.
"""

from __future__ import annotations

import bz2
import datetime as dt
import hashlib
import random
from xml.sax.saxutils import escape, quoteattr

from digest import digest_rows

COLUMNS = (
    "id",
    "created_at",
    "closed_at",
    "open",
    "user",
    "uid",
    "min_lat",
    "min_lon",
    "max_lat",
    "max_lon",
    "num_changes",
    "comments_count",
    "description",
)

EPOCH0_MS = 1_420_070_400_000  # 2015-01-01T00:00:00Z
SPAN_MS = 10 * 365 * 86_400_000
WINDOW_MS = (EPOCH0_MS + SPAN_MS // 4, EPOCH0_MS + SPAN_MS // 2)
BBOX = (-20.0, -10.0, 40.0, 50.0)  # min_lon, min_lat, max_lon, max_lat

_WORDS = (
    "fix", "add", "building", "road", "footway", "survey", "import", "name",
    "bridge", "landuse", "café", "straße", "東京", "地図", "Zürich", "São",
    "🗺", "🚲", "a&b", "<tag>", '"quoted"', "it's",
)
_EDITORS = ("JOSM/1.5", "iD 2.27.3", "StreetComplete 57.1", "Potlatch 2", "Vespucci 19.0")


def _iso(ms: int, offset_h: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, dt.timezone(dt.timedelta(hours=offset_h)))
    if offset_h == 0:
        return t.strftime("%Y-%m-%dT%H:%M:%SZ")
    return t.isoformat(timespec="seconds")


def _coord(rng: random.Random, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.7f}"


def generate(seed: int, n: int) -> tuple[bytes, dict]:
    """(XML bytes, expected values) for ``n`` changesets from ``seed``."""
    rng = random.Random(seed)
    users = [
        (f"{rng.choice(_WORDS)}_{i}", 1000 + i * 7)
        for i in range(max(8, n // 20))
    ]
    parts = [
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osm license="http://opendatacommons.org/licenses/odbl/1-0/" '
        'copyright="OpenStreetMap and contributors" version="0.6" generator="perfbench">\n'
    ]
    rows = []
    ids = rng.sample(range(1, 40 * n + 1), n)
    for cid in sorted(ids):
        created = EPOCH0_MS + rng.randrange(SPAN_MS // 1000) * 1000
        offset = 1 if rng.random() < 0.1 else 0
        is_open = rng.random() < 0.05
        closed = None if is_open else created + rng.randrange(1, 86_400) * 1000
        anonymous = rng.random() < 0.03
        user, uid = (None, None) if anonymous else users[int(rng.paretovariate(1.2)) % len(users)]
        bbox = None
        if rng.random() < 0.9:
            lat, lon = rng.uniform(-80, 80), rng.uniform(-170, 170)
            bbox = (
                f"{lat:.7f}", f"{lon:.7f}",
                f"{lat + rng.uniform(0, 2):.7f}", f"{lon + rng.uniform(0, 2):.7f}",
            )
        r = rng.random()
        if r < 0.02:
            num_changes = rng.randrange(2**31, 2**32)  # above the i32 range
        elif r < 0.05:
            num_changes = None  # absent -> 0
        else:
            num_changes = int(rng.expovariate(1 / 40))
        comments_count = rng.choice((None, 0, 0, 0, 1, 2, 5))

        attrs = [("id", str(cid)), ("created_at", _iso(created, offset))]
        if closed is not None:
            attrs.append(("closed_at", _iso(closed, 0)))
        if rng.random() < 0.9:
            attrs.append(("open", "true" if is_open else "false"))
        elif is_open:
            attrs.append(("open", "true"))
        if user is not None:
            attrs += [("user", user), ("uid", str(uid))]
        if bbox is not None:
            attrs += list(zip(("min_lat", "min_lon", "max_lat", "max_lon"), bbox))
        if num_changes is not None:
            attrs.append(("num_changes", str(num_changes)))
        if comments_count is not None:
            attrs.append(("comments_count", str(comments_count)))
        if rng.random() < 0.05:
            attrs.append(("changes_count", str(rng.randrange(100))))  # unknown: ignored
        head = "  <changeset " + " ".join(f"{k}={quoteattr(v)}" for k, v in attrs)

        tags = []
        if rng.random() < 0.8:
            tags.append(("created_by", rng.choice(_EDITORS)))
        description = None
        for _ in range(rng.choice((0, 1, 1, 1, 2, 3))):
            description = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 8)))
            tags.append(("comment", description))
            if rng.random() < 0.3:
                tags.append(("source", "survey"))
        discussion = comments_count and rng.random() < 0.5
        if not tags and not discussion:
            parts.append(head + "/>\n")
        else:
            body = [head + ">\n"]
            body += [f"    <tag k={quoteattr(k)} v={quoteattr(v)}/>\n" for k, v in tags]
            if discussion:
                body.append("    <discussion>\n")
                for j in range(comments_count):
                    body.append(
                        f'      <comment id="{cid * 10 + j}" date="{_iso(created + j * 60_000, 0)}" '
                        f'uid="{users[j % len(users)][1]}" user={quoteattr(users[j % len(users)][0])}>\n'
                        f"        <text>{escape(rng.choice(_WORDS))} &amp; more</text>\n"
                        "      </comment>\n"
                    )
                body.append("    </discussion>\n")
            body.append("  </changeset>\n")
            parts.append("".join(body))

        box = tuple(float(v) for v in bbox) if bbox else (None,) * 4
        rows.append(
            (cid, created, closed, is_open, user, uid, *box)
            + (num_changes or 0, comments_count or 0, description)
        )
    parts.append("</osm>\n")
    return "".join(parts).encode("utf-8"), expected_values(rows)


def expected_values(rows: list[tuple]) -> dict:
    """What the conversion and the read-back must return for ``rows``
    (tuples in ``COLUMNS`` order, timestamps as epoch millis)."""
    col = {c: i for i, c in enumerate(COLUMNS)}
    sums: dict = {}
    for r in rows:
        sums[r[col["uid"]]] = sums.get(r[col["uid"]], 0) + r[col["num_changes"]]
    lo, hi = WINDOW_MS
    x0, y0, x1, y1 = BBOX

    def hit(r):
        c = r[col["created_at"]]
        return (
            r[col["min_lat"]] is not None
            and lo <= c < hi
            and r[col["min_lon"]] >= x0
            and r[col["min_lat"]] >= y0
            and r[col["max_lon"]] <= x1
            and r[col["max_lat"]] <= y1
        )

    return {
        "rows": len(rows),
        "columns": column_digests(rows),
        "uid_sum_sha256": digest_rows(["uid", "s"], list(sums.items()))["sha256"],
        "window_ms": list(WINDOW_MS),
        "bbox": list(BBOX),
        "window_bbox_rows": sum(1 for r in rows if hit(r)),
    }


def column_digests(rows) -> dict:
    """Per-column SHA-256 over values in ``id`` order."""
    ordered = sorted(rows, key=lambda r: r[0])
    return {
        c: hashlib.sha256(repr([r[i] for r in ordered]).encode()).hexdigest()
        for i, c in enumerate(COLUMNS)
    }


def comparable(df):
    """The converted DataFrame ``df`` in the form ``column_digests``
    takes: ``COLUMNS`` in order, timestamps as epoch millis."""
    from pyspark.sql import functions as F

    return df.select(
        *[
            F.unix_millis(c).alias(c) if c in ("created_at", "closed_at") else F.col(f"`{c}`")
            for c in COLUMNS
        ]
    )


def write_bz2(xml: bytes, path: str, streams: int = 4) -> None:
    """Write ``xml`` as ``streams`` concatenated bzip2 streams, split at
    line boundaries."""
    lines = xml.splitlines(keepends=True)
    step = -(-len(lines) // streams)
    with open(path, "wb") as f:
        for i in range(0, len(lines), step):
            f.write(bz2.compress(b"".join(lines[i : i + step]), 9))

"""Ingest edge cases from FIXTURES.md §1.3 (mirror of the reference's
parse semantics, src/main.rs:199-284)."""

from __future__ import annotations

import bz2
import contextlib
import os
from pathlib import Path

import pytest

import xml.etree.ElementTree as ET

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from osm_changesets_to_parquet_spark.sources import fixtures
from osm_changesets_to_parquet_spark.sources.changesets import (
    convert,
    read_changesets_xml,
    validate_schema,
)
from tests.spark_jobs import jobs_started_by


def _rows(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_fixture_files_are_keyed_on_content():
    docs = ["<osm/>\n", "<osm></osm>\n"]
    paths = [fixtures.write_fixture("keyed.xml", d) for d in docs]
    assert paths[0] != paths[1]
    assert [Path(p).read_text(encoding="utf-8") for p in paths] == docs


def test_fixture_edge_cases(spark):
    df = read_changesets_xml(spark, fixtures.write_fixture())
    validate_schema(df)
    rows = _rows(df)
    assert set(rows) == {1, 2, 3, 4}
    r1, r2, r3, r4 = rows[1], rows[2], rows[3], rows[4]
    # full row
    assert r1["open"] is False and r1["user"] == "alice" and r1["num_changes"] == 12
    assert r1["min_lat"] == -10.5 and r1["description"] is None
    # open + tz offset + escape + last-comment-wins + skipped discussion
    assert r2["open"] is True and r2["closed_at"] is None
    assert r2["user"] == "b&b"
    assert r2["description"] == "second wins"
    assert r2["comments_count"] == 0  # attribute only, never the discussion
    # defaults: open="yes" -> false, absent attrs -> null, u32 > i32 widened
    assert r3["open"] is False and r3["user"] is None and r3["uid"] is None
    assert r3["num_changes"] == 3_000_000_000
    assert r3["created_at"] is None
    # unicode user
    assert r4["user"] == "漢字 🚀" and r4["description"] is None


def test_bz2_multistream_identical(spark):
    plain = read_changesets_xml(spark, fixtures.write_fixture())
    bz = read_changesets_xml(spark, fixtures.write_fixture_bz2_multistream())
    assert sorted(map(str, plain.collect())) == sorted(map(str, bz.collect()))


def test_continue_on_error_salvages_prefix(spark):
    df = read_changesets_xml(
        spark, fixtures.write_malformed_fixture(), continue_on_error=True
    )
    assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_convert_batch_size_splits_files(spark, tmp_path):
    out = str(tmp_path / "out.parquet")
    n = convert(spark, fixtures.write_fixture(), out, batch_size=1)
    assert n == 4
    files = [p for p in (tmp_path / "out.parquet").iterdir() if p.suffix == ".parquet"]
    # maxRecordsPerFile=1 (reference --batch-size analog) => >=2 files
    assert len(files) >= 2


def test_cli_pipeline_and_watermark(spark, tmp_path):
    from osm_changesets_to_parquet_spark.pipeline import main

    out = str(tmp_path / "cli_out.parquet")
    wm = tmp_path / ".last-modified"
    rc = main(
        [
            "--input", fixtures.write_fixture(),
            "--output", out,
            "--watermark-file", str(wm),
            "--source-last-modified", "Tue, 01 Jan 2030 00:00:00 GMT",
        ],
        spark=spark,
    )
    assert rc == 0
    assert wm.read_text().strip() == "Tue, 01 Jan 2030 00:00:00 GMT"
    assert spark.read.parquet(out).count() == 4
    # second run with same Last-Modified skips (incremental trigger)
    rc2 = main(
        [
            "--input", fixtures.write_fixture(),
            "--output", str(tmp_path / "never_written.parquet"),
            "--watermark-file", str(wm),
            "--source-last-modified", "Tue, 01 Jan 2030 00:00:00 GMT",
        ],
        spark=spark,
    )
    assert rc2 == 0
    assert not (tmp_path / "never_written.parquet").exists()


def test_publish_index_metadata(spark, tmp_path):
    import json

    from osm_changesets_to_parquet_spark.pipeline import main

    out = str(tmp_path / "pub.parquet")
    rc = main(
        [
            "--input", fixtures.write_fixture(),
            "--output", out,
            "--publish-index",
            "--public-url-base", "https://example.org/data",
            "--source-last-modified", "Tue, 01 Jan 2030 00:00:00 GMT",
        ],
        spark=spark,
    )
    assert rc == 0
    idx = json.loads((tmp_path / "index.json").read_text())
    assert idx["rows"] == 4
    assert idx["url"] == "https://example.org/data/pub.parquet"
    assert idx["size_bytes"] > 0 and idx["n_files"] >= 1
    assert idx["source_last_modified"] == "Tue, 01 Jan 2030 00:00:00 GMT"
    assert idx["example_query"].startswith("SELECT COUNT(*)")


# --- property-based fuzz vs an independent ElementTree reference ------------

_attr_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=12
)


@st.composite
def _changesets(draw):
    n = draw(st.integers(min_value=0, max_value=8))
    out = []
    for i in range(n):
        cs = {"id": str(i + 1)}
        if draw(st.booleans()):
            cs["open"] = draw(st.sampled_from(["true", "false", "yes", ""]))
        if draw(st.booleans()):
            cs["user"] = draw(_attr_text)
        if draw(st.booleans()):
            cs["num_changes"] = str(draw(st.integers(0, 2**32 - 1)))
        comments = draw(st.lists(_attr_text, max_size=3))
        out.append((cs, comments))
    return out


@given(_changesets())
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_fuzz_matches_elementtree(spark, data):
    root = ET.Element("osm")
    for attrs, comments in data:
        el = ET.SubElement(root, "changeset", attrs)
        for c in comments:
            ET.SubElement(el, "tag", {"k": "comment", "v": c})
    xml = ET.tostring(root, encoding="unicode", xml_declaration=True)
    import hashlib
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"fuzz_{hashlib.md5(xml.encode()).hexdigest()}.xml"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(xml)
    try:
        got = {r["id"]: r.asDict() for r in read_changesets_xml(spark, path).collect()}
        # independent reference: ElementTree re-parse with the ref's rules
        want = {}
        for el in ET.fromstring(xml):
            cid = int(el.get("id", "0"))
            comments = [t.get("v") for t in el.findall("tag") if t.get("k") == "comment"]
            want[cid] = {
                "open": el.get("open") == "true",
                "user": el.get("user"),
                "num_changes": int(el.get("num_changes", "0")),
                "description": comments[-1] if comments else None,
            }
        assert set(got) == set(want)
        for cid, w in want.items():
            g = got[cid]
            for k, v in w.items():
                assert g[k] == v, f"id={cid} field={k}: got {g[k]!r} want {v!r}"
    finally:
        os.unlink(path)


def test_fallback_source_matches_xml_source(spark):
    from osm_changesets_to_parquet_spark.sources.changesets import read_changesets_xml
    from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
        read_changesets_xml_fallback,
    )

    xml = fixtures.write_fixture()
    main = read_changesets_xml(spark, xml).orderBy("id").collect()
    fb = read_changesets_xml_fallback(spark, xml).orderBy("id").collect()
    assert [tuple(r) for r in fb] == [tuple(r) for r in main]


_TRAILING_SELFCLOSING_DOC = (
    '<?xml version="1.0"?>\n<osm>\n'
    '  <changeset id="1" created_at="2024-01-01T00:00:00Z" open="false"'
    ' num_changes="5" comments_count="0">\n'
    '    <tag k="comment" v="x"/>\n  </changeset>\n'
    '  <changeset id="2" open="true" num_changes="1" comments_count="0"/>\n'
    '  <changeset id="3" open="false" num_changes="2" comments_count="1"/>\n'
    "</osm>\n"
)


def test_fallback_source_bz2_and_trailing_selfclosing(spark, tmp_path):
    from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
        read_changesets_xml_fallback,
    )

    # file ends with self-closing elements: their terminator-less tail
    # fragment (with </osm>) must still parse
    p = tmp_path / "tail.xml"
    p.write_text(_TRAILING_SELFCLOSING_DOC)
    rows = read_changesets_xml_fallback(spark, str(p)).orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3]
    assert rows[0].description == "x"
    assert rows[1].open is True and rows[2].num_changes == 2


def test_partition_by_day_prunes_scan(spark, tmp_path):
    out = str(tmp_path / "by_day.parquet")
    convert(spark, fixtures.write_fixture(), out, partition_by_day=True)
    df = spark.read.parquet(out).where("created_day = DATE'2024-01-01'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the day filter must become a partition filter (pruned directories),
    # never a post-scan row filter
    assert "PartitionFilters: [" in plan and "created_day" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    assert df.count() == 1  # only the 2024-01-01 changeset read


@given(_changesets())
@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
def test_fuzz_fallback_matches_xml_source(spark, data):
    from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
        read_changesets_xml_fallback,
    )

    root = ET.Element("osm")
    for attrs, comments in data:
        el = ET.SubElement(root, "changeset", attrs)
        for c in comments:
            ET.SubElement(el, "tag", {"k": "comment", "v": c})
    xml = ET.tostring(root, encoding="unicode", xml_declaration=True)
    import hashlib
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(), f"fuzzfb_{hashlib.md5(xml.encode()).hexdigest()}.xml"
    )
    with open(path, "w", encoding="utf-8") as f:
        f.write(xml)
    try:
        main = sorted(map(str, read_changesets_xml(spark, path).collect()))
        fb = sorted(map(str, read_changesets_xml_fallback(spark, path).collect()))
        assert fb == main
    finally:
        os.unlink(path)


@pytest.mark.slow  # >8 s: full-suite gate only (pytest.ini)
def test_python_datasource_split_invariance(spark):
    # the byte-range planner must produce the SAME rows at every
    # partition count — boundaries land mid-element on the 40-element
    # geo fixture, exercising the overflow/frame-alignment contract
    from osm_changesets_to_parquet_spark.sources import changesets_pyds, fixtures
    from osm_changesets_to_parquet_spark.sources.changesets import read_changesets_xml

    changesets_pyds.register(spark)
    xml = fixtures.write_geo_fixture()
    want = sorted(map(str, read_changesets_xml(spark, xml).collect()))
    for parts in (1, 3, 7, 64):
        got = (
            spark.read.format("osm_changesets")
            .option("path", xml)
            .option("partitions", str(parts))
            .load()
        )
        assert got.rdd.getNumPartitions() >= 1
        assert sorted(map(str, got.collect())) == want, parts


def test_python_datasource_edge_fixture(spark):
    # the edge-case fixture (children, escapes, unicode, TZ offsets,
    # u32 range) must parse identically through the python data source
    from osm_changesets_to_parquet_spark.sources import changesets_pyds, fixtures
    from osm_changesets_to_parquet_spark.sources.changesets import read_changesets_xml

    changesets_pyds.register(spark)
    xml = fixtures.write_fixture()
    want = sorted(map(str, read_changesets_xml(spark, xml).collect()))
    got = (
        spark.read.format("osm_changesets")
        .option("path", xml)
        .option("partitions", "2")
        .load()
    )
    assert sorted(map(str, got.collect())) == want


def test_python_datasource_requires_path(spark):
    import pytest as _pytest

    from osm_changesets_to_parquet_spark.sources import changesets_pyds

    changesets_pyds.register(spark)
    with _pytest.raises(Exception):
        spark.read.format("osm_changesets").load().collect()


def test_pyds_parse_error_report_fields():
    # reference parity (src/main.rs:344-363): the strict reader's task
    # error must carry position, progress, last id, the underlying
    # error, and bounded head/tail buffer snippets — structurally on
    # the exception AND rendered in the message
    import pytest

    from osm_changesets_to_parquet_spark.sources import fixtures
    from osm_changesets_to_parquet_spark.sources.changesets_fallback import (
        ChangesetParseError,
    )
    from osm_changesets_to_parquet_spark.sources.changesets_pyds import (
        ChangesetXmlReader,
    )

    path = fixtures.write_midfile_corrupt_fixture()
    reader = ChangesetXmlReader({"path": path, "partitions": "1"})
    (part,) = reader.partitions()
    with pytest.raises(ChangesetParseError) as ei:
        list(reader.read(part))
    e = ei.value
    assert e.position == fixtures.MIDFILE_CORRUPT_POSITION
    assert e.rows_parsed == 2
    assert e.last_changeset_id == 2
    assert "not well-formed" in e.error
    assert 0 < len(e.buffer_head) <= 500
    assert 0 < len(e.buffer_tail) <= 500
    assert '<changeset id="3"' in e.buffer_head
    msg = str(e)
    for line in (
        "=== XML PARSE ERROR ===",
        f"Position: {fixtures.MIDFILE_CORRUPT_POSITION}",
        "Changesets processed (this task): 2",
        "Last changeset ID: 2",
        "Buffer content at error (first 500 bytes):",
        "Buffer content at error (last 500 bytes):",
    ):
        assert line in msg


def test_cli_single_file_publish(spark, tmp_path):
    # reference parity (src/main.rs:416-425): --single-file publishes
    # exactly ONE plain .parquet FILE (plus index.json beside it), the
    # artifact a DuckDB-over-HTTP consumer of the reference reads
    import json as _json
    import os as _os

    from osm_changesets_to_parquet_spark.pipeline import main

    out = str(tmp_path / "changesets.parquet")
    rc = main(
        [
            "--input", fixtures.write_fixture(),
            "--output", out,
            "--single-file",
            "--publish-index",
        ],
        spark=spark,
    )
    assert rc == 0
    assert _os.path.isfile(out)  # a FILE, not a directory
    assert not _os.path.exists(out + ".__dir")  # scratch cleaned up
    assert spark.read.parquet(out).count() == 4
    idx = _json.loads((tmp_path / "index.json").read_text())
    assert idx["rows"] == 4


# --- the framed scan: split invariance, strict/salvage errors, parallelism --


@contextlib.contextmanager
def _conf(spark, key, value):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _write_doc(tmp_path, name, doc, compressed):
    """``doc`` as plain XML, or as two bzip2 streams cut at its middle byte."""
    data = doc.encode("utf-8")
    if compressed:
        path = tmp_path / f"{name}.xml.bz2"
        mid = len(data) // 2
        path.write_bytes(bz2.compress(data[:mid]) + bz2.compress(data[mid:]))
    else:
        path = tmp_path / f"{name}.xml"
        path.write_bytes(data)
    return str(path)


_SPLIT_DOCS = {
    "edge": (lambda: fixtures.FIXTURE_XML, [1, 2, 3, 4]),
    "geo": (
        lambda: Path(fixtures.write_geo_fixture()).read_text(encoding="utf-8"),
        list(range(1, fixtures.GEO_N + 1)),
    ),
    "trailing_selfclosing": (lambda: _TRAILING_SELFCLOSING_DOC, [1, 2, 3]),
    "empty_osm": (lambda: '<?xml version="1.0"?>\n<osm version="0.6">\n</osm>\n', []),
}


@pytest.mark.parametrize("compressed", [False, True], ids=["plain", "bz2"])
@pytest.mark.parametrize("name", sorted(_SPLIT_DOCS))
def test_framed_scan_same_rows_at_every_split_size(spark, tmp_path, name, compressed):
    doc, ids = _SPLIT_DOCS[name]
    path = _write_doc(tmp_path, name, doc(), compressed)
    one_split = read_changesets_xml(spark, path)
    assert one_split.rdd.getNumPartitions() == 1
    rows = one_split.collect()
    assert sorted(r["id"] for r in rows) == ids
    want = sorted(map(str, rows))
    for split_bytes in ("64", "1000"):
        with _conf(spark, "spark.sql.files.maxPartitionBytes", split_bytes):
            df = read_changesets_xml(spark, path)
            if os.path.getsize(path) > int(split_bytes):
                assert df.rdd.getNumPartitions() > 1, split_bytes
            assert sorted(map(str, df.collect())) == want, split_bytes


def test_strict_read_and_convert_raise_on_truncated_element(spark, tmp_path):
    # the reference aborts on a parse error unless --continue-on-error
    # (src/main.rs:344-363); the malformed fixture is cut off mid-element
    path = fixtures.write_malformed_fixture()
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        read_changesets_xml(spark, path).collect()
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        convert(spark, path, str(tmp_path / "out.parquet"))


@pytest.mark.parametrize("compressed", [False, True], ids=["plain", "bz2"])
@pytest.mark.parametrize("split_bytes", [None, "40"], ids=["default", "40B"])
def test_salvage_keeps_rows_before_first_error_at_any_split(
    spark, tmp_path, split_bytes, compressed
):
    # elements 4-5 parse, but follow the corrupt element 3: the reference
    # stops at the first error, so they must not be salvaged
    path = _write_doc(tmp_path, "midfile", fixtures.MIDFILE_CORRUPT_XML, compressed)
    with (
        _conf(spark, "spark.sql.files.maxPartitionBytes", split_bytes)
        if split_bytes
        else contextlib.nullcontext()
    ):
        df = read_changesets_xml(spark, path, continue_on_error=True)
        assert sorted(r["id"] for r in df.collect()) == [1, 2]


def test_whitespace_before_prolog_is_accepted(spark, tmp_path):
    path = _write_doc(tmp_path, "ws", "\n  " + fixtures.FIXTURE_XML, False)
    rows = read_changesets_xml(spark, path).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4]


def test_convert_is_parallel_and_restores_open_cost(spark, tmp_path):
    key = "spark.sql.files.openCostInBytes"
    geo = Path(fixtures.write_geo_fixture()).read_text(encoding="utf-8")
    path = _write_doc(tmp_path, "geo", geo, True)
    with _conf(spark, key, "5000000"):
        _, jobs = jobs_started_by(
            spark, lambda: convert(spark, path, str(tmp_path / "geo.parquet"))
        )
        tracker = spark.sparkContext.statusTracker()
        first_stage = min(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
        n_tasks = tracker.getStageInfo(first_stage).numTasks
        assert n_tasks >= spark.sparkContext.defaultParallelism
        assert spark.conf.get(key) == "5000000"
        with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
            convert(spark, fixtures.write_malformed_fixture(), str(tmp_path / "bad.parquet"))
        assert spark.conf.get(key) == "5000000"


def test_convert_input_smaller_than_its_split_count(spark, tmp_path):
    # a 6-byte document over 64 minimum partitions: bytes per split
    # rounds down to 0, which the split pin must keep positive
    path = _write_doc(tmp_path, "tiny", "<osm/>", False)
    with _conf(spark, "spark.sql.files.minPartitionNum", "64"):
        assert convert(spark, path, str(tmp_path / "tiny.parquet")) == 0

"""The ingest workload's dump generator: deterministic, and converted
to exactly the rows it says it wrote.

    python3 -m pytest perfbench/tests -q
"""

import bz2
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gendump  # noqa: E402


def test_same_seed_gives_byte_identical_input(tmp_path):
    a, ea = gendump.generate(5, 500)
    b, eb = gendump.generate(5, 500)
    assert a == b and ea == eb
    assert gendump.generate(6, 500)[0] != a
    gendump.write_bz2(a, tmp_path / "a.bz2")
    gendump.write_bz2(b, tmp_path / "b.bz2")
    raw = (tmp_path / "a.bz2").read_bytes()
    assert raw == (tmp_path / "b.bz2").read_bytes()
    assert raw.count(b"BZh9") >= 4  # multi-stream
    assert bz2.decompress(raw) == a


def test_dump_covers_the_reference_attribute_mix():
    xml, exp = gendump.generate(1, 3000)
    text = xml.decode()
    assert exp["rows"] == text.count("<changeset ")
    for needle in ("<discussion>", 'k="comment"', "+01:00", "&amp;", "&lt;", "東京", "🗺", 'open="true"'):
        assert needle in text, needle
    assert any(int(v) > 2**31 for v in _attr_values(text, "num_changes"))
    with_comment = [c for c in text.split("<changeset ")[1:] if c.count('k="comment"') > 1]
    assert with_comment, "no changeset with several comment tags"
    assert 0 < exp["window_bbox_rows"] < exp["rows"]


def _attr_values(text, name):
    key = f' {name}="'
    return [p.split('"', 1)[0] for p in text.split(key)[1:]]


@pytest.fixture(scope="module")
def spark():
    from osm_changesets_to_parquet_spark.session import get_spark

    s = get_spark("perfbench-test", master="local[2]", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_small_dump_converts_to_the_generated_rows(spark, tmp_path):
    from osm_changesets_to_parquet_spark.sources.changesets import convert

    xml, exp = gendump.generate(3, 400)
    path = str(tmp_path / "dump.osm.bz2")
    gendump.write_bz2(xml, path)
    out = str(tmp_path / "out.parquet")
    assert convert(spark, path, out) == exp["rows"]
    rows = [tuple(r) for r in gendump.comparable(spark.read.parquet(out)).collect()]
    assert len(rows) == exp["rows"]
    assert gendump.column_digests(rows) == exp["columns"]

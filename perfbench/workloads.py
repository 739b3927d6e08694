"""The benchmark's workloads: what one pass runs and how its output is checked.

A pass is a list of operations issued one after another from one client
(a closed loop: each call starts after the previous one returned).  An
operation builds a DataFrame (``build``: the registered query function,
including any eager actions it takes) and then executes it (``run``:
the noop sink, or a collect for the small ingest read-backs).

The query list is a subset of the repository's tier-1 keys at sf0.1, cut
so that a run fits the evaluation budget on a shared 4-core host;
README.md lists what was left out and why.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.1")
DIGEST_PATH = os.path.join(HERE, "oracle_digests.json")

# Rows in the ingest workload's generated dump: about 2 s of conversion
# per pass on a quiet 4-core host, so one run times several passes.
INGEST_ROWS = 20_000


@dataclass(frozen=True)
class Workload:
    """Why each workload exists is in README.md and BENCHMARK.json."""

    name: str
    queries: tuple[str, ...] = ()
    # Structured Streaming jobs among ``queries``: run only in the traced
    # run, where they are checked in set-up and traced once after the
    # passes (README.md, "What the design asked for and was cut").
    streams: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload("ingest"),
        Workload(
            "queries",
            (
                # relational: JVM codegen only, bound by job round-trips
                "q04_groupby_agg",
                "q10_join4_revenue",
                "q18_asof_join",
                # curation: lineage cuts and build-time jobs, a pandas UDF
                "q116_hierarchy_closure",
                "m48_image_decode_features",
                # stream: file replay, state store, micro-batch commits;
                # traced run only
                "s4a_watermark_ontime",
            ),
            streams=("s4a_watermark_ontime",),
        ),
    )
}


def tables(queries) -> tuple[str, ...]:
    """The sf0.1 tables ``queries`` read, as their registry entries
    declare them."""
    from osm_changesets_to_parquet_spark.queries import REGISTRY, load_all_modules

    load_all_modules()
    return tuple(sorted({t for q in queries for t in REGISTRY[q].tables}))


@dataclass
class Op:
    """One operation of a pass.

    The warm-up pass runs ``check_run`` in place of ``run`` and hands its
    result to ``check``, which returns None or the reason it failed.  Only
    ``timed`` ops run in the timed passes.
    """

    name: str
    build: object  # () -> DataFrame or None
    run: object  # (DataFrame) -> anything; the timed action
    check_run: object
    check: object
    layer: str = "queries"  # span prefix in the traced run
    timed: bool = True  # False: not in the timed passes (the stream jobs)


def noop_sink(df):
    df.write.format("noop").mode("overwrite").save()


def load_digests() -> dict:
    with open(DIGEST_PATH) as f:
        return json.load(f)


def _warm_and_collect(df):
    """The warm-up runs the timed action too: after a collect alone the
    first noop-sink pass ran up to 65% slower than the next ones."""
    noop_sink(df)
    return df.toPandas()


def query_ops(spark, workload: Workload, fns: dict, digests: dict, streams: bool) -> list[Op]:
    """The workload's queries; its stream jobs only when ``streams``."""
    from digest import check, digest_frame

    return [
        Op(
            name,
            lambda fn=fns[name]: fn(spark, SF_DIR),
            noop_sink,
            _warm_and_collect,
            lambda pdf, want=digests.get(name): check(digest_frame(pdf), want),
            timed=name not in workload.streams,
        )
        for name in workload.queries
        if streams or name not in workload.streams
    ]


@dataclass
class IngestInput:
    """The generated dump and where one pass publishes it."""

    path: str
    out: str
    xml_bytes: int
    expected: dict


def ingest_ops(spark, inp: IngestInput) -> list[Op]:
    """Conversion through the CLI entry point, then the read-back set."""
    import contextlib
    import sys

    from pyspark.sql import functions as F

    from osm_changesets_to_parquet_spark import pipeline

    exp = inp.expected
    argv = ["--input", inp.path, "--output", inp.out, "--publish-index"]

    def convert():
        # main prints a status line; keep stdout for the result line
        with contextlib.redirect_stdout(sys.stderr):
            pipeline.main(argv, spark=spark)
        with open(os.path.join(os.path.dirname(inp.out), "index.json")) as f:
            return json.load(f)

    def published():
        return spark.read.parquet(inp.out)

    lo, hi = exp["window_ms"]
    x0, y0, x1, y1 = exp["bbox"]
    in_window_bbox = (
        F.unix_millis("created_at").between(lo, hi - 1)
        & (F.col("min_lon") >= x0)
        & (F.col("min_lat") >= y0)
        & (F.col("max_lon") <= x1)
        & (F.col("max_lat") <= y1)
    )

    def rows(df):
        return [tuple(r) for r in df.collect()]

    import gendump
    from digest import digest_rows

    def same(what, got, want):
        return None if got == want else f"{what}: {got} != {want}"

    def check_converted(idx):
        """The index's row count, then every published column against
        the generator's digest of it."""
        problem = same("rows", idx["rows"], exp["rows"])
        if problem:
            return problem
        got = gendump.column_digests([tuple(r) for r in gendump.comparable(published()).collect()])
        bad = [c for c in gendump.COLUMNS if got[c] != exp["columns"][c]]
        return f"column digests differ: {', '.join(bad)}" if bad else None

    return [
        Op(
            "convert",
            lambda: None,
            lambda _df: convert(),
            lambda _df: convert(),
            check_converted,
            layer="pipeline",
        ),
        Op(
            "readback_count",
            lambda: published().selectExpr("COUNT(*) AS n"),
            rows,
            rows,
            lambda r: same("count", r, [(exp["rows"],)]),
        ),
        Op(
            "readback_uid_sum",
            lambda: published().groupBy("uid").agg(F.sum("num_changes").alias("s")),
            rows,
            rows,
            lambda r: same(
                "per-uid sums", digest_rows(["uid", "s"], r)["sha256"], exp["uid_sum_sha256"]
            ),
        ),
        Op(
            "readback_window_bbox",
            lambda: published().where(in_window_bbox).selectExpr("COUNT(*) AS n"),
            rows,
            rows,
            lambda r: same("window+bbox count", r, [(exp["window_bbox_rows"],)]),
        ),
    ]


def pass_order(ops: list[Op], rng: random.Random, keep_first: int = 0) -> list[Op]:
    """The seed's order of one pass; the first ``keep_first`` ops stay put
    (the ingest read-backs need the conversion before them)."""
    head, tail = ops[:keep_first], ops[keep_first:]
    rng.shuffle(tail)
    return head + tail

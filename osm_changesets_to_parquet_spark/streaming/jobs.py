"""Deterministic streaming replay jobs (S4-S26).

Replay protocol (FIXTURES.md §3): events sorted by ts are split into K
parquet files; the stream reads them with ``maxFilesPerTrigger=1`` and
``Trigger.AvailableNow`` so micro-batch boundaries == file boundaries ==
deterministic watermark advancement.  A "late" variant moves a few rows
to the *last* file (arrival order) without changing their event time —
after the watermark has passed them, a watermarked aggregate must drop
them.

Scale notes: these jobs are the 100 TB shape for continuous ingest —
state is keyed (window/event-time or user), watermarks bound state size,
and ``applyInPandasWithState`` holds one small pandas group at a time.

One runner, ``_start_stream``, starts every stream query (checkpoint,
state-partition pin, trigger, wait); ``_run_availablenow`` puts the
default ``__bid=N`` parquet sink on it.  One writer, ``_replay_fixture``,
writes and caches every chunked replay fixture.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_changesets_to_parquet_spark.catalog import load_table

# Every stream leaves temp dirs behind: its checkpoint, and a sink dir
# the returned DataFrame reads lazily (so it cannot be deleted
# eagerly).  _temp_dir registers each for process-exit cleanup so
# repeated runs (tests, bench, verification sweeps) do not accumulate
# unbounded /tmp residue.
_TEMP_DIRS: list[str] = []


def _cleanup_temp_dirs() -> None:
    for d in _TEMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_temp_dirs)


def _temp_dir(prefix: str) -> str:
    """A fresh temp dir, removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    _TEMP_DIRS.append(d)
    return d


# 5 deterministic micro-batches: enough files to advance the watermark
# across real batch boundaries, few enough that per-batch state-store
# commit overhead doesn't dominate a replay.  The late-data semantics
# are boundary-count independent: the late file always arrives last,
# when the watermark already sits at (global max ts - delay).
N_REPLAY_FILES = 5
N_LATE_ROWS = 5
US_PER_HOUR = 3_600_000_000


def _cached_fixture(base: str, build) -> str:
    """Return the fixture dir ``base``, first filling it with
    ``build(base)`` unless an earlier run finished it (its ready marker
    exists — the marker outlives the process, so replays are built once
    per source table, not once per run)."""
    done = os.path.join(base, "_READY")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        build(base)
        open(done, "w").close()
    return base


def _replay_fixture(
    spark: SparkSession, sf_dir: str, table: str, name: str, chunk
) -> str:
    """Write (once) and return a replay of ``sf_dir``'s ``table``: the
    rows of ``chunk(table_df)``, which tags each with an int
    ``__chunk``, become one ``NNN.parquet`` per chunk in chunk order.

    The cache dir is keyed on the table file's resolved path, size and
    mtime, so two fixture dirs that share a name (or a table rewritten
    in place) never share a replay.

    ONE dynamic-partitioned write: repartition("__chunk") puts every
    chunk's rows in exactly one task, so each __chunk=N dir receives
    exactly one parquet file.  Intra-file row order is free:
    watermarks and aggregates are batch-level, not row-order-level.
    """
    src = os.path.realpath(os.path.join(sf_dir, f"{table}.parquet"))
    st = os.stat(src)
    key = hashlib.sha1(f"{src}:{st.st_size}:{st.st_mtime_ns}".encode()).hexdigest()
    base = os.path.join(
        tempfile.gettempdir(),
        f"{name}_{os.path.basename(sf_dir.rstrip('/'))}_{key[:12]}",
    )

    def build(base: str) -> None:
        staging = base + "_staging"
        (
            chunk(load_table(spark, sf_dir, table))
            .repartition("__chunk")
            .write.partitionBy("__chunk")
            .mode("overwrite")
            .parquet(staging)
        )
        # flatten __chunk=N dirs into NNN.parquet with strictly
        # increasing mtimes: the file stream source orders by
        # modification time, and a single parallel write gives all
        # parts near-identical stamps
        chunk_dirs = sorted(
            (d for d in os.listdir(staging) if d.startswith("__chunk=")),
            key=lambda d: int(d.split("=")[1]),
        )
        t0 = time.time()
        for i, d in enumerate(chunk_dirs):
            dpath = os.path.join(staging, d)
            (part,) = [f for f in os.listdir(dpath) if f.endswith(".parquet")]
            dst = os.path.join(base, f"{i:03d}.parquet")
            os.replace(os.path.join(dpath, part), dst)
            os.utime(dst, (t0 + i, t0 + i))
        shutil.rmtree(staging, ignore_errors=True)

    return _cached_fixture(base, build)


def prepare_replay_dir(
    spark: SparkSession, sf_dir: str, late: bool = False, tag: str = ""
) -> str:
    """Write the K-file replay fixture; returns the directory.

    ``late=True`` moves the N_LATE_ROWS earliest-event-time rows of the
    middle of the stream into the final file: they arrive last although
    their event time is old => dropped by a 10-minute watermark.
    """
    # distributed chunking: global arrival index via the range-bucketed
    # global_rank (one wide shuffle — never the partition-less
    # row_number window, never a driver collect of the event set)
    from osm_changesets_to_parquet_spark.operators.packing import global_rank

    def chunk(events: DataFrame) -> DataFrame:
        ev = events.select("event_id", "ts", "ts_us", "user_id", "event_type", "value")
        n = ev.count()
        indexed = global_rank(ev, ["ts_us", "event_id"], out_col="__r")
        rn = F.col("__r") - 1  # 0-based arrival index in event-time order

        late_lo = int(n * 0.4) if late else n  # rows [late_lo, late_lo+N) re-arrive last
        is_late = rn.between(late_lo, late_lo + N_LATE_ROWS - 1)
        # arrival position among on-time rows (late rows removed from the middle)
        arrival = F.when(rn >= late_lo + N_LATE_ROWS, rn - N_LATE_ROWS).otherwise(rn)
        n_ontime = n - (N_LATE_ROWS if late else 0)
        per = max(1, (n_ontime + N_REPLAY_FILES - 1) // N_REPLAY_FILES)
        return indexed.withColumn(
            "__chunk",
            F.when(is_late, F.lit(N_REPLAY_FILES + 100)).otherwise(
                (arrival / F.lit(per)).cast("int")
            ),
        ).drop("__r")

    kind = "late" if late else "ontime"
    return _replay_fixture(
        spark, sf_dir, "events", f"events_replay_k{N_REPLAY_FILES}_{kind}{tag}", chunk
    )


def _read_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    schema = spark.read.parquet(os.path.join(replay_dir, "000.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


STREAM_SHUFFLE_PARTITIONS = "4"
# Python-stateful jobs (applyInPandasWithState keyed by user_id) are
# updates-bound, not commit-bound: the r14 per-batch profile reads
# ~6 s of per-key Python update time against ~0.5 s of state-store
# commit, so doubling the state partitions halves the per-task key
# count for one extra store's commit (interleaved A/B, min-of-3: s6
# 8.40 s at 8 partitions vs 10.47 s at 4).  Built-in aggregation jobs
# (s4a's window counts) are the opposite — KB-sized state where the
# commit protocol dominates — and keep STREAM_SHUFFLE_PARTITIONS.
# (Both are replay-fixture sizings; a real cluster stream sizes this
# once, to cores x ~2, before first start — documented below.)
PYTHON_STATE_SHUFFLE_PARTITIONS = "8"


def _start_stream(
    stream_df: DataFrame,
    mode: str = "update",
    *,
    body=None,
    writer=None,
    state_partitions: str = STREAM_SHUFFLE_PARTITIONS,
    processing_time: str | None = None,
    ckpt_dir: str | None = None,
):
    """Start ``stream_df`` on a checkpoint; return its StreamingQuery.
    Every stream query of this module starts here.

    The sink is the foreachBatch function ``body``, or whatever
    ``writer(DataStreamWriter)`` configures (a sink format and its
    options).  With ``processing_time=None`` the trigger is
    availableNow and the call returns once the stream has drained (a
    failed micro-batch raises here); otherwise the query keeps running
    and the caller stops it.  Each start gets a fresh checkpoint
    unless ``ckpt_dir`` names one to restart from.

    Shuffle partitions are pinned to ``state_partitions`` for
    ``start()``: the state-partition count is frozen into the
    checkpoint at first execution, and these replay fixtures are small
    — 32 state stores x 11 micro-batches is pure per-batch overhead.
    (On a real cluster a long-lived stream sizes this once, to cores x
    ~2, before first start.)  The pin need not outlive ``start()``:
    starting a query clones the session (StreamExecution's
    sparkSessionForStream), so its micro-batches and the frames
    foreachBatch receives keep the pinned value after the caller's
    conf is restored; a restart reads the count back from the
    checkpoint's offset log.
    """
    trigger = (
        {"processingTime": processing_time} if processing_time else {"availableNow": True}
    )
    w = (
        stream_df.writeStream.outputMode(mode)
        .trigger(**trigger)
        .option("checkpointLocation", ckpt_dir or _temp_dir("ckpt_"))
    )
    w = writer(w) if writer else w.foreachBatch(body)
    conf = stream_df.sparkSession.conf
    prev = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", state_partitions)
    try:
        query = w.start()
    finally:
        conf.set("spark.sql.shuffle.partitions", prev)
    if processing_time is None:
        query.awaitTermination()
    return query


def _bid_sink(out_dir: str):
    """foreachBatch body writing each micro-batch to ``out_dir/__bid=N``."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # one partition dir per micro-batch, overwritten on retry: a
        # replayed batch id lands in the same dir — idempotent, so the
        # sink is exactly-once even though foreachBatch is at-least-once.
        # repartition(1), NOT coalesce(1): each update-mode batch is a
        # handful of keyed aggregate rows spread over the stream's
        # state partitions, and one file per state partition paid 4x
        # the commit protocol + file-open overhead per batch for
        # KB-sized output.  coalesce(1) narrows WITHOUT an exchange, so
        # it pulled the stateful aggregation itself into one task and
        # serialized every state-store load/commit (interleaved A/B,
        # min-of-3: coalesce 5.8s vs repartition 4.0s per s4a eval);
        # the explicit exchange costs one KB-sized shuffle per batch
        # and keeps the state stage at its configured parallelism.  (A
        # real firehose sink would size the file count from batch
        # volume.)
        batch_df.repartition(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"__bid={batch_id}")
        )

    return sink


def _read_bids(spark: SparkSession, out_dir: str, schema) -> DataFrame:
    """Every ``__bid=N`` micro-batch dir under ``out_dir`` as one frame
    with a ``__bid`` column; an empty frame of ``schema`` (a StructType
    or DDL string) plus ``__bid`` when no batch wrote one."""
    if not any(f.startswith("__bid=") for f in os.listdir(out_dir)):
        return spark.createDataFrame([], schema).withColumn(
            "__bid", F.lit(None).cast("long")
        )
    # partition discovery turns the __bid=N dirs into the __bid column
    return spark.read.parquet(out_dir)


def _run_availablenow(
    stream_df: DataFrame,
    mode: str = "update",
    state_partitions: str = STREAM_SHUFFLE_PARTITIONS,
) -> DataFrame:
    """Run an availableNow stream into the ``__bid`` parquet sink;
    return every micro-batch's output rows as a DataFrame with
    ``__bid`` (batch id).

    The sink is a distributed write — the driver never collects a row,
    so it survives a real stream's output volume.
    foreachBatch-with-append-write is the standard production pattern
    for update-mode aggregates, whose emit-latest-per-key semantics the
    built-in file sink can't accept; downstream consumers reduce by max
    ``__bid`` per key — also distributed (see the S4-S6 runners).
    """
    out_dir = _temp_dir("stream_out_")
    _start_stream(
        stream_df, mode, body=_bid_sink(out_dir), state_partitions=state_partitions
    )
    return _read_bids(stream_df.sparkSession, out_dir, stream_df.schema)


def run_s4_watermark_tumbling(spark: SparkSession, sf_dir: str, late: bool) -> DataFrame:
    """Tumbling 1h counts with a 10-minute watermark over the replay.

    Returns the final per-window aggregate: update mode emits the
    running value per (window, event_type) each batch; the LAST emitted
    value per key (max ``__bid``) is the converged state — a keyed
    ``max_by`` aggregation, fully distributed.
    """
    ev = _read_stream(spark, prepare_replay_dir(spark, sf_dir, late=late))
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            (F.unix_micros(F.col("w.start")) / US_PER_HOUR).cast("long").alias("hour_id"),
            "event_type",
            "cnt",
        )
    )
    outs = _run_availablenow(agg, mode="update")
    return (
        outs.groupBy("hour_id", "event_type")
        .agg(F.max_by("cnt", "__bid").alias("cnt"))
        .orderBy("hour_id", "event_type")
    )


def run_s5_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on event_id over a replay with the
    first batch's rows re-appended at the end (arrival-time dups)."""
    base = prepare_replay_dir(spark, sf_dir, late=False)

    def build(dup_dir: str) -> None:
        for f in os.listdir(base):
            if f.endswith(".parquet"):  # copy2 keeps the arrival mtimes
                shutil.copy2(os.path.join(base, f), os.path.join(dup_dir, f))
        # re-deliver an early file as a late duplicate batch
        shutil.copy(
            os.path.join(base, "000.parquet"),
            os.path.join(dup_dir, "999.parquet"),
        )

    ev = _read_stream(spark, _cached_fixture(base + "_dup", build))
    dedup = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    counted = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    outs = _run_availablenow(counted, mode="update")
    return (
        outs.groupBy("event_type")
        .agg(F.max_by("cnt", "__bid").alias("cnt"))
        .orderBy("event_type")
    )


def run_s7_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the same
    user's clicks from the preceding 5 minutes.

    Both sides carry a 10-minute watermark; the event-time range
    condition lets Spark evict click state once the watermark passes
    ``click_ts + 5 minutes`` — bounded state, the 100 TB-stream shape.
    Completeness under the in-order replay: when a purchase at time P
    arrives, the watermark is <= P - 10min, and any matching click has
    click_ts >= P - 5min > watermark - 5min, so its state is still
    live — the appended output equals the batch interval join exactly.
    """
    base = prepare_replay_dir(spark, sf_dir, late=False)
    clicks = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    outs = _run_availablenow(joined, mode="append")
    return outs.select("click_id", "purchase_id", "user_id").orderBy(
        "click_id", "purchase_id"
    )


def _drain_python_stream_counts(
    spark: SparkSession, fmt: str, base: str, tag: str
) -> DataFrame:
    """Run per-event-type counts in update mode over a Python-DataSource
    replay of ``base`` until it drains; return the converged counts.

    availableNow is not supported for Python micro-batch sources (Spark
    falls back to single-batch, which would collapse the replay), so
    the runner uses a processingTime(0) trigger and stops when the
    committed offset reaches the chunk count and a batch reports zero
    input rows — the deterministic drain point of an immutable replay
    dir.
    """
    import re

    n_chunks = len([f for f in os.listdir(base) if f.endswith(".parquet")])
    ev = spark.readStream.format(fmt).option("path", base).load()
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))

    out_dir = _temp_dir(f"{tag}_out_")
    q = _start_stream(agg, body=_bid_sink(out_dir), processing_time="0 seconds")
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            p = q.lastProgress
            if p:
                m = re.search(r"(\d+)", str(p["sources"][0]["endOffset"]))
                if m and int(m.group(1)) >= n_chunks and p["numInputRows"] == 0:
                    break
            # raises at once if a micro-batch failed
            q.awaitTermination(0.2)
        else:
            raise TimeoutError(f"{tag} replay did not drain within 120 s")
    finally:
        q.stop()
    outs = _read_bids(spark, out_dir, agg.schema)
    return (
        outs.groupBy("event_type")
        .agg(F.max_by("cnt", "__bid").alias("cnt"))
        .orderBy("event_type")
    )


def run_s12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay through the PYTHON STREAMING data source
    (sources/events_stream_pyds.py — the streaming half of the Spark 4
    Python DataSource API; cs11 is the batch half): one chunk per
    micro-batch via SimpleDataSourceStreamReader offsets, running per-
    event-type counts in update mode; the converged state (max __bid
    per key) must equal the batch aggregate.
    """
    from osm_changesets_to_parquet_spark.sources import events_stream_pyds

    events_stream_pyds.register(spark)
    base = prepare_replay_dir(spark, sf_dir, late=False)
    return _drain_python_stream_counts(spark, "events_replay", base, "s12")


def prepare_partitioned_replay_dir(
    spark: SparkSession, sf_dir: str, row_groups_per_chunk: int = 3
) -> str:
    """Replay dir whose chunk files hold multiple parquet ROW GROUPS —
    the parallelism unit the s13 partition-planned stream source maps
    to InputPartitions.  Row content is identical to the on-time
    prepare_replay_dir fixture; only the row-group layout differs."""
    import pyarrow.parquet as pq

    src = prepare_replay_dir(spark, sf_dir, late=False)

    def build(base: str) -> None:
        for f in sorted(os.listdir(src)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(src, f))
            per_rg = max(1, -(-t.num_rows // max(1, row_groups_per_chunk)))
            pq.write_table(t, os.path.join(base, f), row_group_size=per_rg)

    return _cached_fixture(src.rstrip("/") + f"_rg{row_groups_per_chunk}", build)


def run_s13_partitioned_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay through the PARTITION-PLANNED Python streaming source
    (sources/events_stream_partitioned_pyds.py — the firehose-path fix
    for the r5 `weak`): the driver plans chunk/row-group partitions
    from parquet footers, EXECUTORS read the row data, and the same
    update-mode counts must converge to the batch aggregate.
    """
    from osm_changesets_to_parquet_spark.sources import (
        events_stream_partitioned_pyds,
    )

    events_stream_partitioned_pyds.register(spark)
    base = prepare_partitioned_replay_dir(spark, sf_dir)
    return _drain_python_stream_counts(
        spark, "events_replay_partitioned", base, "s13"
    )


def run_s11_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the retention/abandonment shape
    ("every click, with its purchase if one followed within 5 minutes"):
    same interval condition and watermarks as s7, but how="leftOuter".

    Semantics under the in-order replay: matched rows emit on match
    (complete, the s7 argument).  An UNMATCHED click emits
    (click_id, NULL) only when the watermark passes its join-window end
    (click_ts + 5 min) and its state is evicted — so at stream end,
    unmatched clicks in the final stretch of event time (window end at
    or beyond the resting watermark max_ts - 10 min) remain live state,
    never emitted.  The oracle excludes exactly those, which makes the
    eviction semantics themselves part of the hash (the s9 discipline).

    State scale: both sides' state is watermark-bounded exactly as in
    the inner join; outer emission adds no state, only an eviction-time
    emit — the 100 TB shape for funnel/abandonment streams.
    """
    base = prepare_replay_dir(spark, sf_dir, late=False)
    clicks = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
        "leftOuter",
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    outs = _run_availablenow(joined, mode="append")
    return outs.select("click_id", "purchase_id", "user_id").orderBy(
        "click_id", "purchase_id"
    )


def run_s6_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful op: per-user running (count, sum(value)) via
    applyInPandasWithState with an event-time (watermark) timeout.

    The streaming analog of a keyed accumulator the built-in aggregates
    can't express (state carries arbitrary Python tuples; the timeout
    evicts users idle longer than IDLE_EVICT_MS of *event time*, bounding
    state at 100 TB-stream scale).

    Event-time — not processing-time — timeout is deliberate: it is
    deterministic under replay (eviction depends on the data's watermark,
    not on wall-clock), and the availableNow trigger terminates once the
    final watermark leaves no expirable timers.  (ProcessingTimeTimeout
    never lets availableNow drain: the trigger spins "No new data but
    cleaning up state" batches forever, observed empirically.)  On a
    timed-out key we emit the final accumulator and REMOVE the state —
    never re-arm.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # Longer than the fixture's 30-day event span => no mid-stream
    # eviction, so the converged state equals the batch aggregate (the
    # oracle).  Operationally this knob is the state-retention SLA.
    idle_evict_ms = 45 * 24 * 3_600_000

    # project to the 3 columns the stateful op touches BEFORE the
    # Python boundary (guide §4: applyInPandasWithState ships every
    # column of the grouped rows into the worker — the other 3 were
    # pure Arrow-transfer overhead per batch per key)
    ev = (
        _read_stream(spark, prepare_replay_dir(spark, sf_dir, late=False))
        .select("user_id", "value", "ts")
        .withWatermark("ts", "10 minutes")
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            cnt, total = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "n_events": [cnt], "sum_value": [round(total, 2)]}
            )
            return
        if state.exists:
            cnt, total = state.get
        else:
            cnt, total = 0, 0.0
        for pdf in pdf_iter:
            cnt += len(pdf)
            total += float(pdf["value"].sum())
        state.update((cnt, total))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + idle_evict_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [cnt], "sum_value": [round(total, 2)]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="cnt long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    outs = _run_availablenow(
        out, mode="update", state_partitions=PYTHON_STATE_SHUFFLE_PARTITIONS
    )
    return (
        outs.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "sum_value"), "__bid").alias("s"))
        .select("user_id", "s.n_events", "s.sum_value")
        .orderBy("user_id")
    )


def run_s8_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    customer dimension (user_id -> c_custkey), counted per nation.

    The static side is a plain batch DataFrame — Spark re-plans it into
    every micro-batch as a broadcast hash join (no streaming state at
    all: stream-static equi-joins are stateless, each event row joins
    against the dimension snapshot and is emitted exactly once in
    append mode).  This is the canonical enrichment shape for
    continuous ingest at scale: the dimension broadcasts, the stream
    never shuffles.
    """
    base = prepare_replay_dir(spark, sf_dir, late=False)
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    ev = _read_stream(spark, base).select("event_id", "user_id", "event_type")
    enriched = ev.join(customers, "user_id").select(
        "event_id", "event_type", "c_nationkey"
    )
    outs = _run_availablenow(enriched, mode="append")
    return (
        outs.groupBy("c_nationkey", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("c_nationkey", "event_type")
    )


def run_s9_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window PROPER (the streaming gap-session operator) over
    the in-order replay: per-user 30-minute-gap sessions, 10-minute
    watermark, update-mode emission.

    Session-window aggregation streams in APPEND mode only (update is
    rejected: merging sessions cannot retract an earlier emission), so
    each session is emitted exactly once — when the watermark passes
    its window end (last event + gap).  At stream end the watermark
    rests at ``max_ts - 10min``; sessions whose window end is beyond it
    (the final ~40 minutes of event time) remain unemitted open state —
    the batch-parity oracle excludes exactly those, which makes the
    append/finalization semantics themselves part of the hash.  Batch
    parity: s3 computes the same sessions via gaps-and-islands; both
    share the exact-gap convention (an event exactly 30min after its
    predecessor opens a new session — session_window is
    start-inclusive/end-exclusive).

    State scale: one session row per live (user, session); the
    watermark retires closed sessions, so state is bounded by active
    users — the 100 TB continuous-ingest shape.
    """
    ev = _read_stream(spark, prepare_replay_dir(spark, sf_dir, late=False))
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("start_us"),
            "n_events",
        )
    )
    outs = _run_availablenow(agg, mode="append")
    return outs.select("user_id", "start_us", "n_events").orderBy(
        "user_id", "start_us"
    )


def run_s10_stream_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: each micro-batch MERGEs into a parquet base
    table (foreachBatch + operators/merge.py merge_upsert) — the
    standard production pattern for maintaining a keyed latest-state
    table from a stream when no ACID table format is available.

    Per batch: reduce the batch to its latest row per user (max_by on
    (ts, event_id)), read the current base version, anti-join + union
    (update-else-insert), write base version N+1 — versioned dirs make
    each application atomic and idempotent: the base is always the
    latest version STRICTLY BELOW the current batch id, so a replayed
    batch rebuilds its own version dir from its true predecessor
    instead of reading the failed attempt it is about to overwrite.
    Under the in-order replay, per-batch-latest merged batch-over-batch
    equals the global latest per key, which is the DuckDB oracle.

    Scale: state lives in the base TABLE (not executor memory) — the
    pattern's cost is one anti-join + full rewrite per batch, which is
    why real deployments batch minutes of CDC, bucket the base table on
    the merge key (q111), or graduate to a format with merge-on-read.
    """
    base_root = _temp_dir("stream_merge_base_")
    ev = _read_stream(spark, prepare_replay_dir(spark, sf_dir, late=False))

    from osm_changesets_to_parquet_spark.operators.merge import merge_upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        latest = (
            batch_df.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts_us", "event_id", "value"),
                    F.struct("ts_us", "event_id"),
                ).alias("m")
            )
            .select(
                "user_id",
                F.col("m.event_id").alias("last_event_id"),
                F.col("m.ts_us").alias("last_ts_us"),
                F.col("m.value").alias("last_value"),
            )
        )
        # predecessors only: on a foreachBatch RETRY of batch N, v{N}
        # already exists (the failed attempt's dir) — reading it as the
        # base while overwriting the same path would self-corrupt, so
        # the base is always the latest version BELOW this batch id
        versions = sorted(
            v
            for d in os.listdir(base_root)
            if d.startswith("v") and (v := int(d[1:])) < batch_id
        )
        if versions:
            base = batch_df.sparkSession.read.parquet(
                os.path.join(base_root, f"v{versions[-1]}")
            )
            merged = merge_upsert(base, latest, "user_id")
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(
            os.path.join(base_root, f"v{batch_id}")
        )

    _start_stream(ev, "append", body=apply_batch)
    versions = sorted(int(d[1:]) for d in os.listdir(base_root) if d.startswith("v"))
    final = spark.read.parquet(os.path.join(base_root, f"v{versions[-1]}"))
    return final.select(
        "user_id", "last_event_id", "last_ts_us", "last_value"
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# s14: streaming near-dup ingestion against a growing persisted index
# ---------------------------------------------------------------------------

N_DOC_CHUNKS = 4


def prepare_docs_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Chunk the documents table into N_DOC_CHUNKS replay files by SQL
    ``NTILE(N) OVER (ORDER BY doc_id)`` (packing.global_ntile — exact
    ANSI semantics, so the oracle can name each doc's chunk), through
    the same replay writer as prepare_replay_dir, so the file stream
    delivers them in chunk order."""
    from osm_changesets_to_parquet_spark.operators.packing import global_ntile

    return _replay_fixture(
        spark,
        sf_dir,
        "documents",
        f"docs_replay_k{N_DOC_CHUNKS}",
        lambda docs: global_ntile(
            docs.select("doc_id", "text"), ["doc_id"], N_DOC_CHUNKS, out_col="__chunk"
        ),
    )


def run_s14_streaming_neardup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.6
) -> DataFrame:
    """Streaming near-dup ingestion — the q142 persisted-index probe as
    a CONTINUOUS pipeline: documents replay chunk-by-chunk; each
    micro-batch (a) probes the banded-signature index accumulated from
    every EARLIER batch (operators/dedup.py lsh_neardup_probe_index)
    and (b) appends its own bands/shingles under an idempotent
    ``__bid=N`` label (lsh_index_append), so a retried batch overwrites
    itself; the probe passes ``before_bid=batch_id`` so a REPLAYED
    batch never sees its own prior append (no self-pairs on retry) —
    together, exactly-once results on at-least-once foreachBatch.

    Emitted pairs are exactly the cross-batch near-dups (new_id's chunk
    strictly after old_id's chunk), each verified with the exact in-row
    Jaccard — the shape of de-duplicating a live crawl against
    yesterday's corpus at 100 TB: per-batch cost is the batch's bands
    plus matched bucket collisions, never a corpus re-scan (measured
    flat for the batch path in SURVEY §8's q142 replica runs).
    """
    import glob as _glob

    from osm_changesets_to_parquet_spark.operators import dedup as D

    base = prepare_docs_replay_dir(spark, sf_dir)
    idx = _temp_dir("s14_idx_")
    out_dir = _temp_dir("s14_pairs_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        has_index = _glob.glob(
            os.path.join(idx, "bands", "*", "*", "*.parquet")
        )
        if has_index:
            # before_bid makes the probe retry-safe (ADVICE r06): a
            # replayed batch that already appended itself under
            # __bid=batch_id must not probe its own prior append —
            # it would emit self-pairs (jac 1.0) and intra-batch
            # pairs and overwrite the correct per-batch output
            pairs = D.lsh_neardup_probe_index(
                batch_df.sparkSession,
                idx,
                batch_df,
                threshold=threshold,
                before_bid=batch_id,
            )
            pairs.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"__bid={batch_id}")
            )
        D.lsh_index_append(batch_df, idx, f"__bid={batch_id}")

    _start_stream(_read_stream(spark, base), body=sink)
    return (
        _read_bids(spark, out_dir, "new_id long, old_id long, jac double")
        .select("new_id", "old_id", "jac")
        .orderBy("new_id", "old_id")
    )


def run_s15_streaming_quality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality ROUTER — the continuous-curation front door: a
    documents replay streams through the t42 quality scorer and every
    micro-batch is written ONCE, dynamically partitioned by its
    disposition (``accept`` when >= 40 tokens and punctuation ratio
    <= 0.05, else ``quarantine``) under an idempotent ``__bid=N`` dir —
    a retried batch overwrites itself, and the router is one write (a
    partitionBy fan-out), not one job per sink.

    Returns the per-disposition rollup (n_docs, n_tokens) the oracle
    replays as a batch filter — deterministic because routing is a pure
    per-row predicate (no state, no watermark interaction).
    """
    from osm_changesets_to_parquet_spark.operators.text import quality_score

    base = prepare_docs_replay_dir(spark, sf_dir)
    out_dir = _temp_dir("s15_routed_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        scored = quality_score(batch_df)
        routed = scored.withColumn(
            "disposition",
            F.when(
                (F.col("n_tokens") >= 40) & (F.col("punct_ratio") <= 0.05),
                F.lit("accept"),
            ).otherwise(F.lit("quarantine")),
        )
        (
            routed.select("doc_id", "n_tokens", "disposition")
            .write.mode("overwrite")
            .partitionBy("disposition")
            .parquet(os.path.join(out_dir, f"__bid={batch_id}"))
        )

    _start_stream(_read_stream(spark, base), body=sink)
    return (
        spark.read.parquet(out_dir)
        .groupBy("disposition")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("disposition")
    )


def run_s16_streaming_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING first-order event-transition counting — the s6-style
    custom stateful op the built-in aggregates can't express: the
    transition (src -> dst) needs the PREVIOUS event per user, which
    lives in keyed state across micro-batches.

    State per user is exactly one tuple (the last event_type) —
    bounded by the user population, not the stream length; a real
    deployment adds s6's event-time idle eviction, which this replay
    doesn't need (NoTimeout lets availableNow drain without the
    processing-time spin documented at run_s6).  Each micro-batch
    sorts its per-user rows by (ts_us, event_id) — the same total
    order the batch q156 and the replay chunking use — chains them
    onto the stored last event, and emits the batch's (src, dst)
    pair counts; the final reduce sums counts across batches.  Late
    data is the documented trade: an out-of-order arrival would chain
    at its ARRIVAL position (the batch spelling re-sorts globally) —
    the replay fixture is in event-time order, so here they agree
    exactly.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = prepare_replay_dir(spark, sf_dir, late=False)
    ev = _read_stream(spark, base).select(
        "user_id", "ts_us", "event_id", "event_type"
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        import collections

        import numpy as np

        # order the batch's rows by (ts_us, event_id) with one numpy
        # lexsort over the raw arrays — pd.concat + sort_values built
        # and re-indexed a DataFrame per KEY (1.5k keys/batch), which
        # was pure per-key overhead in the updates time
        pdfs = [p for p in pdf_iter]
        one = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs)
        order = np.lexsort(
            (one["event_id"].to_numpy(), one["ts_us"].to_numpy())
        )
        seq = list(one["event_type"].to_numpy()[order])
        if state.exists:
            (last,) = state.get
            seq = [last] + seq
        if seq:
            state.update((seq[-1],))
        pairs = collections.Counter(zip(seq, seq[1:]))
        if not pairs:
            return
        yield pd.DataFrame(
            {
                "src": [s for s, _ in pairs],
                "dst": [d for _, d in pairs],
                "cnt": [int(c) for c in pairs.values()],
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="src string, dst string, cnt long",
        stateStructType="last string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    outs = _run_availablenow(
        out, mode="update", state_partitions=PYTHON_STATE_SHUFFLE_PARTITIONS
    )
    trans = outs.groupBy("src", "dst").agg(F.sum("cnt").alias("cnt"))
    tot = trans.groupBy("src").agg(F.sum("cnt").alias("__tot"))
    return (
        trans.join(tot, "src")
        .select(
            "src",
            "dst",
            "cnt",
            F.round(F.col("cnt") / F.col("__tot").cast("double"), 6).alias("prob"),
        )
        .orderBy("src", "dst")
    )


def run_s17_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — s11's shape completed on both
    sides: every click with its purchase if one followed within 5
    minutes, every purchase with its click if one preceded it.

    Outer-emission timing follows state eviction exactly as in s11:
    an unmatched CLICK emits (click_id, NULL) when the global watermark
    passes its join-window end (click_ts + 5 min); an unmatched
    PURCHASE emits (NULL, purchase_id) when the watermark passes the
    last click time that could still match it (purchase_ts — matching
    clicks satisfy click_ts in [purchase_ts - 5 min, purchase_ts)).
    Rows whose eviction bound reaches the final resting watermark stay
    live and never emit; the oracle encodes both bounds, so the
    two-sided eviction semantics are part of the hash.
    """
    base = prepare_replay_dir(spark, sf_dir, late=False)
    clicks = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _read_stream(spark, base)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 5 MINUTES")),
        "fullOuter",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
    )
    outs = _run_availablenow(joined, mode="append")
    return outs.select("click_id", "purchase_id", "user_id").orderBy(
        "click_id", "purchase_id"
    )


def run_s18_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch maintenance — the continuous twin of
    q80: each document micro-batch's tokens fold into the (j, bucket)
    counter table through an update-mode streaming aggregation whose
    state is BOUNDED at depth x width counters (4096 rows) no matter
    how long the stream runs — the sketch IS the state, the defining
    property of a mergeable summary under Structured Streaming.

    Because counter addition commutes with micro-batching, the final
    streamed counters equal the batch-built sketch EXACTLY, so the
    top-20 token estimates hash-match the same SQL oracle as q80 (the
    update-mode consumer takes each key's value at its max __bid).
    """
    from osm_changesets_to_parquet_spark.operators import fasthash
    from osm_changesets_to_parquet_spark.operators import sketches as S

    base = prepare_docs_replay_dir(spark, sf_dir)
    stream = _read_stream(spark, base)
    # vectorized char-hash kernel, materialized once per token (r14):
    # the interpreted HOF fold was inlined into all CMS_DEPTH bucket
    # expressions — re-evaluated per sketch row per character
    rows = (
        stream.select(F.explode(F.split("text", " ")).alias("token"))
        .select(fasthash.char_hash_udf(F.col("token")).alias("__th"))
        .select(
            F.posexplode(
                F.array(
                    *[S.cms_bucket(F.col("__th"), j) for j in range(S.CMS_DEPTH)]
                )
            ).alias("j", "bucket")
        )
    )
    counts = rows.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    out = _run_availablenow(counts, mode="update")
    sketch = out.groupBy("j", "bucket").agg(
        F.max_by("cnt", "__bid").alias("cnt")
    )
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    top = (
        tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "token")
        .limit(20)
    )
    est = S.cms_estimate(sketch, top.select("token"))
    return (
        top.join(est, "token")
        .select("token", "exact_cnt", "cms_est")
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


def run_s19_streaming_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING pattern detection (the CEP / MATCH_RECOGNIZE shape):
    emit a conversion whenever a purchase arrives within 1 hour of the
    user's most recent view — the stateful two-step pattern the
    built-in stream joins express only as an interval join with a
    whole-window buffer; keyed state here is ONE timestamp per user
    (the last view), bounded by the user population.

    Each micro-batch sorts its per-user rows by (ts_us, event_id) —
    the replay's event-time order — walks them against the stored
    last-view timestamp, and emits (purchase, gap) rows; a view simply
    overwrites the state.  Same in-order-replay trade documented at
    run_s16.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_max = 3_600_000_000

    base = prepare_replay_dir(spark, sf_dir, late=False)
    ev = _read_stream(spark, base).select(
        "user_id", "ts_us", "event_id", "event_type"
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        import numpy as np

        # numpy lexsort instead of pd.concat + sort_values per key —
        # same (ts_us, event_id) total order, none of the per-key
        # DataFrame re-index overhead (the s16 fix)
        pdfs = list(pdf_iter)
        one = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs)
        ts_a = one["ts_us"].to_numpy()
        eid_a = one["event_id"].to_numpy()
        order = np.lexsort((eid_a, ts_a))
        last_view = state.get[0] if state.exists else None
        out_ids, out_gaps = [], []
        for ts, eid, et in zip(
            ts_a[order], eid_a[order], one["event_type"].to_numpy()[order]
        ):
            if et == "view":
                last_view = int(ts)
            elif et == "purchase" and last_view is not None:
                gap = int(ts) - last_view
                if 0 <= gap <= gap_max:
                    out_ids.append(int(eid))
                    out_gaps.append(gap)
        if last_view is not None:
            state.update((last_view,))
        if not out_ids:
            return
        yield pd.DataFrame(
            {
                "user_id": [int(user_id)] * len(out_ids),
                "purchase_event_id": out_ids,
                "gap_us": out_gaps,
            }
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, purchase_event_id long, gap_us long",
        stateStructType="last_view long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    outs = _run_availablenow(
        out, mode="update", state_partitions=PYTHON_STATE_SHUFFLE_PARTITIONS
    )
    return outs.select("user_id", "purchase_event_id", "gap_us").orderBy(
        "purchase_event_id"
    )


def run_s20_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WRITE through the Python DataSource API — the fourth
    quadrant (cs11 batch read, s13 partition-planned stream read, cs12
    batch write): the events replay streams into the
    ``format("events_chunks")`` stream sink; each micro-batch
    partition's rows land in an executor-written parquet file and the
    driver's per-epoch ``commit(messages, batchId)`` atomically
    publishes ``_MANIFEST-{batchId}.json`` — the manifest-only
    visibility contract means a torn epoch publishes nothing.  The
    verification reads back ONLY what the manifests name (the
    manifest-honoring reader) and aggregates; hash-matching the same
    aggregate over the source table proves the streaming path lossless
    and exactly-once-visible.
    """
    from osm_changesets_to_parquet_spark.sources import events_sink_pyds

    events_sink_pyds.register(spark)
    base = prepare_replay_dir(spark, sf_dir, late=False)
    stream = _read_stream(spark, base).select(
        "event_id", "user_id", "event_type", "value", "ts_us"
    )
    out = _temp_dir("s20_sink_")  # fresh epoch set per run
    _start_stream(
        stream,
        "append",
        writer=lambda w: w.format("events_chunks").option("path", out),
    )
    back = spark.read.format("events_chunks").option("path", out).load()
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        )
        .orderBy("event_type")
    )


def run_s21_streaming_topk(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Streaming top-k heavy users — the continuous twin of q24's
    global top-k: per-user event counts accumulate through an
    update-mode streaming aggregation (state = one counter per user,
    bounded by the key population, NOT the stream length), each
    micro-batch appending its changed keys under ``__bid``; the final
    top-k reduces max-__bid-per-key then TakeOrders k rows.

    Counter addition commutes with micro-batching, so the streamed
    counts equal the batch counts EXACTLY and the result hash-matches
    the batch SQL oracle.  At 100 TB/day the state store carries the
    user population; the top-k itself is a per-batch O(k) concern for
    a real-time consumer (here reduced once at stream end, from the
    ``__bid`` parquet sink of _run_availablenow).
    """
    base = prepare_replay_dir(spark, sf_dir)
    stream = _read_stream(spark, base)
    counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    out = _run_availablenow(counts, mode="update")
    latest = out.groupBy("user_id").agg(F.max_by("cnt", "__bid").alias("cnt"))
    return (
        latest.select("user_id", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(k)
    )


def run_s22_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly screening: flag events whose value deviates
    >2 sigma from the PRIOR batches' running moments for their type.

    The defining stateful-semantics twist vs s6/s16: the decision for a
    batch uses state BEFORE the batch updates it (an online detector
    must not let an anomaly mask itself by inflating the variance it is
    judged against).  State per type = (batches_seen, n, s1, s2) cents
    power sums; the flag compare is done in arbitrary-precision Python
    ints ((v*n - s1)^2 * (n-1) > 4 * n * (n*s2 - s1^2) — the z^2 > 4
    inequality cleared of divisions), so there is NO float and NO
    overflow at any scale; the oracle mirrors it through HUGEINT.

    Emits one row per (type, batch): batch sequence, batch size, and
    flags — the replay arrives in event-time order, so the per-batch
    output equals the chunk-windowed batch oracle exactly.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = prepare_replay_dir(spark, sf_dir, late=False)
    ev = _read_stream(spark, base).select("event_type", "value")

    def update(key, pdf_iter, state: GroupState):
        (event_type,) = key
        if state.exists:
            seen, n, s1, s2 = state.get
        else:
            seen, n, s1, s2 = 0, 0, 0, 0
        n, s1, s2 = int(n), int(s1), int(s2)
        n_batch = 0
        n_flagged = 0
        bn, bs1, bs2 = 0, 0, 0
        for pdf in pdf_iter:
            for val in pdf["value"]:
                # cents, rounded half away from zero (SQL ROUND; never
                # python round() — half-even, the /verify gotcha)
                x = float(val) * 100
                v = int(x + 0.5) if x >= 0 else -int(-x + 0.5)
                n_batch += 1
                if n >= 30:
                    lhs = (v * n - s1) ** 2 * (n - 1)
                    rhs = 4 * n * (n * s2 - s1 * s1)
                    if lhs > rhs:
                        n_flagged += 1
                bn += 1
                bs1 += v
                bs2 += v * v
        state.update((seen + 1, n + bn, s1 + bs1, s2 + bs2))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "batch_seq": [seen + 1],
                "n_batch": [n_batch],
                "n_flagged": [n_flagged],
            }
        )

    out = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, batch_seq long, n_batch long, n_flagged long"
        ),
        stateStructType="seen long, n long, s1 long, s2 long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    outs = _run_availablenow(out, mode="append")
    return (
        outs.select("event_type", "batch_seq", "n_batch", "n_flagged")
        .orderBy("event_type", "batch_seq")
    )


S23_CRASH_BATCH = 2  # mid-replay (5 one-file micro-batches: 0..4)


def run_s23_crash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ACROSS RESTARTS — the crash-recovery witness: a
    checkpointed update-mode aggregation is KILLED mid-replay by an
    injected sink failure, restarted from the same checkpoint, and the
    recovered final state must hash-match the uninterrupted batch
    aggregate (the oracle).

    The injected crash is the adversarial placement: batch
    ``S23_CRASH_BATCH``'s foreachBatch body WRITES its output
    directory and THEN raises — the failure lands between the sink's
    physical write and the checkpoint's commit-log record.  On restart
    Spark must therefore (a) roll per-key state back to the last
    COMMITTED batch's store version (no partial-state leak from the
    failed attempt), and (b) REPLAY the crashed batch under the same
    batch id, which the sink's overwrite-by-batch-id layout absorbs
    idempotently.  A replay without state rollback would double-count
    the crashed batch's events; a checkpoint that recorded offsets
    before the sink committed would lose them — either corruption
    hash-mismatches the oracle, so the at-least-once + idempotent-sink
    = exactly-once contract is witnessed, not assumed.

    Values are aggregated in integer CENTS (round-half-away then cast,
    mirrored in the oracle) so recovery equality is bit-exact, never
    float-tolerance.
    """
    base = prepare_replay_dir(spark, sf_dir)
    out_dir = _temp_dir("s23_out_")
    ckpt_dir = _temp_dir("s23_ckpt_")
    # '_'-prefixed: invisible to the parquet reader's file listing
    crash_marker = os.path.join(out_dir, "_CRASHED")

    agg = (
        _read_stream(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"__bid={batch_id}")
        )
        if batch_id == S23_CRASH_BATCH and not os.path.exists(crash_marker):
            open(crash_marker, "w").close()
            raise RuntimeError(
                f"s23 injected crash: batch {batch_id} written, not committed"
            )

    try:
        _start_stream(agg, body=sink, ckpt_dir=ckpt_dir)
    except Exception as e:  # StreamingQueryException wraps the cause
        if "s23 injected crash" not in str(e):
            raise
    else:
        raise AssertionError("s23: injected crash did not fire")
    # SAME checkpoint — recovery, not a rerun; must complete clean this time
    _start_stream(agg, body=sink, ckpt_dir=ckpt_dir)
    assert os.path.exists(crash_marker), "s23: crash path never executed"

    out = spark.read.parquet(out_dir)
    latest = out.groupBy("event_type").agg(
        F.max_by("n_events", "__bid").alias("n_events"),
        F.max_by("value_cents", "__bid").alias("value_cents"),
    )
    return latest.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("value_cents").cast("long").alias("value_cents"),
        # control-flow above proves: one crash fired, restart completed
        F.lit(True).alias("recovered"),
    ).orderBy("event_type")


def run_s24_stream_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment — q300's online twin (the
    feature-store MATERIALIZATION path): per-user state carries the
    latest signup's (ts, event_id, cents-attr); every purchase in a
    micro-batch is tagged with the attribute active AT ITS EVENT TIME.

    Order discipline: within a batch, rows apply in (ts, kind,
    event_id) order with signups before same-instant purchases —
    exactly q300's window order; across batches the replay arrives in
    global event-time order, so state is always "everything strictly
    earlier".  (A same-microsecond signup/purchase pair for one user
    could straddle a batch boundary in (ts, event_id) arrival order;
    the fixtures contain zero same-user ts ties at any sf — probed —
    and a production deployment would chunk on (ts, kind, id).)
    State is THREE scalars per user — bounded by the entity
    population, never the stream length.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    base = prepare_replay_dir(spark, sf_dir)
    ev = (
        _read_stream(spark, base)
        .where(F.col("event_type").isin("signup", "purchase"))
        .select("user_id", "event_id", "ts_us", "event_type", "value")
    )

    def update(key, pdf_iter, state: GroupState):
        import numpy as np

        (user_id,) = key
        if state.exists:
            s_ts, s_eid, s_attr = state.get
            has = True
        else:
            s_ts = s_eid = s_attr = 0
            has = False
        # vectorized state machine (r14, the s16/s19 §4 fix): one numpy
        # lexsort over the raw arrays replaces pd.concat + sort_values
        # per KEY, and a signup->purchase forward-fill replaces the
        # per-row itertuples loop — the active signup for each purchase
        # is the LAST signup index at-or-before it in (ts, kind, eid)
        # order, exactly the sequential scan's state variable
        pdfs = [p for p in pdf_iter]
        one = pdfs[0] if len(pdfs) == 1 else (pd.concat(pdfs) if pdfs else None)
        out_eid = out_ts = out_attr = out_cents = []
        if one is not None and len(one):
            ts = one["ts_us"].to_numpy()
            eid = one["event_id"].to_numpy()
            kind = (one["event_type"].to_numpy() == "purchase").astype(np.int8)
            val = one["value"].to_numpy(dtype=np.float64)
            order = np.lexsort((eid, kind, ts))
            ts, eid, kind, val = ts[order], eid[order], kind[order], val[order]
            # cents, round half away from zero (SQL ROUND) — same float
            # path as the scalar int(x + 0.5) truncation it replaces
            x = val * 100.0
            cents = np.where(
                x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)
            ).astype(np.int64)
            sig = kind == 0
            last_sig = np.maximum.accumulate(
                np.where(sig, np.arange(len(ts)), -1)
            )
            pur = (kind == 1) & ((last_sig >= 0) | has)
            attr_arr = np.where(
                last_sig >= 0, cents[np.maximum(last_sig, 0)], s_attr
            )
            out_eid = eid[pur]
            out_ts = ts[pur]
            out_attr = attr_arr[pur]
            out_cents = cents[pur]
            if sig.any():
                j = int(np.flatnonzero(sig)[-1])
                s_ts, s_eid, s_attr = int(ts[j]), int(eid[j]), int(cents[j])
                has = True
        if has:
            # never materialize a sentinel state: a user with no signup
            # yet must stay stateless, or the next batch would read
            # exists=True and enrich pre-signup purchases with attr=0
            state.update((s_ts, s_eid, s_attr))
        yield pd.DataFrame(
            {
                "event_id": pd.Series(out_eid, dtype="int64"),
                "user_id": pd.Series([user_id] * len(out_eid), dtype="int64"),
                "ts_us": pd.Series(out_ts, dtype="int64"),
                "attr": pd.Series(out_attr, dtype="int64"),
                "cents": pd.Series(out_cents, dtype="int64"),
            }
        )

    enriched = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "event_id long, user_id long, ts_us long, attr long, cents long"
        ),
        stateStructType="s_ts long, s_eid long, s_attr long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    outs = _run_availablenow(
        enriched, mode="append", state_partitions=PYTHON_STATE_SHUFFLE_PARTITIONS
    )
    return outs.select("event_id", "user_id", "ts_us", "attr", "cents").orderBy(
        "event_id"
    )


S25_BINS = 1024
S25_WIDTH_CENTS = 64  # fixed a-priori domain [0, 65536) cents
S25_QBP = (5000, 9000, 9900)


def run_s25_streaming_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING mergeable quantile sketch — q312's continuous twin:
    each micro-batch folds event values into the fixed 1024-bin
    equi-width histogram through an update-mode streaming aggregation
    whose state is bounded at 1024 counters no matter how long the
    stream runs.  Unlike batch q312 (which sizes bins from the
    observed min/max), a STREAM must pin the bin domain a priori —
    the production config decision this job documents: [0, 65536)
    cents at 64 cents/bin, values past the domain clamping into the
    top bin (none in the fixtures; a clamped domain widens the error
    bound for the clamped tail only).

    Counter addition commutes with micro-batching, so the streamed
    histogram equals the batch histogram EXACTLY; P50/P90/P99 read
    from the bin cumulative are then audited against the exact
    value-domain ranks (computed batch-side over the same table via
    the range-bucketed global cumsum) with the one-bin-width
    guarantee, hash-matched by the same SQL oracle.
    """
    from pyspark.sql.window import Window

    from osm_changesets_to_parquet_spark.operators.packing import (
        global_cumsum,
    )

    base = prepare_replay_dir(spark, sf_dir, late=False)
    stream = _read_stream(spark, base)
    cents = F.round(F.col("value") * 100).cast("long")
    binexpr = F.least(
        F.floor(cents / S25_WIDTH_CENTS).cast("long"),
        F.lit(S25_BINS - 1),
    )
    hist_stream = stream.select(binexpr.alias("bin")).groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    out = _run_availablenow(hist_stream, mode="update")
    sketch = out.groupBy("bin").agg(
        F.max_by("cnt", "__bid").cast("long").alias("cnt")
    )
    # quantile read-off from the streamed sketch (bounded 1024-row frame)
    hcum = sketch.select(
        "bin",
        F.sum("cnt")
        .over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cum"),
    )
    # exact audit side over the batch table (the stream's source of truth)
    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("c")
    )
    st = ev.agg(F.count(F.lit(1)).cast("long").alias("n"))
    vals = ev.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("vcnt"))
    vcum = global_cumsum(vals, "c", "vcnt", out_col="cum").select("c", "cum")
    r = (
        spark.createDataFrame([(q,) for q in S25_QBP], "q_bp long")
        .crossJoin(st)
        .select(
            "q_bp",
            F.ceil(F.col("q_bp") * F.col("n") / 10000.0).cast("long").alias("rk"),
        )
    )
    approx = (
        r.crossJoin(hcum)
        .groupBy("q_bp")
        .agg(F.min(F.when(F.col("cum") >= F.col("rk"), F.col("bin"))).alias("bin"))
    )
    exact = (
        r.crossJoin(vcum)
        .groupBy("q_bp")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.col("rk"), F.col("c"))
            ).alias("exact_cents")
        )
    )
    approx_lo = F.col("bin") * S25_WIDTH_CENTS
    return (
        approx.join(exact, "q_bp")
        .select(
            "q_bp",
            F.col("exact_cents").cast("long").alias("exact_cents"),
            approx_lo.cast("long").alias("approx_lo_cents"),
            (F.col("exact_cents") - approx_lo).cast("long").alias("err_cents"),
            (
                (F.col("exact_cents") >= approx_lo)
                & (
                    F.col("exact_cents")
                    < (F.col("bin") + 2) * S25_WIDTH_CENTS
                )
            ).alias("within_bound"),
        )
        .orderBy("q_bp")
    )


S26_CUTOVER_US = 1_705_276_800_000_000  # 2024-01-15T00:00:00Z, epoch micros


def run_s26_backfill_cutover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture reconciliation — the backfill/cutover witness:
    a BATCH backfill aggregates history at or before the cutover
    instant, a STREAMING job aggregates strictly after it (the filter
    is pushed into the stream source), and the serving table is the
    two partial aggregates MERGED per key.  The oracle is the pure
    batch aggregate over the whole table, so the witnessed property is
    the one every migration gets wrong at least once: the <=/> pair
    partitions the stream EXACTLY at the boundary — an inclusive-
    inclusive pair double-counts boundary events, exclusive-exclusive
    drops them, and either corruption hash-mismatches.

    Merge is an integer add of (count, cents) partials per key — the
    mergeable-aggregate contract (the same property q100/q154 witness
    for batch increments) applied across the batch/stream seam.  The
    streamed side's final partial is the max-__bid row per key of an
    update-mode availableNow aggregation (_run_availablenow).
    """
    base = prepare_replay_dir(spark, sf_dir)
    from osm_changesets_to_parquet_spark.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts_us") <= S26_CUTOVER_US)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_batch"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents_batch"),
        )
    )
    streamed = (
        _read_stream(spark, base)
        .where(F.col("ts_us") > S26_CUTOVER_US)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_stream"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "cents_stream"
            ),
        )
    )
    per_batch = _run_availablenow(streamed, mode="update")
    latest = per_batch.groupBy("event_type").agg(
        F.max_by("n_stream", "__bid").cast("long").alias("n_stream"),
        F.max_by("cents_stream", "__bid").cast("long").alias("cents_stream"),
    )
    merged = batch.join(latest, "event_type", "full_outer").select(
        "event_type",
        F.coalesce(F.col("n_batch"), F.lit(0)).cast("long").alias("n_batch"),
        F.coalesce(F.col("n_stream"), F.lit(0))
        .cast("long")
        .alias("n_stream"),
        (
            F.coalesce(F.col("n_batch"), F.lit(0))
            + F.coalesce(F.col("n_stream"), F.lit(0))
        )
        .cast("long")
        .alias("n_events"),
        (
            F.coalesce(F.col("cents_batch"), F.lit(0))
            + F.coalesce(F.col("cents_stream"), F.lit(0))
        )
        .cast("long")
        .alias("value_cents"),
    )
    return merged.orderBy("event_type")

"""Lineage control for iterative DataFrame chains (connected
components, PageRank, Lloyd iterations, shingle indexes).

Iterative algorithms double their logical plan every round unless the
lineage is cut.  Two ways to cut it, with different fault-tolerance:

- ``checkpoint()`` (reliable): writes the partitions to the configured
  checkpoint directory (HDFS/S3 on a real cluster).  An executor loss
  recomputes from the checkpoint — the right choice for long chains
  over 100 TB, at the price of a distributed write per cut.
- ``localCheckpoint()``: eager, executor-local block storage,
  unreplicated.  Fast (no remote write) but an executor loss makes the
  job fail instead of recover, and materialization happens at
  *operator-construction* time.

:func:`truncate_lineage` picks reliable checkpointing whenever the
session has a checkpoint dir configured (``spark.sparkContext.
setCheckpointDir(...)`` — the production setting) and falls back to
``localCheckpoint`` otherwise (local mode, tests), so operators written
against it get cluster-grade fault tolerance by configuration, not by
code change.

Storage hygiene: checkpoint files are only deleted when their RDD is
GC'd AND ``spark.cleaner.referenceTracking.cleanCheckpoints`` is true —
session.get_spark sets it, so a 20-iteration loop does not retain 20
dataset copies for the application lifetime.  Sessions built elsewhere
should set the same conf before configuring a checkpoint dir.

:func:`checkpoint_metrics` is the one spelling of "cut the lineage and
read a count from the same job": the cut must materialize the frame
anyway, so the metrics ride it as an ``observe()`` of that job instead
of costing a separate action.  Iterative loops read their convergence
counter from it, and size-gated operators read the row count that
decides between a single-task finish (at most
:data:`LOCAL_FINISH_MAX_ROWS` rows) and the distributed path: the
composable core-set pattern of contracting distributed and solving
the small remainder locally.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation

# Single-task finish cap: 1M rows of a few long/short-string columns is
# tens of MB through Arrow, one task's work in well under a second,
# while any input a 100 TB corpus makes *hard* exceeds it and takes the
# distributed path.  Gated on an observed row count, not on core count.
LOCAL_FINISH_MAX_ROWS = 1_000_000


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut the plan lineage of ``df``; see module docstring for policy."""
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # very old API fallback — treat as unset
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


def checkpoint_metrics(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Cut the lineage of ``df`` and return it with ``metrics`` (name ->
    aggregate Column) observed on that same job: exactly one Spark job
    per call.  A NULL metric (e.g. a SUM over no rows) reads as 0."""
    obs = Observation()
    cut = truncate_lineage(
        df.observe(obs, *[c.alias(name) for name, c in metrics.items()])
    )
    got = obs.get
    return cut, {name: got[name] or 0 for name in metrics}

"""Lineage truncation and in-plan reuse: one rule for both.

Rule: when the session has a checkpoint dir, frames are checkpointed
reliably (``checkpoint()``); otherwise locally (``localCheckpoint()``).
Nothing here changes session state.

- :func:`truncate` checkpoints eagerly: iterative loops cut their
  lineage every round.
- :func:`materialize` checkpoints lazily, for a frame that several
  branches of ONE plan read: the first job that computes it stores it,
  and no cached relation is left behind for the caller to release.

Reliable checkpoints are a deployment setting: start the session with
``--conf spark.checkpoint.dir=hdfs://...``, or set the SparkContext's
checkpoint dir before the query runs.

Why: ``localCheckpoint`` blocks live on executor storage, so one lost
executor aborts the query instead of recomputing it (seen in round 5 as
a TorrentBroadcast store failure killing ``dedup_keep_best`` under
contention). A reliable checkpoint survives executor loss at the price
of a distributed-FS write per call — the right choice on a preemptible
cluster. A lazy reliable checkpoint is not persisted first, so its
write recomputes the frame once more after the first job that reads it.

Under AQE neither form is fully lazy: creating the checkpoint plans the
frame, which runs the map stages of any exchange inside it at build
time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage (see module rule)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def materialize(df: DataFrame) -> DataFrame:
    """Mark ``df`` to be stored by its first computation, for the other
    readers of the same plan (see module rule)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=False)
    return df.checkpoint(eager=False)

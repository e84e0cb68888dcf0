"""Lineage truncation for iterative DataFrame loops.

Rule: :func:`truncate` does an eager reliable ``checkpoint()`` when the
session has a checkpoint dir, and an eager ``localCheckpoint()``
otherwise. It never changes session state.

Reliable checkpoints are a deployment setting: start the session with
``--conf spark.checkpoint.dir=hdfs://...``, or set the SparkContext's
checkpoint dir before the query runs.

Why: ``localCheckpoint`` blocks live on executor storage, so one lost
executor aborts the query instead of recomputing it (seen in round 5 as
a TorrentBroadcast store failure killing ``dedup_keep_best`` under
contention). A reliable checkpoint survives executor loss at the price
of a distributed-FS write per call — the right choice on a preemptible
cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and cut its lineage (see module rule)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)

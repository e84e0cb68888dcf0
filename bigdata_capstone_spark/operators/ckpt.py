"""Lineage truncation for iterative DataFrame loops — shared mechanism.

Every iterative operator in this package that runs an action per round
(connected_components in dedup.py, pagerank / hits in graph.py) must
truncate lineage each round or round k re-executes rounds 1..k-1 —
O(k²) joins instead of O(k); label_propagation in graph.py keeps its
fixed rounds in one lazy plan and truncates only its edge list, once.
Two mechanisms exist, with different failure modes:

- ``localCheckpoint`` (the default): blocks live on EXECUTOR storage.
  Fast (no distributed-FS write), fine on local mode — but one lost
  executor aborts the query instead of recomputing (observed in round 5
  as a TorrentBroadcast store failure under contention).
- reliable ``checkpoint()`` into a caller-owned HDFS/S3 directory:
  survives executor loss at the price of a distributed-FS write per
  round. The right choice on a preemptible 1000-executor cluster.

:func:`lineage_truncation` packages the choice as a context manager so
all three iterative operators share one audited implementation instead
of three divergent copies.

Global-state contract: ``SparkContext.setCheckpointDir`` is SESSION
state, not per-query state. The context manager therefore SAVES the
prior checkpoint dir and RESTORES it on exit, so a later reliable
``checkpoint()`` elsewhere in the session does not silently write into
this operator's directory. Two remaining session-wide caveats, by
design: (1) if no checkpoint dir was set before, it stays set to the
caller's dir after exit (Spark exposes no public unset); (2) CONCURRENT
queries in one session passing different dirs race on the global
setting — callers running parallel iterative queries should share one
directory per session.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def lineage_truncation(
    spark: SparkSession, checkpoint_dir: str | None
) -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield a ``ckpt(df) -> df`` callable that truncates lineage.

    ``checkpoint_dir=None`` → eager ``localCheckpoint`` (executor-local,
    non-fault-tolerant). A directory → eager reliable ``checkpoint()``
    into it, with the session's prior checkpoint dir restored on exit
    (see module docstring for the global-state contract).
    """
    if checkpoint_dir is None:
        yield lambda df: df.localCheckpoint(eager=True)
        return
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(checkpoint_dir)
    try:
        yield lambda df: df.checkpoint(eager=True)
    finally:
        if prev is not None and prev != checkpoint_dir:
            sc.setCheckpointDir(prev)

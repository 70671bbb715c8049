"""Lineage truncation policy for iterative operators.

Iterative DataFrame algorithms (min-label connected components, the
BPE merge loop) double their lazy plan every round; without
truncation a diameter-14 graph OOMs the DRIVER during plan
optimization before any data moves. Two truncation modes:

- ``localCheckpoint`` (default, ``checkpoint_dir=None``): pins each
  round's result in executor block storage. Zero I/O cost, but
  executor-LOCAL — on a real cluster, losing an executor
  mid-iteration loses its blocks and forces recomputation from
  scratch (lineage is gone, so Spark can't rebuild just the lost
  partitions).
- reliable ``checkpoint`` (opt-in, pass a ``checkpoint_dir`` on
  durable shared storage — HDFS/S3): each round persists to the
  checkpoint dir, surviving executor loss. Costs one write+read of
  the (small: node/label or vocab-sized) intermediate per round —
  the right trade for long-running jobs at cluster scale. See
  SCALE.md §iterative-ops.

Operators that read one intermediate twice (both sides of a
self-join, a count and a join) persist it through ``bounded_persist``,
which keeps a process-wide bound on how many such caches stay live.
Truncations stay outside that bound: a truncated plan has no lineage
left to recompute from.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame


def make_truncate(df_for_session: DataFrame, checkpoint_dir: str | None):
    """Returns truncate(df) implementing the chosen policy. Sets the
    session's checkpoint dir once when a reliable dir is given."""
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)
    sc = df_for_session.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


_LIVE_CACHES: list[DataFrame] = []
_MAX_LIVE_CACHES = 8
_LIVE_CACHES_LOCK = threading.Lock()


def bounded_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` with a bounded lifetime: at most
    ``_MAX_LIVE_CACHES`` frames persisted through here stay cached,
    the oldest unpersisted first, so a long-lived session that calls
    the operators repeatedly does not accumulate cached blocks
    forever. An evicted frame that is still referenced recomputes, so
    this is a memory bound, never a correctness risk. Concurrent
    callers share the bound through a lock.

    Spark keys a cache by plan, not by DataFrame: an older entry with
    ``df``'s plan (say from an earlier run of the same query, after a
    ``clearCache``) is dropped from the list here, so evicting it
    later cannot uncache ``df``."""
    with _LIVE_CACHES_LOCK:
        _LIVE_CACHES[:] = [old for old in _LIVE_CACHES if not old.sameSemantics(df)]
        while len(_LIVE_CACHES) >= _MAX_LIVE_CACHES:
            old = _LIVE_CACHES.pop(0)
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — session may already be gone
                pass
        out = df.persist()
        _LIVE_CACHES.append(out)
    return out

"""Materialization barrier shared by every operator that must pin ONE
evaluation of a nondeterministic subplan (range-partition sampling,
sort ties, sampled signatures) before multiple readers consume it.

Physical form, chosen by ``spark.sparkocr.pin`` (runtime-settable):

- ``auto`` (default): reliable checkpoint when
  ``SparkContext.setCheckpointDir`` is configured, else executor-local
  checkpoint.
- ``local``: always ``localCheckpoint`` — the opt-out for applications
  that set a checkpoint dir for their OWN purposes (GraphFrames,
  streaming state) and do not want sparkocr's internal barriers
  rerouted to reliable storage.
- ``reliable``: always a reliable checkpoint; raises if no checkpoint
  dir is configured (fail-fast beats silently losing fault tolerance).

Why reliable at scale: executor-local checkpoint blocks die with their
executor (dynamic allocation, spot preemption, node failure —
scripts/demo_fault_tolerance.py pins the resulting
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND abort); a reliable checkpoint
re-reads lost partitions from the checkpoint dir instead. This is the
100 TB posture.

Cost model (reliable, eager): Spark's ``Dataset.checkpoint`` runs the
materializing count job and then a SECOND job that writes the
checkpoint files — and that write job would recompute the whole
subplan from scratch (the long-standing SPARK-8582 behavior). ``pin``
therefore persists the input around the eager checkpoint so the write
job reads cached blocks, then unpersists: one compute, one cache scan,
one write. Two escape hatches:

- input already cached by the CALLER (non-NONE storage level): ``pin``
  leaves the caller's cache entry alone — persisting again would be a
  CacheManager no-op whose paired unpersist destroys the caller's
  entry — and checkpoints directly (the write job reads that cache).
- ``spark.sparkocr.pin.cache=false`` (runtime-settable): skip the
  cache entirely and accept the SPARK-8582 compute-twice, for pins
  whose subplan is too large for executor memory + local disk (the
  checkpoint dir on HDFS/S3 is unbounded; executor spill disk is not).

``persisted`` is that persist-around-the-action step on its own, with
both escape hatches; the ordered sinks use it too, because
``repartitionByRange`` samples its range bounds in a job of its own
that recomputes the whole child (see ``sparkocr.engine.ordered``).

Lazy reliable pins are REJECTED (``eager=False`` + reliable mode): the
triggering consumer would read evaluation #1 while the checkpoint
files store a recomputed evaluation #2 — the exact silent-two-answers
mode this module exists to close. Lazy LOCAL pins remain available for
callers that accept the documented lazy window.

Checkpoint FILES are reclaimed by the ContextCleaner only
when ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` —
``sparkocr.session.get_spark`` sets it, and ``pin`` warns once per
process if a foreign session left it off (otherwise iterative loops —
connected components, classifier GD — would leak one snapshot per
round to the checkpoint dir).

Eager by default, deliberately: a lazy barrier leaves a window where
two branches of the same action can recompute the subplan and observe
DIFFERENT data (exactly the silent-wrong-answer mode the barrier
exists to close). Eager materialization closes the window before any
consumer runs.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_MODES = ("auto", "local", "reliable")
_warned_no_cleanup = False


def _cleanup_enabled(sc) -> bool:
    """Whether the ContextCleaner will reclaim superseded checkpoint
    FILES (a startup-time SparkConf flag, not a runtime conf)."""
    return sc.getConf().get(
        "spark.cleaner.referenceTracking.cleanCheckpoints",
        "false").lower() == "true"


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Pin one evaluation of ``df``. See the module docstring for the
    mode selection (``spark.sparkocr.pin``) and fault-tolerance
    trade."""
    spark = df.sparkSession
    sc = spark.sparkContext
    mode = spark.conf.get("spark.sparkocr.pin", "auto")
    if mode not in _MODES:
        raise ValueError(
            f"spark.sparkocr.pin must be one of {_MODES}, got {mode!r}")
    has_dir = bool(sc.getCheckpointDir())
    if mode == "reliable" and not has_dir:
        raise ValueError(
            "spark.sparkocr.pin=reliable requires a checkpoint dir "
            "(sc.setCheckpointDir) — refusing to fall back to a "
            "non-fault-tolerant local checkpoint silently")
    if mode == "local" or (mode == "auto" and not has_dir):
        return df.localCheckpoint(eager=eager)

    if not eager:
        raise ValueError(
            "lazy reliable pin (eager=False with a checkpoint dir): the "
            "checkpoint-write job recomputes the subplan (SPARK-8582), so "
            "the first consumer and the checkpoint files can hold two "
            "DIFFERENT evaluations of a nondeterministic plan. Use "
            "eager=True (default) or spark.sparkocr.pin=local")

    global _warned_no_cleanup
    if not _warned_no_cleanup and not _cleanup_enabled(sc):
        warnings.warn(
            "reliable pin with "
            "spark.cleaner.referenceTracking.cleanCheckpoints=false: "
            "checkpoint files will accumulate in the checkpoint dir "
            "until application exit (iterative operators write one "
            "snapshot per round). sparkocr.session.get_spark sets the "
            "flag; set it on foreign sessions too.",
            stacklevel=2)
        _warned_no_cleanup = True
    # persist around the eager checkpoint: the checkpoint-write job
    # re-evaluates the RDD (SPARK-8582), and without the cache that
    # means computing every pinned subplan twice
    with persisted(df) as once:
        return once.checkpoint(eager=True)


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Hold ``df`` at ``MEMORY_AND_DISK`` for the block, so that every
    job run inside it reads one evaluation of ``df``, then unpersist it
    (also when the block raises). The two escape hatches of ``pin``
    apply: an input the caller already cached is yielded as is and its
    cache entry left alone, and ``spark.sparkocr.pin.cache=false``
    yields ``df`` uncached (every job recomputes it)."""
    lvl = df.storageLevel
    if lvl.useMemory or lvl.useDisk or lvl.useOffHeap:
        # caller already cached this plan: the jobs read that cache;
        # persisting again would be a CacheManager no-op whose paired
        # unpersist destroys the CALLER's entry
        yield df
        return
    if df.sparkSession.conf.get(
            "spark.sparkocr.pin.cache", "true").lower() != "true":
        # explicit opt-out: compute-twice, zero cache storage (for
        # subplans larger than executor memory + spill disk)
        yield df
        return
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield cached
    finally:
        cached.unpersist(False)

"""Lineage-truncating materialization with a cluster-posture knob.

Every multi-consumer intermediate this engine pins uses ``pin`` (lazy)
or ``pin_eager`` (materialize now — the determinism pins in prefix.py
that freeze sampled boundaries). Locally these are
``DataFrame.localCheckpoint``: blocks live unreplicated in executor
storage, which is exactly right for a single-box bench — cheap, no
distributed filesystem needed — but NOT fault-tolerant: on a real
cluster an executor loss after the checkpoint fails the job instead of
recomputing, and AQE cannot re-plan across the boundary (the r15
verdict's "localCheckpoint posture at real scale" item).

The knob: when the SparkContext has a checkpoint directory configured
— ``session.get_spark`` sets one from ``$SPARK_GRAFT_CHECKPOINT_DIR``,
or a cluster submit calls ``sc.setCheckpointDir`` itself — ``pin``
switches to reliable ``DataFrame.checkpoint``, which writes the
intermediate to that (HDFS/object-store) directory and survives
executor loss. Values are identical either way; only the storage/
recovery trade changes: reliable checkpoints pay a filesystem
round-trip per pin, local ones pay recompute-impossibility on
failure. 100 TB posture: set the directory; single-box posture: leave
it unset.

Call sites use ``df.transform(pin)`` so the choice stays one
chain-friendly token wide.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def _reliable(df: DataFrame) -> bool:
    """True iff the session has a reliable checkpoint dir configured. A
    probe that raises (a py4j edge) falls back to local checkpoints with
    a warning naming the exception."""
    try:
        return (
            df.sparkSession.sparkContext._jsc.sc().getCheckpointDir().isDefined()
        )
    except Exception as exc:
        _log.warning(
            "checkpoint-dir probe failed (%s: %s); pinning with localCheckpoint",
            type(exc).__name__,
            exc,
        )
        return False


def pin(df: DataFrame) -> DataFrame:
    """Truncate lineage lazily: reliable ``checkpoint`` when a
    checkpoint dir is configured, ``localCheckpoint`` otherwise."""
    if _reliable(df):
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def pin_eager(df: DataFrame) -> DataFrame:
    """Truncate lineage and materialize NOW (the determinism pins:
    sampled boundaries must be frozen before two consumers read them)."""
    if _reliable(df):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

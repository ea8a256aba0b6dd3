"""Cluster-safe plan materialization.

Iterative/branching operators (connected components, shingle tables
consumed by several branches, pre-swap sink frames) need to cut
lineage and pin a result. ``localCheckpoint`` is the fast choice in
``local[*]`` but stores blocks only on executors — an executor loss
mid-job loses them, so at cluster scale the job dies instead of
recomputing. This helper picks the strategy from config so the same
operator code is correct in both worlds:

- ``local`` (default): ``localCheckpoint(eager=True)`` — single-JVM
  test mode, no fault tolerance needed.
- ``persist``: ``persist(MEMORY_AND_DISK)`` + eager count — blocks
  recompute from lineage on executor loss; the default to run on a
  cluster.
- ``checkpoint``: reliable checkpoint to
  ``spark.sparkContext.getCheckpointDir()`` (set via
  ``spark.php_etl.checkpoint_dir``) — survives executor loss without
  any recompute; for very deep lineage (iterative clustering).

Select with the runtime conf ``spark.php_etl.materialize`` or env
``SPARK_GRAFT_MATERIALIZE``.

Whatever the mode, ``materialize`` runs exactly one eager action over
the input plan. Metrics the caller wants from that evaluation (row
counts, partition sets) ride along as an ``Observation`` attached to
the frame the action evaluates, so they cost no extra job and are
ready, without blocking, when ``materialize`` returns.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation

CONF_KEY = "spark.php_etl.materialize"
CHECKPOINT_DIR_KEY = "spark.php_etl.checkpoint_dir"
_VALID = ("local", "persist", "checkpoint")


def _mode(df: DataFrame) -> str:
    try:
        mode = df.sparkSession.conf.get(
            CONF_KEY, os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
        )
    except Exception:  # noqa: BLE001 — conf unreadable, fall back
        mode = "local"
    if mode not in _VALID:
        raise ValueError(f"{CONF_KEY} must be one of {_VALID}, got {mode!r}")
    return mode


def materialize(
    df: DataFrame, observation: Observation | None = None, *exprs: Column
) -> DataFrame:
    """Pin ``df``'s result and truncate its lineage, with the
    fault-tolerance strategy picked by config (see module docstring).

    With ``observation`` (and its aggregate ``exprs``, as for
    ``DataFrame.observe``) the metrics are taken by the same eager
    action that pins the frame; ``observation.get`` returns at once
    afterwards. Raises if the action left them unset rather than let a
    later ``get`` wait forever."""
    mode = _mode(df)

    def observed(frame: DataFrame) -> DataFrame:
        return frame.observe(observation, *exprs) if observation else frame

    if mode == "local":
        out = observed(df).localCheckpoint(eager=True)
    elif mode == "persist":
        # persist() pins BLOCKS but keeps the full logical plan;
        # operators that reference each round's result several times
        # (star-contraction reads the edge set ~4x per round) grow the
        # plan exponentially and OOM the ANALYZER long before any data
        # does. Rebuilding the frame over the RDD truncates the SQL
        # lineage (the plan becomes a LogicalRDD scan), and persisting
        # the REBUILT frame pins its blocks so the JVM→Python→JVM row
        # round-trip at the RDD boundary happens exactly once, in the
        # eager count below — not on every downstream action.
        # On executor loss, lost blocks recompute from the full lineage
        # including the round-trip — same guarantee, slower rebuild;
        # for very deep lineage use mode "checkpoint" instead.
        rebuilt = df.sparkSession.createDataFrame(df.rdd, df.schema)
        out = rebuilt.persist(StorageLevel.MEMORY_AND_DISK)
        # eager: populate before callers branch. The RDD conversion is
        # not a SQL action, so an observation on ``df`` would never
        # fire; it goes on the rebuilt frame, whose count fills the
        # cache through it.
        observed(rebuilt).count()
        out._php_etl_persisted_source = out  # for unmaterialize()
    else:
        spark = df.sparkSession
        sc = spark.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = None
            try:
                ckdir = spark.conf.get(CHECKPOINT_DIR_KEY, None)
            except Exception:  # noqa: BLE001
                ckdir = None
            sc.setCheckpointDir(
                ckdir or os.path.join(os.getcwd(), ".spark-checkpoints")
            )
        out = observed(df).checkpoint(eager=True)
    if observation is not None and observation._jo.getRowOrEmpty().isEmpty():
        raise RuntimeError(
            f"materialize ({mode}): the eager action left the observation unset"
        )
    return out


def unmaterialize(df: DataFrame) -> None:
    """Release a persisted materialization (no-op for the other
    modes — localCheckpoint/checkpoint blocks age out with the
    session/dir)."""
    try:
        src = getattr(df, "_php_etl_persisted_source", None)
        if src is not None:
            src.unpersist()
        df.unpersist()
    except Exception:  # noqa: BLE001 — never fail a pipeline on cleanup
        pass

"""Zero-cost pipeline observability: per-stage metrics without rescans.

The reference counts as a side effect of its imperative loop (files
walked, probes failed, rows written — video_metadata_db.py's module
counters + five mutexes).  A declarative plan has no loop to hang
counters on, and the naive translation — ``df.count()`` per stage —
re-executes the pipeline once per metric.

Spark's answer is ``DataFrame.observe``: a ``CollectMetrics`` node in
the plan accumulates aggregates AS THE ACTION RUNS — one pass, any
number of stages instrumented, metrics delivered after the action.
This is the dead-letter channel's (§2.9) monitoring half: the same job
that writes good rows reports how many went to the dead letter and
why, with zero extra I/O at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observe_stage(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named metrics to a pipeline stage.

    Returns the instrumented frame (use it in place of ``df``) and the
    :class:`Observation`; read ``observation.get`` AFTER an action has
    executed the frame.  Default metrics (no ``metrics`` given): row
    count.  Metrics must be aggregate expressions without distinct —
    the accumulator merges per-task partials, so everything observed is
    map-side-combinable by construction (the same constraint that makes
    it free at 100 TB).
    """
    obs = Observation(name)
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(obs, *metrics), obs


def observe_dead_letter(
    df: DataFrame, error_col: str = "error"
) -> tuple[DataFrame, Observation]:
    """Instrument a dead-letter split point: rows seen, rows failed,
    failure fraction — computed in the SAME pass that processes the
    frame (reference analogue: the probe-failure counters,
    video_metadata_db.py:635-676, without their mutexes or extra scan).
    """
    return observe_stage(
        df,
        "dead_letter",
        F.count(F.lit(1)).alias("n_rows"),
        F.count(error_col).alias("n_failed"),
        # try_divide: an empty frame yields NULL instead of an ANSI
        # divide-by-zero inside the listener, which never fills obs.get
        F.round(F.try_divide(F.count(error_col), F.count(F.lit(1))), 6).alias("failed_frac"),
    )

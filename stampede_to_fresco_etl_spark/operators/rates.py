"""Lag-difference rate kernel (SURVEY §2.5 W1/W2) — the core step-1
derivation for block / cpuuser / nfs.

Reference semantics (step-1/data_processor.py:113-129,182-211,265-281):
sort by (jobID, node, Timestamp), take consecutive-sample deltas of
cumulative counters and of the timestamp, then rate = delta / Δt with
unit scaling.  Edge semantics (SURVEY §7.3 trap 1):
  - first sample per (job, node) → null delta → dropped;
  - negative counter delta (counter reset) → dropped, not clamped;
  - Δt < min_dt (0.1 s) → dropped;
  - dropping happens AFTER any device/core-level summation.

Spark shape: a single Window.partitionBy(keys).orderBy(ts) — one
shuffle per source type, no global sort.  At 100 TB the shuffle is
keyed by (job, node), which is high-cardinality and therefore evenly
spread; AQE handles stragglers.  Writers downstream use
sortWithinPartitions to keep data pre-sorted for repeated windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stampede_to_fresco_etl_spark.functions import seconds_between

#: Minimum seconds between samples for a valid rate
#: (step-1/data_processor.py:121).
MIN_DT_SECONDS = 0.1


def lag_deltas(
    df: DataFrame,
    partition_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    order_cols: list[str] | None = None,
    dt_col: str = "dt_seconds",
    suffix: str = "_delta",
) -> DataFrame:
    """Add per-partition consecutive-sample deltas for each value
    column plus the time delta in float seconds.

    First row of each partition gets null deltas (reference `diff()`
    semantics, step-1/data_processor.py:117-119).  Ordering is by
    timestamp with the remaining order_cols as deterministic
    tie-breakers.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        *(order_cols or [ts_col])
    )
    return df.withColumns(
        {
            **{c + suffix: F.col(c) - F.lag(c).over(w) for c in value_cols},
            dt_col: seconds_between(F.col(ts_col), F.lag(ts_col).over(w)),
        }
    )


def valid_rate_rows(
    df: DataFrame,
    delta_cols: list[str],
    dt_col: str = "dt_seconds",
    min_dt: float = MIN_DT_SECONDS,
    require_nonnegative: bool = True,
) -> DataFrame:
    """Filter to rows where a rate is defined: non-null deltas,
    Δt >= min_dt, and (optionally) all deltas >= 0
    (step-1/data_processor.py:120-122)."""
    cond: Column = F.col(dt_col).isNotNull() & (F.col(dt_col) >= min_dt)
    for c in delta_cols:
        cond = cond & F.col(c).isNotNull()
        if require_nonnegative:
            cond = cond & (F.col(c) >= 0)
    return df.filter(cond)


def rate(
    delta: Column,
    dt: Column,
    scale: float = 1.0,
) -> Column:
    """rate = delta * scale / Δt (step-1/data_processor.py:123-129)."""
    return delta * F.lit(scale) / dt

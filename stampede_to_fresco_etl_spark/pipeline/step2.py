"""step-2 parity: FRESCO metrics × job accounting → 21-column wide
table.

Reference: step-2/consumer.py process_job/efficient_job_processing
(:295-591) — a per-job Python loop with hand-built batching.  Spark
shape (SURVEY §3.2): ONE declarative plan:

    metrics ⋈ broadcast(accounting)  on jid + [start, end)
      → job-aligned 1-min buckets, clamped, μs-floor midpoint
      → groupBy(job × host × bucket).agg(value_<e> = mean of Value
        over the rows whose Event is e, for the fixed event list)
      → host_list window / enrichment columns
      → select(OUTPUT_COLUMNS)

The widen is ONE aggregate of conditional means, not a mean per
(key, Event) followed by a pivot: one shuffle instead of two.

Catalyst plans pushdown + broadcast-hash; executors replace the
thread/batch machinery; `write.partitionBy(month)` replaces the
manifest shuttle.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from stampede_to_fresco_etl_spark.functions import (
    normalize_job_id,
    parse_timestamp,
)
from stampede_to_fresco_etl_spark.operators.interval_join import (
    join_metrics_to_accounting,
)
from stampede_to_fresco_etl_spark.operators.pivot import with_null_column
from stampede_to_fresco_etl_spark.operators.windows import (
    DEFAULT_WINDOW_SECONDS,
    with_job_aligned_window,
)
from stampede_to_fresco_etl_spark.schemas import FRESCO_EVENTS, OUTPUT_COLUMNS


def parse_accounting(raw: DataFrame) -> DataFrame:
    """Parse raw accounting strings → typed table
    (load_accounting_data, step-2/consumer.py:178-223): timestamp
    parse (%m/%d/%Y %H:%M:%S, non-strict), drop rows missing any
    essential column — the reference's drop_nulls subset is
    ["start", "end", "submit", "jid"] (consumer.py:211), so a row
    with an unparseable submit time is discarded too."""
    df = (
        raw.withColumn("start", parse_timestamp("start"))
        .withColumn("end", parse_timestamp("end"))
        .withColumn("submit", parse_timestamp("submit"))
    )
    return df.dropna(subset=["jobID", "start", "end", "submit"])


#: the wide table's grouping key, as (source column, output name)
#: pairs (consumer.py:428-430)
_KEY_SOURCES = [
    ("jid", "jid"),
    ("Host", "host"),
    ("time", "time"),
    ("submit", "submit_time"),
    ("start", "start_time"),
    ("end", "end_time"),
    ("walltime", "timelimit"),
    ("nnodes", "nhosts"),
    ("ncpus", "ncores"),
    ("account", "account"),
    ("queue", "queue"),
    ("jobname", "jobname"),
    ("exit_status", "exitcode"),
    ("user", "username"),
]
_WIDE_KEY = [name for _, name in _KEY_SOURCES]


def _bucketed(
    metrics: DataFrame,
    accounting: DataFrame,
    window_sec: int = DEFAULT_WINDOW_SECONDS,
) -> DataFrame:
    """metrics ⋈ accounting → job-aligned clamped buckets, projected
    to the wide-table key + Event + Value — the shared front half of
    the batch plan and the per-micro-batch partial aggregation."""
    joined = join_metrics_to_accounting(metrics, accounting)

    # Job-aligned tumbling buckets clamped to job end; midpoint time
    # (consumer.py:406-424).
    joined = with_job_aligned_window(
        joined,
        ts_col="Timestamp",
        anchor_col="start",
        end_col="end",
        duration_sec=window_sec,
    )
    return joined.select(
        *[F.col(src).alias(name) for src, name in _KEY_SOURCES],
        "Event",
        "Value",
    )


def partial_step2(
    metrics: DataFrame,
    accounting: DataFrame,
    window_sec: int = DEFAULT_WINDOW_SECONDS,
) -> DataFrame:
    """The ADDITIVE decomposition of the step-2 aggregate: (sum, n)
    per (wide key × Event).  mean is not mergeable across arrival
    batches, sum/count is — this is the state a streaming/incremental
    maintainer carries (streaming/step2_stream.py), and two partial
    frames merge exactly via `merge_partials`."""
    return (
        _bucketed(metrics, accounting, window_sec)
        .groupBy(*_WIDE_KEY, "Event")
        .agg(
            F.sum("Value").alias("sum_value"),
            F.count("Value").alias("n_value"),
        )
    )


def merge_partials(*partials: DataFrame) -> DataFrame:
    """Merge partial (sum, n) frames: union + re-sum per group."""
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    keys = [c for c in merged.columns if c not in ("sum_value", "n_value")]
    return merged.groupBy(*keys).agg(
        F.sum("sum_value").alias("sum_value"),
        F.sum("n_value").alias("n_value"),
    )


def _of_event(event: str, col: str) -> Column:
    """`col` on the rows whose Event is `event`, null elsewhere."""
    return F.when(F.col("Event") == event, F.col(col))


def finish_step2(partials: DataFrame) -> DataFrame:
    """Back half of the step-2 plan from partial aggregates: per wide
    key, value_<e> = Σ sum_value / Σ n_value over event e's rows, then
    host_list and the output projection."""
    return _widen(
        partials,
        lambda e: F.sum(_of_event(e, "sum_value"))
        / F.sum(_of_event(e, "n_value")),
    )


def join_and_widen(
    metrics: DataFrame,
    accounting: DataFrame,
    window_sec: int = DEFAULT_WINDOW_SECONDS,
) -> DataFrame:
    """The whole step-2 dataflow as one plan (consumer.py:295-591)."""
    return _widen(
        _bucketed(metrics, accounting, window_sec),
        lambda e: F.avg(_of_event(e, "Value")),
    )


def _widen(rows: DataFrame, mean_of: Callable[[str], Column]) -> DataFrame:
    """One aggregate by the wide key: value_<e> = mean_of(e) for the
    fixed 5-event list — an event with no rows in a group is null, as
    the reference's backfilled pivot columns are; value_gpu is always
    null (consumer.py:438-442,483-491)."""
    wide = rows.groupBy(*_WIDE_KEY).agg(
        *[mean_of(e).alias(f"value_{e}") for e in FRESCO_EVENTS]
    )
    wide = with_null_column(wide, "value_gpu", "double")

    # host_list: sorted unique hosts of the JOB RECORD, attached to
    # every row (consumer.py:403-404).  The reference builds it per
    # accounting row, so the window partitions on (jid, start, end) —
    # two jobs whose ids normalize to the same jid keep separate host
    # lists — and empty/null hosts are dropped (filter(None, hosts)).
    # Computed POST-aggregation: hosts survive as group keys, and the
    # window shuffles the small wide frame instead of every joined
    # metric row — same result, ~|rows|/|buckets| less shuffle volume.
    w_job = Window.partitionBy("jid", "start_time", "end_time")
    wide = wide.withColumn(
        "host_list",
        F.array_join(
            F.sort_array(
                F.collect_set(
                    F.when(F.col("host") != "", F.col("host"))
                ).over(w_job)
            ),
            ",",
        ),
    )
    return wide.select(*OUTPUT_COLUMNS)


def run_step2(
    metrics: DataFrame,
    raw_accounting: DataFrame,
    window_sec: int = DEFAULT_WINDOW_SECONDS,
) -> DataFrame:
    """Convenience end-to-end: raw accounting parse + join/widen."""
    return join_and_widen(metrics, parse_accounting(raw_accounting), window_sec)


__all__ = [
    "parse_accounting",
    "join_and_widen",
    "partial_step2",
    "merge_partials",
    "finish_step2",
    "run_step2",
    "normalize_job_id",
]

"""Incremental step-2: `foreachBatch` maintenance of the wide table.

The reference's whole consumer loop is incremental — each received
metric chunk is joined to accounting, bucketed, averaged, and merged
into monthly output files (step-2/consumer.py:815-866 drives
process_job per arrival; the manifest shuttle ships updated months).
This module is that dataflow as Structured Streaming:

    landing dir ──readStream──▶ foreachBatch ──▶ per batch:
      1. partial_step2(batch, accounting)     join+window+group (the
         (sum, n) per wide-key × Event         batch plan's front half)
      2. merge with the previous state        additive merge — mean
         snapshot, write state v{batchId}      itself is NOT mergeable
      3. finish_step2(state ∩ touched jobs)   widen + host_list
      4. dynamic partition overwrite of ONLY  the streaming twin of
         the touched months in the wide table  the reference's monthly
                                               file rewrites

Mean decomposes as (sum, count), so arrival order never matters: any
slicing of the metric stream into micro-batches converges to the
batch `join_and_widen` result once drained (the kill-recover test
asserts exactly this).

Exactly-once across crashes: Spark's checkpoint replays an unfinished
batch with the SAME batch id and file set.  State snapshots are
versioned by batch id; the commit point is the snapshot's own
`_MONTHS` marker — published ATOMICALLY (temp + rename) after the
parquet job, with the touched-month list as its content, so snapshot
and replay metadata are ONE artifact (no second side-file whose
commit could diverge).  A replayed batch whose snapshot is committed
skips the merge (no double-count) and only re-runs the output
rewrite — idempotent, because it is a dynamic-partition overwrite of
the marker's months from the same committed state.

Scale notes (100 TB / 1000 executors):
  - per-batch work ∝ batch size for the join+group, ∝ |state| for the
    merge; state is one row per (job, host, minute, event) — orders
    of magnitude smaller than the raw stream.  On a production
    cluster the state merge becomes a table-format MERGE (partition
    state by month to make it touched-month-local); the snapshot
    scheme here is the FS-only equivalent.
  - output rewrite cost is bounded by the touched months — the months
    of the touched jobs' buckets in the merged state, so late data
    reopens the month it lands in PLUS any neighbor month a touched
    job spans (host_list is a per-job cross-month column; rewriting
    only the batch's own months would leave a spanning job's earlier
    month stale).  The re-widen is scoped to touched JOBS (all their
    buckets) rather than slicing the state by month.
  - accounting is the small dimension: broadcast per batch, exactly
    like the batch plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from stampede_to_fresco_etl_spark.pipeline.step2 import (
    finish_step2,
    merge_partials,
    partial_step2,
)
from stampede_to_fresco_etl_spark.schemas import FRESCO_LONG

_JOB_KEY = ["jid", "start_time", "end_time"]


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


_MARKER = "_MONTHS"


def _committed_ids(spark: SparkSession, state_dir: str) -> list[int]:
    """Batch ids with a fully-committed state snapshot.  The commit
    point is the snapshot's own `_MONTHS` marker — written ATOMICALLY
    (temp + rename) after the parquet job finishes, carrying the
    batch's touched-month list as its content, so the snapshot and
    the replay metadata commit as ONE artifact (r6 follow-up: the
    month list used to ride a separate m{id} side-dir whose own
    commit could in principle diverge from the snapshot's)."""
    fs, jvm = _fs(spark, state_dir)
    root = jvm.org.apache.hadoop.fs.Path(state_dir)
    if not fs.exists(root):
        return []
    ids = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            ok = jvm.org.apache.hadoop.fs.Path(
                f"{state_dir}/{name}/{_MARKER}"
            )
            if fs.exists(ok):
                ids.append(int(name[1:]))
    return sorted(ids)


def _write_marker(
    spark: SparkSession, snap_dir: str, months: list[str]
) -> None:
    """Atomically publish `{snap_dir}/_MONTHS` with the month list as
    JSON content: write to a dotted temp name, then rename — rename is
    atomic on HDFS and local FS, so a reader never observes a partial
    marker, and the marker's existence IS the snapshot commit."""
    import json

    fs, jvm = _fs(spark, snap_dir)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{snap_dir}/._MONTHS.tmp")
    final = jvm.org.apache.hadoop.fs.Path(f"{snap_dir}/{_MARKER}")
    out = fs.create(tmp, True)
    out.write(bytearray(json.dumps(sorted(months)).encode("utf-8")))
    out.close()
    if fs.exists(final):
        fs.delete(final, False)
    fs.rename(tmp, final)


def _read_marker(spark: SparkSession, snap_dir: str) -> list[str]:
    import json

    fs, jvm = _fs(spark, snap_dir)
    path = jvm.org.apache.hadoop.fs.Path(f"{snap_dir}/{_MARKER}")
    stream = fs.open(path)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    return json.loads(data)


def _month_col(col: str = "time"):
    return F.date_format(F.col(col), "yyyy-MM")


def apply_step2_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    accounting: DataFrame,
    state_dir: str,
    out_dir: str,
    window_sec: int = 60,
    keep_versions: int = 2,
) -> None:
    """One micro-batch of incremental step-2 (the foreachBatch body —
    public so tests and custom triggers can drive/crash it directly)."""
    committed = _committed_ids(spark, state_dir)

    if batch_id in committed:
        # replayed batch: state already merged — only the idempotent
        # output rewrite of the months recorded in the snapshot's own
        # marker runs again
        state = spark.read.parquet(f"{state_dir}/v{batch_id}")
        months = _read_marker(spark, f"{state_dir}/v{batch_id}")
    else:
        partial = partial_step2(batch_df, accounting, window_sec)
        prev_ids = [i for i in committed if i < batch_id]
        if prev_ids:
            prev_state = spark.read.parquet(f"{state_dir}/v{max(prev_ids)}")
            merged = merge_partials(prev_state, partial)
        else:
            merged = partial
        merged.persist()
        # the touched-month list is EVERY month of the touched jobs'
        # buckets in the MERGED state — not just the batch's own
        # months: host_list is a per-job cross-month column, so a job
        # that gains a host in a later-month-only batch must have its
        # earlier months' partitions rewritten too.  Tiny list (an
        # HPC stream spans 1-2 live months; a spanning job adds its
        # neighbors) — collected driver-side and published INSIDE the
        # snapshot as its commit marker, so state + replay metadata
        # are one atomic unit.
        touched = partial.select(*_JOB_KEY).distinct()
        months = [
            r["month"]
            for r in (
                merged.join(F.broadcast(touched), _JOB_KEY, "left_semi")
                .select(_month_col().alias("month"))
                .distinct()
                .collect()
            )
        ]
        merged.write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(f"{state_dir}/v{batch_id}")
        merged.unpersist()
        # THE commit point: atomic marker carrying the month list.
        # A crash before this line leaves v{batch_id} uncommitted —
        # the replay re-merges and overwrites it wholesale.
        _write_marker(spark, f"{state_dir}/v{batch_id}", months)
        state = spark.read.parquet(f"{state_dir}/v{batch_id}")
        # GC snapshots older than the previous one (m{old} is the
        # pre-r7 side-dir layout — removed if present)
        fs, jvm = _fs(spark, state_dir)
        for old in committed[: -(keep_versions - 1) or None]:
            for d in (f"{state_dir}/v{old}", f"{state_dir}/m{old}"):
                fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)

    if not months:
        return

    # scope the re-widen to touched JOBS — every bucket of a job whose
    # record intersects a touched month, so host_list sees the job's
    # full host set even across a month boundary — then write only the
    # touched months
    touched_jobs = (
        state.filter(_month_col().isin(months)).select(*_JOB_KEY).distinct()
    )
    scoped = state.join(F.broadcast(touched_jobs), _JOB_KEY, "left_semi")
    wide = finish_step2(scoped).filter(_month_col().isin(months))
    (
        wide.withColumn("month", _month_col())
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy("month")
        .parquet(out_dir)
    )


def run_step2_incremental(
    spark: SparkSession,
    landing_dir: str,
    accounting: DataFrame,
    state_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window_sec: int = 60,
    schema: StructType = FRESCO_LONG,
    max_files_per_trigger: int | None = None,
    batch_hook=None,
    recursive: bool = False,
) -> StreamingQuery:
    """Continuous incremental step-2 over a landing directory of
    metric parquet files.  `accounting` is the parsed job dimension
    (pipeline.step2.parse_accounting output).  Drains the backlog and
    stops (availableNow); re-invoke to pick up new arrivals, or swap
    the trigger for a long-lived daemon.

    `batch_hook(batch_id)` (test seam) runs after each batch body —
    raising from it crashes the query mid-stream AFTER the batch's
    state commit but BEFORE Spark commits its checkpoint offset:
    exactly the replay window the marker protocol covers."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if recursive:
        # chain directly off incremental step-1's per-metric sink tree
        # ({out}/{metric}/date=*/...): list every parquet file below
        # the root, ignoring the partition-dir layout (Timestamp lives
        # in the rows; the date dir is derived from it)
        reader = reader.option("recursiveFileLookup", "true")
    stream = reader.parquet(landing_dir)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_step2_batch(
            spark,
            batch_df,
            batch_id,
            accounting,
            state_dir,
            out_dir,
            window_sec,
        )
        if batch_hook is not None:
            batch_hook(batch_id)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

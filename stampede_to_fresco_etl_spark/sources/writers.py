"""Sinks — SURVEY §2.1 S5-S7, S10.

The reference's hand-rolled atomic temp+rename appends, per-target
locks and daily-file merge daemons (step-1/appender.py:215-323,
step-1/mover.py) are replaced by Spark's committers + Hive-style
partitioned layout: one `write.partitionBy("date")` makes the daily
files, `mode("append")` makes incremental merge safe, and dynamic
partition overwrite makes reprocessing idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class SchemaMismatchError(Exception):
    """Appending a frame whose column set differs from the target's
    (step-1/appender.py:241-249) — raised BEFORE any data is written
    so a drifted producer can't corrupt a curated table."""


def _check_append_schema(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Reference parity for append safety: the column SETS of the
    incoming frame and the existing target must match exactly
    (step-1/appender.py:241-249).  Parquet's schema merge would
    otherwise silently null-fill missing/new columns.

    Only PATH_NOT_FOUND disengages the guard (first append creates
    the target); any other read failure — corrupt footer, permission
    error, transient FS fault — propagates, because appending into a
    table we cannot read is exactly when the guard matters most."""
    from pyspark.errors import AnalysisException

    try:
        existing = df.sparkSession.read.format(fmt).load(path).columns
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return  # no target yet — first append creates it
        raise
    new_cols, old_cols = set(df.columns), set(existing)
    if new_cols != old_cols:
        raise SchemaMismatchError(
            f"Column mismatch appending to {path}: "
            f"new {sorted(new_cols)} vs existing {sorted(old_cols)}"
        )


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    sort_within_partitions: list[str] | None = None,
) -> None:
    """zstd parquet sink with optional Hive partitioning and
    within-partition sort (keeps (job,node,ts) runs contiguous so
    downstream window shuffles read pre-clustered data —
    step-1/transformer.py:323; step-2/consumer.py:556-562).  Appends
    are schema-guarded (SchemaMismatchError on column-set drift).

    A partitioned write needs its rows ordered by the partition
    columns; Spark plans that as a sort of its own, which replaces a
    sort by other keys.  So the partition columns lead the requested
    sort: the write's ordering is then already met, and every file
    keeps the requested order."""
    if mode == "append":
        _check_append_schema(df, path)
    if sort_within_partitions:
        df = df.sortWithinPartitions(
            *(partition_by or []), *sort_within_partitions
        )
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed (and optionally sorted) managed table — the
    co-located-join layout for repeated large joins on the same key
    (SURVEY M6: bucket metrics by jid/month so the step-2 join and
    re-derivations shuffle neither side).  Two tables bucketed the
    same way join with ZERO Exchange in the plan.

    path: store the files at an explicit location (external table)
    instead of the session warehouse — required when the session is
    driver-owned and its warehouse dir (cwd/spark-warehouse) must not
    be written."""
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .option("compression", "zstd")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (rough-drafts/combine_transformed_monthly_data.py:119)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC sink — same contract as `write_parquet` (zstd, optional
    Hive partitioning, schema-guarded appends) for deployments whose
    downstream readers are ORC-native (Hive/Trino warehouses).  The
    reference is parquet-only; this rounds out the columnar sink
    surface with the identical writer API so the format is a config
    choice, not a code change."""
    if mode == "append":
        _check_append_schema(df, path, fmt="orc")
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def convert_csv_to_parquet(
    spark, csv_path: str, parquet_path: str, schema=None
) -> bool:
    """CSV→Parquet conversion (S7,
    rough-drafts/combine_transformed_monthly_data.py:189-212).  The
    reference's write-temp/re-read-validate/atomic-replace dance is
    subsumed by Spark's output committer.  Row-count validation rides
    the write itself via an Observation (metrics collected as the
    tasks run), so the CSV is scanned exactly ONCE; the re-read count
    comes from parquet footers, not a data scan."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    obs = Observation("convert_rows")
    df = reader.csv(csv_path).observe(obs, F.count(F.lit(1)).alias("n"))
    df.write.mode("overwrite").option("compression", "zstd").parquet(parquet_path)
    return spark.read.parquet(parquet_path).count() == obs.get["n"]


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~`target_file_bytes` and swap it into place.  Streaming appends
    and incremental merges accrete small files (the reference's merge
    daemon existed for exactly this, step-1/mover.py); at 100 TB,
    scan cost is dominated by file-open overhead once the average
    file drops below ~100 MB, so curated tables get compacted on a
    schedule.

    The rewrite is one round-robin repartition to
    ceil(bytes / target) files; the swap goes through the Hadoop
    FileSystem API (rename old → bak, tmp → live, delete bak).  On
    HDFS/local, each rename is atomic but there is still a brief gap
    between the two renames in which the live path does not exist —
    schedule compaction in a maintenance window or behind a catalog
    pointer.  On S3A, rename is a non-atomic O(data) copy: use an
    external coordination step or a table format's manifest pointer
    swap (Iceberg/Delta) instead of this FS-level swap.  Returns the
    new file count."""
    df = spark.read.parquet(path)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    live = jvm.org.apache.hadoop.fs.Path(path)
    fs = live.getFileSystem(conf)
    size = fs.getContentSummary(live).getLength()
    n_files = max(1, -(-int(size) // int(target_file_bytes)))
    tmp_s = path.rstrip("/") + "__compact_tmp"
    bak_s = path.rstrip("/") + "__compact_bak"
    w = (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option("compression", "zstd")
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(tmp_s)
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_s)
    bak = jvm.org.apache.hadoop.fs.Path(bak_s)
    if fs.exists(bak):
        fs.delete(bak, True)
    if not fs.rename(live, bak):
        raise IOError(f"compact: could not move {path} aside")
    if not fs.rename(tmp, live):
        fs.rename(bak, live)  # roll back
        raise IOError(f"compact: could not swap in {tmp_s}")
    fs.delete(bak, True)
    return n_files


def write_with_manifest(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
) -> dict:
    """Parquet write + integrity manifest: after the write, every
    data file is enumerated (recursively, so partitioned layouts
    work) and recorded in `<path>/_manifest.json` with its size and
    per-file row count, plus dataset totals.  Readers call
    `verify_manifest` before trusting a snapshot — the cheap
    end-to-end check that a copy/sync/compaction did not drop or
    truncate files (cloud-transfer corruption surfaces as a
    row-count or file-set mismatch long before a query does).

    Scale notes: the per-file row counts come from ONE Spark scan of
    the written files (parquet footer counts — metadata-only, no
    data read); the manifest is file-count-sized, written by the
    driver.  At 100 TB this is the object-store manifest every lake
    table format maintains; this is the engine-native, format-free
    version.  Enumeration and manifest IO go through the Hadoop
    FileSystem API (the compact_parquet precedent, ADVICE r7) so the
    integrity check works on `s3a://`/`hdfs://` snapshots, not just
    local mode."""
    import json as _json

    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)

    spark = df.sparkSession
    per_file = []
    total_rows = 0
    for rel, size, full in _fs_list_parquet(spark, path):
        n_rows = spark.read.parquet(full).count()  # footer-only count
        per_file.append({"path": rel, "bytes": size, "rows": n_rows})
        total_rows += n_rows
    manifest = {
        "version": 1,
        "n_files": len(per_file),
        "total_rows": total_rows,
        "total_bytes": sum(e["bytes"] for e in per_file),
        "files": per_file,
    }
    _fs_write_text(
        spark,
        path.rstrip("/") + "/_manifest.json",
        _json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest


class ManifestMismatchError(Exception):
    """Dataset on disk does not match its _manifest.json."""


def _fs_handles(spark, path: str):
    """(jvm, FileSystem, Path) for a path via the Hadoop FS API —
    resolves whatever scheme the path carries (file://, s3a://,
    hdfs://)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def _fs_list_parquet(spark, path: str) -> list[tuple[str, int, str]]:
    """Recursive data-file listing via FileSystem.listFiles: sorted
    (relative path, bytes, fully-qualified path) for every .parquet
    under `path`."""
    _jvm, fs, base = _fs_handles(spark, path)
    prefix = fs.makeQualified(base).toString().rstrip("/") + "/"
    it = fs.listFiles(base, True)
    out = []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        if full.endswith(".parquet"):
            rel = full[len(prefix):] if full.startswith(prefix) else full
            out.append((rel, int(st.getLen()), full))
    return sorted(out)


def _fs_write_text(spark, path: str, text: str) -> None:
    _jvm, fs, p = _fs_handles(spark, path)
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _fs_read_text(spark, path: str) -> str:
    jvm, fs, p = _fs_handles(spark, path)
    stream = fs.open(p)
    try:
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


def verify_manifest(spark, path: str) -> dict:
    """Re-enumerate the dataset and compare against
    `<path>/_manifest.json`.  Raises ManifestMismatchError naming
    every missing/extra/resized file and any row-count drift;
    returns the verified manifest on success.  Hadoop-FS-API
    enumeration, so the check runs against object-store snapshots
    exactly as against local ones."""
    import json as _json

    manifest = _json.loads(
        _fs_read_text(spark, path.rstrip("/") + "/_manifest.json")
    )
    want = {e["path"]: e for e in manifest["files"]}
    got = {
        rel: (size, full)
        for rel, size, full in _fs_list_parquet(spark, path)
    }
    problems = []
    for rel in sorted(set(want) - set(got)):
        problems.append(f"missing file: {rel}")
    for rel in sorted(set(got) - set(want)):
        problems.append(f"unexpected file: {rel}")
    for rel in sorted(set(want) & set(got)):
        sz = got[rel][0]
        if sz != want[rel]["bytes"]:
            problems.append(
                f"size drift: {rel} ({want[rel]['bytes']} -> {sz})"
            )
    if not problems:
        total = spark.read.parquet(path).count()
        if total != manifest["total_rows"]:
            problems.append(
                f"row drift: {manifest['total_rows']} -> {total}"
            )
    if problems:
        raise ManifestMismatchError("; ".join(problems))
    return manifest

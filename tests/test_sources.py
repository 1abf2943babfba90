"""Reader/sink tests — S1 robust CSV, S7 CSV→parquet conversion,
S3 case-insensitive parquet resolution, S5/S10 partitioned writes."""

from __future__ import annotations

from pyspark.sql import Row

from stampede_to_fresco_etl_spark.schemas import MEM_RAW
from stampede_to_fresco_etl_spark.sources.readers import (
    read_csv_robust,
    read_parquet_resolved,
)
from stampede_to_fresco_etl_spark.sources.writers import (
    convert_csv_to_parquet,
    write_parquet,
)


def test_read_csv_robust_null_tokens_and_subset(spark, tmp_path):
    p = tmp_path / "mem.csv"
    p.write_text(
        "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages\n"
        "job1,n1,02/27/2013 13:00:00,100,NA,60,10\n"
        "job2,n2,02/27/2013 13:00:10,,50,40,5\n"
        "NULL,n3,02/27/2013 13:00:20,1,NULL,2,3\n"
    )
    df = read_csv_robust(
        spark, str(p), MEM_RAW, select=["jobID", "MemFree", "MemUsed"]
    )
    assert df.columns == ["jobID", "MemFree", "MemUsed"]
    rows = {r["jobID"]: r for r in df.collect()}
    assert rows["job1"]["MemFree"] is None  # NA token -> null
    assert rows["job2"]["MemFree"] == 50.0
    assert rows["job1"]["MemUsed"] == 60.0
    # "NULL" token nulls both string and numeric columns (reference
    # null_values=["", "NA", "NULL"]); the row survives with jobID null
    assert None in rows and rows[None]["MemFree"] is None


def test_read_csv_robust_malformed_rows_permissive(spark, tmp_path):
    # PERMISSIVE mode: malformed numeric fields become nulls, the scan
    # never fails (reference ignore_errors, data_processor.py:62-66)
    p = tmp_path / "block.csv"
    from stampede_to_fresco_etl_spark.schemas import BLOCK_RAW

    p.write_text(
        "jobID,node,timestamp,device,rd_sectors,wr_sectors\n"
        "job1,n1,02/27/2013 13:00:00,sda,100,200\n"
        "job2,n2,02/27/2013 13:00:10,sdb,not_a_number,300\n"
        "job3,n3,02/27/2013 13:00:20,sdc,400\n"  # short row
    )
    df = read_csv_robust(spark, str(p), BLOCK_RAW)
    rows = {r["jobID"]: r for r in df.collect()}
    assert len(rows) == 3  # nothing dropped at scan time
    assert rows["job1"]["rd_sectors"] == 100.0
    assert rows["job2"]["rd_sectors"] is None  # malformed -> null
    assert rows["job3"]["wr_sectors"] is None  # missing -> null


def test_read_parquet_case_insensitive_resolution(spark, tmp_path):
    p = str(tmp_path / "metrics")
    spark.createDataFrame(
        [Row(**{"job id": "J1", "HOST": "h1", "value": 2.0})]
    ).write.parquet(p)
    df = read_parquet_resolved(spark, p, ["Job Id", "Host", "Value", "Units"])
    r = df.first()
    assert df.columns == ["Job Id", "Host", "Value", "Units"]
    assert r["Job Id"] == "J1" and r["Host"] == "h1" and r["Value"] == 2.0
    assert r["Units"] is None  # absent column -> typed null


def test_convert_csv_to_parquet_roundtrip(spark, tmp_path):
    csv = tmp_path / "in.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    out = str(tmp_path / "out.parquet")
    assert convert_csv_to_parquet(spark, str(csv), out)
    assert spark.read.parquet(out).count() == 2


def test_append_schema_guard(spark, tmp_path):
    import pytest

    from stampede_to_fresco_etl_spark.sources.writers import (
        SchemaMismatchError,
    )

    out = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([Row(a=1, b="x")]), out)
    # same column set appends fine (order doesn't matter)
    write_parquet(spark.createDataFrame([Row(b="y", a=2)]), out, mode="append")
    # drifted column set raises BEFORE writing (appender.py:241-249)
    with pytest.raises(SchemaMismatchError):
        write_parquet(
            spark.createDataFrame([Row(a=3, c=1.5)]), out, mode="append"
        )
    assert spark.read.parquet(out).count() == 2


def test_partitioned_zstd_write_and_append(spark, tmp_path):
    out = str(tmp_path / "daily")
    df1 = spark.createDataFrame([Row(v=1, date="2013-03-01")])
    df2 = spark.createDataFrame([Row(v=2, date="2013-03-02")])
    write_parquet(df1, out, partition_by=["date"])
    write_parquet(df2, out, partition_by=["date"], mode="append")
    got = spark.read.parquet(out)
    assert got.count() == 2
    # partition values come back type-inferred (date), which is fine
    assert sorted(str(r["date"]) for r in got.select("date").collect()) == [
        "2013-03-01",
        "2013-03-02",
    ]


def test_partitioned_write_keeps_requested_sort(spark, tmp_path):
    """With both partition_by and sort_within_partitions, each written
    file is in the requested order (Spark's own sort by the partition
    column must not replace it)."""
    import glob

    import pyarrow.parquet as pq

    rows = [
        Row(k=(i * 37) % 101, t=(i * 13) % 7, date=f"2013-03-0{1 + i % 2}")
        for i in range(400)
    ]
    out = str(tmp_path / "sorted")
    write_parquet(
        spark.createDataFrame(rows).repartition(2),
        out,
        partition_by=["date"],
        sort_within_partitions=["k", "t"],
    )
    files = sorted(glob.glob(f"{out}/date=*/*.parquet"))
    assert files
    for f in files:
        got = pq.read_table(f).select(["k", "t"]).to_pylist()
        keys = [(r["k"], r["t"]) for r in got]
        assert keys == sorted(keys), f


def test_compact_parquet_preserves_data_and_reduces_files(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark.sources.writers import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(100_000).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v")
    )
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = len(glob.glob(f"{path}/part-*"))
    assert before >= 32
    want = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).collect()[0]
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = len(glob.glob(f"{path}/part-*"))
    got = spark.read.parquet(path).agg(
        F.count("*"), F.sum("id"), F.sum("v")
    ).collect()[0]
    assert n == 1 and after == 1
    assert list(got) == list(want)
    assert not glob.glob(f"{path}__compact_*")


def test_collect_column_stats_values_and_shape(spark):
    from pyspark.sql import Row

    from stampede_to_fresco_etl_spark.operators.stats import (
        collect_column_stats,
    )

    df = spark.createDataFrame(
        [
            Row(a=1, b=2.0, s="x"),
            Row(a=1, b=None, s="y"),
            Row(a=3, b=-1.5, s="z"),
        ]
    )
    out = {r["column"]: r for r in collect_column_stats(df).collect()}
    # string column auto-excluded; numeric columns covered
    assert set(out) == {"a", "b"}
    assert out["a"]["n_rows"] == 3 and out["a"]["n_nulls"] == 0
    assert out["a"]["n_distinct"] == 2
    assert out["a"]["min_value"] == 1.0 and out["a"]["max_value"] == 3.0
    assert out["b"]["n_nulls"] == 1 and out["b"]["n_distinct"] == 2
    assert out["b"]["min_value"] == -1.5 and out["b"]["max_value"] == 2.0

    # approx mode keeps the same shape (planner path)
    ap = {r["column"]: r for r in collect_column_stats(
        df, exact_ndv=False
    ).collect()}
    assert set(ap) == {"a", "b"} and ap["a"]["n_rows"] == 3

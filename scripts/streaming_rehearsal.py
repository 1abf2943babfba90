"""10× streaming rehearsal — the 3-stage incremental chain (raw CSVs
→ step-1 long events → step-2 wide join → step-3 finalize) at sf1-
comparable step-1 volume, with throughput and state-store size per
stage (VERDICT r5 item 6: the one subsystem with no 10× number).

Generates a synthetic landing tree shaped exactly like the
reference's scrape layout ({node}/{metric}[_NNNN].csv, monotone
counters, wave-suffixed continuation files so lag state crosses
micro-batches), then drains the chain with availableNow triggers and
reports rows/s + stateOperators metrics from each query's last
progress.

Run:  python scripts/streaming_rehearsal.py [nodes] [ts_per_wave]
Defaults: 500 nodes × 3 waves × 240 timestamps/wave ≈ 2.2M raw rows
→ ~1.8M long events — the sf1 ballpark for the step-1 stage.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

N_NODES = int(sys.argv[1]) if len(sys.argv) > 1 else 500
T_PER_WAVE = int(sys.argv[2]) if len(sys.argv) > 2 else 240
WAVES = 3
DT_SEC = 10
T0 = dt.datetime(2013, 3, 1, 0, 0, 0)


def _gen_wave(base: Path, wave: int) -> int:
    """Write one wave of per-node CSVs; returns raw lines written."""
    suffix = "" if wave == 0 else f"_{wave:04d}"
    lines = 0
    t_start = wave * T_PER_WAVE
    for n in range(N_NODES):
        node = f"NODE{n:04d}"
        job = f"job{n}"
        d = base / node
        d.mkdir(parents=True, exist_ok=True)
        blk, cpu, lli, mem = [], [], [], []
        blk.append("jobID,node,timestamp,device,rd_sectors,wr_sectors")
        cpu.append(
            "jobID,node,timestamp,device,user,nice,system,idle,"
            "iowait,irq,softirq"
        )
        lli.append("jobID,node,timestamp,read_bytes,write_bytes")
        mem.append("jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages")
        for i in range(t_start, t_start + T_PER_WAVE):
            ts = (T0 + dt.timedelta(seconds=i * DT_SEC)).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
            rd = 1000 + 200 * i + n
            wr = 500 + 100 * i
            for dev in ("sda", "sdb"):
                blk.append(f"{job},{node},{ts},{dev},{rd},{wr}")
            user = 100 + 50 * i
            idle = 800 + 120 * i
            for core in (0, 1):
                cpu.append(
                    f"{job},{node},{ts},{core},{user},0,50,{idle},0,0,0"
                )
            lli.append(
                f"{job},{node},{ts},{1048576 * (i + 1)},{524288 * i}"
            )
            mem.append(
                f"{job},{node},{ts},8589934592,"
                f"{4294967296 - 1048576 * (i % 100)},"
                f"{4294967296 + 1048576 * (i % 100)},1073741824"
            )
        for name, rows in (
            ("block", blk), ("cpu", cpu), ("llite", lli), ("mem", mem)
        ):
            (d / f"{name}{suffix}.csv").write_text("\n".join(rows) + "\n")
            lines += len(rows) - 1
    return lines


def main() -> int:
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark.pipeline.step2 import parse_accounting
    from stampede_to_fresco_etl_spark.streaming.step1_stream import (
        run_step1_incremental,
    )
    from stampede_to_fresco_etl_spark.streaming.step2_stream import (
        run_step2_incremental,
    )
    from stampede_to_fresco_etl_spark.streaming.step3_stream import (
        run_step3_incremental,
    )
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(
        app_name="streaming-rehearsal", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = Path(tempfile.mkdtemp(prefix="stream_rehearsal_"))
    landing = work / "raw"
    long_out = str(work / "long")
    wide_out = str(work / "wide")
    final_out = str(work / "final")
    ck1, ck2, ck3 = (str(work / c) for c in ("ck1", "ck2", "ck3"))
    state = str(work / "state")

    fmt = "%m/%d/%Y %H:%M:%S"
    end = T0 + dt.timedelta(seconds=WAVES * T_PER_WAVE * DT_SEC + 60)
    acct = parse_accounting(
        spark.createDataFrame(
            [
                Row(
                    jobID=f"job{n}", user=f"u{n}", account="acc",
                    jobname="jn", queue="normal", nnodes=1, ncpus=16,
                    walltime=86400, start=T0.strftime(fmt),
                    end=end.strftime(fmt),
                    submit=(T0 - dt.timedelta(minutes=5)).strftime(fmt),
                    exit_status="0",
                )
                for n in range(N_NODES)
            ]
        )
    )

    report: dict = {
        "nodes": N_NODES, "waves": WAVES, "ts_per_wave": T_PER_WAVE,
    }

    t0 = time.time()
    raw_lines = sum(_gen_wave(landing, w) for w in range(WAVES))
    report["raw_rows"] = raw_lines
    report["gen_sec"] = round(time.time() - t0, 1)

    # stage 1: one drain per wave-arrival is the production cadence;
    # here all waves are on disk, so ONE availableNow drain covers
    # the backlog — lag state still crosses file (wave) boundaries
    # because each wave is a separate file per node.
    t0 = time.time()
    qs = run_step1_incremental(spark, str(landing), long_out, ck1)
    s1_state = {"numRowsTotal": 0, "memoryUsedBytes": 0}
    for q in qs:
        q.awaitTermination(1200)
        p = q.lastProgress
        for op in (p or {}).get("stateOperators", []):
            s1_state["numRowsTotal"] += op.get("numRowsTotal", 0)
            s1_state["memoryUsedBytes"] += op.get(
                "memoryUsedBytes", 0
            )
    s1_wall = time.time() - t0
    long_rows = spark.read.option("recursiveFileLookup", "true").parquet(
        long_out
    ).count()
    report["step1"] = {
        "wall_sec": round(s1_wall, 1),
        "out_rows": long_rows,
        "raw_rows_per_sec": int(raw_lines / s1_wall),
        "state": s1_state,
    }

    t0 = time.time()
    q2 = run_step2_incremental(
        spark, long_out, acct, state, wide_out, ck2, recursive=True
    )
    q2.awaitTermination(1200)
    s2_wall = time.time() - t0
    wide_rows = spark.read.parquet(wide_out).count()
    report["step2"] = {
        "wall_sec": round(s2_wall, 1),
        "out_rows": wide_rows,
        "long_rows_per_sec": int(long_rows / s2_wall),
    }

    t0 = time.time()
    wide_schema = spark.read.parquet(wide_out).schema
    q3 = run_step3_incremental(spark, wide_out, final_out, ck3, wide_schema)
    q3.awaitTermination(1200)
    s3_wall = time.time() - t0
    final_rows = spark.read.parquet(final_out).count()
    report["step3"] = {
        "wall_sec": round(s3_wall, 1),
        "out_rows": final_rows,
        "rows_per_sec": int(wide_rows / max(s3_wall, 0.001)),
    }
    report["chain_wall_sec"] = round(
        report["step1"]["wall_sec"]
        + report["step2"]["wall_sec"]
        + report["step3"]["wall_sec"],
        1,
    )

    print(json.dumps(report, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

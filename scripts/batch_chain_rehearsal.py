"""sf1 BATCH chain rehearsal — step1 → step2 → step3 through the
exact call sequence the `cli.py pipeline` subcommand runs, timed per
stage (VERDICT r8 item 7: the streaming chain has its golden test and
10× rehearsal, but no end-to-end three-stage BATCH wall at sf1 was
on record — this is the FRESCO parity path, not the extension
surface).

Raw volume matches the streaming rehearsal's sf1 ballpark by reusing
its generator (500 nodes × 3 waves × 240 timestamps ≈ 2.2 M raw rows
→ ~1.8 M long events); the accounting CSV is written in the
reference's month-file format (FIXTURES.md §2) and read back through
the CLI's own `_read_accounting`.

Two chain shapes are timed:
  - fused (what `pipeline` actually executes): step1 writes the long
    table; step2's join and step3's finalize are ONE lazy plan with a
    single write — Catalyst fuses the finalize projections into the
    step-2 job, so "step3" costs no extra pass;
  - split (step2 writes the wide table, step3 reads + finalizes):
    the per-stage attribution numbers.

Run:  python scripts/batch_chain_rehearsal.py [nodes] [ts_per_wave]
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
sys.path.insert(0, str(Path(__file__).resolve().parent))

_ARGS = sys.argv[1:]
sys.argv = sys.argv[:1]  # streaming_rehearsal reads argv at import
import streaming_rehearsal as SR  # noqa: E402

SR.N_NODES = int(_ARGS[0]) if _ARGS else 500
SR.T_PER_WAVE = int(_ARGS[1]) if len(_ARGS) > 1 else 240


def _write_accounting(path: Path) -> None:
    fmt = "%m/%d/%Y %H:%M:%S"
    t0 = SR.T0
    end = t0 + dt.timedelta(
        seconds=SR.WAVES * SR.T_PER_WAVE * SR.DT_SEC + 60
    )
    rows = [
        "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
        "start,end,submit,exit_status"
    ]
    for n in range(SR.N_NODES):
        rows.append(
            f"job{n},u{n},acc,jn,normal,1,16,86400,"
            f"{t0.strftime(fmt)},{end.strftime(fmt)},"
            f"{(t0 - dt.timedelta(minutes=5)).strftime(fmt)},0"
        )
    path.write_text("\n".join(rows) + "\n")


def main() -> int:
    from stampede_to_fresco_etl_spark.cli import (
        _read_accounting,
        _step2_frames,
    )
    from stampede_to_fresco_etl_spark.pipeline.step1 import run_step1
    from stampede_to_fresco_etl_spark.pipeline.step2 import run_step2
    from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
    from stampede_to_fresco_etl_spark.sources.writers import write_parquet
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(
        app_name="batch-chain-rehearsal", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = Path(tempfile.mkdtemp(prefix="batch_chain_"))
    raw = work / "raw"
    acct_csv = work / "acct" / "2013-03.csv"
    acct_csv.parent.mkdir(parents=True)
    long_out = str(work / "long")
    wide_out = str(work / "wide")
    final_fused = str(work / "final_fused")
    final_split = str(work / "final_split")

    report: dict = {
        "nodes": SR.N_NODES,
        "waves": SR.WAVES,
        "ts_per_wave": SR.T_PER_WAVE,
    }
    t0 = time.time()
    report["raw_rows"] = sum(
        SR._gen_wave(raw, w) for w in range(SR.WAVES)
    )
    _write_accounting(acct_csv)
    report["gen_sec"] = round(time.time() - t0, 1)

    # --- stage 1 (shared by both shapes): raw CSVs -> long table
    t0 = time.time()
    run_step1(spark, str(raw), long_out)
    s1 = round(time.time() - t0, 1)
    long_rows = spark.read.option(
        "recursiveFileLookup", "true"
    ).parquet(long_out).count()
    report["step1"] = {
        "wall_sec": s1,
        "out_rows": long_rows,
        "raw_rows_per_sec": int(report["raw_rows"] / s1),
    }

    # --- fused shape: cli.py `pipeline` verbatim from here
    t0 = time.time()
    out = _step2_frames(spark, long_out, str(acct_csv), None)
    write_parquet(finalize(out), final_fused)
    fused = round(time.time() - t0, 1)
    fused_rows = spark.read.option(
        "recursiveFileLookup", "true"
    ).parquet(final_fused).count()
    report["step2_step3_fused"] = {
        "wall_sec": fused,
        "out_rows": fused_rows,
        "long_rows_per_sec": int(long_rows / fused),
    }
    report["pipeline_wall_sec"] = round(s1 + fused, 1)

    # --- split shape: per-stage attribution
    t0 = time.time()
    metrics = spark.read.option(
        "recursiveFileLookup", "true"
    ).parquet(long_out)
    acct = _read_accounting(spark, str(acct_csv))
    write_parquet(run_step2(metrics, acct), wide_out)
    s2 = round(time.time() - t0, 1)
    t0 = time.time()
    write_parquet(
        finalize(
            spark.read.option("recursiveFileLookup", "true").parquet(
                wide_out
            )
        ),
        final_split,
    )
    s3 = round(time.time() - t0, 1)
    report["step2_split"] = {"wall_sec": s2}
    report["step3_split"] = {"wall_sec": s3}
    split_rows = spark.read.option(
        "recursiveFileLookup", "true"
    ).parquet(final_split).count()
    report["split_equals_fused_rows"] = bool(split_rows == fused_rows)

    print(json.dumps(report, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Command-line entry points — the runnable twins of the reference's
step scripts (step-1/main.py, step-2/main.py, step-3/main.py and the
watchdog movers), so a reference user can switch repos and run the
same jobs:

    python -m stampede_to_fresco_etl_spark step1 \
        --input /data/raw --output /data/fresco_long
    python -m stampede_to_fresco_etl_spark step2 \
        --metrics /data/fresco_long --accounting /data/acct.csv \
        --output /data/fresco_wide
    python -m stampede_to_fresco_etl_spark step3 \
        --input /data/fresco_wide --output /data/final
    python -m stampede_to_fresco_etl_spark pipeline \
        --input /data/raw --accounting /data/acct.csv --output /data/final
    python -m stampede_to_fresco_etl_spark stream \
        --landing /data/landing --output /data/out --checkpoint /data/ckpt

Each subcommand builds the tuned session (session.get_spark: UTC,
zstd, AQE + skew-join), calls the library function, and writes
zstd parquet — the CLI owns ONLY argument parsing; every behavior
lives in the library so programmatic users get the identical
pipeline.  `pipeline` runs the three steps as ONE plan with one
write: the long table is never written (run `step1` to keep it).
`step2` and `step3` read their inputs with the declared schemas
(FRESCO_LONG, WIDE_OUTPUT), so an upstream step that wrote no rows
hands over an empty table, not a schema-inference error.
"""

from __future__ import annotations

import argparse


def _add_io(p: argparse.ArgumentParser, *flags: str) -> None:
    for f in flags:
        p.add_argument(f"--{f}", required=True)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="stampede_to_fresco_etl_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s1 = sub.add_parser("step1", help="raw node CSVs -> FRESCO long table")
    _add_io(s1, "input", "output")

    s2 = sub.add_parser(
        "step2", help="long metrics x accounting -> wide table"
    )
    _add_io(s2, "metrics", "accounting", "output")
    s2.add_argument("--window-sec", type=int, default=None)

    s3 = sub.add_parser("step3", help="string finalization pass")
    _add_io(s3, "input", "output")

    pl = sub.add_parser("pipeline", help="step1 -> step2 -> step3")
    _add_io(pl, "input", "accounting", "output")
    pl.add_argument("--window-sec", type=int, default=None)

    st = sub.add_parser(
        "stream", help="incremental landing-dir ingest (exactly-once)"
    )
    _add_io(st, "landing", "output", "checkpoint")
    st.add_argument("--dedup-watermark", default="10 minutes")

    ss1 = sub.add_parser(
        "stream-step1", help="continuous step-1 over a raw landing tree"
    )
    _add_io(ss1, "input", "output", "checkpoint")

    ss2 = sub.add_parser(
        "stream-step2",
        help="incremental step-2 (stateful wide-table maintenance)",
    )
    _add_io(ss2, "landing", "accounting", "state", "output", "checkpoint")
    ss2.add_argument("--window-sec", type=int, default=60)

    ss3 = sub.add_parser(
        "stream-step3", help="continuous finalize over wide-table arrivals"
    )
    _add_io(ss3, "landing", "output", "checkpoint", "schema-from")
    return ap


def _read_accounting(spark, path: str):
    from stampede_to_fresco_etl_spark.schemas import ACCOUNTING_RAW
    from stampede_to_fresco_etl_spark.sources.readers import (
        read_csv_robust,
    )

    return read_csv_robust(spark, path, ACCOUNTING_RAW)


def _step2_frames(spark, metrics, accounting_path: str, window):
    from stampede_to_fresco_etl_spark.pipeline.step2 import run_step2

    acct = _read_accounting(spark, accounting_path)
    kw = {} if window is None else {"window_sec": window}
    return run_step2(metrics, acct, **kw)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from stampede_to_fresco_etl_spark.session import get_spark
    from stampede_to_fresco_etl_spark.sources.writers import write_parquet

    spark = get_spark()
    if args.cmd == "step1":
        from stampede_to_fresco_etl_spark.pipeline.step1 import run_step1

        run_step1(spark, args.input, args.output)
    elif args.cmd == "step2":
        from stampede_to_fresco_etl_spark.schemas import FRESCO_LONG

        metrics = spark.read.schema(FRESCO_LONG).parquet(args.metrics)
        out = _step2_frames(spark, metrics, args.accounting, args.window_sec)
        write_parquet(out, args.output)
    elif args.cmd == "step3":
        from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
        from stampede_to_fresco_etl_spark.schemas import WIDE_OUTPUT

        wide = spark.read.schema(WIDE_OUTPUT).parquet(args.input)
        write_parquet(finalize(wide), args.output)
    elif args.cmd == "pipeline":
        from stampede_to_fresco_etl_spark.pipeline.step1 import run_step1
        from stampede_to_fresco_etl_spark.pipeline.step3 import finalize

        out = _step2_frames(
            spark, run_step1(spark, args.input), args.accounting,
            args.window_sec,
        )
        write_parquet(finalize(out), args.output)
    elif args.cmd == "stream":
        from stampede_to_fresco_etl_spark.streaming.ingest import (
            run_incremental_pipeline,
        )

        q = run_incremental_pipeline(
            spark,
            args.landing,
            args.output,
            args.checkpoint,
            dedup_watermark=args.dedup_watermark,
        )
        q.awaitTermination()
    elif args.cmd == "stream-step1":
        from stampede_to_fresco_etl_spark.streaming.step1_stream import (
            run_step1_incremental,
        )

        for q in run_step1_incremental(
            spark, args.input, args.output, args.checkpoint
        ):
            q.awaitTermination()
    elif args.cmd == "stream-step2":
        from stampede_to_fresco_etl_spark.pipeline.step2 import (
            parse_accounting,
        )
        from stampede_to_fresco_etl_spark.streaming.step2_stream import (
            run_step2_incremental,
        )

        acct = parse_accounting(_read_accounting(spark, args.accounting))
        q = run_step2_incremental(
            spark,
            args.landing,
            acct,
            args.state,
            args.output,
            args.checkpoint,
            window_sec=args.window_sec,
        )
        q.awaitTermination()
    elif args.cmd == "stream-step3":
        from stampede_to_fresco_etl_spark.streaming.step3_stream import (
            run_step3_incremental,
        )

        schema = spark.read.parquet(args.schema_from).schema
        q = run_step3_incremental(
            spark, args.landing, args.output, args.checkpoint, schema
        )
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

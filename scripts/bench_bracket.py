"""Noise-bracketing protocol for queries about to join the frozen
bench core (VERDICT r7 item 8): 3 timed runs per query at sf0.1
after one untimed warm call, so the next round's round-over-round
comparison starts from a bracketed base instead of a single sample
(r7's lesson: 15 apparent wall regressions all had byte-identical
shuffle I/O — single samples on sub-second absolutes are noise).

The warm call also charges any session-cached artifact build
(d15/v16's stored-index materialization, shared pair frames) outside
the timed runs — the timed numbers are the steady-state per-call
cost, which is what the frozen core tracks.

Run:  python scripts/bench_bracket.py [out.json] [q1 q2 ...]
Default queries: the r7 additions heading for the next core freeze.
Writes {"sf": ..., "queries": {name: {"runs": [...], "min": .., "median": ..,
"max": ..}}} to the output path (default BENCH_BRACKET_r8.json).
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

DEFAULT_QUERIES = [
    "d15_incremental_dedup",
    "v16_incremental_ann",
    "w20_rolling_wau",
    "x53_inverted_index",
    "j17_salted_hot_join",
    "x54_pii_redaction",
    "x56_target_encoding",
]
SF_DIR = "/root/testdata/sf0.1"
RUNS = 3


def main() -> int:
    args = sys.argv[1:]
    out_path = (
        args.pop(0)
        if args and args[0].endswith(".json")
        else str(Path(__file__).resolve().parents[1] / "BENCH_BRACKET_r8.json")
    )
    names = args or DEFAULT_QUERIES

    from stampede_to_fresco_etl_spark.catalog import (
        REGISTRY,
        warm_shared_frames,
    )
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(app_name="bench-bracket", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    warm_shared_frames(spark, SF_DIR)

    report = {"sf_dir": SF_DIR, "runs_per_query": RUNS, "queries": {}}
    for name in names:
        fn, _sql = REGISTRY[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        walls = []
        for _ in range(RUNS):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        report["queries"][name] = {
            "runs": walls,
            "min": min(walls),
            "median": round(statistics.median(walls), 3),
            "max": max(walls),
        }
        print(name, walls, flush=True)
    Path(out_path).write_text(json.dumps(report, indent=1, sort_keys=True))
    print(f"wrote {out_path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Benchmark of the FRESCO chain and the catalog's CORE_V2 surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload fresco_batch --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

  fresco_batch  the paper's chain on a generated raw corpus, as
                `cli pipeline` runs it; the traced run also lands the
                same corpus month by month through the streaming steps
  catalog_core  the 45 CORE_V2 catalog queries on generated tables,
                in a seed-permuted order

With ``--trace 0`` the last line of standard output is one JSON object
with the end-to-end metrics; with ``--trace 1`` a traced run reports
the per-layer metrics and writes its spans to
``perfbench/.run/spans-<workload>-<seed>.json``.  Outputs are checked
after the timed region; any mismatch makes ``correct`` false, counts as
failed, and the command exits 1.

Each run works in a private directory under ``perfbench/.run`` (Spark
scratch, local dirs, checkpoints, state, outputs, temp files), removed
when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fresco_batch", "catalog_core")


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location at the run directory and return
    the Spark settings that do the same inside the JVM.  Must run
    before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "graft", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "graft")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVM that builds spark-submit's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }


def _stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from spans import descendants

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the JVM's Python workers exit once their parent is gone
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "stampede_to_fresco_etl_spark")):
        print(f"no stampede_to_fresco_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".run")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = _isolate(run_dir)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import cpu_ticks
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    try:
        if args.workload == "fresco_batch":
            import fresco as workload
        else:
            import catalog_core as workload
        from spans import Tracer

        tracer = Tracer(f"{args.workload}-{args.seed}", enabled=bool(args.trace))
        result = workload.run(
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            run_dir=run_dir,
            conf=conf,
            tracer=tracer,
        )
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    stamp = {
        **result["stamp"],
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "steal_share": _steal_share(ticks_start, cpu_ticks()),
    }
    if args.trace:
        os.makedirs(base, exist_ok=True)
        tracer.write(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"), stamp)
    failed = len(result["problems"])
    for problem in result["problems"]:
        print(f"MISMATCH {problem}")
    print("HOST " + json.dumps(stamp, sort_keys=True))
    print("SUMMARY " + json.dumps(result["summary"], sort_keys=True))
    # every end-to-end metric, including those without a bound
    lat = result["latencies"]
    e2e = {
        **result["end_to_end"],
        "latency_p90_s": (statistics.quantiles(lat, n=10)[-1] if len(lat) >= 100 else "n/a", "s"),
        "error_rate": (failed / result["attempted"], "ratio"),
    }
    for name, (value, unit) in e2e.items():
        n = f" samples={len(lat)}" if name.startswith("latency") else ""
        print(f"METRIC {name} {value} {unit}{n}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:  # a layer this workload does not run reports no work
        measured = result["per_layer"]
        metrics = {m["name"]: measured.get(m["name"], (0, m["unit"])) for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: result["end_to_end"][m["name"]] for m in spec["end_to_end"]}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": result["attempted"],
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())

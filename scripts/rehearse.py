"""10× scale rehearsal — warm noop-sink wall clock at sf0.1 vs the
replicated sf1 corpus (scripts/make_sf_scaled.py), per query.

The per-round sublinearity check: a ratio well above ~10× at 10× the
data flags super-linear work (an unbanded join, a lost pushdown, a
driver-side loop).  Interpret with the corpus caveats recorded in
SCALE.md — replicated data changes some densities (geo1 pair output
grows ×100 because replicas share one grid; d8's block keys collide
across replicas).

Run:  python scripts/rehearse.py q1 [q2 ...]
      python scripts/rehearse.py --all        (every registry query —
                                              hours; prefer a list)
      python scripts/rehearse.py --scaled=/root/repo/testdata_sf10 q1 …
          (compare sf0.1 against a DIFFERENT replica corpus — e.g.
           the 100× proxy from `make_sf_scaled.py 100`)
Requires /root/repo/testdata_sf1 (make_sf_scaled.py default output)
or whatever --scaled points at.
Driver heap is raised to 24g: local-mode Spark defaults to 1 GB and
the heavier sf1 localCheckpoints (g1's shingle frame) exceed it.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF01 = "/root/testdata/sf0.1"
SF1 = "/root/repo/testdata_sf1"


def main() -> int:
    from stampede_to_fresco_etl_spark.catalog import REGISTRY
    from stampede_to_fresco_etl_spark.session import get_spark

    args = sys.argv[1:]
    scaled = SF1
    for a in list(args):
        if a.startswith("--scaled="):
            scaled = a.split("=", 1)[1]
            args.remove(a)
    if not args:
        print(__doc__)
        return 2
    names = sorted(REGISTRY) if args == ["--all"] else args

    spark = get_spark(app_name="rehearse", shuffle_partitions=32)

    def run(name: str, sf_dir: str) -> float:
        fn, _ = REGISTRY[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    rc = 0
    for name in names:
        if name not in REGISTRY:
            print(f"SKIP {name}: not in registry", flush=True)
            rc = 1
            continue
        try:
            a = run(name, SF01)
            b = run(name, scaled)
            tag = scaled.rstrip("/").rsplit("_", 1)[-1]
            print(
                f"{name}: sf0.1 {a:.2f}s  {tag} {b:.2f}s  "
                f"ratio {b / a:.2f}x",
                flush=True,
            )
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: {str(ex)[:300]}", flush=True)
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

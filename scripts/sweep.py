"""Full-registry oracle sweep — the round's correctness validation,
runnable at any scale factor.

Replicates the driver's comparison for EVERY catalog query: run the
Spark callable and its DuckDB oracle on the same parquet tables,
compare column names, row counts, and exact values (sorted
column-wise and row-wise; exact equality implies the driver's
order-insensitive value-hash matches).  Non-empty enforced except for
the documented small-sf exceptions (test_oracle_parity._MAY_BE_EMPTY).

Run:  python scripts/sweep.py [sf_dir] [name_substring ...] [--shard=i/n]
                              [--times] [--parallel=n]
Default sf_dir: /root/testdata/sf0.01 (the driver's gate scale).
Optional name substrings restrict the sweep to matching queries.
--times prints a per-query wall breakdown (spark vs oracle seconds,
sorted descending) after the sweep — the attribution tool for
correctness-gate wall growth (VERDICT r10 item 6).
--parallel=n runs the registry as n concurrent --shard subprocesses
(each an unmodified sequential sweep in its own JVM + DuckDB
connection — per-query semantics identical, only the wall changes)
and then runs the full-registry representation lint in the parent.
The gate's floor is per-query driver round-trips (SCALE.md r12), so
concurrent shards buy ~1/n wall on a mostly-idle host.

Exit code 0 iff every swept query matches.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))
sys.path.insert(0, os.path.join(_REPO, "scripts"))


def _parallel_sweep(
    sf_dir: str, needles: list[str], n: int, times: bool
) -> int:
    """Run the sweep as n concurrent --shard subprocesses and the
    full-registry representation lint in this process.  Each shard
    is the unmodified sequential sweep — its own JVM, catalog
    session caches, and DuckDB connection — so per-query comparison
    semantics are byte-identical to a plain run; only the wall
    changes.  ok/bad are aggregated from each shard's SWEEP line
    (a shard that dies before printing one counts as failed)."""
    import os
    import re
    import shutil
    import subprocess
    import tempfile

    t0 = time.time()
    cmd0 = [sys.executable, __file__, sf_dir, *needles]
    if times:
        cmd0.append("--times")
    # Each shard gets a PRIVATE artifact scratch root: the session
    # caches that make artifact builds once-per-session are
    # in-process, so two shards sharing the default .scratch would
    # both build and overwrite each other mid-read (observed:
    # UNABLE_TO_INFER_SCHEMA on a dir being rewritten).
    scratch = tempfile.mkdtemp(prefix="sweep_par_")
    # shard output goes to FILES, not pipes: the parent waits on
    # shards one at a time, and a still-running shard blocked on a
    # full 64 KiB pipe (Spark's stderr alone overflows one) would
    # deadlock the whole sweep.
    procs = []
    for i in range(n):
        out_f = open(f"{scratch}/shard{i}.out", "w+")
        err_f = open(f"{scratch}/shard{i}.err", "w+")
        procs.append(
            (
                subprocess.Popen(
                    [*cmd0, f"--shard={i}/{n}"],
                    stdout=out_f,
                    stderr=err_f,
                    text=True,
                    env={
                        **os.environ,
                        "SPARK_GRAFT_SCRATCH": f"{scratch}/shard{i}",
                    },
                ),
                out_f,
                err_f,
            )
        )

    def _shard_size(i: int) -> int:
        # only needed on the rare dead-shard path: count the
        # registry queries round-robin-assigned to shard i so the
        # summary's denominator states how many were NEVER swept
        # instead of hiding them behind a single failure.
        from stampede_to_fresco_etl_spark.catalog import REGISTRY

        names = [
            q
            for q in sorted(REGISTRY)
            if not needles or any(s in q for s in needles)
        ]
        return sum(1 for j in range(len(names)) if j % n == i)

    ok = bad = 0
    summarized = 0
    for i, (p, out_f, err_f) in enumerate(procs):
        p.wait()
        out_f.seek(0)
        out = out_f.read()
        out_f.close()
        err_f.seek(0)
        err = err_f.read()
        err_f.close()
        for line in out.splitlines():
            if line.startswith(("FAIL", "LINT-FAIL")) or times:
                print(line, flush=True)
        m = re.search(r"SWEEP .*: (\d+)/(\d+) exact", out)
        if m:
            summarized += 1
            ok += int(m.group(1))
            bad += int(m.group(2)) - int(m.group(1))
        else:
            unswept = _shard_size(i)
            bad += unswept
            tail = "\n".join(err.strip().splitlines()[-5:])
            print(
                f"FAIL shard {i}/{n}: exited {p.returncode} with no "
                f"SWEEP summary — its {unswept} assigned queries "
                f"were never swept; stderr tail:\n{tail}",
                flush=True,
            )
    shutil.rmtree(scratch, ignore_errors=True)
    lint_bad = _run_lint(sf_dir) if not needles else 0
    print(
        f"SWEEP {sf_dir} (parallel={n}): {ok}/{ok + bad} exact, "
        f"{lint_bad} representation-lint failures, "
        f"in {time.time() - t0:.0f}s",
        flush=True,
    )
    return 0 if bad == 0 and lint_bad == 0 and summarized == n else 1


def _run_lint(sf_dir: str) -> int:
    """Full-registry representation lint (VERDICT r7 item 2), shared
    by the sequential and parallel paths so the two modes can never
    drift in what they ban or how they report it."""
    from oracle_lint import lint as _rep_lint

    lint_bad = 0
    banned, _dates = _rep_lint(sf_dir)
    for qname, col, typ in banned:
        lint_bad += 1
        print(f"LINT-FAIL {qname}.{col}: {typ}", flush=True)
    return lint_bad


def main() -> int:
    # flags may appear ANYWHERE (the documented invocations omit
    # sf_dir: `sweep.py --parallel=4`); positionals are sf_dir then
    # name substrings.  A malformed flag exits with usage instead of
    # an IndexError traceback.
    args = sys.argv[1:]
    shard = None
    times = False
    parallel = None
    pos: list[str] = []
    for a in args:
        try:
            if a.startswith("--shard"):
                i, n = a.split("=", 1)[1].split("/")
                shard = (int(i), int(n))
            elif a == "--times":
                times = True
            elif a.startswith("--parallel"):
                parallel = int(a.split("=", 1)[1])
            elif a.startswith("--"):
                raise ValueError(f"unknown flag {a!r}")
            else:
                pos.append(a)
        except (IndexError, ValueError) as ex:
            print(
                f"bad argument {a!r} ({ex}); see the module "
                f"docstring for usage",
                flush=True,
            )
            return 2
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    needles = pos[1:]

    if parallel is not None and shard is None:
        return _parallel_sweep(sf_dir, needles, parallel, times)

    import pandas as pd

    import test_oracle_parity as P
    from stampede_to_fresco_etl_spark.catalog import REGISTRY
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(app_name="sweep", shuffle_partitions=32)
    P.SF_DIR = sf_dir
    names = [
        n
        for n in sorted(REGISTRY)
        if not needles or any(s in n for s in needles)
    ]
    if shard is not None:
        i, n = shard
        names = [q for j, q in enumerate(names) if j % n == i]
    t0 = time.time()
    ok, bad = 0, 0
    walls: list[tuple[float, float, str]] = []
    for name in names:
        fn, sql = REGISTRY[name]
        try:
            ts = time.time()
            got = P._normalize(fn(spark, sf_dir).toPandas())
            ts = time.time() - ts
            to = time.time()
            want = P._normalize(P._duck(sql))
            to = time.time() - to
            walls.append((ts, to, name))
            assert list(got.columns) == list(want.columns), (
                list(got.columns), list(want.columns),
            )
            assert len(got) == len(want), (len(got), len(want))
            pd.testing.assert_frame_equal(
                got, want, check_exact=True, check_dtype=False
            )
            if name not in P._MAY_BE_EMPTY:
                assert len(got) > 0, "degenerate: empty"
            ok += 1
        except Exception as ex:  # noqa: BLE001 — report and continue
            bad += 1
            print(f"FAIL {name}: {str(ex)[:300]}", flush=True)
    if times:
        print("--- per-query wall (spark_s oracle_s total_s) ---")
        for ts, to, name in sorted(
            walls, key=lambda w: -(w[0] + w[1])
        ):
            print(
                f"{name}: {ts:.2f} {to:.2f} {ts + to:.2f}",
                flush=True,
            )
    # Representation lint (VERDICT r7 item 2): value comparison above
    # runs check_dtype=False, which is blind to DuckDB type widening
    # (HUGEINT/DECIMAL render as float in pandas while Spark emits
    # int64 — the exact class behind w5's r6/r7 driver reds).  The
    # lint DESCRIBEs every oracle and fails the sweep on any banned
    # output type, full-registry only (a needle-restricted run keeps
    # its narrow scope).
    lint_bad = (
        _run_lint(sf_dir) if not needles and shard is None else 0
    )
    print(
        f"SWEEP {sf_dir}: {ok}/{ok + bad} exact, "
        f"{lint_bad} representation-lint failures, "
        f"in {time.time() - t0:.0f}s",
        flush=True,
    )
    return 0 if bad == 0 and lint_bad == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())

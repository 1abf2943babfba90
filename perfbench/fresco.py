"""The `fresco_batch` workload: the paper's chain on a generated raw
corpus, run as `cli.main(["pipeline", ...])` runs it: step-1 writes the
long table, step-2 and step-3 run as one plan with one write.  The first
pass after set-up is `cold_s`; after one untimed warm-up pass, passes
repeat for the run's measuring time (at least three) and their median
is `wall_s`.

The traced run adds the per-layer split (differential runs over the
same inputs) and the streaming chain: the same rows, split into one
wave per month, land in a landing tree one wave at a time, and after
each wave the client drains `run_step1_incremental`,
`run_step2_incremental` and `run_step3_incremental` with availableNow
triggers before landing the next.  The first wave also starts the
streaming machinery and is left out of the per-wave medians.

The batch output is checked against a DuckDB reference over the same
raw files after the timed region; in the traced run the streaming
output is checked against the reference and against the batch output.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

import corpus
import reference
from spans import (
    dir_bytes,
    group_counters,
    host_stamp,
    peak_rss_mb,
    start_sessions,
    stream_progress,
)

#: raw CSV rows per corpus: a warm batch pass takes 2-4 s and a
#: streaming wave 5-8 s on a 4-core host
TARGET_ROWS = 48_000
#: nodes, with up to four files each (one node has no llite file, a
#: node that drew no job has none).  Per-file work is a large share of
#: a pass at this size, so the count is fixed rather than drawn from
#: the seed.
NODES = 24
#: session starts per run: the first launches the JVM, the rest
#: restart the session in it
SETUPS = 3
#: untimed passes after the cold one, then at least MIN_PASSES timed ones
WARMUP_PASSES = 1
MIN_PASSES = 3
RAW = {
    "block": ("BLOCK_RAW", ["rd_sectors", "wr_sectors"]),
    "cpu": ("CPU_RAW", ["user", "nice", "system", "idle", "iowait", "irq", "softirq"]),
    "llite": ("LLITE_RAW", ["read_bytes", "write_bytes"]),
    "mem": ("MEM_RAW", ["MemTotal", "MemFree", "MemUsed", "FilePages"]),
}


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Fresco:
    def __init__(self, seed, seconds, traced, run_dir, conf, tracer):
        self.seconds = seconds
        self.traced = traced
        self.conf = conf
        self.t = tracer
        self.dir = run_dir
        self.raw = os.path.join(run_dir, "raw")
        self.waves_raw = os.path.join(run_dir, "raw_waves")
        self.acct = os.path.join(run_dir, "acct")
        self.info = corpus.fresco_corpus(seed, TARGET_ROWS, NODES, self.raw, self.acct)
        if traced:  # the same rows split by month, for the streaming chain
            corpus.fresco_corpus(
                seed, TARGET_ROWS, NODES, self.waves_raw, os.path.join(run_dir, "acct_w"), waves=True
            )
        self.spark = None
        self.per_layer: dict[str, tuple[float, str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- set-up ------------------------------------------------------------

    def setup(self, after_launch) -> list[float]:
        self.spark, times = start_sessions(
            self.t, self.conf, "perfbench-fresco", SETUPS, after_launch=after_launch
        )
        return times

    # -- batch ---------------------------------------------------------------

    def pipeline_pass(self, out: str) -> float:
        from stampede_to_fresco_etl_spark import cli

        with self.t.span("cli.pipeline") as sp:
            cli.main(["pipeline", "--input", self.raw, "--accounting", self.acct, "--output", out])
        return sp["end"] - sp["start"]

    def batch(self) -> tuple[float, list[float], str, float | None]:
        """(cold, timed warm passes, last output dir, tracing overhead).
        In a traced run the timed passes alternate traced, plain, plain,
        traced, and the difference of the two medians is the tracing
        overhead."""
        cold = self.pipeline_pass(self.path("batch0"))
        walls, plain, last = [], [], self.path("batch0")
        for _ in range(WARMUP_PASSES):  # the JIT settles over the first warm passes
            self.pipeline_pass(self.path("warmup"))
        deadline = time.perf_counter() + self.seconds
        i = 0
        while len(walls) < MIN_PASSES or time.perf_counter() < deadline or (
            self.traced and len(plain) < len(walls)
        ):
            i += 1
            out = self.path(f"batch{i}")
            if self.traced and i % 4 in (2, 3):  # traced, plain, plain, traced, ...
                self.t.enabled = False
                plain.append(self.pipeline_pass(out))
                self.t.enabled = True
            else:
                walls.append(self.pipeline_pass(out))
            shutil.rmtree(last, ignore_errors=True)
            last = out
        overhead = statistics.median(walls) - statistics.median(plain) if plain else None
        return cold, walls, last, overhead

    # -- streaming -------------------------------------------------------------

    def stream(self) -> tuple[list[float], dict]:
        from stampede_to_fresco_etl_spark.pipeline.step2 import parse_accounting
        from stampede_to_fresco_etl_spark.schemas import ACCOUNTING_RAW
        from stampede_to_fresco_etl_spark.sources.readers import read_csv_robust
        from stampede_to_fresco_etl_spark.streaming.step1_stream import run_step1_incremental
        from stampede_to_fresco_etl_spark.streaming.step2_stream import run_step2_incremental
        from stampede_to_fresco_etl_spark.streaming.step3_stream import run_step3_incremental

        spark = self.spark
        land, long_, wide, final, state = (
            self.path(d) for d in ("landing", "s_long", "s_wide", "s_final", "s_state")
        )
        acct = parse_accounting(read_csv_robust(spark, self.acct, ACCOUNTING_RAW))
        latencies, drains = [], {1: [], 2: [], 3: []}
        progress: dict[str, int] = {}
        lag_state: dict[str, tuple[int, int]] = {}  # step-1 query -> latest (rows, bytes)
        batch_ids: set = set()
        retried = long_in = state_out = 0
        schema = None
        for wave in range(len(corpus.MONTHS)):
            files = corpus.wave_files(self.waves_raw, wave)
            since = time.time()
            t0 = time.perf_counter()
            for rel in files:  # copy under a hidden name, then rename: atomic landing
                dst = os.path.join(land, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst))
                shutil.copyfile(os.path.join(self.waves_raw, rel), tmp)
                os.rename(tmp, dst)
            queries = []
            with self.t.span("streaming.step1_drain", wave=wave) as s1:
                for name, q in zip(RAW, run_step1_incremental(spark, land, long_, self.path("ck1"))):
                    q.awaitTermination()
                    queries.append((f"step1.{name}", q))
            with self.t.span("streaming.step2_drain", wave=wave) as s2:
                q = run_step2_incremental(spark, long_, acct, state, wide, self.path("ck2"), recursive=True)
                q.awaitTermination()
                queries.append(("step2", q))
            with self.t.span("streaming.step3_drain", wave=wave) as s3:
                if schema is None:
                    schema = spark.read.parquet(wide).schema
                q = run_step3_incremental(spark, wide, final, self.path("ck3"), schema)
                q.awaitTermination()
                queries.append(("step3", q))
            latencies.append(time.perf_counter() - t0)
            for i, sp in ((1, s1), (2, s2), (3, s3)):
                drains[i].append(sp["end"] - sp["start"])
            if self.traced:
                for name, q in queries:
                    p = stream_progress(q)
                    span = s1 if name.startswith("step1") else s2 if name == "step2" else s3
                    span.setdefault("queries", {})[name] = {
                        "progress": {k: v for k, v in p.items() if k != "batch_ids"},
                        "spark": group_counters(spark.sparkContext, str(q.runId)),
                    }
                    for bid in p.pop("batch_ids"):
                        retried += (name, bid) in batch_ids
                        batch_ids.add((name, bid))
                    rows, size = p.pop("state_rows"), p.pop("state_bytes")
                    if rows:
                        lag_state[name] = (rows, size)
                    for k, v in p.items():
                        progress[k] = progress.get(k, 0) + v
                long_in += dir_bytes(long_, since)[0]
                state_out += dir_bytes(state, since)[0] + dir_bytes(wide, since)[0]
        if self.traced:

            def med(xs):  # warm waves only
                return statistics.median(xs[1:])

            self.per_layer.update(
                {
                    "streaming.step1_drain_s": (med(drains[1]), "s"),
                    "streaming.step2_drain_s": (med(drains[2]), "s"),
                    "streaming.step3_drain_s": (med(drains[3]), "s"),
                    "streaming.batches": (progress.get("batches", 0), "count"),
                    "streaming.latest_offset_ms": (progress.get("latest_offset_ms", 0), "ms"),
                    "streaming.add_batch_ms": (progress.get("add_batch_ms", 0), "ms"),
                    "streaming.commit_ms": (progress.get("commit_ms", 0), "ms"),
                    "streaming.state_rows": (sum(r for r, _ in lag_state.values()), "count"),
                    "streaming.state_bytes": (sum(b for _, b in lag_state.values()), "bytes"),
                    "streaming.retried_batches": (retried, "count"),
                    "streaming.snapshot_bytes": (dir_bytes(state)[0], "bytes"),
                    "streaming.write_amp": (state_out / long_in if long_in else 0.0, "ratio"),
                }
            )
        return latencies, {"long": long_, "final": final}

    # -- traced layer split ----------------------------------------------------

    def layers(self) -> None:
        """Differential runs over the same inputs, each run twice and
        timed by its faster run, for the sources / operators / pipeline
        split."""
        from stampede_to_fresco_etl_spark import schemas
        from stampede_to_fresco_etl_spark.operators.interval_join import join_metrics_to_accounting
        from stampede_to_fresco_etl_spark.pipeline import step1
        from stampede_to_fresco_etl_spark.pipeline.step2 import (
            join_and_widen,
            parse_accounting,
            partial_step2,
            run_step2,
        )
        from stampede_to_fresco_etl_spark.pipeline.step3 import finalize
        from stampede_to_fresco_etl_spark.sources.readers import read_csv_robust
        from stampede_to_fresco_etl_spark.sources.writers import write_parquet

        spark, raw = self.spark, self.raw
        long_dir, wide_dir = self.path("l_long"), self.path("l_wide")

        def timed(name: str, fn) -> float:
            best = None
            for _ in range(2):  # writes overwrite their output
                with self.t.span(name) as sp:
                    fn()
                dt = sp["end"] - sp["start"]
                best = dt if best is None else min(best, dt)
            return best

        def scans():
            for name, (schema, cols) in RAW.items():
                df = read_csv_robust(spark, f"{raw}/*/{name}.csv", getattr(schemas, schema))
                _noop(step1._clean(df, cols))

        acct_raw = read_csv_robust(spark, self.acct, schemas.ACCOUNTING_RAW)
        read_s = timed("sources.read_csv", scans)
        transform_s = timed("operators.transform", lambda: _noop(step1.run_step1(spark, raw)))
        step1_s = timed("pipeline.step1", lambda: step1.run_step1(spark, raw, long_dir))
        long_ = spark.read.parquet(long_dir)
        acct = parse_accounting(acct_raw)
        join_s = timed("operators.interval_join", lambda: _noop(join_metrics_to_accounting(long_, acct)))
        partial_s = timed("operators.partial_step2", lambda: _noop(partial_step2(long_, acct)))
        widen_s = timed("operators.join_and_widen", lambda: _noop(join_and_widen(long_, acct)))
        step2_s = timed("pipeline.step2", lambda: write_parquet(run_step2(long_, acct_raw), wide_dir))
        step3_s = timed(
            "pipeline.step3",
            lambda: write_parquet(finalize(spark.read.parquet(wide_dir)), self.path("l_final")),
        )
        fused_s = timed(
            "pipeline.fused",
            lambda: write_parquet(finalize(run_step2(long_, acct_raw)), self.path("l_fused")),
        )
        n_long = long_.count()
        n_joined = join_metrics_to_accounting(long_, acct).count()
        out_bytes, out_files = dir_bytes(long_dir)
        scan_counters = self.t.last("sources.read_csv")
        pl = self.per_layer
        pl["sources.read_csv_s"] = (read_s, "s")
        pl["sources.write_parquet_s"] = (step1_s - transform_s, "s")
        pl["sources.scan_files"] = (self.info.files, "count")
        pl["sources.input_bytes"] = (scan_counters.get("input_bytes", 0), "bytes")
        pl["sources.output_bytes"] = (out_bytes, "bytes")
        pl["sources.output_files"] = (out_files, "count")
        pl["operators.rates_s"] = (transform_s - read_s, "s")
        pl["operators.interval_join_s"] = (join_s, "s")
        pl["operators.windows_s"] = (partial_s - join_s, "s")
        pl["operators.pivot_s"] = (widen_s - partial_s, "s")
        pl["operators.join_keep_ratio"] = (n_joined / n_long, "ratio")
        pl["pipeline.step1_s"] = (step1_s, "s")
        pl["pipeline.step2_s"] = (step2_s, "s")
        pl["pipeline.step3_s"] = (step3_s, "s")
        pl["pipeline.fused_s"] = (fused_s, "s")
        pl["pipeline.long_rows"] = (n_long, "count")
        pl["pipeline.wide_rows"] = (spark.read.parquet(wide_dir).count(), "count")
        for step in ("step1", "step2", "step3"):
            c = self.t.last(f"pipeline.{step}")
            for key, unit in STEP_COUNTERS:
                pl[f"pipeline.{step}.{key}"] = (c.get(key, 0), unit)


STEP_COUNTERS = [
    ("exec_cpu_s", "s"),
    ("gc_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("task_skew", "ratio"),
]


def run(seed, seconds, traced, run_dir, conf, tracer) -> dict:
    w = Fresco(seed, seconds, traced, run_dir, conf, tracer)
    with ThreadPoolExecutor(max_workers=1) as pool:
        # the reference is computed while the JVM launches, and is ready
        # before the first timed restart (in a traced run, before the
        # launch, which session.start_s times)
        ref = pool.submit(reference.fresco_reference, w.raw, w.acct)
        if traced:
            ref.result()
        setups = w.setup(after_launch=ref.result)
        n_long, want = ref.result()
    cold, walls, batch_out, overhead = w.batch()
    rss, rss_parts = peak_rss_mb()
    latencies: list[float] = []
    if traced:
        w.layers()
        latencies, stream_dirs = w.stream()
    stamp = {
        **host_stamp(w.spark),
        "raw_rows": w.info.raw_rows,
        "raw_files": w.info.files,
        "raw_bytes": w.info.bytes,
        "nodes": w.info.nodes,
        "jobs": w.info.jobs,
        "waves": len(corpus.MONTHS),
    }

    # -- output checks, outside every timed region --
    t_check = time.perf_counter()
    got_batch = reference.read_output(batch_out)
    problems = [f"batch vs reference: {p}" for p in reference.compare_wide(got_batch, want)]
    if traced:
        got_stream = reference.read_output(stream_dirs["final"])
        problems += [f"stream vs reference: {p}" for p in reference.compare_wide(got_stream, want)]
        problems += [f"batch vs stream: {p}" for p in reference.compare_wide(got_batch, got_stream)]
        n_stream_long = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{stream_dirs['long']}/**/*.parquet')"
        ).fetchone()[0]
        for name, n in (("stream", n_stream_long), ("batch", w.per_layer["pipeline.long_rows"][0])):
            if n != n_long:
                problems.append(f"{name} long rows {n} != reference {n_long}")

    wall = statistics.median(walls)
    attempted = 1 + len(walls) + len(latencies)
    summary = {
        "rss_mb_by_process": rss_parts,
        "attempted": attempted,
        "check_s": time.perf_counter() - t_check,
        "setup_samples_s": setups,
        "cold_s": cold,
        "wall_samples_s": walls,
        "wave_latency_samples_s": latencies,
        "wide_rows": len(want),
        "long_rows": n_long,
    }
    end_to_end = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_s": (cold, "s"),
        "wall_s": (wall, "s"),
        "rows_per_s": (w.info.raw_rows / wall, "1/s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    per_layer = {}
    if traced:
        per_layer = dict(w.per_layer)
        per_layer["session.start_s"] = (setups[0], "s")
        per_layer["trace.overhead_s"] = (overhead, "s")
    return {
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "summary": summary,
        "stamp": stamp,
        "problems": problems,
        "attempted": attempted,
        "latencies": walls,
    }

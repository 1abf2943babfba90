"""Spans, Spark counters and host facts for the benchmark.

A `Tracer` records spans around the benchmark's calls into each layer
of the program.  When tracing is on, each span also runs under its own
Spark job group, and when the span closes the tracer reads Spark's
counters for the jobs of that group from the driver's status store
(never a difference of cumulative totals, which go wrong once the
store evicts old stages).  When tracing is off a span only times its
block, so the untraced run pays two clock reads per span.

Spans stay in memory and are written as one JSON file at the end.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None  # set once the SparkContext exists

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block; with tracing on, tag its Spark jobs and attach
        their counters to the span record, which is yielded so the
        caller can add attributes."""
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}/{rec['id']}/{name}"
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled and self.sc is not None:
                rec["spark"] = group_counters(self.sc, group)
                if parent is not None:
                    self.sc.setJobGroup(f"{self.run_id}/{parent['id']}/{parent['name']}", parent["name"])
                else:
                    self.sc._jsc.clearJobGroup()

    def last(self, name: str) -> dict:
        """Spark counters of the last span called `name`."""
        for s in reversed(self.spans):
            if s["name"] == name:
                return s.get("spark", {})
        return {}

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1, default=str)


def _opt(v):
    """Unwrap a Scala Option returned through py4j."""
    return v.get() if v.isDefined() else None


def group_counters(sc, group: str) -> dict:
    """Counters of the jobs Spark ran under one job group: jobs,
    stages, tasks, failed tasks, executor CPU and GC time, shuffle
    write and spill bytes, and the task skew (longest task over the
    median) of the group's longest stage."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "jobs": len(job_ids),
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "exec_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "task_skew": 0.0,
    }
    longest = (-1, None)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped or evicted stage
            continue
        if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_bytes"] += sd.inputBytes()
        out["output_bytes"] += sd.outputBytes()
        if sd.executorRunTime() > longest[0]:
            longest = (sd.executorRunTime(), (sid, sd.attemptId()))
    if longest[1] is not None:
        out["task_skew"] = task_skew(store, *longest[1])
    return out


def task_skew(store, stage_id: int, attempt: int) -> float:
    tasks = store.taskList(stage_id, attempt, 100_000)
    durs = []
    for i in range(tasks.size()):
        d = _opt(tasks.apply(i).duration())
        if d is not None:
            durs.append(float(d))
    if not durs:
        return 0.0
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def stream_progress(query) -> dict:
    """Sum a streaming query's `recentProgress` into the streaming
    layer's counters; `batch_ids` lists the batches it ran."""
    out = {
        "batches": 0,
        "latest_offset_ms": 0,
        "add_batch_ms": 0,
        "commit_ms": 0,
        "state_rows": 0,
        "state_bytes": 0,
        "batch_ids": [],
    }
    for p in query.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else p
        d = p.get("durationMs", {})
        if not p.get("numInputRows") and "addBatch" not in d:
            continue  # an idle trigger: nothing listed but the offsets
        out["batches"] += 1
        out["batch_ids"].append(p["batchId"])
        out["latest_offset_ms"] += d.get("latestOffset", 0)
        out["add_batch_ms"] += d.get("addBatch", 0)
        out["commit_ms"] += d.get("walCommit", 0) + d.get("commit", 0)
        for op in p.get("stateOperators", []):
            out["state_rows"] = max(out["state_rows"], op.get("numRowsTotal", 0))
            out["state_bytes"] = max(out["state_bytes"], op.get("memoryUsedBytes", 0))
    return out


def dir_bytes(path: str, since: float = 0.0) -> tuple[int, int]:
    """(bytes, data files) under a directory, counting files modified
    at or after `since` and ignoring Spark's hidden and metadata
    files."""
    total = files = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            st = os.stat(os.path.join(root, n))
            if not n.startswith(("_", ".")) and st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total, files


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot, from /proc/stat: the share of
    steal over a run is how much of the host other tenants took."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(pid: int) -> list[int]:
    """Every live descendant of a process, from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children") as f:
                kids = [int(x) for x in f.read().split()]
        except OSError:
            kids = []
        todo += kids
        out += kids
    return out


def peak_rss_mb() -> tuple[float, dict]:
    """High-water resident memory (VmHWM) of this process and every
    live descendant (the driver JVM, its Python workers), in MB, with
    the share of each process."""
    parts = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f"{f.read().strip()}:{pid}"
        except OSError:
            continue
        parts[name] = _hwm_kb(pid) / 1024.0
    return sum(parts.values()), parts


def host_stamp(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_version": spark.version,
        "java_version": jvm.System.getProperty("java.version"),
    }


def start_sessions(tracer: Tracer, conf: dict, app: str, n: int, after_launch=None):
    """Start the session `n` times, stopping the previous one each time
    (the first start also launches the JVM), and return the last
    session with the set-up times: `get_spark` through the first
    action.  `after_launch` runs between the first start and the
    restarts."""
    from stampede_to_fresco_etl_spark.session import get_spark

    spark, times = None, []
    for _ in range(n):
        if spark is not None:
            if after_launch is not None and len(times) == 1:
                after_launch()
            spark.stop()
        with tracer.span("session.start") as sp:
            spark = get_spark(app_name=app, extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).count()
        times.append(sp["end"] - sp["start"])
    tracer.sc = spark.sparkContext
    return spark, times


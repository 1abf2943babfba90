"""Seeded input generators for the benchmark.

`fresco_corpus` writes the raw inputs of the FRESCO chain in the
FIXTURES.md §1-2 shapes: per-node ``block/cpu/llite/mem`` CSVs and one
accounting CSV per month.  `catalog_tables` writes the TPC-H-like
parquet tables the catalog queries read.  The same seed always gives
byte-identical files; different seeds vary the structure (cores and
block devices per node, sample interval, job layout) while the node
count is fixed and the raw row count stays within about one job of its
target, so timings of different seeds are comparable.

Time layout: one month per wave (January to March 2013).  Every job
starts and ends inside one month, while a node's samples continue
across months (tail samples after a job ends carry the job's id and
fall outside every job), so the streaming lag state crosses waves
without a wave reopening a finished month.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

MONTHS = [(2013, 1), (2013, 2), (2013, 3)]
INTERVALS_S = [10, 30, 60, 120, 300, 600]
CORES = [2, 4, 8, 16]
FMT_US = "%m/%d/%Y %H:%M:%S"
FMT_ISO = "%Y-%m-%d %H:%M:%S"
JIFFIES_PER_S = 100
MEM_TOTAL = 32 * 2**30
HEADERS = {
    "block": "jobID,node,timestamp,device,rd_sectors,wr_sectors",
    "cpu": "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
    "llite": "jobID,node,timestamp,read_bytes,write_bytes",
    "mem": "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
}
ACCT_HEADER = (
    "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
    "start,end,submit,exit_status"
)


@dataclass
class Node:
    name: str
    interval: int
    cores: int
    devices: int
    fmt: str
    has_llite: bool
    free_at: dt.datetime = dt.datetime(2013, 1, 1)
    # cumulative counters carried across jobs and months
    sectors: list = field(default_factory=list)
    jiffies: list = field(default_factory=list)
    lbytes: list = field(default_factory=lambda: [0, 0])

    @property
    def rows_per_sample(self) -> int:
        return self.devices + self.cores + int(self.has_llite) + 1


@dataclass
class Job:
    num: int
    tel_id: str  # job id as the telemetry spells it
    acct_id: str  # job id as the accounting file spells it
    hosts: list
    start: dt.datetime
    end: dt.datetime


@dataclass
class CorpusInfo:
    raw_rows: int
    files: int
    bytes: int
    nodes: int
    jobs: int


def _spell(rng: random.Random, num: int) -> str:
    return rng.choice([f"job{num}", f"jobID{num}", f"{num}"])


def _month_bounds(i: int) -> tuple[dt.datetime, dt.datetime]:
    y, m = MONTHS[i]
    start = dt.datetime(y, m, 1)
    ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
    return start, dt.datetime(ny, nm, 1)


def _make_nodes(rng: random.Random, n: int) -> list[Node]:
    nodes = []
    for i in range(n):
        node = Node(
            name=f"c{401 + i // 16:03d}-{101 + i % 16:03d}",
            interval=rng.choice(INTERVALS_S),
            cores=rng.choice(CORES),
            devices=rng.choice([2, 3]),
            fmt=FMT_ISO if i == 1 else FMT_US,
            has_llite=i != 2,  # node 2's windows carry no nfs event
        )
        node.sectors = [[rng.randint(0, 10**6)] * 2 for _ in range(node.devices)]
        node.jiffies = [
            [rng.randint(0, 10**5) for _ in range(7)] for _ in range(node.cores)
        ]
        nodes.append(node)
    return nodes


def _schedule(rng: random.Random, nodes: list[Node], target_rows: int) -> list[Job]:
    """Jobs per month until the sample budget is spent: mostly
    single-node, some multi-node, and one long wide job per month
    (key skew).  Gaps between a node's jobs leave tail samples outside
    every job."""
    jobs: list[Job] = []
    num = 2_000_000 + rng.randint(0, 99_999)
    per_month = target_rows / len(MONTHS)
    for mi in range(len(MONTHS)):
        m0, m1 = _month_bounds(mi)
        for node in nodes:
            node.free_at = m0 + dt.timedelta(minutes=rng.randint(5, 90))
        rows = 0.0
        wide = True
        while rows < per_month:
            if wide:
                # long wide job: about a tenth of the month's rows
                hosts = rng.sample(nodes, max(2, len(nodes) // 2))
                rate = sum(h.rows_per_sample / h.interval for h in hosts)
                span = int(per_month * rng.uniform(0.08, 0.12) / rate)
                wide = False
            else:
                k = 1 if rng.random() < 0.7 else rng.randint(2, 4)
                hosts = rng.sample(nodes, k)
                mean_iv = sum(h.interval for h in hosts) / k
                rate = sum(h.rows_per_sample / h.interval for h in hosts)
                # the month's last job is cut to land on the row target
                span = int(min(mean_iv * rng.randint(12, 60), (per_month - rows) / rate))
                span = max(span, max(h.interval for h in hosts))
            start = max(h.free_at for h in hosts)
            end = start + dt.timedelta(seconds=span)
            if end + dt.timedelta(hours=2) >= m1:
                for h in hosts:  # month full on these nodes
                    h.free_at = m1
                if all(n.free_at >= m1 for n in nodes):
                    break
                continue  # jobs never cross a month boundary
            num += rng.randint(1, 40)
            jobs.append(
                Job(num, _spell(rng, num), _spell(rng, num), hosts, start, end)
            )
            for h in hosts:
                rows += h.rows_per_sample * (span / h.interval + 1)
                h.free_at = end + dt.timedelta(seconds=h.interval * rng.randint(4, 30))
    # one job with a non-numeric id (normalization fallback), containing
    # "ID" so step-3's first-occurrence strip applies
    jobs[-1].tel_id = jobs[-1].acct_id = "IDLETEST"
    return jobs


def _samples(rng: random.Random, job: Job, node: Node) -> list[dt.datetime]:
    """In-job samples on the node's cadence, then 0-2 tail samples at
    or after the job's end (outside every job)."""
    out = []
    t = job.start
    while t < job.end:
        out.append(t)
        t += dt.timedelta(seconds=node.interval)
    for _ in range(rng.randint(0, 2)):
        out.append(t)
        t += dt.timedelta(seconds=node.interval)
    return out


def _emit(rng: random.Random, node: Node, job: Job, ts: dt.datetime, quirks: dict) -> dict:
    """One sample's rows for every metric file, advancing the node's
    counters.  `quirks` names the FIXTURES edge case this sample
    carries, if any."""
    stamp = ts.strftime(node.fmt)
    jid = job.tel_id
    out: dict[str, list[str]] = {"block": [], "cpu": [], "llite": [], "mem": []}
    for d, cnt in enumerate(node.sectors):
        if quirks.get("reset") and d == 0:
            cnt[0] = rng.randint(0, 1000)  # counter reset: negative delta
        else:
            cnt[0] += rng.randint(0, 4000) * node.interval // 10
        cnt[1] += rng.randint(0, 2000) * node.interval // 10
        out["block"].append(f"{jid},{node.name},{stamp},sd{chr(97 + d)},{cnt[0]},{cnt[1]}")
    for c, jif in enumerate(node.jiffies):
        if not quirks.get("idle_cpu"):  # all-zero delta: counters repeat
            budget = node.interval * JIFFIES_PER_S
            cuts = sorted(rng.randint(0, budget) for _ in range(6))
            parts = [b - a for a, b in zip([0, *cuts], [*cuts, budget])]
            for i in range(7):
                jif[i] += parts[i]
            if quirks.get("clip"):
                jif[3] -= budget * 9 // 10  # idle runs backwards: ratio > 100
        out["cpu"].append(f"{jid},{node.name},{stamp},cpu{c}," + ",".join(map(str, jif)))
    if node.has_llite:
        node.lbytes[0] += rng.randint(0, 2**20) * node.interval
        node.lbytes[1] += rng.randint(0, 2**19) * node.interval
        out["llite"].append(f"{jid},{node.name},{stamp},{node.lbytes[0]},{node.lbytes[1]}")
    used = rng.randint(2**30, 24 * 2**30)
    cache = rng.randint(0, used + used // 4)  # sometimes MemUsed < FilePages
    out["mem"].append(
        f"{jid},{node.name},{stamp},{MEM_TOTAL},{MEM_TOTAL - used},{used},{cache}"
    )
    return out


def _accounting_rows(rng: random.Random, jobs: list[Job]) -> dict[int, list[str]]:
    by_month: dict[int, list[str]] = {i: [] for i in range(len(MONTHS))}
    queues = ["normal", "development", "largemem", "serial"]
    for i, job in enumerate(jobs):
        start = job.start.strftime(FMT_US)
        end = job.end.strftime(FMT_US)
        if i == 3:
            end = start  # start >= end: skipped by the join
        if i == 5:
            end = ""  # null end: dropped at parse
        submit = (job.start - dt.timedelta(minutes=rng.randint(1, 600))).strftime(FMT_US)
        walltime = int((job.end - job.start).total_seconds() * rng.choice([1.2, 2, 4]))
        mi = MONTHS.index((job.start.year, job.start.month))
        by_month[mi].append(
            f"{job.acct_id},user{rng.randint(1, 40)},TG-{rng.randint(100, 999)},"
            f"run{rng.randint(1, 99)},{rng.choice(queues)},{len(job.hosts)},"
            f"{sum(h.cores for h in job.hosts)},{walltime},{start},{end},"
            f"{submit},{rng.choice(['0', '0', '0', '1', 'TIMEOUT'])}"
        )
    return by_month


def fresco_corpus(
    seed: int, target_rows: int, n_nodes: int, raw_dir: str, acct_dir: str, waves: bool = False
) -> CorpusInfo:
    """Write the raw corpus.  With ``waves`` the node files are split
    by month into ``<metric>.csv`` (first month) and
    ``<metric>_NNNN.csv`` (later months) so each month can land as
    one wave; without it each node has one file per metric, and a few
    nodes' block/cpu rows are shuffled (out of time order, rollup
    groups split) — cases outside the streaming contract."""
    rng = random.Random(seed)
    nodes = _make_nodes(rng, n_nodes)
    jobs = _schedule(rng, nodes, target_rows)
    # per node: (month index, metric) -> rows
    files: dict[tuple[str, int, str], list[str]] = {}
    reset_node, idle_node, clip_node = rng.sample(range(len(nodes)), 3)
    timeline = sorted(
        ((ts, job, node) for job in jobs for node in job.hosts for ts in _samples(rng, job, node)),
        key=lambda x: (x[2].name, x[0]),
    )
    # the collector's first sample of a month still carries the node's
    # last job of the previous month: its lag state crosses the wave
    # boundary and the sample falls outside every job
    last: dict[tuple[str, int], tuple] = {}
    for ts, job, node in timeline:
        last[(node.name, MONTHS.index((ts.year, ts.month)))] = (job, node)
    for (name, mi), (job, node) in sorted(last.items()):
        if mi + 1 < len(MONTHS):
            stale = _month_bounds(mi + 1)[0] + dt.timedelta(seconds=rng.randint(1, 240))
            timeline.append((stale, job, node))
    timeline.sort(key=lambda x: (x[2].name, x[0]))
    seen: dict[str, int] = {}
    for ts, job, node in timeline:
        k = seen[node.name] = seen.get(node.name, 0) + 1
        ni = nodes.index(node)
        quirks = {
            "reset": ni == reset_node and k == 25,
            "idle_cpu": ni == idle_node and k == 30,
            "clip": ni == clip_node and k == 35,
        }
        mi = MONTHS.index((ts.year, ts.month))
        for metric, rows in _emit(rng, node, job, ts, quirks).items():
            files.setdefault((node.name, mi if waves else 0, metric), []).extend(rows)
    accounting = _accounting_rows(rng, jobs)
    # a separate stream, so both layouts of one seed hold the same rows
    shuffler = random.Random(seed + 1)
    shuffled = set() if waves else {n.name for n in shuffler.sample(nodes, 2)}
    raw_rows = n_files = n_bytes = 0
    for (node_name, mi, metric), rows in sorted(files.items()):
        if not rows:
            continue
        if node_name in shuffled and metric in ("block", "cpu"):
            shuffler.shuffle(rows)
        d = os.path.join(raw_dir, node_name)
        os.makedirs(d, exist_ok=True)
        suffix = "" if mi == 0 else f"_{mi:04d}"
        text = HEADERS[metric] + "\n" + "\n".join(rows) + "\n"
        with open(os.path.join(d, f"{metric}{suffix}.csv"), "w") as f:
            f.write(text)
        raw_rows += len(rows)
        n_files += 1
        n_bytes += len(text)
    os.makedirs(acct_dir, exist_ok=True)
    for mi, rows in accounting.items():
        y, m = MONTHS[mi]
        with open(os.path.join(acct_dir, f"{y:04d}-{m:02d}.csv"), "w") as f:
            f.write(ACCT_HEADER + "\n" + "\n".join(rows) + "\n")
    return CorpusInfo(raw_rows, n_files, n_bytes, len(nodes), len(jobs))


def wave_files(raw_dir: str, wave: int) -> list[str]:
    """Relative paths of one wave's files in a ``waves`` corpus."""
    suffix = "" if wave == 0 else f"_{wave:04d}"
    out = []
    for node in sorted(os.listdir(raw_dir)):
        for metric in HEADERS:
            rel = os.path.join(node, f"{metric}{suffix}.csv")
            if os.path.exists(os.path.join(raw_dir, rel)):
                out.append(rel)
    return out


# ---------------------------------------------------------------------------
# Catalog tables: the TPC-H-like star schema plus events, documents and
# embeddings, in the column types and value shapes of the tables the
# catalog queries were validated on (money and rates with two decimals,
# day-granular dates, microsecond event times, a 31-word vocabulary with
# about 5 % near-duplicate documents, unit-norm 64-d embeddings).
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["anvil", "widget", "ring", "bolt", "gear", "valve", "spring", "lever"]
EVENT_TYPES = ["click", "view", "signup", "error", "purchase"]
LANGS = ["en"] * 9 + ["de", "es", "fr", "zh"] * 3
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window line sort data column join small big customer query "
    "order group filter stream vector"
).split()


def catalog_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``<table>.parquet`` for every catalog table at scale
    factor ``sf`` (lineitem has about 6M x sf rows); returns row
    counts."""
    import numpy as np
    import pandas as pd

    g = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        return pd.Timestamp(start) + pd.to_timedelta(g.integers(0, n_days, n), unit="D")

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": g.integers(0, 25, n_cust).astype("int32"),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": g.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": g.integers(0, 25, n_supp).astype("int32"),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype="int64"),
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
                "p_type": g.choice(PART_TYPES, n_part),
                "p_size": g.integers(1, 51, n_part).astype("int32"),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype="int64"),
                "o_custkey": g.integers(0, n_cust, n_ord),
                "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500_000, n_ord),
                "o_orderdate": days("1995-01-01", 2404, n_ord),
                "o_orderpriority": g.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": g.integers(0, n_ord, n_line),
                "l_partkey": g.integers(0, n_part, n_line),
                "l_suppkey": g.integers(0, n_supp, n_line),
                "l_linenumber": g.integers(1, 8, n_line).astype("int32"),
                "l_quantity": g.integers(1, 51, n_line).astype("float64"),
                "l_extendedprice": money(900, 105_000, n_line),
                "l_discount": g.integers(0, 11, n_line) / 100,
                "l_tax": g.integers(0, 9, n_line) / 100,
                "l_returnflag": g.choice(["A", "N", "R"], n_line),
                "l_linestatus": g.choice(["F", "O"], n_line),
                "l_shipdate": days("1995-01-02", 2499, n_line),
            }
        ),
    }
    gaps = g.exponential(259.0, n_ev)
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(np.round(np.cumsum(gaps) * 1e6).astype("int64"), unit="us"),
            "user_id": g.integers(0, max(2, int(15_000 * sf)), n_ev),
            "event_type": g.choice(EVENT_TYPES, n_ev),
            "value": np.round(g.exponential(30.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and g.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(g.integers(0, i))] + " dup" * int(g.integers(1, 3)))
        else:
            texts.append(" ".join(g.choice(VOCAB, int(g.integers(10, 100)))))
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": g.choice(LANGS, n_doc),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vec = g.normal(size=(n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_doc, dtype="int64"),
            "embedding": list(vec),
            "label": g.integers(0, 10, n_doc).astype("int32"),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return {name: len(df) for name, df in tables.items()}

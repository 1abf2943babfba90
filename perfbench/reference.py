"""Output checks: a DuckDB reference of the FRESCO chain and the
catalog's oracle comparison.

`fresco_reference` re-derives the chain from the raw CSVs with the
FIXTURES.md §1-4 semantics, written independently of the Spark code:
step-1 rates from consecutive samples per (raw job id, node), step-2's
interval join on normalized job ids with job-aligned one-minute
buckets clamped to the job end, per-event means pivoted wide with the
job's host list, and step-3's string finalization.

Keys, timestamps and strings must match exactly.  Means are compared
with a relative tolerance of 1e-9: Spark and DuckDB add the doubles of
a group in different orders, and the streaming path computes a mean as
sum / count over merged partial sums.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

GB = float(2**30)
MB = float(2**20)
SECTOR = 512.0
JIFFIES = ["user", "nice", "system", "idle", "iowait", "irq", "softirq"]
EVENTS = ["cpuuser", "memused", "memused_minus_diskcache", "nfs", "block"]
OUTPUT_COLUMNS = [
    "time", "submit_time", "start_time", "end_time", "timelimit",
    "nhosts", "ncores", "account", "queue", "host", "jid", "jobname",
    "exitcode", "host_list", "username",
    "value_cpuuser", "value_gpu", "value_memused",
    "value_memused_minus_diskcache", "value_nfs", "value_block",
]
VALUE_COLUMNS = [c for c in OUTPUT_COLUMNS if c.startswith("value_")]
KEY_COLUMNS = [c for c in OUTPUT_COLUMNS if c not in VALUE_COLUMNS]


def _ts(col: str) -> str:
    return (
        f"coalesce(try_strptime({col}, '%m/%d/%Y %H:%M:%S'), "
        f"try_strptime({col}, '%Y-%m-%d %H:%M:%S'))"
    )


def _str(col: str) -> str:
    return f"CASE WHEN {col} IN ('NA', 'NULL') THEN NULL ELSE {col} END"


def _num(col: str) -> str:
    return f"coalesce(try_cast({col} AS DOUBLE), 0.0)"


def _raw(con, raw_dir: str, metric: str, nums: list[str], extra: str = "") -> None:
    cols = ", ".join(f"{_num(c)} AS {c}" for c in nums)
    con.execute(
        f"""CREATE TEMP VIEW {metric} AS
        SELECT * FROM (
          SELECT {_str('jobID')} AS jobID, {_str('node')} AS node,
                 {_ts(_str('timestamp'))} AS ts {extra}, {cols}
          FROM read_csv('{raw_dir}/*/{metric}*.csv', header = true,
                        all_varchar = true, union_by_name = true))
        WHERE jobID IS NOT NULL AND node IS NOT NULL AND ts IS NOT NULL"""
    )


def _lagged(source: str, value: str) -> str:
    return f"""SELECT *, {value} - lag({value}) OVER w AS d,
        (epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1000000.0 AS dt
        FROM ({source}) WINDOW w AS (PARTITION BY jobID, node ORDER BY ts)"""


def _long_sql() -> str:
    fresco_id = "replace(replace(jobID, 'jobID', 'JOB'), 'job', 'JOB')"
    head = f"SELECT {fresco_id} AS \"Job Id\", node AS Host, ts AS Timestamp"
    deltas = ", ".join(f"{c} - lag({c}) OVER w AS d_{c}" for c in JIFFIES)
    total = " + ".join(f"d_{c}" for c in JIFFIES)
    sums = ", ".join(f"sum({c}) AS {c}" for c in JIFFIES)
    return f"""
    {head}, 'block' AS Event,
        greatest(0.0, coalesce(d * {SECTOR / GB!r} / dt, 0.0)) AS Value, 'GB/s' AS Units
    FROM ({_lagged("SELECT jobID, node, ts, sum(rd_sectors + wr_sectors) AS v FROM block GROUP BY ALL", "v")})
    WHERE dt IS NOT NULL AND dt >= 0.1 AND d IS NOT NULL AND d >= 0
    UNION ALL
    {head}, 'cpuuser',
        least(100.0, greatest(0.0, coalesce(
            CASE WHEN total <> 0 THEN d_user / total ELSE 0.0 END * 100.0, 0.0))), 'CPU %'
    FROM (SELECT *, {total} AS total FROM (
        SELECT jobID, node, ts, {deltas} FROM (
            SELECT jobID, node, ts, {sums} FROM cpu WHERE device IS NOT NULL GROUP BY ALL)
        WINDOW w AS (PARTITION BY jobID, node ORDER BY ts)))
    WHERE total > 0
    UNION ALL
    {head}, 'nfs',
        greatest(0.0, coalesce(d * {1.0 / MB!r} / dt, 0.0)), 'MB/s'
    FROM ({_lagged("SELECT jobID, node, ts, read_bytes + write_bytes AS v FROM llite", "v")})
    WHERE dt IS NOT NULL AND dt >= 0.1 AND d IS NOT NULL AND d >= 0
    UNION ALL
    {head}, 'memused', greatest(0.0, coalesce(MemUsed / {GB!r}, 0.0)), 'GB' FROM mem
    UNION ALL
    {head}, 'memused_minus_diskcache',
        greatest(0.0, coalesce((MemUsed - FilePages) / {GB!r}, 0.0)), 'GB' FROM mem
    """


def _norm_id(col: str) -> str:
    return f"coalesce(nullif(regexp_extract({col}, '(\\d+)$', 1), ''), {col})"


def _wide_sql() -> str:
    pivot = ", ".join(
        f"max(CASE WHEN Event = '{e}' THEN v END) AS value_{e}" for e in EVENTS
    )
    keys = (
        "jid, host, time, submit_time, start_time, end_time, timelimit, nhosts, "
        "ncores, account, queue, jobname, exitcode, username"
    )
    return f"""
    WITH acct AS (
      SELECT {_norm_id('jobID')} AS jid, "user", account, jobname, queue,
             try_cast(nnodes AS BIGINT) AS nnodes, try_cast(ncpus AS BIGINT) AS ncpus,
             try_cast(walltime AS BIGINT) AS walltime, exit_status,
             {_ts('"start"')} AS s, {_ts('"end"')} AS e, {_ts('submit')} AS submit
      FROM read_csv('{{acct}}/*.csv', header = true, all_varchar = true)
      WHERE jobID IS NOT NULL),
    jobs AS (SELECT * FROM acct WHERE s IS NOT NULL AND e IS NOT NULL
                                  AND submit IS NOT NULL AND s < e),
    joined AS (
      SELECT j.*, m.Host, m.Event, m.Value, epoch_us(m.Timestamp) AS t_us,
             epoch_us(j.s) AS s_us, epoch_us(j.e) AS e_us
      FROM long m JOIN jobs j
        ON {_norm_id('m."Job Id"')} = j.jid AND m.Timestamp >= j.s AND m.Timestamp < j.e),
    bucketed AS (
      SELECT *, s_us + (t_us - s_us) - ((t_us - s_us) % 60000000) AS b0 FROM joined),
    grouped AS (
      SELECT jid, Host AS host,
             make_timestamp((b0 + least(b0 + 60000000, e_us)) >> 1) AS time,
             submit AS submit_time, s AS start_time, e AS end_time,
             walltime AS timelimit, nnodes AS nhosts, ncpus AS ncores, account, queue,
             jobname, exit_status AS exitcode, "user" AS username, Event, avg(Value) AS v
      FROM bucketed GROUP BY ALL),
    wide AS (SELECT {keys}, {pivot} FROM grouped GROUP BY ALL),
    hosts AS (
      SELECT jid, start_time, end_time,
             coalesce(string_agg(DISTINCT host, ',' ORDER BY host)
                      FILTER (WHERE host <> ''), '') AS host_list
      FROM wide GROUP BY ALL)
    SELECT time, submit_time, start_time, end_time, timelimit, nhosts, ncores,
           account, queue, host || '_S' AS host,
           regexp_replace(regexp_replace(w.jid, 'ID', ''), 'job', 'JOB') || '_S' AS jid,
           jobname, exitcode, h.host_list || '_S' AS host_list, username || '_S' AS username,
           value_cpuuser, CAST(NULL AS DOUBLE) AS value_gpu, value_memused,
           value_memused_minus_diskcache, value_nfs, value_block
    FROM wide w JOIN hosts h USING (jid, start_time, end_time)
    """


def fresco_reference(raw_dir: str, acct_dir: str) -> tuple[int, pd.DataFrame]:
    """(long-table row count, finalized wide table) for a raw corpus."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        _raw(con, raw_dir, "block", ["rd_sectors", "wr_sectors"], ", device")
        _raw(con, raw_dir, "cpu", JIFFIES, f", {_str('device')} AS device")
        _raw(con, raw_dir, "llite", ["read_bytes", "write_bytes"])
        _raw(con, raw_dir, "mem", ["MemTotal", "MemFree", "MemUsed", "FilePages"])
        con.execute(f"CREATE TEMP TABLE long AS {_long_sql()}")
        n_long = con.execute("SELECT count(*) FROM long").fetchone()[0]
        wide = con.execute(_wide_sql().replace("{acct}", acct_dir)).df()
    finally:
        con.close()
    return n_long, wide


def read_output(path: str) -> pd.DataFrame:
    """A Spark parquet output tree, as the 21 wide-table columns."""
    con = duckdb.connect()
    try:
        cols = ", ".join(OUTPUT_COLUMNS)
        return con.execute(
            f"SELECT {cols} FROM read_parquet('{path}/**/*.parquet', hive_partitioning = false)"
        ).df()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[OUTPUT_COLUMNS].copy()
    for c in ("time", "submit_time", "start_time", "end_time"):
        df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    for c in ("timelimit", "nhosts", "ncores"):
        df[c] = df[c].astype("Int64")
    for c in VALUE_COLUMNS:
        df[c] = df[c].astype("float64")
    return df.sort_values(KEY_COLUMNS, ignore_index=True, na_position="first")


def compare_wide(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Differences between two wide tables; empty when they agree."""
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    if len(want) == 0:
        return ["empty result"]
    g, w = _canon(got), _canon(want)
    problems = []
    for c in KEY_COLUMNS:
        gs, ws = g[c].astype(str), w[c].astype(str)
        bad = int((gs != ws).sum())
        if bad:
            problems.append(f"{c}: {bad} rows differ, first {gs[gs != ws].iloc[0]!r} != {ws[gs != ws].iloc[0]!r}")
    for c in VALUE_COLUMNS:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        both_nan = np.isnan(a) & np.isnan(b)
        close = np.isclose(a, b, rtol=1e-9, atol=1e-12)
        bad = int((~(both_nan | close)).sum())
        if bad:
            problems.append(f"{c}: {bad} values differ")
    return problems


# ---------------------------------------------------------------------------
# Catalog: each query against its registered DuckDB oracle, compared
# exactly after sorting columns by name and rows by every column — the
# comparison scripts/sweep.py makes, kept here because a benchmark run
# imports only the library.
# ---------------------------------------------------------------------------


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            non_null = s.dropna()
            if len(non_null) and not isinstance(non_null.iloc[0], str):
                try:
                    df[c] = pd.to_datetime(s)
                except (ValueError, TypeError):
                    pass
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int64", "Int32", "Int64"):
            df[c] = df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_results(tables_dir: str, tables: list[str], sqls: dict[str, str]) -> dict:
    """Each query's DuckDB oracle result, over one view per table."""
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        return {name: con.sql(sql).df() for name, sql in sqls.items()}
    finally:
        con.close()


def check(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when a Spark result equals its oracle's exactly."""
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if len(got) == 0:
        return "empty result"
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)
    except AssertionError as ex:
        return str(ex)[:300]
    return None

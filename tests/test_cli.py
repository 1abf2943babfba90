"""CLI entry points: the runnable twins of the reference's step
scripts, driven end-to-end through `cli.main` on real files —
step1 alone, the chained `pipeline` subcommand (step1 → step2 →
step3 as one plan) and the three-step file hand-off, which must agree;
the pipeline's Spark job budget; and both chains on a corpus that
yields no events."""

from __future__ import annotations

import pytest

from stampede_to_fresco_etl_spark.cli import main


@pytest.fixture()
def raw_dirs(tmp_path):
    n1 = tmp_path / "in" / "NODE1"
    n1.mkdir(parents=True)
    n1.joinpath("block.csv").write_text(
        "jobID,node,timestamp,device,rd_sectors,wr_sectors\n"
        "job1,NODE1,03/01/2013 10:00:00,sda,0,0\n"
        "job1,NODE1,03/01/2013 10:00:10,sda,1024,0\n"
    )
    n1.joinpath("mem.csv").write_text(
        "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages\n"
        "job1,NODE1,03/01/2013 10:00:10,8589934592,4294967296,"
        "4294967296,1073741824\n"
    )
    n2 = tmp_path / "in" / "NODE2"
    n2.mkdir(parents=True)
    n2.joinpath("cpu.csv").write_text(
        "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,"
        "softirq\n"
        "job1,NODE2,03/01/2013 10:00:00,cpu0,100,0,0,100,0,0,0\n"
        "job1,NODE2,03/01/2013 10:00:10,cpu0,180,0,0,120,0,0,0\n"
    )
    n2.joinpath("llite.csv").write_text(
        "jobID,node,timestamp,read_bytes,write_bytes\n"
        "job1,NODE2,03/01/2013 10:00:00,0,0\n"
        "job1,NODE2,03/01/2013 10:00:10,1048576,1048576\n"
    )
    acct = tmp_path / "acct.csv"
    acct.write_text(
        "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
        "start,end,submit,exit_status\n"
        "1,alice,acctA,jobA,normal,1,16,3600,"
        "03/01/2013 10:00:00,03/01/2013 10:02:00,03/01/2013 09:55:00,0\n"
    )
    return tmp_path


def test_cli_step1(spark, raw_dirs):
    out = str(raw_dirs / "long")
    rc = main(["step1", "--input", str(raw_dirs / "in"), "--output", out])
    assert rc == 0
    got = spark.read.parquet(out)
    events = {r["Event"] for r in got.select("Event").distinct().collect()}
    assert events == {
        "block", "memused", "memused_minus_diskcache", "cpuuser", "nfs"
    }


def test_cli_full_pipeline(spark, raw_dirs):
    out = str(raw_dirs / "final")
    rc = main(
        [
            "pipeline",
            "--input", str(raw_dirs / "in"),
            "--accounting", str(raw_dirs / "acct.csv"),
            "--output", out,
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out).collect()
    assert len(got) > 0
    r = got[0]
    # step-3 finalizers applied: jid suffixed, host suffixed (the
    # normalized jid is '1' — accounting key '1' matched metrics
    # 'job1' through normalize_job_id)
    assert r["jid"] == "1_S"
    assert r["host"].endswith("_S")
    # step-2 widened the block/mem events into columns
    cols = set(spark.read.parquet(out).columns)
    assert {"value_block", "value_memused", "host_list"} <= cols


def test_cli_stream_step1_drains_and_stops(spark, raw_dirs):
    out = str(raw_dirs / "stream_long")
    ckpt = str(raw_dirs / "ckpt")
    rc = main(
        [
            "stream-step1",
            "--input", str(raw_dirs / "in"),
            "--output", out,
            "--checkpoint", ckpt,
        ]
    )
    assert rc == 0
    from stampede_to_fresco_etl_spark.streaming.step1_stream import (
        read_fresco_output,
    )

    got = read_fresco_output(spark, out)
    events = {r["Event"] for r in got.select("Event").distinct().collect()}
    assert events == {
        "block", "memused", "memused_minus_diskcache", "cpuuser", "nfs"
    }


def _run_pipeline(dirs, out: str) -> None:
    assert main(["pipeline", "--input", str(dirs / "in"),
                 "--accounting", str(dirs / "acct.csv"),
                 "--output", out]) == 0


def _run_stepwise(dirs, out: str) -> None:
    long_dir, wide_dir = str(dirs / "long_h"), str(dirs / "wide_h")
    assert main(["step1", "--input", str(dirs / "in"),
                 "--output", long_dir]) == 0
    assert main(["step2", "--metrics", long_dir,
                 "--accounting", str(dirs / "acct.csv"),
                 "--output", wide_dir]) == 0
    assert main(["step3", "--input", wide_dir, "--output", out]) == 0


def _csv(path, header: str, rows) -> None:
    path.write_text(
        header + "\n" + "".join(",".join(map(str, r)) + "\n" for r in rows)
    )


@pytest.fixture()
def multi_job_dirs(tmp_path):
    """Three jobs on four nodes, every raw file type, 10 s samples over
    each job's run: every FRESCO event, several one-minute buckets per
    job, two block devices and two cpu cores per sample, a block
    counter reset, a node shared by two jobs in turn, and a job whose
    final bucket is clamped by its end time."""
    import datetime as dt

    t0 = dt.datetime(2013, 3, 1, 10, 0, 0)
    # (raw job id, accounting id, nodes, start offset s, run length s)
    jobs = [
        ("job11", "11", ["N1", "N2"], 0, 180),
        ("jobID12", "12", ["N2", "N3"], 200, 150),
        ("job13", "13", ["N4"], 30, 125),
    ]
    fmt = "%m/%d/%Y %H:%M:%S"
    raw = {n: {k: [] for k in ("block", "cpu", "llite", "mem")}
           for n in ("N1", "N2", "N3", "N4")}
    acct = []
    for j, (rid, aid, nodes, off, run) in enumerate(jobs):
        start = t0 + dt.timedelta(seconds=off)
        end = start + dt.timedelta(seconds=run)
        acct.append((aid, f"user{j}", "acct", f"name{j}", "normal",
                     len(nodes), 16 * len(nodes), 3600, start.strftime(fmt),
                     end.strftime(fmt), t0.strftime(fmt), j))
        for h, node in enumerate(nodes):
            for i in range(run // 10):
                ts = (start + dt.timedelta(seconds=10 * i)).strftime(fmt)
                k = (i * 7 + h * 3 + j) % 11
                sectors = 0 if (j, h, i) == (0, 0, 9) else 512 * i + 64 * k
                f = raw[node]
                for dev, share in (("sda", 1), ("sdb", 3)):
                    f["block"].append((rid, node, ts, dev, sectors * share,
                                       100 * i * share))
                for core in ("cpu0", "cpu1"):
                    f["cpu"].append((rid, node, ts, core, 90 * i + k,
                                     i, 10 * i, 50 * i + 3 * k, k, 0, i))
                f["llite"].append((rid, node, ts, 2**20 * i + 4096 * k,
                                   2**19 * i))
                f["mem"].append((rid, node, ts, 2**34, 2**32 + 2**26 * k,
                                 2**33 + 2**27 * i, 2**31 + 2**25 * k))
    headers = {
        "block": "jobID,node,timestamp,device,rd_sectors,wr_sectors",
        "cpu": "jobID,node,timestamp,device,user,nice,system,idle,"
               "iowait,irq,softirq",
        "llite": "jobID,node,timestamp,read_bytes,write_bytes",
        "mem": "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
    }
    for node, files in raw.items():
        d = tmp_path / "in" / node
        d.mkdir(parents=True)
        for kind, rows in files.items():
            _csv(d / f"{kind}.csv", headers[kind], rows)
    _csv(tmp_path / "acct.csv",
         "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
         "start,end,submit,exit_status", acct)
    return tmp_path


def test_cli_stepwise_handoff(spark, multi_job_dirs):
    """step1 | step2 | step3 as three separate CLI invocations — the
    file handoff between subcommands (what a scheduler would run as
    three jobs) produces the same wide table the chained `pipeline`
    subcommand builds as one plan: the same rows, doubles equal to a
    relative 1e-9."""
    import math

    from stampede_to_fresco_etl_spark.schemas import FRESCO_EVENTS

    fused_dir = str(multi_job_dirs / "fused")
    final_dir = str(multi_job_dirs / "final_h")
    _run_pipeline(multi_job_dirs, fused_dir)
    _run_stepwise(multi_job_dirs, final_dir)

    def rows(path):
        df = spark.read.parquet(path)
        return df.columns, sorted(
            (r.asDict() for r in df.collect()),
            key=lambda r: (r["jid"], r["host"], r["time"]),
        )

    cols, fused = rows(fused_dir)
    cols_h, stepwise = rows(final_dir)
    assert cols_h == cols
    assert len(fused) == len(stepwise) > 0
    assert {r["jid"] for r in fused} == {"11_S", "12_S", "13_S"}
    for e in FRESCO_EVENTS:
        assert any(r[f"value_{e}"] is not None for r in fused), e
    for a, b in zip(fused, stepwise):
        for c in cols:
            if isinstance(a[c], float):
                assert math.isclose(a[c], b[c], rel_tol=1e-9), (c, a, b)
            else:
                assert a[c] == b[c], (c, a, b)


#: Spark jobs one `cli pipeline` pass may run on the `raw_dirs` corpus.
#: With AQE each exchange is a job: step-1's five (the block and cpu
#: roll-ups and lag windows, llite's lag window), the accounting
#: broadcast, step-2's aggregate and host_list window, then the write.
#: The chain that wrote the long table to a temp dir and read it back
#: ran 12.
PIPELINE_JOB_BUDGET = 9


def test_cli_pipeline_job_budget(spark, raw_dirs):
    sc = spark.sparkContext
    group = "cli-pipeline-job-budget"
    sc.setJobGroup(group, "cli pipeline")
    try:
        _run_pipeline(raw_dirs, str(raw_dirs / "budget"))
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= PIPELINE_JOB_BUDGET, sorted(jobs)


@pytest.fixture()
def one_sample_dirs(tmp_path):
    """A corpus whose only raw file is a one-sample block.csv: step-1
    derives no event from it (the first sample has no delta)."""
    n1 = tmp_path / "in" / "NODE1"
    n1.mkdir(parents=True)
    n1.joinpath("block.csv").write_text(
        "jobID,node,timestamp,device,rd_sectors,wr_sectors\n"
        "job1,NODE1,03/01/2013 10:00:00,sda,0,0\n"
    )
    (tmp_path / "acct.csv").write_text(
        "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
        "start,end,submit,exit_status\n"
        "1,alice,acctA,jobA,normal,1,16,3600,"
        "03/01/2013 10:00:00,03/01/2013 10:02:00,03/01/2013 09:55:00,0\n"
    )
    return tmp_path


@pytest.mark.parametrize("chain", [_run_pipeline, _run_stepwise],
                         ids=["pipeline", "stepwise"])
def test_cli_chain_on_a_corpus_with_no_events(spark, one_sample_dirs, chain):
    """Both chains hand an empty table through every step and write an
    empty final table with the wide schema's columns."""
    from stampede_to_fresco_etl_spark.schemas import WIDE_OUTPUT

    out = str(one_sample_dirs / "final_empty")
    chain(one_sample_dirs, out)
    got = spark.read.parquet(out)
    assert got.columns == WIDE_OUTPUT.fieldNames()
    assert got.count() == 0


def test_cli_stream_step2_step3(spark, tmp_path):
    """stream-step2 then stream-step3 via the CLI: a FRESCO-long
    parquet landing dir + accounting CSV maintained into the wide
    table, then finalized — the full incremental chain as two shell
    commands."""
    import datetime as dt

    from pyspark.sql import Row

    from stampede_to_fresco_etl_spark.schemas import FRESCO_LONG

    def m(jid, host, t, event, value):
        return Row(**{"Job Id": jid, "Host": host, "Timestamp": t,
                      "Event": event, "Value": value, "Units": "x"})

    t0 = dt.datetime(2013, 3, 1, 10, 0, 30)
    rows = [
        m("JOB100", "h1", t0, "cpuuser", 10.0),
        m("JOB100", "h2", dt.datetime(2013, 3, 1, 10, 0, 40),
          "memused", 4.0),
    ]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, FRESCO_LONG).coalesce(1).write.parquet(
        landing
    )
    acct_csv = tmp_path / "acct.csv"
    acct_csv.write_text(
        "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
        "start,end,submit,exit_status\n"
        "job100,alice,acc,jn,normal,2,32,3600,"
        "03/01/2013 10:00:30,03/01/2013 10:02:00,"
        "03/01/2013 09:55:30,0\n"
    )
    wide = str(tmp_path / "wide")
    final = str(tmp_path / "final")
    assert main([
        "stream-step2",
        "--landing", landing,
        "--accounting", str(acct_csv),
        "--state", str(tmp_path / "state"),
        "--output", wide,
        "--checkpoint", str(tmp_path / "ck2"),
    ]) == 0
    w = spark.read.parquet(wide)
    assert w.count() > 0
    assert {"value_cpuuser", "value_memused", "host_list"} <= set(w.columns)

    assert main([
        "stream-step3",
        "--landing", wide,
        "--output", final,
        "--checkpoint", str(tmp_path / "ck3"),
        "--schema-from", wide,
    ]) == 0
    f = spark.read.parquet(final).collect()
    assert len(f) > 0
    assert all(r["jid"].endswith("_S") for r in f)

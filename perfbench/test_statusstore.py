"""Pins the status-store walker on a tiny two-stage query.

    python3 -m pytest perfbench/test_statusstore.py -q
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from statusstore import StatusStore, parse_metric, union_seconds  # noqa: E402


def test_parse_metric_units():
    assert parse_metric("1,940") == 1940
    assert parse_metric("6.6 s") == pytest.approx(6.6)
    assert parse_metric("8 ms") == pytest.approx(0.008)
    assert parse_metric("2.0 MiB") == 2 * 2 ** 20
    assert parse_metric(
        "total (min, med, max (stageId: taskId))\n1532.5 KiB "
        "(173.1 KiB, 211.6 KiB, 579.3 KiB (stage 9.0: task 18))"
    ) == pytest.approx(1532.5 * 1024)
    assert parse_metric(None) == 0.0


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0


def test_window_errors_finds_jobs_left_out():
    from run import window_errors
    from statusstore import Job

    def job(jid, t):
        return Job(jid, "", "SUCCEEDED", t, t + 5, [])

    jobs = [job(1, 10), job(2, 20), job(3, 110), job(4, 120)]
    windows = {(0, 50): jobs[:2], (100, 150): jobs[2:]}
    sql = {7: (15, [2]), 8: (105, [3, 4])}
    assert window_errors(jobs, windows, sql) == []
    # job 4 falls outside the second call's window
    windows[100, 150] = jobs[2:3]
    assert window_errors(jobs, windows, sql) == [
        "job 4 fell in 0 calls",
        "SQL jobs [4] fell outside their call",
        "calls ran unlike (jobs, SQL executions): [(1, 1), (2, 1)]",
    ]


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from content_extractor_spark.session import get_spark

    s = get_spark(app_name="statusstore-test", master="local[2]",
                  extra_conf={"spark.driver.host": "127.0.0.1"})
    yield s
    s.stop()


def test_walker_two_stage_query(spark):
    from pyspark.sql import functions as F

    store = StatusStore(spark)
    t0 = int(time.time() * 1000)
    rows = (
        spark.range(0, 1000, 1, 4)
        .groupBy((F.col("id") % 10).alias("k")).count().collect()
    )
    assert sorted(r["count"] for r in rows) == [100] * 10
    store.drain()

    jobs = store.jobs(since_ms=t0)
    assert jobs and all(j.status == "SUCCEEDED" for j in jobs)
    stages = store.stages(s for j in jobs for s in j.stage_ids)
    ran = [s for s in stages.values() if s.status == "COMPLETE"]
    maps = [s for s in ran if s.shuffle_write_bytes > 0]
    reduces = [s for s in ran if s.shuffle_read_bytes > 0]
    assert len(maps) == 1 and len(reduces) == 1
    assert maps[0].runs("Exchange") and maps[0].num_tasks == 4
    assert reduces[0].shuffle_read_bytes == maps[0].shuffle_write_bytes
    assert all(t["seconds"] >= 0 for t in store.task_stats(maps[0]))

    (ex,) = [e for e in store.executions(since_ms=t0) if e.job_ids]
    assert sorted(ex.job_ids) == sorted(j.job_id for j in jobs)
    assert store.sql_jobs(t0)[ex.execution_id] == (ex.submit_ms, ex.job_ids)
    # 4 map partitions each pre-aggregate the 10 keys
    assert ex.metric("Exchange", "shuffle records written") == 40
    assert ex.metric("Exchange", "shuffle bytes written") > 0

    # reading the stores runs no query
    store.drain()
    assert [j.job_id for j in store.jobs(since_ms=t0)] == [j.job_id for j in jobs]

"""Spark-job budgets for the feed write path.

A 1k-record feed batch is tiny, so its latency is mostly a fixed
cost per Spark job. These tests PIN the jobs one ``run_feed`` MERGE
and one table open run, counted through a job group and
``statusTracker()``. Budgets are CEILINGS set to the measured count:
fewer jobs is always acceptable, more is a regression to explain.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

from dish_data_pipeline_spark.pipeline import run_feed
from tests.test_pipeline_ga import FEED, sessions_server

#: jobs of one run_feed MERGE into an existing multi-file target: JSON
#: inference 1, DQ collect 5, staging write 1, MERGE key-range
#: aggregate 2, MERGE write 4, audit append 1 (the staging re-read and
#: the target open take their schemas from Parquet footers: 0 jobs)
RUN_FEED_MERGE_JOBS = 14


def spark_jobs(spark, fn):
    """Run ``fn()`` under a fresh job group; return (its result, the
    number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_run_feed_merge_job_budget(spark, tmp_path):
    wh = str(tmp_path / "wh")
    day = dt.date(2024, 3, 1)
    first = run_feed(
        spark, FEED, "http://fake", wh,
        http_get=sessions_server({f"v{i:03d}": i for i in range(200)}),
        load_date=day,
    )
    assert first.status == "SUCCESS", first.issues
    # a small target in four key-clustered files
    tgt = os.path.join(wh, "tgt_ga_sessions")
    spark.read.parquet(tgt).repartitionByRange(4, "visitId").write.parquet(
        tgt + ".4"
    )
    shutil.rmtree(tgt)
    os.rename(tgt + ".4", tgt)

    batch = {f"v{i:03d}": 1000 + i for i in (*range(190, 200), *range(200, 210))}
    res, jobs = spark_jobs(spark, lambda: run_feed(
        spark, FEED, "http://fake", wh, http_get=sessions_server(batch),
        load_date=day,
    ))
    assert res.status == "SUCCESS" and res.record_count == 20, res.issues
    assert jobs <= RUN_FEED_MERGE_JOBS, (
        f"run_feed MERGE ran {jobs} Spark jobs, budget {RUN_FEED_MERGE_JOBS}"
    )
    rows = {r.visitId: r.totals_hits for r in spark.read.parquet(tgt).collect()}
    assert len(rows) == 210 and rows["v195"] == 1195 and rows["v000"] == 0

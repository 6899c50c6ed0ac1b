"""Spark-job budgets for the feed write path, the manifest table's
bloom build and the catalog's table opens.

A 1k-record feed batch or a scale-0.01 catalog query is small, so its
latency is mostly a fixed cost per Spark job. These tests PIN the
jobs one ``run_feed`` MERGE, one bloom-enabled manifest ``create``,
each catalog table open and each catalog query build run, counted
through a job group and ``statusTracker()``. Budgets are CEILINGS set
to the measured count: fewer jobs is always acceptable, more is a
regression to explain.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

from dish_data_pipeline_spark.io import TPCH_TABLES
from dish_data_pipeline_spark.pipeline import run_feed
from dish_data_pipeline_spark.plans import QUERIES
from dish_data_pipeline_spark.plans.common import read
from tests.test_backends import _bloom_table
from tests.test_pipeline_ga import FEED, sessions_server

#: jobs of one run_feed MERGE into an existing multi-file target: JSON
#: inference 1, DQ collect 5, staging write 1, MERGE write 4, audit
#: append 1 (the staging re-read and the target open take their
#: schemas, and the MERGE its staged key range, from Parquet footers:
#: 0 jobs)
RUN_FEED_MERGE_JOBS = 12

#: jobs of one bloom-enabled manifest create (4 files, one bloom
#: column): data write 3 (the range bounds' sample, then one job per
#: adaptive stage), bloom aggregate 3 (one per adaptive stage); the
#: bloom build reads the files just written with their known schema,
#: so it runs no schema-inference job
BLOOM_CREATE_JOBS = 6

#: catalog tables whose open still infers its schema, with the jobs
#: that takes: a column outside the footer-derived mapping
#: (``embeddings.embedding`` is a list); every other table opens with
#: 0 jobs
INFERRED_OPENS = {"embeddings": 1}

#: the catalog queries one ``analytics_mix`` op rotates through
ROTATED_QUERIES = (
    "pricing_summary",
    "region_revenue",
    "topk_revenue",
    "semi_anti_join",
    "window_running",
    "cohort_retention",
    "keep_latest_events",
    "exact_dedup",
    "minhash_neardup",
)


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


def test_bloom_create_job_budget(spark, tmp_path):
    path = str(tmp_path / "bloomed")
    be, jobs = spark_jobs(spark, lambda: _bloom_table(spark, path))
    assert jobs <= BLOOM_CREATE_JOBS, (
        f"bloom-enabled create ran {jobs} Spark jobs, budget {BLOOM_CREATE_JOBS}"
    )
    man = be._manifest(path, 0)
    cfg = man["bloom"]
    files = [os.path.join(path, f) for f in man["files"]]
    # the same filters as a build over the files' inferred schema
    inferred = spark.read.parquet(*files).schema
    again = be._bloom_for_files(spark, path, man["files"], cfg, inferred)
    assert cfg["files"] == again


def test_catalog_open_job_budget(spark, sf_dir):
    for name in TPCH_TABLES:
        _, jobs = spark_jobs(spark, lambda: read(spark, sf_dir, name))
        budget = INFERRED_OPENS.get(name, 0)
        assert jobs <= budget, f"opening {name} ran {jobs} jobs, budget {budget}"
    for name in ROTATED_QUERIES:
        _, jobs = spark_jobs(spark, lambda: QUERIES[name].fn(spark, sf_dir))
        assert jobs == 0, f"building {name} ran {jobs} jobs"

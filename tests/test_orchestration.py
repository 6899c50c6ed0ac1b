"""Task-granular orchestrator adapter: the six DAG stages must
reproduce run_feed's outcomes, short-circuit on fatal DQ, and fire
the audit stage even when a mid-pipeline stage raises (ALL_DONE)."""

from __future__ import annotations

import datetime as dt

from dish_data_pipeline_spark.orchestration import (
    STAGES,
    StageContext,
    run_stages,
    stage_audit_log,
    stage_dq_check,
    stage_extract,
    stage_transform,
)
from tests.test_pipeline import FEED, visits_server


def _ctx(spark, tmp_path, http_get):
    return StageContext(
        spark=spark,
        feed=FEED,
        base_url="http://fake",
        warehouse_dir=str(tmp_path / "wh"),
        http_get=http_get,
        load_date=dt.date(2024, 2, 1),
    )


def test_stages_match_run_feed_success(spark, tmp_path):
    ctx = _ctx(spark, tmp_path, visits_server())
    res = run_stages(ctx)
    assert res.status == "SUCCESS" and res.record_count == 8
    tgt = spark.read.parquet(f"{ctx.warehouse_dir}/tgt_daily_visits")
    assert tgt.count() == 8
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert len(audit) == 1 and audit[0].status == "SUCCESS"

    # Re-run over the same warehouse: the upsert stage now takes its
    # MERGE branch, and keep-latest converges to the same target.
    res2 = run_stages(_ctx(spark, tmp_path, visits_server()))
    assert res2.status == "SUCCESS" and res2.record_count == 8
    tgt = spark.read.parquet(f"{ctx.warehouse_dir}/tgt_daily_visits")
    assert tgt.count() == 8
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert [r.status for r in audit] == ["SUCCESS", "SUCCESS"]


def test_dq_short_circuit_skips_compute_but_audits(spark, tmp_path):
    def empty(url):
        return 200, {"records": []}

    ctx = _ctx(spark, tmp_path, empty)
    res = run_stages(ctx)
    assert res.status == "FAILED"
    # compute stages after the short-circuit never ran: no staging,
    # no target, but the FAILED audit row exists.
    import os

    assert not os.path.exists(f"{ctx.warehouse_dir}/staging_daily_visits")
    assert not os.path.exists(f"{ctx.warehouse_dir}/tgt_daily_visits")
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert len(audit) == 1 and audit[0].status.startswith("FAILED")


def test_injected_failure_still_audits(spark, tmp_path):
    """ALL_DONE semantics: a stage that RAISES mid-pipeline must not
    suppress the audit record (reference trigger_rule=ALL_DONE,
    DAG/etl_google_analytics_dag.py:177-185)."""
    ctx = _ctx(spark, tmp_path, visits_server())

    def exploding_stage(_ctx):
        raise RuntimeError("disk full")

    # splice the failure in place of load_staging
    stages = list(STAGES)
    stages[3] = exploding_stage
    import dish_data_pipeline_spark.orchestration as orch

    original = orch.STAGES
    orch.STAGES = tuple(stages)
    try:
        res = run_stages(ctx)
    finally:
        orch.STAGES = original
    assert res.status == "FAILED"
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert len(audit) == 1
    assert audit[0].status.startswith("FAILED") and "disk full" in audit[0].status
    # upsert (after the failed stage) never ran
    import os

    assert not os.path.exists(f"{ctx.warehouse_dir}/tgt_daily_visits")


def test_stages_are_individually_drivable(spark, tmp_path):
    """A scheduler can call stages one at a time with its own retry/
    timeout wrappers — state rides exclusively on the context."""
    ctx = _ctx(spark, tmp_path, visits_server())
    assert stage_extract(ctx) is True
    assert len(ctx.xcom["source_files"]) == 2
    assert stage_transform(ctx) is True
    assert stage_dq_check(ctx) is True  # dup is recoverable → dedup
    assert ctx.xcom["df"].count() == 8


def test_policy_retries_flaky_stage(spark, tmp_path, monkeypatch):
    """A stage that raises twice succeeds on the third attempt under
    retries=2 (reference DAG default_args), with the retry delay
    routed through the injectable sleep."""
    import dish_data_pipeline_spark.orchestration as orch

    calls = {"n": 0}
    real_extract = orch.stage_extract

    def flaky_extract(ctx):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient fetch error")
        return real_extract(ctx)

    flaky_extract.__name__ = "stage_extract"
    monkeypatch.setattr(orch, "STAGES", (flaky_extract,) + orch.STAGES[1:])
    slept: list[float] = []
    ctx = _ctx(spark, tmp_path, visits_server())
    res = orch.run_stages(
        ctx,
        policy=orch.TaskPolicy(retries=2, retry_delay_sec=7.0,
                               execution_timeout_sec=None),
        sleep=slept.append,
    )
    assert res.status == "SUCCESS" and calls["n"] == 3
    assert slept == [7.0, 7.0]


def test_policy_exhausted_retries_audit_once(spark, tmp_path, monkeypatch):
    """After retries are exhausted the run FAILs and exactly ONE
    FAILED audit row is written (terminal state, not per attempt)."""
    import dish_data_pipeline_spark.orchestration as orch

    calls = {"n": 0}

    def always_fails(ctx):
        calls["n"] += 1
        raise RuntimeError("permanent error")

    always_fails.__name__ = "stage_extract"
    monkeypatch.setattr(orch, "STAGES", (always_fails,) + orch.STAGES[1:])
    ctx = _ctx(spark, tmp_path, visits_server())
    res = orch.run_stages(
        ctx,
        policy=orch.TaskPolicy(retries=2, retry_delay_sec=0.0,
                               execution_timeout_sec=None),
        sleep=lambda s: None,
    )
    assert res.status == "FAILED" and calls["n"] == 3
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert len(audit) == 1 and audit[0].status.startswith("FAILED")


def test_policy_does_not_retry_short_circuit(spark, tmp_path):
    """A False return is a DQ verdict, not a failure — it must not be
    re-attempted (Airflow does not retry ShortCircuit False)."""
    import dish_data_pipeline_spark.orchestration as orch

    def empty(url):
        return 200, {"records": []}

    calls = {"dq": 0}
    real_dq = orch.stage_dq_check

    def counting_dq(ctx):
        calls["dq"] += 1
        return real_dq(ctx)

    counting_dq.__name__ = "stage_dq_check"
    stages = tuple(counting_dq if s is real_dq else s for s in orch.STAGES)
    ctx = _ctx(spark, tmp_path, empty)
    import unittest.mock as mock

    with mock.patch.object(orch, "STAGES", stages):
        res = orch.run_stages(
            ctx,
            policy=orch.TaskPolicy(retries=2, retry_delay_sec=0.0,
                                   execution_timeout_sec=None),
            sleep=lambda s: None,
        )
    assert res.status == "FAILED"  # empty feed fails DQ
    assert calls["dq"] == 1  # verdict evaluated exactly once


def test_policy_execution_timeout(spark, tmp_path, monkeypatch):
    """A stage exceeding execution_timeout raises TimeoutError into
    the failure path (reference DAG's 3-min execution_timeout); the
    audit still fires (ALL_DONE)."""
    import time as _time

    import dish_data_pipeline_spark.orchestration as orch

    def hangs(ctx):
        _time.sleep(5.0)
        return True

    hangs.__name__ = "stage_extract"
    monkeypatch.setattr(orch, "STAGES", (hangs,) + orch.STAGES[1:])
    ctx = _ctx(spark, tmp_path, visits_server())
    t0 = _time.time()
    res = orch.run_stages(
        ctx,
        policy=orch.TaskPolicy(retries=0, retry_delay_sec=0.0,
                               execution_timeout_sec=0.3),
        sleep=lambda s: None,
    )
    assert _time.time() - t0 < 4.0  # did not wait out the hang
    assert res.status == "FAILED"
    assert any("execution_timeout" in i for i in res.issues)
    audit = spark.read.parquet(f"{ctx.warehouse_dir}/load_audit").collect()
    assert len(audit) == 1 and "execution_timeout" in audit[0].status

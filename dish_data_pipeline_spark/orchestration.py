"""Task-granular orchestrator adapter: the six stages of the
reference Airflow DAG (DAG/etl_google_analytics_dag.py:136-187) as
composable callables, so any external scheduler can mirror the
reference topology

    extract >> transform >> dq_check >> load_staging
            >> upsert_final >> audit_log

with its two special semantics:

- ``dq_check`` is a SHORT-CIRCUIT stage (ShortCircuitOperator,
  DAG:152-159): returning False skips the remaining compute stages.
- ``audit_log`` is an ALL_DONE stage (trigger_rule=ALL_DONE,
  DAG:177-185): it runs whether upstream succeeded, failed, or
  short-circuited.

One deliberate divergence, carried over from ``pipeline.run_feed``:
after a short-circuit or failure the audit row records FAILED/
SKIPPED, not the reference's unconditional "SUCCESS" (its ALL_DONE
audit task logs SUCCESS even when dq_check just failed —
DAG:119-126; SURVEY §6 defect ledger).

State flows through ``StageContext.xcom`` (a plain dict standing in
for Airflow XCom). Data stays lazy: "records" are the only
driver-side payload, exactly as in the reference's XCom usage.

``pipeline.run_feed`` remains the collapsed single-process driver;
``run_stages`` here produces the same outcomes via the task-granular
path (asserted by tests/test_orchestration.py) because the stages
call ``pipeline``'s own steps: the pre-dedup rule, the DQ routing,
the target landing (through ``ParquetSwapBackend``, run_feed's
default backend) and the audit write live there, once.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from dish_data_pipeline_spark import io as dio
from dish_data_pipeline_spark.io_backends import ParquetSwapBackend
from dish_data_pipeline_spark.pipeline import (
    FeedConfig,
    PipelineResult,
    build_feed_frame,
    dq_gate,
    extract_feed,
    land_staged,
    write_audit,
)


@dataclass
class StageContext:
    """Everything a stage needs; ``xcom`` carries inter-stage state."""

    spark: SparkSession
    feed: FeedConfig
    base_url: str
    warehouse_dir: str
    http_get: Callable | None = None
    load_date: dt.date | None = None
    xcom: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.warehouse_dir, *parts)


def stage_extract(ctx: StageContext) -> bool:
    """Task 1: paginated fetch + raw-zone landing (DAG:66-78)."""
    ctx.xcom["records"], ctx.xcom["source_files"] = extract_feed(
        ctx.feed, ctx.base_url, ctx.warehouse_dir, ctx.http_get
    )
    return True


def stage_transform(ctx: StageContext) -> bool:
    """Task 2: flatten/sanitize/enrich + pre-dedup (DAG:80-87)."""
    ctx.xcom["df"] = build_feed_frame(
        ctx.spark, ctx.feed, ctx.xcom["records"], ctx.load_date
    )
    return True


def stage_dq_check(ctx: StageContext) -> bool:
    """Task 3 (SHORT-CIRCUIT): DQ gate. Fatal issues → audit FAILED
    and return False (downstream compute stages are skipped);
    recoverable duplicates → dedup and continue (DAG:89-101)."""
    df, ctx.xcom["issues"], ctx.xcom["count"] = dq_gate(ctx.xcom["df"], ctx.feed)
    if df is None:
        ctx.xcom["status"] = f"FAILED: {', '.join(ctx.xcom['issues'])}"
        _write_audit(ctx, 0, ctx.xcom["status"])
        return False
    ctx.xcom["df"] = df
    return True


def stage_load_staging(ctx: StageContext) -> bool:
    """Task 4: truncate-load staging, reload for a clean lineage cut
    (DAG:103-109)."""
    staging = ctx.path(f"staging_{ctx.feed.name}")
    dio.write_staging(ctx.xcom["df"], staging)
    ctx.xcom["staged"] = dio.read_parquet(ctx.spark, staging)
    return True


def stage_upsert_final(ctx: StageContext) -> bool:
    """Task 5: MERGE keep-latest into the target (DAG:111-116)."""
    land_staged(
        ctx.spark, ParquetSwapBackend(), ctx.feed, ctx.warehouse_dir,
        ctx.xcom["staged"],
    )
    ctx.xcom["status"] = "SUCCESS"
    return True


def stage_audit_log(ctx: StageContext) -> bool:
    """Task 6 (ALL_DONE): audit row regardless of upstream outcome
    (DAG:118-126, 177-185). FAILED audits are written by the stage
    that failed; this logs the terminal status otherwise."""
    status = ctx.xcom.get("status", "SKIPPED")
    if not status.startswith("FAILED"):
        _write_audit(ctx, ctx.xcom.get("count", 0), status)
    return True


def _write_audit(ctx: StageContext, count: int, status: str) -> None:
    source_files = ctx.xcom.get("source_files", [])
    write_audit(ctx.spark, ctx.feed, ctx.warehouse_dir, count, status, source_files)


#: The reference DAG topology, in order.
STAGES: tuple[Callable[[StageContext], bool], ...] = (
    stage_extract,
    stage_transform,
    stage_dq_check,
    stage_load_staging,
    stage_upsert_final,
    stage_audit_log,
)


@dataclass(frozen=True)
class TaskPolicy:
    """Per-task retry/timeout policy mirroring the reference DAG's
    default_args (DAG/etl_google_analytics_dag.py:46-52: retries=2,
    retry_delay=5 min, execution_timeout=3 min).

    Only raised exceptions are retried — a stage returning False is
    a short-circuit VERDICT, not a failure, and re-running it would
    re-evaluate a decision already made (Airflow likewise does not
    retry a ShortCircuitOperator's False). The FAILED audit row is
    written once, after retries are exhausted, matching Airflow's
    terminal-state semantics rather than one row per attempt.

    ``execution_timeout_sec=None`` disables the timeout. A timed-out
    stage has its Spark jobs cancelled via the stage's job group; the
    worker thread then unblocks as its action raises."""

    retries: int = 2
    retry_delay_sec: float = 300.0
    execution_timeout_sec: float | None = 180.0


#: Policy-off default keeps run_stages() behavior identical for
#: existing callers; pass AIRFLOW_PARITY_POLICY for the reference's
#: declared task guards.
AIRFLOW_PARITY_POLICY = TaskPolicy()


def _call_with_timeout(
    stage: Callable[[StageContext], bool],
    ctx: StageContext,
    timeout_sec: float | None,
    attempt: int = 1,
) -> bool:
    if timeout_sec is None:
        return stage(ctx)
    import threading

    sc = ctx.spark.sparkContext
    # The attempt number is part of the job-group name: a timed-out
    # worker may still be running when the retry starts (we never
    # join a possibly-hung thread), and a shared name would let a
    # later cancelJobGroup kill the RETRY's jobs along with the
    # stale attempt's.
    group = f"orchestration-{ctx.feed.name}-{stage.__name__}-a{attempt}"
    result: list[object] = []

    def _target() -> None:
        try:
            # Job groups are thread-local: set it inside the worker
            # so cancelJobGroup kills exactly this attempt's Spark
            # jobs. Inside the try: a dead SparkContext must land in
            # result as the REAL error, not leave result empty.
            sc.setJobGroup(group, f"{stage.__name__} (timeout {timeout_sec}s)")
            result.append(stage(ctx))
        except BaseException as exc:  # noqa: BLE001 — re-raised in caller
            result.append(exc)
        finally:
            try:
                sc.setJobGroup("", "")
            except Exception:
                pass  # context already gone; error is in result

    # A daemon thread (not ThreadPoolExecutor, whose workers are
    # non-daemon and joined at interpreter exit) so a stage whose
    # Spark action never raises after cancelJobGroup cannot hang
    # process shutdown.
    t = threading.Thread(
        target=_target, name=group, daemon=True
    )
    t.start()
    t.join(timeout=timeout_sec)
    if t.is_alive():
        sc.cancelJobGroup(group)
        raise TimeoutError(
            f"{stage.__name__} exceeded execution_timeout "
            f"{timeout_sec}s (job group {group} cancelled)"
        )
    if not result:  # worker died without recording anything
        raise RuntimeError(
            f"{stage.__name__} worker thread exited without a result"
        )
    out = result[0]
    if isinstance(out, BaseException):
        raise out
    return bool(out)


def _run_with_policy(
    stage: Callable[[StageContext], bool],
    ctx: StageContext,
    policy: TaskPolicy | None,
    sleep: Callable[[float], None],
) -> bool:
    if policy is None:
        return stage(ctx)
    attempts = policy.retries + 1
    for attempt in range(1, attempts + 1):
        try:
            return _call_with_timeout(
                stage, ctx, policy.execution_timeout_sec, attempt
            )
        except Exception:
            if attempt == attempts:
                raise
            sleep(policy.retry_delay_sec)
    raise AssertionError("unreachable")


def run_stages(
    ctx: StageContext,
    policy: TaskPolicy | None = None,
    sleep: Callable[[float], None] | None = None,
) -> PipelineResult:
    """Drive the six stages with ShortCircuit + ALL_DONE semantics —
    a scheduler-free twin of the reference DAG's dependency wiring
    (and of what Airflow's executor would do with these callables).

    ``policy`` adds the reference DAG's per-task guards (retries +
    delay + execution timeout); ``sleep`` is injectable for tests.
    """
    do_sleep = sleep if sleep is not None else time.sleep
    short_circuited = False
    failed_exc: Exception | None = None
    for stage in STAGES[:-1]:
        if short_circuited or failed_exc is not None:
            continue  # downstream compute stages are skipped
        try:
            if _run_with_policy(stage, ctx, policy, do_sleep) is False:
                short_circuited = True
        except Exception as exc:  # noqa: BLE001 — audit must still fire
            failed_exc = exc
            ctx.xcom["status"] = f"FAILED: {exc}"
            _write_audit(ctx, 0, ctx.xcom["status"])
    # ALL_DONE: the audit stage runs no matter what happened above.
    stage_audit_log(ctx)
    status = ctx.xcom.get("status", "SKIPPED")
    if status == "SUCCESS":
        return PipelineResult(
            ctx.feed.name, "SUCCESS", ctx.xcom.get("count", 0),
            ctx.xcom.get("issues", []),
        )
    return PipelineResult(
        ctx.feed.name, "FAILED", 0,
        ctx.xcom.get("issues", []) or [status],
    )

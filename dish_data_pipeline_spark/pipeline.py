"""End-to-end batch pipeline mirroring reference ``main()`` semantics
(reference pipeline/data_pipeline.py:245-272).

Per feed: extract → flatten+enrich → DQ gate → (recoverable-dup?
dedup and continue : skip + audit FAILED) → staging truncate-load →
keep-latest upsert into target → audit SUCCESS. Audit fires on the
failure path too (try/except, like the reference — but without its
unbound ``source_files`` bug, defect ledger item 2).

``run_feed`` and the stage-granular ``orchestration`` call the same
step functions below, so the two drivers cannot drift apart.

The six Airflow tasks of the reference DAG collapse into this one
driver program; XCom disappears because dataflow stays inside the
lazy plan (SURVEY.md §3.2).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from dish_data_pipeline_spark import io as dio
from dish_data_pipeline_spark.operators.audit import audit_row
from dish_data_pipeline_spark.operators.dedup import dedup_keyed
from dish_data_pipeline_spark.operators.enrich import add_load_metadata
from dish_data_pipeline_spark.operators.flatten import normalize_records
from dish_data_pipeline_spark.operators.quality import (
    DEFAULT_POLICIES,
    is_recoverable,
    run_data_quality_checks,
)
from dish_data_pipeline_spark.io_backends import TableBackend, get_backend
from dish_data_pipeline_spark.sources.rest import (
    fetch_paginated_data,
    records_to_dataframe,
)


@dataclass
class FeedConfig:
    """One feed = one endpoint + DQ policy + merge keys."""

    name: str
    endpoint: str
    keys: list[str]
    required: list[str]
    schema: object | None = None  # explicit StructType when known


@dataclass
class PipelineResult:
    table: str
    status: str
    record_count: int
    issues: list[str] = field(default_factory=list)


def extract_feed(
    feed: FeedConfig, base_url: str, warehouse_dir: str, http_get=None
) -> tuple[list[dict], list[str]]:
    """Paginated fetch with raw-zone landing under
    ``<warehouse>/raw/``; returns (records, source files)."""
    kwargs = {"http_get": http_get} if http_get else {}
    return fetch_paginated_data(
        base_url,
        feed.endpoint,
        raw_zone_dir=os.path.join(warehouse_dir, "raw"),
        name=feed.name,
        **kwargs,
    )


def build_feed_frame(
    spark: SparkSession,
    feed: FeedConfig,
    records: list[dict],
    load_date: dt.date | None = None,
) -> DataFrame:
    """Records → flattened, sanitized, load-stamped, pre-deduped frame."""
    df = records_to_dataframe(spark, records, feed.schema)
    df = add_load_metadata(normalize_records(df), load_date=load_date)
    # Reference pre-dedup (D1, pipeline/data_pipeline.py:84-85):
    # KEYED only when ``visit_date`` is present (the daily_visits
    # shape); FULL-ROW for every other feed — so key-duplicates
    # that are not exact-row duplicates survive to the DQ gate
    # and exercise the recoverable-duplicate routing in
    # ``dq_gate`` (D2, reference :253-258). Generalizing this to
    # "keyed whenever the key columns exist" (the pre-round-10
    # behavior) made the recovery branch dead code for all feeds.
    if "visit_date" in df.columns:
        pre_keys = [k for k in feed.keys if k in df.columns]
        return dedup_keyed(df, pre_keys or None)
    return dedup_keyed(df, None)


def dq_gate(
    df: DataFrame, feed: FeedConfig
) -> tuple[DataFrame | None, list[str], int]:
    """The DQ gate → (frame to stage, issues, its row count). The
    frame is None when an issue is fatal; recoverable duplicates are
    deduped by the feed keys and the run continues (reference
    pipeline/data_pipeline.py:253-258). The count comes from the DQ
    metrics row: ``row_count``, less ``dup_rows`` (rows beyond the
    first per key) when the frame is deduped."""
    # Feed-specific config wins over the built-in defaults — a feed
    # named like a default (daily_visits/ga_sessions) must be gated
    # on ITS OWN required/keys, matching the dedup path.
    policies = {
        **DEFAULT_POLICIES,
        feed.name: {"required": feed.required, "keys": feed.keys},
    }
    metrics: dict = {}
    passed, issues = run_data_quality_checks(
        df, feed.name, policies, metrics=metrics
    )
    if passed:
        return df, issues, metrics["row_count"]
    if any(not is_recoverable(i) for i in issues):
        return None, issues, 0
    count = metrics["row_count"] - metrics["dup_rows"]
    return dedup_keyed(df, feed.keys), issues, count


def land_staged(
    spark: SparkSession,
    backend: TableBackend,
    feed: FeedConfig,
    warehouse_dir: str,
    staged: DataFrame,
) -> None:
    """Keep-latest MERGE of the staged rows into
    ``<warehouse>/tgt_<name>/``, or create it on the first load."""
    target = os.path.join(warehouse_dir, f"tgt_{feed.name}")
    if backend.exists(spark, target):
        backend.merge_keep_latest(spark, target, staged, feed.keys, "load_timestamp")
    else:
        backend.create(staged, target)


def write_audit(
    spark: SparkSession,
    feed: FeedConfig,
    warehouse_dir: str,
    count: int,
    status: str,
    source_files: list[str],
) -> None:
    """Append one row to ``<warehouse>/load_audit/``."""
    dio.write_append(
        audit_row(spark, feed.name, count, status, source_files),
        os.path.join(warehouse_dir, "load_audit"),
    )


def run_feed(
    spark: SparkSession,
    feed: FeedConfig,
    base_url: str,
    warehouse_dir: str,
    http_get=None,
    load_date: dt.date | None = None,
    backend: "TableBackend | str" = "parquet",
) -> PipelineResult:
    """Run one feed end to end against a file warehouse layout:
    ``<warehouse>/raw/``, ``staging_<name>/``, ``tgt_<name>/``,
    ``load_audit/``.

    ``backend`` picks the target-table format (io_backends): the
    default join-based Parquet MERGE, or any TableBackend (e.g.
    'manifest', the ``ManifestParquetBackend`` tier whose MERGE is
    atomic under concurrent writers)."""
    if isinstance(backend, str):
        backend = get_backend(backend)
    staging_path = os.path.join(warehouse_dir, f"staging_{feed.name}")
    source_files: list[str] = []
    try:
        records, source_files = extract_feed(feed, base_url, warehouse_dir, http_get)
        # Compute the feed relation ONCE: the DQ gate's aggregate
        # and the staging write both consume the same
        # extract→normalize→dedup plan, which would otherwise
        # re-execute per action (re-serializing the fetched records
        # plus the dedup shuffle). The cache is
        # feed-sized (the reference ingests ~3k rows/run) and
        # released in the finally below.
        cached = build_feed_frame(spark, feed, records, load_date).persist()
        try:
            df, issues, count = dq_gate(cached, feed)
            if df is None:
                status = f"FAILED: {', '.join(issues)}"
                write_audit(spark, feed, warehouse_dir, 0, status, source_files)
                return PipelineResult(feed.name, "FAILED", 0, issues)
            dio.write_staging(df, staging_path)
        finally:
            cached.unpersist()
        staged = dio.read_parquet(spark, staging_path)
        land_staged(spark, backend, feed, warehouse_dir, staged)
        write_audit(spark, feed, warehouse_dir, count, "SUCCESS", source_files)
        return PipelineResult(feed.name, "SUCCESS", count, issues)
    except Exception as exc:  # audit-on-failure, reference :266-271
        write_audit(spark, feed, warehouse_dir, 0, f"FAILED: {exc}", source_files)
        return PipelineResult(feed.name, "FAILED", 0, [str(exc)])

"""Per-layer spans and metrics of a traced run.

``install`` wraps the engine's public layer functions with span
recorders (undone by ``Tracer.uninstall``); ``metrics`` folds the
spans and the workload's own notes of the traced ops into the
per-layer figures: time in calls of each name and counts as means
per op over the traced ops, ratios from their totals.
"""

from __future__ import annotations

import os

from dish_data_pipeline_spark import io as dio
from dish_data_pipeline_spark import merge_sql, pipeline
from dish_data_pipeline_spark.io_backends import (
    ManifestParquetBackend,
    ParquetSwapBackend,
)

from perfbench.trace import Tracer
from perfbench.workloads import parquet_files


def _path(args, kwargs) -> str:
    """The table path of a ``merge_keep_latest`` or ``delete_where``
    call: ``(self, spark, path, ...)``."""
    return kwargs.get("path", args[2])


def _files_before(args, kwargs) -> dict[str, int]:
    return parquet_files(_path(args, kwargs))


def _files_written(span, args, kwargs, result, before) -> None:
    new = {
        p: n for p, n in parquet_files(_path(args, kwargs)).items()
        if p not in before
    }
    span.counts["files"] = len(new)
    span.counts["bytes"] = sum(new.values())


def _pages(span, args, kwargs, result, state) -> None:
    _records, files = result
    span.counts["pages"] = len(files)
    span.counts["raw_bytes"] = sum(os.path.getsize(f) for f in files)


def _staged(span, args, kwargs, result, state) -> None:
    path = kwargs.get("path", args[1])
    if os.path.basename(path.rstrip("/")).startswith("staging_"):
        span.counts["staging_bytes"] = sum(parquet_files(path).values())


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the workloads reach."""
    w = tracer.wrap
    w(pipeline, "fetch_paginated_data", "rest.fetch", after=_pages)
    w(pipeline, "records_to_dataframe", "rest.to_df")
    w(pipeline, "run_data_quality_checks", "quality.check")
    w(dio, "write_staging", "io.write_staging", after=_staged)
    w(dio, "atomic_overwrite", "io.atomic_overwrite")
    w(dio, "write_append", "io.write_append")
    for cls in (ParquetSwapBackend, ManifestParquetBackend):
        w(cls, "merge_keep_latest", "backends.merge",
          before=_files_before, after=_files_written)
    w(ManifestParquetBackend, "delete_where", "backends.delete",
      before=_files_before, after=_files_written)
    w(merge_sql, "parse_merge", "merge_sql.parse")
    w(merge_sql, "merge_into_backend", "merge_sql.merge_into_backend")


#: per-layer metric → (span or note key, unit)
SPAN_METRICS: dict[str, tuple[str, str]] = {
    "rest.fetch_s": ("rest.fetch", "s"),
    "rest.pages": ("rest.fetch.pages", "count"),
    "rest.raw_bytes": ("rest.fetch.raw_bytes", "bytes"),
    "rest.to_df_s": ("rest.to_df", "s"),
    "quality.check_s": ("quality.check", "s"),
    "io.write_staging_s": ("io.write_staging", "s"),
    "io.staging_bytes": ("io.write_staging.staging_bytes", "bytes"),
    "io.atomic_overwrite_s": ("io.atomic_overwrite", "s"),
    "io.write_append_s": ("io.write_append", "s"),
    "backends.merge_s": ("backends.merge", "s"),
    "merge_sql.parse_s": ("merge_sql.parse", "s"),
    "merge_sql.merge_into_backend_s": ("merge_sql.merge_into_backend", "s"),
    "merge_sql.select_s": ("merge_sql.select", "s"),
    "merge_sql.delete_s": ("merge_sql.delete", "s"),
    "plans.build_s": ("plans.build", "s"),
    "plans.exec_s": ("plans.exec", "s"),
    "spark.jobs_per_op": ("spark.jobs", "count"),
    "spark.tasks_per_op": ("spark.tasks", "count"),
}

BACKEND_SPANS = ("backends.merge", "backends.delete")


def metrics(
    tracer: Tracer,
    notes: dict[int, dict[str, float]],
    ops: list[int],
) -> dict[str, tuple[float, str]]:
    """Per-layer figures over the traced ``ops``: times and counts as
    means per op (so a layer's figure × ops is its total, also on
    workloads that mix op kinds); ratios from the totals —
    ``backends.write_amp`` is target bytes the backends wrote ÷ bytes
    staged (by the pipeline's staging write, or by the benchmark for
    a MERGE source), ``backends.lookup_files_ratio`` files a point
    lookup reads ÷ data files in the table's snapshot."""
    per_op = tracer.per_op()
    total: dict[str, float] = {}
    for i in ops:
        for key, v in {**per_op.get(i, {}), **notes.get(i, {})}.items():
            total[key] = total.get(key, 0.0) + v

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    n = len(ops)
    out = {name: (ratio(total.get(key, 0.0), n), unit)
           for name, (key, unit) in SPAN_METRICS.items()}
    written = sum(total.get(f"{s}.bytes", 0.0) for s in BACKEND_SPANS)
    staged = (total.get("io.write_staging.staging_bytes", 0.0)
              + total.get("staged_bytes", 0.0))
    out["backends.files_written"] = (
        ratio(sum(total.get(f"{s}.files", 0.0) for s in BACKEND_SPANS), n),
        "count")
    out["backends.write_amp"] = (ratio(written, staged), "ratio")
    out["backends.lookup_files_ratio"] = (
        ratio(total.get("lookup_files", 0.0), total.get("snapshot_files", 0.0)),
        "ratio")
    return out


def self_time_table(tracer: Tracer, ops: list[int]) -> dict[str, float]:
    """Mean self time per op of every span name, for the report."""
    per_op = tracer.per_op()
    total: dict[str, float] = {}
    for i in ops:
        for key, v in per_op.get(i, {}).items():
            if key.endswith(".self"):
                name = key[: -len(".self")]
                total[name] = total.get(name, 0.0) + v
    return {name: v / len(ops) for name, v in sorted(total.items())}

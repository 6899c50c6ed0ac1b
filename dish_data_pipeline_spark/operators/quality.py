"""Data-quality rule engine (SURVEY.md §2.12, the reference's
signature capability).

Re-expresses ``run_data_quality_checks`` (reference
pipeline/data_pipeline.py:91-124) with the same verdict contract —
``(passed: bool, issues: list[str])`` with reference-compatible issue
strings, because the caller routes recoverable-vs-fatal by
substring-matching ``"duplicate"`` (reference
pipeline/data_pipeline.py:253).

Spark-first: Q1/Q3/Q4/Q5 collapse into ONE aggregation job — a
single ``agg`` computing row count, per-key null flags, and
duplicate-key count in one pass (the reference makes one pandas pass
per rule). Q2 is a pure schema check, no job at all. At 100 TB this
is one map-reduce over the data with partial aggregation; nothing is
collected but a one-row summary.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

# Per-table required columns + dedup keys, mirroring the reference's
# policy dicts (pipeline/data_pipeline.py:97-100,109-116).
DEFAULT_POLICIES: dict[str, dict] = {
    "daily_visits": {
        "required": ["visit_date", "total_visits"],
        "keys": ["visit_date", "source_file"],
    },
    "ga_sessions": {
        "required": ["visitId", "channelGrouping"],
        "keys": ["visitId", "source_file"],
    },
}

MIN_ROWS = 5  # reference low-volume threshold, pipeline/data_pipeline.py:119


def _null_flag(df: DataFrame, col: str):
    """Key-null predicate: isNull, plus isnan for float/double keys —
    pandas ``isnull`` conflates NaN/None (SURVEY.md §7.4.5)."""
    c = F.col(col)
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        return c.isNull() | F.isnan(c)
    return c.isNull()


def dq_metrics(
    df: DataFrame, required: Sequence[str], keys: Sequence[str]
) -> DataFrame:
    """One-row metrics frame: row_count, null_<col> per required
    column present, dup_rows for ``keys``. Single aggregation job."""
    present = [c for c in required if c in df.columns]
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in present:
        aggs.append(
            F.coalesce(F.sum(_null_flag(df, c).cast("long")), F.lit(0)).alias(
                f"null_{c}"
            )
        )
    key_cols = [k for k in keys if k in df.columns]
    if key_cols:
        # Rows beyond the first per key group == total - distinct keys.
        # Keys are wrapped in a struct: COUNT(DISTINCT k1, k2) drops
        # rows with any null key, but pandas ``duplicated`` counts
        # null keys as values — struct distinct matches pandas.
        aggs.append(
            (
                F.count(F.lit(1))
                - F.count_distinct(F.struct(*[F.col(k) for k in key_cols]))
            ).alias("dup_rows")
        )
    else:
        aggs.append(F.lit(0).cast("long").alias("dup_rows"))
    return df.agg(*aggs)


def run_data_quality_checks(
    df: DataFrame,
    table_name: str,
    policies: dict[str, dict] | None = None,
    min_rows: int = MIN_ROWS,
    metrics: dict | None = None,
) -> tuple[bool, list[str]]:
    """Q1-Q5 with reference-compatible issue strings.

    Q1 empty → fatal; Q2 missing columns → fatal; Q3 key nulls →
    fatal; Q4 duplicate keys → recoverable (issue contains
    "duplicate"); Q5 low volume → fatal. (Failure routing itself
    lives in the caller, as in reference main(),
    pipeline/data_pipeline.py:251-262.)

    ``metrics``, when given, receives the :func:`dq_metrics` row
    (``row_count``, ``null_<col>``, ``dup_rows``), so a caller can
    count the rows it stages without another job.
    """
    policy = (policies or DEFAULT_POLICIES).get(table_name, {})
    required = policy.get("required", [])
    keys = policy.get("keys", [])
    issues: list[str] = []

    # Q2 — schema-only, no Spark job.
    missing = [c for c in required if c not in df.columns]
    if missing:
        issues.append(f"Missing required columns: {missing}")

    row = dq_metrics(df, required, keys).collect()[0]
    if metrics is not None:
        metrics.update(row.asDict())

    if row["row_count"] == 0:  # Q1
        issues.append("DataFrame is empty")
        return False, issues
    for c in required:  # Q3
        if c in df.columns and row[f"null_{c}"] > 0:
            issues.append(f"Null values found in column: {c}")
    if row["dup_rows"] > 0:  # Q4 (recoverable)
        issues.append(f"Found {row['dup_rows']} duplicate records")
    if row["row_count"] < min_rows:  # Q5
        issues.append(f"Low record count: {row['row_count']}")

    return len(issues) == 0, issues


def is_recoverable(issue: str) -> bool:
    """Reference routing predicate (pipeline/data_pipeline.py:253):
    only duplicate findings are recoverable (dedup and continue)."""
    return "duplicate" in issue.lower()

"""MERGE-semantics upsert as a DataFrame composition (SURVEY.md §2.4).

The reference's only true query surface is two BigQuery MERGE
statements (reference pipeline/data_pipeline.py:155-216):

- J1 (daily_visits): equi-join on (date(visit_date), source_file);
  matched → update value cols, not matched → insert.
- J2 (ga_sessions): staging first deduped keep-latest by
  (visitId, source_file) ordered by load_timestamp desc, then the
  same upsert on bare keys.

Spark-first rewrite: MERGE == "rows of target with no staging match"
∪ "staging rows" — a left-anti join plus unionByName. This preserves
MERGE's update/insert branches exactly when the update-set is "all
value columns" (the reference's case). Catalyst/AQE picks broadcast
for the (tiny) staging side automatically, so at 100 TB the target
table is never shuffled — each target partition is anti-joined
against a broadcast hash of staging keys.

The reference wraps BOTH sides of the J1 key in ``date()``
(pipeline/data_pipeline.py:163), defeating pruning; we fix the cause
by normalizing key types at staging time (X4) so production joins are
bare column equality — ``key_exprs`` still lets tests replicate the
expression-key form.

Atomicity: composition is format-agnostic; pair with
io.atomic_overwrite for plain Parquet, or commit through
``io_backends.ManifestParquetBackend`` where MERGE must be atomic
under concurrent writers (SURVEY.md §7.4.1).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dish_data_pipeline_spark.operators.dedup import keep_latest


def upsert(
    target: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    key_exprs: Callable[[DataFrame, DataFrame], Column] | None = None,
) -> DataFrame:
    """J1: keep target rows with no staging key match, union staging.

    ``keys`` are bare equality columns; ``key_exprs`` optionally
    builds the join condition from (target, staging) for
    expression-form keys (e.g. ``date()`` both sides). Output schema
    is the target's column order.
    """
    cond = key_exprs(target, staging) if key_exprs else list(keys)
    retained = target.join(staging, cond, "left_anti")
    return retained.unionByName(staging.select(*target.columns))


def upsert_keep_latest(
    target: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """J2: dedup staging keep-latest (W1) then upsert on bare keys
    (reference pipeline/data_pipeline.py:177-206)."""
    deduped = keep_latest(staging, keys, ts_col, tiebreakers)
    return upsert(target, deduped, keys)


def upsert_evolve(
    target: DataFrame,
    staging: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Schema-evolving MERGE: like :func:`upsert`, but the staging
    feed may carry columns the target lacks (they are added; retained
    target rows get NULL) and may omit target columns (staging rows
    get NULL) — the additive schema-drift case a long-lived feed hits
    when the upstream API gains fields (the reference's BigQuery
    ``autodetect=True`` absorbed this silently; here it is explicit).

    Shared columns must agree on type exactly — a drifted TYPE is
    data corruption, not evolution, and raises with the offending
    columns named rather than letting union coercion guess.

    Output column order: target columns, then new staging columns in
    staging order."""
    t_types = {f.name: f.dataType for f in target.schema.fields}
    s_types = {f.name: f.dataType for f in staging.schema.fields}
    missing_keys = [k for k in keys if k not in t_types or k not in s_types]
    if missing_keys:
        raise ValueError(f"keys absent from target or staging: {missing_keys}")
    conflicts = [
        f"{name}: target {t_types[name].simpleString()} "
        f"vs staging {s_types[name].simpleString()}"
        for name in sorted(set(t_types) & set(s_types))
        if t_types[name] != s_types[name]
    ]
    if conflicts:
        raise ValueError(
            "type drift on shared columns (evolution is additive only): "
            + "; ".join(conflicts)
        )
    retained = target.join(staging, list(keys), "left_anti")
    return retained.unionByName(staging, allowMissingColumns=True)


def split_matched(
    staging: DataFrame, target: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """J3: partition staging into (update-set, insert-set) — the
    MATCHED / NOT MATCHED branches as explicit semi/anti joins."""
    update_set = staging.join(target, list(keys), "left_semi")
    insert_set = staging.join(target, list(keys), "left_anti")
    return update_set, insert_set

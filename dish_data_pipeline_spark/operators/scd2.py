"""SCD2 (slowly-changing-dimension type 2) history maintenance — the
CDC pattern the reference's truncate-and-MERGE cannot express:
instead of overwriting attribute changes, close the old version
(``valid_to = effective_date``) and open a new one.

Pure DataFrame composition (anti/semi joins + unions), same shapes
as operators/upsert.py: the history table is never shuffled beyond
one hash join per branch, snapshot side broadcasts when small. Pair
with io.atomic_overwrite (or ManifestParquetBackend.replace) to persist.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _any_attr_differs(left: str, right: str, attrs: Sequence[str]) -> Column:
    cond = F.lit(False)
    for a in attrs:
        cond = cond | ~F.col(f"{left}.{a}").eqNullSafe(F.col(f"{right}.{a}"))
    return cond


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    keys: Sequence[str],
    attrs: Sequence[str],
    effective_date,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Apply a full snapshot onto an SCD2 history table.

    ``history`` columns: keys + attrs + valid_from + valid_to
    (NULL = current). ``snapshot`` columns: keys + attrs. Emits:

    - expired rows unchanged;
    - current rows whose key is absent from the snapshot, or whose
      attrs are identical: unchanged;
    - current rows with changed attrs: closed at ``effective_date``;
    - changed + brand-new keys: new open versions from
      ``effective_date``.
    """
    keys = list(keys)
    eff = F.lit(effective_date).cast("date")
    current = history.filter(F.col(valid_to).isNull())
    expired = history.filter(F.col(valid_to).isNotNull())

    c = current.alias("c")
    s = snapshot.alias("s")
    key_eq = [F.col(f"c.{k}") == F.col(f"s.{k}") for k in keys]
    changed_keys = (
        c.join(s, key_eq, "inner")
        .filter(_any_attr_differs("c", "s", attrs))
        .select(*[F.col(f"c.{k}") for k in keys])
    )

    closed = (
        current.join(changed_keys, keys, "left_semi")
        .withColumn(valid_to, eff)
    )
    keep = current.join(changed_keys, keys, "left_anti")

    new_keys = snapshot.join(current, keys, "left_anti")
    changed_new = snapshot.join(changed_keys, keys, "left_semi")
    opened = (
        new_keys.unionByName(changed_new)
        .withColumn(valid_from, eff)
        .withColumn(valid_to, F.lit(None).cast("date"))
        .select(*history.columns)
    )

    return (
        expired.unionByName(keep).unionByName(closed).unionByName(opened)
    )

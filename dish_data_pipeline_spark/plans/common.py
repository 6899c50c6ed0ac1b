"""Shared helpers for the oracle query catalog.

Determinism contract (the driver hash-compares Spark vs DuckDB
values): floating-point aggregates are computed as EXACT decimal
sums then cast back to double — ``SUM(CAST(x AS DECIMAL(38,6)))`` is
order-independent, so Spark's partial/final aggregation and DuckDB's
single-node sum produce bit-identical doubles. Ratios divide that
double by a BIGINT count (one IEEE division, same both sides).
Ordering/top-k always carries a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dish_data_pipeline_spark.io import read_table, scan_partitions

DEC = "decimal(38,6)"

#: Quantization denominator for tie-free floor-quantized windowed
#: sums (``ops.timeseries.rolling_zscore`` and its SQL twin — the
#: same device as ``ops.drift.CHI2_SCALE``): floor has no rounding
#: ties, unlike a decimal cast, which rounds HALF_UP in Spark but
#: half-even in DuckDB. BIGINT sums of the quantized terms are exact
#: in any order. Safe domain: |value| up to ~1e5 with a 24-row
#: window keeps value²·SCALE·window below BIGINT max.
ZSCORE_SCALE = 1_000_000


@dataclass
class QueryDef:
    """One catalog entry: Spark program + DuckDB oracle twin."""

    fn: Callable[[SparkSession, str], DataFrame]
    sql: str | None  # None → rows-only check (non-SQL-expressible)
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime confs the catalog's semantics depend on, even
    when the caller (e.g. the driver harness) built a vanilla
    session: non-ANSI casts (invalid → null, reference X4 semantics;
    Spark 4 defaults ANSI on, where ``to_date('junk')`` THROWS) and
    UTC timestamps (DuckDB-oracle comparability)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Right-size shuffles for the local CPU budget: a vanilla session
    # defaults to 200 shuffle partitions, and the iterative operators
    # (connected components, k-means) materialize via localCheckpoint
    # where AQE's partition coalescing doesn't apply — 200-task
    # rounds over tiny intermediates are pure scheduling overhead.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )


def read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    return read_table(spark, sf_dir, name)


def widen(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Give CPU-bound map stages the full cluster width.

    File splits are sized by bytes (``files.maxPartitionBytes``), but
    hashing/fingerprinting cost is per-row — a few-MB text table
    arrives as 1-2 splits and would run 60-way bit folds on 2 of 32
    cores (measured 3-4× slower at sf0.1). Repartition ONLY when the
    scan under-provisions; at real scale inputs already carry >=
    cluster-width partitions and this is a no-op (no shuffle of a
    100 TB corpus). A bare file scan's partition count comes from its
    file sizes (``io.scan_partitions``), so the build plans nothing."""
    target = spark.sparkContext.defaultParallelism
    if scan_partitions(df) < target:
        return df.repartition(target)
    return df


def dsum(col: Column) -> Column:
    """Order-independent double sum, bit-identical across engines at
    EVERY scale. Each term is quantized to millionths via
    ``floor(x*1e6 + 0.5)`` BEFORE entering decimal domain: a straight
    double→DECIMAL(38,6) cast must round, and the two engines
    disagree on boundary values (Spark HALF_UP vs DuckDB half-even —
    the sf1.0 `pricing_summary` 2-in-6M divergence, SCALING_NOTES.md
    r11). The ``+ 0.5`` then ``floor`` is round-half-up computed as
    two IEEE ops (multiply, add) on which both engines produce the
    SAME double — there is no engine-dependent tie-breaking, because
    the "tie" is resolved by the identical addition before floor.
    Versus plain floor (rounds 12) this halves the per-term error to
    ≤0.5e-6 and removes its systematic downward bias: a value whose
    double sits just below the decimal (0.29 → 0.2899…) now
    contributes 0.290000 (round-13 advisor item). The quantized
    terms are EXACT integer decimals summed in any order; the single
    closing decimal→double cast and ÷1e6 are each correctly rounded
    IEEE operations on identical inputs."""
    q = F.floor(
        col.cast("double") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("decimal(38,0)")
    return F.sum(q).cast("double") / F.lit(1000000.0)


def davg(col: Column) -> Column:
    """Deterministic mean: exact quantized sum ÷ count; the division
    and the preceding cast are single IEEE ops, same both engines."""
    return dsum(col) / F.count(col)


# DuckDB-side spellings of the same contracts.
def sql_dsum(expr: str) -> str:
    return (
        "(CAST(SUM(CAST(floor(CAST((" + expr + ") AS DOUBLE) * 1000000 "
        "+ 0.5) AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0)"
    )


def sql_davg(expr: str) -> str:
    return f"{sql_dsum(expr)} / COUNT({expr})"


def scratch_dir(*parts: str) -> str:
    """Scratch path for roundtrip queries, under the repo-local
    ``.tmp/`` (gitignored, the same place DuckDB spills) instead of
    the system tempdir, so accumulated run artifacts live in ONE
    centrally-cleanable place. The leaf is pid-suffixed — bench and
    pytest run the same queries concurrently — and callers pre-clean
    it themselves (same-pid reruns) and remove it once their result
    is materialized where the plan allows."""
    import os  # noqa: PLC0415

    base = os.path.join(os.getcwd(), ".tmp", "scratch")
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, "_".join([*parts, str(os.getpid())]))

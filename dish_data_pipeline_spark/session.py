"""SparkSession factory with the engine's standard configuration.

The reference is tz-aware-UTC end to end (reference
pipeline/data_pipeline.py:79,136), so the session timezone is pinned
to UTC — this is also required for DuckDB-oracle comparisons (DuckDB
timestamps are UTC-naive).

Scale posture: AQE on (runtime coalescing, skew-join splitting,
dynamic join strategy), Arrow on (fast pandas/UDF interchange),
shuffle partitions sized by caller (defaults to cores locally; on a
real cluster leave high and let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Reference semantics: invalid casts coerce to null (X4,
    # reference pipeline/data_pipeline.py:132). Spark 4 defaults
    # ANSI on, which would raise instead.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Nested-struct column pruning so flattening projections push into scans.
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Parquet scan partitions sized for executor memory at scale.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Local-mode JVM heap: without this Spark defaults to 1g, which
    # is NOT the executor-memory posture the 64m broadcast threshold
    # and cached-relation patterns assume (found by the sf1.0 probe:
    # a ~10 MB broadcast build failed atop a 1g heap full of cached
    # shingle rows). Only honored when this session launches the
    # JVM; a pre-existing session keeps its own heap.
    "spark.driver.memory": "12g",
    # Route JVM unified logging (GC warnings etc.) to stderr: its
    # default stdout sink can interleave with bench.py's JSON stdout
    # protocol mid-line (observed: a GCLocker allocation warning
    # corrupting the metrics line under an sf1.0 run). Only honored
    # when this session launches the JVM.
    "spark.driver.extraJavaOptions": "-Xlog:all=warning:stderr",
    # Quieter, deterministic local runs.
    "spark.ui.enabled": "false",
    "spark.sql.parquet.int96RebaseModeInWrite": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInWrite": "CORRECTED",
}


def _parse_env_conf(env_conf: str | None) -> dict[str, str]:
    """Parse ``DISH_SPARK_CONF`` ("k=v;k2=v2") into a conf dict.
    A malformed entry raises here, naming the env var, rather than
    surfacing as a cryptic Spark launch failure. A value cannot
    contain ``;``: it always separates entries (there is no escape)."""
    out: dict[str, str] = {}
    if not env_conf:
        return out
    for pair in env_conf.split(";"):
        pair = pair.strip()
        if not pair:
            continue
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():
            raise ValueError(
                f"DISH_SPARK_CONF entry {pair!r} is not key=value"
            )
        out[k.strip()] = v.strip()
    return out


def get_spark(
    app_name: str = "dish-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[N]`` with N from
    ``$SPARK_GRAFT_CPUS`` (or all cores). ``shuffle_partitions``
    defaults to the local core count — on a real cluster pass a
    larger value (or rely on AQE coalescing from a high initial
    count). ``$DISH_SPARK_CONF`` entries override the same keys in
    ``extra_conf``, and their values cannot contain ``;``.
    """
    builder = SparkSession.builder.appName(app_name)
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)

    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # Deployment-specific conf overrides without code edits (the
    # "parameterise scale-dependent settings" posture): semicolon-
    # separated key=value pairs, e.g.
    #   DISH_SPARK_CONF="spark.io.compression.codec=zstd"
    conf.update(_parse_env_conf(os.environ.get("DISH_SPARK_CONF")))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

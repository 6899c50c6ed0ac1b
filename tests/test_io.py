"""io paths: TIMESTAMP(NANOS) shim, atomic read-modify-swap
overwrite, raw-zone partitioned write, bucketed warehouse."""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from dish_data_pipeline_spark import io as dio


def test_nanos_timestamp_shim(spark, tmp_path):
    ts = pd.to_datetime(
        ["2024-01-01T00:00:00.123456", "2024-06-01T12:34:56.654321"]
    )
    table = pa.table({"id": [1, 2], "ts": pa.array(ts, pa.timestamp("ns"))})
    path = str(tmp_path / "ns.parquet")
    pq.write_table(table, path)

    df = dio.read_parquet(spark, path)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    rows = {r.id: r.ts for r in df.collect()}
    assert rows[1].microsecond == 123456  # µs precision preserved
    assert rows[2].year == 2024 and rows[2].second == 56


def test_plain_parquet_not_affected(spark, tmp_path):
    p = str(tmp_path / "plain")
    spark.range(5).write.parquet(p)
    assert dio.read_parquet(spark, p).count() == 5


def test_atomic_overwrite_read_modify_write(spark, tmp_path):
    p = str(tmp_path / "tbl")
    spark.range(10).write.parquet(p)
    df = spark.read.parquet(p).withColumn("id", F.col("id") + 100)
    # plain overwrite of the source path would clobber mid-read;
    # atomic_overwrite must produce the full transformed result
    dio.atomic_overwrite(df, p)
    out = sorted(r.id for r in spark.read.parquet(p).collect())
    assert out == list(range(100, 110))
    # no temp/old residue
    parent = os.path.dirname(p)
    assert [d for d in os.listdir(parent) if d.startswith(".tmp-")] == []


@pytest.mark.parametrize(
    "confs",
    [
        {},
        {"maxPartitionBytes": "64k"},
        {"maxPartitionBytes": "64k", "maxPartitionNum": "3"},
    ],
    ids=["whole", "split", "split_capped"],
)
@pytest.mark.parametrize("n_files", [1, 3, 40])
def test_scan_partitions_matches_the_rdd(spark, tmp_path, n_files, confs):
    """A bare scan's partition count from its file sizes equals the
    planned RDD's, for one, few and many files: whole files, files cut
    into splits, and splits repacked under ``maxPartitionNum``; any
    other frame counts its RDD's."""
    path = str(tmp_path / "t")
    spark.range(0, 60_000, 1, n_files).selectExpr(
        "id", "repeat('x', CAST(id % 37 AS int)) AS s"
    ).write.parquet(path)
    for key, value in confs.items():
        spark.conf.set(f"spark.sql.files.{key}", value)
    try:
        df = dio.read_parquet(spark, path)
        assert len(dio.bare_parquet_files(df)) == n_files
        assert dio.scan_partitions(df) == df.rdd.getNumPartitions()
    finally:
        for key in confs:
            spark.conf.unset(f"spark.sql.files.{key}")
    assert dio.scan_partitions(df.repartition(7)) == 7


def test_raw_zone_partitioned_write(spark, tmp_path):
    from dish_data_pipeline_spark.operators.enrich import with_date_partitions

    df = spark.createDataFrame(
        [(1, "2024-03-05T10:00:00"), (2, "2024-03-06T10:00:00")],
        "id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    raw = str(tmp_path / "raw")
    dio.write_raw_zone(with_date_partitions(df, "ts"), raw)
    assert os.path.isdir(os.path.join(raw, "year=2024", "month=03", "day=05"))
    back = spark.read.json(raw)
    pruned = back.filter((F.col("day") == "06"))
    assert pruned.count() == 1


@pytest.mark.parametrize("n", [0, 3])
def test_write_staging_truncates(spark, tmp_path, n):
    p = str(tmp_path / "stg")
    spark.range(10).write.parquet(p)
    dio.write_staging(spark.range(n), p)
    assert spark.read.parquet(p).count() == n


def test_write_read_roundtrip_all_table_formats(spark, tmp_path):
    """Every TABLE_FORMATS member round-trips values — ORC exercises
    the second Spark-native columnar path end to end (pushdown/
    pruning come with the format), CSV via header + inference."""
    import pytest as _pytest
    from pyspark.sql import Row

    from dish_data_pipeline_spark.io import TABLE_FORMATS, read_any, write_table

    from dish_data_pipeline_spark.io import avro_available

    df = spark.createDataFrame(
        [Row(k=1, name="a", v=1.5), Row(k=2, name="b", v=-2.0)]
    )
    assert avro_available(spark) in (True, False)  # gate is callable
    for fmt in TABLE_FORMATS:
        # avro always round-trips: JVM module when present, else the
        # pure-Python container-file tier
        path = str(tmp_path / f"t_{fmt}")
        write_table(df, path, fmt)
        got = sorted(
            map(tuple, read_any(spark, path, fmt).select("k", "name", "v").collect())
        )
        assert got == [(1, "a", 1.5), (2, "b", -2.0)], fmt

    # ORC keeps filter pushdown in the plan
    path = str(tmp_path / "t_orc")
    plan = (
        read_any(spark, path, "orc")
        .filter("k = 2")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "k" in plan

    with _pytest.raises(ValueError, match="fmt"):
        write_table(df, str(tmp_path / "x"), "protobuf")


def test_avro_two_tier(spark, tmp_path):
    """Avro is a first-class TABLE_FORMATS member with two tiers:
    the vectorized spark-avro JVM module when it's on the classpath,
    else the spec-faithful pure-Python container-file tier
    (sources.avro_python). Either way the io entry points round-trip
    — there is no unavailable state anymore. Cross-implementation
    conformance of the Python tier is covered by
    tests/test_avro_python.py against the canonical Apache Avro Java
    library."""
    import os

    from pyspark.sql import Row

    from dish_data_pipeline_spark.io import (
        avro_available,
        read_any,
        write_table,
    )

    df = spark.createDataFrame([Row(k=1, name="a"), Row(k=2, name=None)])
    path = str(tmp_path / "t_avro")
    write_table(df, path, "avro")
    got = sorted(
        map(tuple, read_any(spark, path, "avro").collect()),
        key=lambda t: t[0],
    )
    assert got == [(1, "a"), (2, None)]
    if not avro_available(spark):
        # the python tier wrote real container files + schema sidecar
        files = os.listdir(path)
        assert any(f.endswith(".avro") for f in files)
        assert "_avro_schema.avsc" in files


def test_spark_written_parquet_opens_with_footer_schema(spark, tmp_path):
    """A Spark-written file or unpartitioned directory opens with the
    schema in its footer: the same schema inference would give, and
    no Spark job. A partitioned directory is still inferred, with its
    partition columns."""
    from tests.test_job_budgets import spark_jobs

    d = str(tmp_path / "typed")
    spark.sql(
        """SELECT id, CAST(id AS int) AS i,
                  TIMESTAMP'2024-01-01 10:00:00' AS ts,
                  TIMESTAMP_NTZ'2024-01-01 10:00:00' AS ts_ntz,
                  DATE'2024-01-01' AS d, CAST(id AS decimal(12, 3)) AS dec,
                  array(id, id) AS arr, named_struct('a', id, 'b', 'x') AS st,
                  map('k', id) AS m, CAST('ab' AS char(5)) AS c,
                  CAST('ab' AS varchar(7)) AS vc
           FROM range(10)"""
    ).write.parquet(d)
    first = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0]
    one = os.path.join(d, first)
    for p in (d, one):
        df, jobs = spark_jobs(spark, lambda: dio.read_parquet(spark, p))
        assert df.schema == spark.read.parquet(p).schema
        assert jobs == 0
    assert dio.read_parquet(spark, d).count() == 10

    parted = str(tmp_path / "parted")
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        parted
    )
    df = dio.read_parquet(spark, parted)
    assert df.columns == ["id", "p"]
    assert df.schema == spark.read.parquet(parted).schema


def _outcome(fn):
    """The schema ``fn()`` opens with, or the error condition it
    raises (a case-colliding file fails the same way on both paths)."""
    try:
        return fn().schema
    except Exception as e:  # noqa: BLE001 - compared, not handled
        return getattr(e, "getCondition", lambda: type(e).__name__)()


def test_pyarrow_written_parquet_opens_with_footer_schema(spark, tmp_path):
    """A pyarrow-written file or unpartitioned directory (no Spark
    schema in its footer) opens with the schema derived from its
    Parquet column descriptors: the one inference gives, and no Spark
    job. Columns outside the mapping are inferred as before, and both
    hold again with ``inferTimestampNTZ``, ``binaryAsString``,
    ``caseSensitive`` and ``mergeSchema`` flipped in the session."""
    import datetime as dt
    import decimal

    from tests.test_job_budgets import spark_jobs

    ts = [dt.datetime(2024, 1, 1, 10, 0, 0, 123000), None]
    dec = decimal.Decimal("1.23")
    mapped = {
        "boolean": pa.array([True, None]),
        "int8": pa.array([1, None], pa.int8()),
        "int16": pa.array([1, None], pa.int16()),
        "int32": pa.array([1, None], pa.int32()),
        "int64": pa.array([1, None], pa.int64()),
        "float": pa.array([1.5, None], pa.float32()),
        "double": pa.array([1.5, None], pa.float64()),
        "string": pa.array(["a", None]),
        "large_string": pa.array(["a", None], pa.large_string()),
        "dictionary": pa.array(["a", None]).dictionary_encode(),
        "binary": pa.array([b"a", None]),
        "date32": pa.array([dt.date(2024, 1, 1), None], pa.date32()),
        "ts_s": pa.array(ts, pa.timestamp("s")),
        "ts_ms": pa.array(ts, pa.timestamp("ms")),
        "ts_us": pa.array(ts, pa.timestamp("us")),
        "ts_ms_tz": pa.array(ts, pa.timestamp("ms", "UTC")),
        "ts_us_tz": pa.array(ts, pa.timestamp("us", "America/New_York")),
        "decimal128": pa.array([dec, None], pa.decimal128(10, 2)),
        "decimal128_38": pa.array([dec, None], pa.decimal128(38, 2)),
    }
    fallbacks = {
        "list": (pa.table({"v": pa.array([[1], None], pa.list_(pa.int64()))}), {}),
        "uint32": (pa.table({"v": pa.array([1, None], pa.uint32())}), {}),
        "int96": (
            pa.table({"v": pa.array(ts, pa.timestamp("us"))}),
            {"use_deprecated_int96_timestamps": True},
        ),
        "case": (pa.table({"v": [1, 2], "V": [3, 4]}), {}),
    }

    def write(name, table, **kw):
        one = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, one, **kw)
        d = tmp_path / f"{name}_dir"
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"), **kw)
        return one, str(d)

    paths = {n: write(n, pa.table({"id": [1, 2], n: a})) for n, a in mapped.items()}
    fb_paths = {n: write(f"fb_{n}", t, **kw) for n, (t, kw) in fallbacks.items()}

    def same_as_inference(p):
        return _outcome(lambda: dio.read_parquet(spark, p)) == _outcome(
            lambda: spark.read.parquet(p)
        )

    def check():
        for name, ps in paths.items():
            for p in ps:
                df, jobs = spark_jobs(spark, lambda: dio.read_parquet(spark, p))
                assert df.schema == spark.read.parquet(p).schema, name
                assert jobs == 0, name
        for name, ps in fb_paths.items():
            for p in ps:
                assert dio._footer_schema(spark, p)[0] is None, name
                assert same_as_inference(p), name

    check()
    one = paths["ts_ms"][0]
    assert dio.read_parquet(spark, one).collect() == spark.read.parquet(one).collect()

    # files of two schemas: inference merges them under mergeSchema
    merged = tmp_path / "merged"
    merged.mkdir()
    pq.write_table(pa.table({"id": [1]}), str(merged / "part-0.parquet"))
    pq.write_table(pa.table({"id": [2], "x": ["b"]}), str(merged / "part-1.parquet"))
    flips = {
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        "spark.sql.parquet.binaryAsString": "true",
        "spark.sql.caseSensitive": "true",
        "spark.sql.parquet.mergeSchema": "true",
    }
    for key, value in flips.items():
        prev = spark.conf.get(key, None)
        spark.conf.set(key, value)
        try:
            check()
            if key == "spark.sql.parquet.mergeSchema":
                assert same_as_inference(str(merged))
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    restored = dio.read_parquet(spark, paths["ts_us"][0]).schema["ts_us"].dataType
    assert restored.typeName() == "timestamp_ntz"

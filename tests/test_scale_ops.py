"""Scale operators: salted join/agg equivalence, bucketed
shuffle-free joins, stateful streaming across micro-batches."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from dish_data_pipeline_spark.io import write_bucketed
from dish_data_pipeline_spark.operators.skew import salted_agg, salted_join
from dish_data_pipeline_spark.plans.plan_text import count_shuffles


def _skewed(spark):
    # hot key: 'hot' carries 500 rows, others 1 each
    rows = [Row(k="hot", id=i, v=1.0) for i in range(500)]
    rows += [Row(k=f"cold{i}", id=1000 + i, v=2.0) for i in range(20)]
    return spark.createDataFrame(rows)


def test_salted_join_matches_plain_join(spark):
    large = _skewed(spark)
    small = spark.createDataFrame(
        [Row(k="hot", tag="H"), Row(k="cold3", tag="C")]
    )
    plain = large.join(small, ["k"]).select("k", "id", "v", "tag")
    salted = salted_join(large, small, ["k"], salt_col="id").select(
        "k", "id", "v", "tag"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_salted_join_rejects_outer_joins(spark):
    import pytest

    large = _skewed(spark)
    small = spark.createDataFrame([Row(k="hot", tag="H")])
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(large, small, ["k"], salt_col="id", how=how)


def test_salted_join_accepts_semi_anti_aliases(spark):
    large = _skewed(spark)
    small = spark.createDataFrame([Row(k="hot")])
    for how in ("semi", "anti", "left_semi", "left_anti"):
        plain = large.join(small, ["k"], how).select("k", "id", "v")
        salted = salted_join(large, small, ["k"], salt_col="id", how=how).select(
            "k", "id", "v"
        )
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        ), how


def test_salted_agg_matches_plain_agg(spark):
    df = _skewed(spark)
    plain = {
        (r.k): (r.n, r.sum_v)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double").alias("sum_v"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.n, r.sum_v)
        for r in salted_agg(df, ["k"], salt_col="id", sums=["v"]).collect()
    }
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark):
    a = spark.range(0, 1000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("vb", F.col("id") * 3)
    write_bucketed(a, "bt_a", 4, "id")
    write_bucketed(b, "bt_b", 4, "id")
    # the merge hint forces sort-merge: bucketing is moot under broadcast
    joined = spark.table("bt_a").hint("merge").join(
        spark.table("bt_b").hint("merge"), "id"
    )
    assert joined.count() == 1000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) == 0  # co-located: no Exchange

    # control: same sort-merge join on raw (unbucketed) frames shuffles
    control = a.hint("merge").join(b.hint("merge"), "id")
    plan = control._jdf.queryExecution().executedPlan().toString()
    assert count_shuffles(plan) > 0


def test_stateful_user_stats_across_batches(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from dish_data_pipeline_spark.streaming.stateful import stateful_user_stats

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    indir = tmp_path / "in"
    indir.mkdir()
    # two files → two micro-batches (maxFilesPerTrigger=1)
    with open(indir / "b1.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T00:00:00Z", "value": 10.0}) + "\n")
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T00:01:00Z", "value": 20.0}) + "\n")
    with open(indir / "b2.json", "w") as f:
        f.write(json.dumps({"user_id": 1, "ts": "2024-01-01T00:02:00Z", "value": 5.0}) + "\n")
        f.write(json.dumps({"user_id": 2, "ts": "2024-01-01T00:03:00Z", "value": 7.0}) + "\n")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        stateful_user_stats(stream)
        .writeStream.format("memory")
        .queryName("ustats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    pdf = spark.sql(
        "SELECT * FROM ustats"
    ).toPandas()
    # last emission per user carries cumulative state across batches
    last = pdf.groupby("user_id").last()
    assert int(last.loc[1, "n_events"]) == 3
    assert float(last.loc[1, "sum_value"]) == 35.0
    assert float(last.loc[1, "max_value"]) == 20.0
    assert int(last.loc[2, "n_events"]) == 1


def test_stream_debounce_kept_anchored_across_batches(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from dish_data_pipeline_spark.streaming.stateful import stream_debounce

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
        ]
    )
    indir = tmp_path / "in"
    indir.mkdir()

    def ev(i, sec):
        return json.dumps(
            {"user_id": 1, "event_type": "click", "event_id": i,
             "ts": f"2024-01-01T00:00:{sec:02d}Z"}
        )

    # batch 1: a slow drip spaced 5s with a 10s gap — KEPT-anchored
    # semantics re-emit at 0 and 10 (the batch chain version keeps
    # only 0)
    with open(indir / "b1.json", "w") as f:
        f.write("\n".join([ev(0, 0), ev(1, 5), ev(2, 10), ev(3, 14)]) + "\n")
    # batch 2: 16s is only 6s after the last KEPT (10) — suppressed
    # across the batch boundary; 21s clears it
    with open(indir / "b2.json", "w") as f:
        f.write("\n".join([ev(4, 16), ev(5, 21)]) + "\n")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = (
        stream_debounce(stream, 10)
        .writeStream.format("memory")
        .queryName("debounced")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(
        r.event_id for r in spark.sql("SELECT * FROM debounced").collect()
    )
    assert kept == [0, 2, 5]

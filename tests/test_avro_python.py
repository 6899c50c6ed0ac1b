"""sources/avro_python.py — the pure-Python Avro container tier.

The decisive tests are CROSS-IMPLEMENTATION: files written by this
module are read back by the canonical Apache Avro **Java** library
(avro-1.12.1.jar, baked into pyspark's classpath) driven over py4j,
and files written by that Java library are decoded by this module.
Passing both directions pins the binary encoding and the container
framing to the published spec, not to our own mirror-image bugs.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dish_data_pipeline_spark.sources.avro_python import (
    avro_schema_to_spark,
    decode_container,
    parse_header,
    read_avro,
    spark_schema_to_avro,
    write_avro,
    write_container,
)


def _full_df(spark):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("i", T.IntegerType(), True),
            T.StructField("d", T.DoubleType(), True),
            T.StructField("f", T.FloatType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("b", T.BooleanType(), True),
            T.StructField("raw", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("ntz", T.TimestampNTZType(), True),
            T.StructField("arr", T.ArrayType(T.DoubleType(), False), True),
            T.StructField(
                "m", T.MapType(T.StringType(), T.LongType(), False), True
            ),
            T.StructField(
                "nest",
                T.StructType(
                    [
                        T.StructField("x", T.LongType(), True),
                        T.StructField("y", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    rows = [
        (
            1,
            -7,
            3.5,
            1.25,
            "héllo ∆",
            True,
            b"\x00\xffbin",
            dt.date(2024, 2, 29),
            dt.datetime(2024, 2, 29, 12, 34, 56, 789012),
            dt.datetime(2030, 1, 2, 3, 4, 5, 6),
            [1.0, -2.5],
            {"a": 1, "b": -2},
            (42, "deep"),
        ),
        (2, None, None, None, None, None, None, None, None, None, None,
         None, None),
        (
            3,
            0,
            -0.0,
            float("inf"),
            "",
            False,
            b"",
            dt.date(1969, 12, 31),
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            dt.datetime(1901, 6, 15, 0, 0, 0, 1),
            [],
            {},
            (None, None),
        ),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("codec", ["null", "deflate", "snappy"])
def test_spark_roundtrip_all_types(spark, tmp_path, codec):
    df = _full_df(spark)
    path = str(tmp_path / f"rt_{codec}")
    manifest = write_avro(df, path, codec=codec)
    assert sum(n for _, n in manifest) == 3
    back = read_avro(spark, path)
    assert back.schema == df.schema
    a = sorted(df.collect(), key=lambda r: r.k)
    b = sorted(back.collect(), key=lambda r: r.k)
    assert a == b


def test_empty_dataframe_roundtrips_via_sidecar(spark, tmp_path):
    df = _full_df(spark).filter("k < 0")
    path = str(tmp_path / "empty")
    assert write_avro(df, path) == []
    back = read_avro(spark, path)
    assert back.schema == df.schema
    assert back.count() == 0


def test_append_mode_accumulates(spark, tmp_path):
    df = spark.createDataFrame([Row(k=1)], "k long")
    path = str(tmp_path / "app")
    write_avro(df, path, mode="overwrite")
    write_avro(spark.createDataFrame([Row(k=2)], "k long"), path, mode="append")
    assert sorted(r.k for r in read_avro(spark, path).collect()) == [1, 2]
    write_avro(df, path, mode="overwrite")
    assert [r.k for r in read_avro(spark, path).collect()] == [1]


def test_schema_mapping_is_inverse(spark):
    schema = _full_df(spark).schema
    assert avro_schema_to_spark(spark_schema_to_avro(schema)) == schema


def test_decimal_refused_loudly(spark):
    schema = T.StructType([T.StructField("x", T.DecimalType(10, 2), True)])
    with pytest.raises(ValueError, match="spark-avro"):
        spark_schema_to_avro(schema)


# --------------------------------------------------- Java interop


def _jassert_file(spark, path, expect_rows):
    """Read an avro file with the canonical Java implementation and
    return [(field, value-as-string)] per row for comparison."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    out = []
    while reader.hasNext():
        out.append(reader.next())
    reader.close()
    assert len(out) == expect_rows
    return out


def test_java_library_reads_python_written_files(spark, tmp_path):
    """Canonical-implementation conformance, direction 1: the Apache
    Avro Java library opens our container files (magic, metadata
    map, deflate blocks, sync markers) and sees the same values."""
    df = _full_df(spark)
    path = str(tmp_path / "forjava")
    write_avro(df, path, codec="deflate")
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )
    recs = []
    for f in files:
        jvm = spark._jvm
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(f),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        while reader.hasNext():
            recs.append(reader.next())
        reader.close()
    assert len(recs) == 3
    by_k = {rec.get("k") for rec in recs}
    assert by_k == {1, 2, 3}
    rec1 = next(r for r in recs if r.get("k") == 1)
    assert rec1.get("i") == -7
    assert rec1.get("d") == 3.5
    assert str(rec1.get("s")) == "héllo ∆"
    assert rec1.get("b") is True
    # logical types ride as their base encodings
    assert rec1.get("day") == (dt.date(2024, 2, 29) - dt.date(1970, 1, 1)).days
    assert rec1.get("nest").get("x") == 42
    arr = rec1.get("arr")
    assert [arr.get(i) for i in range(arr.size())] == [1.0, -2.5]
    rec2 = next(r for r in recs if r.get("k") == 2)
    assert rec2.get("s") is None and rec2.get("nest") is None


def test_python_reads_java_written_file(spark, tmp_path):
    """Direction 2: a container file produced by the Java library
    (deflate codec) decodes bit-for-bit with our pure-Python
    reader."""
    jvm = spark._jvm
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "jrec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": ["null", "string"]},
                {"name": "score", "type": "double"},
                {
                    "name": "tags",
                    "type": {"type": "array", "items": "string"},
                },
            ],
        }
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    path = str(tmp_path / "javafile.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    writer.create(schema, jvm.java.io.File(path))
    for i, (name, score, tags) in enumerate(
        [("alpha", 1.5, ["x", "y"]), (None, -2.25, []), ("γ", 0.0, ["z"])]
    ):
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", i)
        rec.put("name", name)
        rec.put("score", score)
        arr = jvm.java.util.ArrayList()
        for t in tags:
            arr.add(t)
        rec.put("tags", arr)
        writer.append(rec)
    writer.close()

    with open(path, "rb") as f:
        buf = f.read()
    avsc, codec, _, _ = parse_header(buf)
    assert codec == "deflate"
    rows = list(decode_container(buf))
    assert rows == [
        {"id": 0, "name": "alpha", "score": 1.5, "tags": ["x", "y"]},
        {"id": 1, "name": None, "score": -2.25, "tags": []},
        {"id": 2, "name": "γ", "score": 0.0, "tags": ["z"]},
    ]
    # and the Spark-facing reader agrees (schema from the header,
    # no sidecar in a foreign directory)
    jdir = tmp_path / "javadir"
    jdir.mkdir()
    os.rename(path, str(jdir / "javafile.avro"))
    got = read_avro(spark, str(jdir)).orderBy("id").collect()
    assert [(r.id, r.name, r.score, list(r.tags)) for r in got] == [
        (0, "alpha", 1.5, ["x", "y"]),
        (1, None, -2.25, []),
        (2, "γ", 0.0, ["z"]),
    ]


def test_java_reads_python_nullcodec_and_negative_block_counts(spark, tmp_path):
    """Null-codec files conform too, and the reader accepts the
    spec's negative-count block form (count, then byte size)."""
    buf = io.BytesIO()
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [{"name": "v", "type": "long"}],
        }
    )
    n = write_container(
        buf, schema_json, ({"v": i} for i in range(10)), codec="null",
        block_rows=3,
    )
    assert n == 10
    p = str(tmp_path / "null.avro")
    with open(p, "wb") as f:
        f.write(buf.getvalue())
    recs = _jassert_file(spark, p, 10)
    assert [r.get("v") for r in recs] == list(range(10))


def test_io_entry_points_route_to_python_tier(spark, tmp_path):
    """write_table/read_any with fmt='avro' work on a session without
    spark-avro — the user-facing promise this tier exists for."""
    from dish_data_pipeline_spark.io import read_any, write_table

    df = spark.createDataFrame(
        [Row(k=1, v="a"), Row(k=2, v="b")], "k long, v string"
    )
    path = str(tmp_path / "io_avro")
    write_table(df, path, "avro")
    back = read_any(spark, path, "avro")
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]
    # distributed scan: decode happens in executors, one task per file
    assert back.rdd.getNumPartitions() >= 1
    write_table(
        spark.createDataFrame([Row(k=3, v="c")], "k long, v string"),
        path,
        "avro",
        mode="append",
    )
    assert read_any(spark, path, "avro").count() == 3


# ---------------------------------------------- schema resolution


def test_schema_resolution_add_drop_promote(spark, tmp_path):
    """The spec's evolution contract: reader drops a writer field,
    adds one with a default, and promotes int->long / float->double,
    all resolved at the container level."""
    from dish_data_pipeline_spark.sources.avro_python import (
        build_resolver,
    )

    v1 = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("legacy", T.DoubleType(), True),
            T.StructField("ratio", T.FloatType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", 9.9, 0.5), (2, None, 8.8, 1.5)], v1
    )
    path = str(tmp_path / "evo")
    write_avro(df, path)

    reader_avsc = {
        "type": "record",
        "name": "v2",
        "fields": [
            {"name": "k", "type": "long"},           # int -> long
            {"name": "name", "type": ["null", "string"]},
            {"name": "ratio", "type": ["null", "double"]},  # f -> d
            {"name": "score", "type": "double", "default": 1.25},
            {"name": "tag", "type": ["null", "string"], "default": None},
            # 'legacy' dropped
        ],
    }
    got = read_avro(spark, path, reader_schema=reader_avsc)
    assert [f.name for f in got.schema.fields] == [
        "k", "name", "ratio", "score", "tag",
    ]
    assert dict(got.dtypes)["k"] == "bigint"
    rows = sorted(got.collect(), key=lambda r: r.k)
    assert rows[0].k == 1 and rows[0].name == "a"
    assert rows[0].ratio == 0.5 and rows[0].score == 1.25
    assert rows[0].tag is None
    assert rows[1].name is None and rows[1].ratio == 1.5

    # unresolvable pair fails at BUILD time, before any data moves
    with pytest.raises(ValueError, match="cannot resolve"):
        build_resolver("string", "long")
    # added field without default fails loudly
    with pytest.raises(ValueError, match="no default"):
        read_avro(
            spark,
            path,
            reader_schema={
                "type": "record",
                "name": "bad",
                "fields": [{"name": "nonexistent", "type": "long"}],
            },
        )


def test_schema_resolution_structtype_reader(spark, tmp_path):
    """A Spark StructType works as the reader schema: nullable added
    fields default to NULL, dropped fields vanish."""
    df = spark.createDataFrame(
        [Row(k=1, v="a")], "k long, v string"
    )
    path = str(tmp_path / "evo2")
    write_avro(df, path)
    v2 = T.StructType(
        [
            T.StructField("k", T.LongType(), True),
            T.StructField("extra", T.StringType(), True),
        ]
    )
    rows = read_avro(spark, path, reader_schema=v2).collect()
    assert [(r.k, r.extra) for r in rows] == [(1, None)]


def test_schema_resolution_java_written_file(spark, tmp_path):
    """Evolution against a file the Java library wrote: same
    resolution semantics on a foreign container."""
    jvm = spark._jvm
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "jv1",
            "fields": [
                {"name": "id", "type": "int"},
                {"name": "junk", "type": "string"},
            ],
        }
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    jdir = tmp_path / "jevo"
    jdir.mkdir()
    p = str(jdir / "f.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.create(schema, jvm.java.io.File(p))
    for i in range(3):
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", i)
        rec.put("junk", "x" * i)
        writer.append(rec)
    writer.close()
    reader_avsc = {
        "type": "record",
        "name": "jv2",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "lang", "type": "string", "default": "en"},
        ],
    }
    rows = read_avro(spark, str(jdir), reader_schema=reader_avsc)
    got = sorted((r.id, r.lang) for r in rows.collect())
    assert got == [(0, "en"), (1, "en"), (2, "en")]


def test_java_reads_multiblock_deflate(spark, tmp_path):
    """Multi-block deflate framing (several compressed blocks, each
    sync-delimited) conforms: the Java reader sees all rows in
    order."""
    buf = io.BytesIO()
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "mb",
            "fields": [
                {"name": "v", "type": "long"},
                {"name": "s", "type": "string"},
            ],
        }
    )
    n = write_container(
        buf,
        schema_json,
        ({"v": i, "s": f"row-{i}" * 10} for i in range(1000)),
        codec="deflate",
        block_rows=128,  # 8 blocks
    )
    assert n == 1000
    p = str(tmp_path / "mb.avro")
    with open(p, "wb") as f:
        f.write(buf.getvalue())
    recs = _jassert_file(spark, p, 1000)
    assert [r.get("v") for r in recs] == list(range(1000))
    assert str(recs[999].get("s")).startswith("row-999")


def test_unknown_logical_type_degrades_to_base(spark):
    """Avro spec §Logical Types: a reader that doesn't recognize a
    logicalType MUST use the underlying base type. Kafka Connect /
    Debezium routinely annotate string with uuid and int with
    time-millis (neither has a Spark mapping here) — the fallback
    tier must still read such files (ADVICE r11)."""
    avsc = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "u", "type": {"type": "string", "logicalType": "uuid"}},
            {
                "name": "t",
                "type": {"type": "int", "logicalType": "time-millis"},
            },
            {
                "name": "dec",
                "type": {
                    "type": "bytes",
                    "logicalType": "decimal",
                    "precision": 10,
                    "scale": 2,
                },
            },
        ],
    }
    out = avro_schema_to_spark(avsc)
    assert [f.dataType for f in out.fields] == [
        T.StringType(),
        T.IntegerType(),
        T.BinaryType(),
    ]


def test_append_evolved_schema_reads_per_file(spark, tmp_path):
    """Appending an evolved-but-resolvable schema must leave the
    dataset readable: each container file resolves per its OWN
    header schema (old files get the added field's default / null,
    promoted types widen), not per the latest sidecar (ADVICE r11)."""
    path = str(tmp_path / "evolve")
    write_avro(
        spark.createDataFrame([Row(k=1, v=10)], "k long, v int"),
        path,
        mode="overwrite",
    )
    # evolved: v promoted int→long, new nullable column c added
    write_avro(
        spark.createDataFrame(
            [Row(k=2, v=20, c="new")], "k long, v long, c string"
        ),
        path,
        mode="append",
    )
    back = read_avro(spark, path)
    assert [f.name for f in back.schema.fields] == ["k", "v", "c"]
    assert back.schema["v"].dataType == T.LongType()
    rows = {r.k: r for r in back.collect()}
    assert rows[1].v == 10 and rows[1].c is None
    assert rows[2].v == 20 and rows[2].c == "new"


def test_append_incompatible_schema_raises(spark, tmp_path):
    """Appending a schema under which existing files become
    unreadable (dropped field without default / unresolvable type
    flip) must raise on the driver before any data lands."""
    path = str(tmp_path / "clash")
    write_avro(
        spark.createDataFrame([Row(k=1, v="s")], "k long, v string"),
        path,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="incompatible"):
        write_avro(
            spark.createDataFrame([Row(k=2, v=5)], "k long, v long"),
            path,
            mode="append",
        )
    # dataset unchanged and still readable
    assert [r.v for r in read_avro(spark, path).collect()] == ["s"]


def test_snappy_raw_codec_roundtrip_and_edges():
    """Raw-format snappy: our literal-only encoder round-trips, and
    the decoder handles the spec's edge shapes (empty stream,
    >60-byte literals, 2-byte literal lengths)."""
    from dish_data_pipeline_spark.sources.avro_python import (
        snappy_compress,
        snappy_decompress,
    )

    for payload in [
        b"",
        b"a",
        b"x" * 59,
        b"x" * 60,
        b"x" * 61,
        b"y" * 300,
        b"z" * 70000,  # spans two 64 KiB literal chunks
        bytes(range(256)) * 17,
    ]:
        assert snappy_decompress(snappy_compress(payload)) == payload


def test_snappy_decoder_handles_java_copies(spark):
    """The REAL compressor (snappy-java, bundled with pyspark) emits
    copy elements — including overlapping RLE copies — that our
    literal-only encoder never produces. Decode its output for
    payloads chosen to force every copy shape."""
    from dish_data_pipeline_spark.sources.avro_python import (
        snappy_decompress,
    )

    jvm = spark._jvm
    payloads = [
        b"abcd" * 5000,          # long-range 2-byte-offset copies
        b"\x00" * 100000,        # overlapping RLE copies
        b"the quick brown fox " * 64,
        bytes(range(256)) * 4 + b"tailtailtailtail",
    ]
    for payload in payloads:
        compressed = bytes(jvm.org.xerial.snappy.Snappy.compress(payload))
        assert snappy_decompress(compressed) == payload


def test_java_library_reads_python_snappy_files(spark, tmp_path):
    """Conformance, snappy × direction 1: snappy-coded container
    files written here open in the Apache Avro Java library (which
    verifies the per-block CRC32 with snappy-java)."""
    df = _full_df(spark)
    path = str(tmp_path / "snappy_forjava")
    write_avro(df, path, codec="snappy")
    jvm = spark._jvm
    recs = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".avro"):
            continue
        reader = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(os.path.join(path, f)),
            jvm.org.apache.avro.generic.GenericDatumReader(),
        )
        while reader.hasNext():
            recs.append(reader.next())
        reader.close()
    assert {rec.get("k") for rec in recs} == {1, 2, 3}
    rec1 = next(r for r in recs if r.get("k") == 1)
    assert str(rec1.get("s")) == "héllo ∆"
    assert rec1.get("d") == 3.5


def test_python_reads_java_snappy_file(spark, tmp_path):
    """Conformance, snappy × direction 2: a snappy-coded container
    file produced by the Java library (real compressor: copy
    elements, CRC suffix) decodes bit-for-bit here."""
    jvm = spark._jvm
    schema_json = json.dumps(
        {
            "type": "record",
            "name": "srec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "body", "type": "string"},
            ],
        }
    )
    schema = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    path = str(tmp_path / "javasnappy.avro")
    writer = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    writer.setCodec(jvm.org.apache.avro.file.CodecFactory.snappyCodec())
    writer.create(schema, jvm.java.io.File(path))
    rows = [(i, f"row-{i} " + "repeat " * (i % 7)) for i in range(500)]
    for i, body in rows:
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("id", i)
        rec.put("body", body)
        writer.append(rec)
    writer.close()
    with open(path, "rb") as f:
        buf = f.read()
    _, codec, _, _ = parse_header(buf)
    assert codec == "snappy"
    got = list(decode_container(buf))
    assert got == [{"id": i, "body": b} for i, b in rows]


def test_snappy_encoder_actually_compresses():
    """Round-13: the greedy match search must COMPRESS structured
    payloads (the literal-only r12 encoder emitted slightly LARGER
    output), emit both copy forms, and stay spec-exact under the
    decoder."""
    from dish_data_pipeline_spark.sources.avro_python import (
        snappy_compress,
        snappy_decompress,
    )

    # record-shaped payload: repeated field names + varying values,
    # the shape Avro blocks actually have
    payload = b"".join(
        b'{"o_orderkey": %d, "o_orderstatus": "O", "o_comment": '
        b'"instructions sleep furiously %d"}\n' % (i, i * 7 % 97)
        for i in range(2000)
    )
    c = snappy_compress(payload)
    assert snappy_decompress(c) == payload
    assert len(c) < len(payload) / 3  # real compression, not tag overhead

    # near/far matches exercise the 1-byte- and 2-byte-offset forms
    near = b"abcdefgh" * 4  # offsets < 2048
    far = b"X" * 3000 + near + b"Y" * 60000 + near
    for p in (near, far):
        assert snappy_decompress(snappy_compress(p)) == p


def test_compiled_codec_matches_interpreter():
    """r15: write_container/decode_container run the COMPILED closure
    codecs (schema walked once per task, guide §4); this pins them
    byte-identical / value-identical to the reference interpreters
    ``_encode``/``_decode`` over every schema node kind — unions,
    logical types, nested record/array/map, empty containers, and
    Row-vs-dict record access."""
    from dish_data_pipeline_spark.sources.avro_python import (
        _decode,
        _encode,
        compile_decoder,
        compile_encoder,
        spark_schema_to_avro,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("i", T.IntegerType(), True),
            T.StructField("d", T.DoubleType(), True),
            T.StructField("f", T.FloatType(), True),
            T.StructField("s", T.StringType(), True),
            T.StructField("b", T.BooleanType(), True),
            T.StructField("raw", T.BinaryType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("ntz", T.TimestampNTZType(), True),
            T.StructField("arr", T.ArrayType(T.DoubleType(), False), True),
            T.StructField(
                "m", T.MapType(T.StringType(), T.LongType(), False), True
            ),
            T.StructField(
                "nest",
                T.StructType(
                    [
                        T.StructField("x", T.LongType(), True),
                        T.StructField("y", T.StringType(), True),
                    ]
                ),
                True,
            ),
        ]
    )
    node = spark_schema_to_avro(schema)
    values = [
        {
            "k": -(2**62), "i": -7, "d": 3.5, "f": 1.25, "s": "héllo ∆",
            "b": True, "raw": b"\x00\xffbin", "day": dt.date(2024, 2, 29),
            "ts": dt.datetime(2024, 2, 29, 12, 34, 56, 789012),
            "ntz": dt.datetime(2030, 1, 2, 3, 4, 5, 6),
            "arr": [1.0, -2.5], "m": {"a": 1, "b": -2},
            "nest": {"x": 42, "y": "deep"},
        },
        {
            "k": 0, "i": None, "d": None, "f": None, "s": None, "b": None,
            "raw": None, "day": None, "ts": None, "ntz": None, "arr": None,
            "m": None, "nest": None,
        },
        {
            "k": 2**62, "i": 0, "d": -0.0, "f": float("inf"), "s": "",
            "b": False, "raw": b"", "day": dt.date(1969, 12, 31),
            "ts": dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            "ntz": dt.datetime(1901, 6, 15, 0, 0, 0, 1),
            "arr": [], "m": {},
            "nest": {"x": None, "y": None},
        },
    ]
    enc, dec = compile_encoder(node), compile_decoder(node)
    for v in values:
        ref, got = bytearray(), bytearray()
        _encode(node, v, ref)
        enc(v, got)
        assert bytes(got) == bytes(ref)
        # Row access path (index lookup, getattr fallback)
        row_got = bytearray()
        enc(Row(**v), row_got)
        assert bytes(row_got) == bytes(ref)
        want, want_pos = _decode(node, bytes(ref), 0)
        have, have_pos = dec(bytes(ref), 0)
        assert (have, have_pos) == (want, want_pos)


def test_compile_encoder_rejects_multi_branch_union():
    """Every non-null value goes through ONE union branch, so a union
    with two non-null branches would mis-encode values of the second
    (a string written as a long's zigzag); it is refused when the
    codec is compiled, also when nested in a record field."""
    from dish_data_pipeline_spark.sources.avro_python import compile_encoder

    with pytest.raises(ValueError, match="more than one non-null branch"):
        compile_encoder(["null", "long", "string"])
    record = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": ["long", "string"]}],
    }
    with pytest.raises(ValueError, match="more than one non-null branch"):
        compile_encoder(record)
    # the nullable single-branch shape still compiles
    out = bytearray()
    compile_encoder(["null", "long"])(5, out)
    assert bytes(out) == b"\x02\x0a"

"""Readers and writers for the engine's three-zone layout.

Mirrors the reference's raw/staging/target/audit zones
(reference README.md:195-203, pipeline/data_pipeline.py:46-53,
140-148, 234-237) on files Spark natively understands:

- raw zone: Hive-style date-partitioned JSON
  (``year=YYYY/month=MM/day=DD``) — partition pruning is free on read.
- staging/target/audit: Parquet (columnar, predicate pushdown,
  column pruning).

At 100 TB the same code holds: partitioned writes shard per task, and
readers get pushdown + pruning from the DataSource v2 path.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import uuid
from collections.abc import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Footer key under which Spark stores the schema it wrote, as
#: StructType JSON.
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_files(path: str) -> list[str]:
    """The files Spark's schema inference may read for ``path``, in
    sorted order: ``path`` itself, or the data files of an
    unpartitioned local directory (inference reads the first unless
    ``spark.sql.parquet.mergeSchema`` is on). Empty for a non-local
    URI, a directory with subdirectories or summary files, or no data
    file."""
    if "://" in path or path.startswith("file:"):
        return []
    if os.path.isfile(path):
        return [path]
    try:
        with os.scandir(path) as it:
            entries = list(it)
    except OSError:
        return []
    if any(
        e.is_dir() or e.name in ("_metadata", "_common_metadata")
        for e in entries
    ):
        return []
    data = sorted(e.name for e in entries if not e.name.startswith(("_", ".")))
    return [os.path.join(path, name) for name in data]


#: Spark type of a top-level Parquet column with no logical
#: annotation, by physical type (BYTE_ARRAY depends on a conf, and
#: INT96/FIXED_LEN_BYTE_ARRAY are left to inference).
_PLAIN_TYPES = {
    "BOOLEAN": BooleanType(),
    "INT32": IntegerType(),
    "INT64": LongType(),
    "FLOAT": FloatType(),
    "DOUBLE": DoubleType(),
}

#: Signed Int(bitWidth) annotations by (physical type, bit width).
_INT_TYPES = {
    ("INT32", 8): ByteType(),
    ("INT32", 16): ShortType(),
    ("INT32", 32): IntegerType(),
    ("INT64", 64): LongType(),
}


def _conf_on(spark: SparkSession, key: str, default: str) -> bool:
    return spark.conf.get(key, default).strip().lower() == "true"


def _column_type(spark: SparkSession, col) -> DataType | None:
    """The type Spark's schema inference gives the Parquet column
    ``col`` (a pyarrow ``ColumnSchema``), from its physical type and
    logical annotation; None for anything outside this closed mapping
    (nested or repeated columns, unsigned ints, INT96, TIME,
    TIMESTAMP(NANOS), non-decimal FIXED_LEN_BYTE_ARRAY, UUID, JSON,
    intervals, ...), which is left to inference."""
    if col.max_repetition_level or col.path != col.name:
        return None  # a leaf of a nested or repeated column
    phys, logical = col.physical_type, col.logical_type
    kind = logical.type
    if kind == "NONE":
        if phys == "BYTE_ARRAY":
            text = _conf_on(spark, "spark.sql.parquet.binaryAsString", "false")
            return StringType() if text else BinaryType()
        return _PLAIN_TYPES.get(phys)
    if kind == "STRING":
        return StringType() if phys == "BYTE_ARRAY" else None
    if kind == "DATE":
        return DateType() if phys == "INT32" else None
    if kind == "DECIMAL":
        # the widest precision Spark accepts for the physical type (a
        # fixed-length decimal: the digits its signed bytes can hold)
        top = {"INT32": 9, "INT64": 18, "BYTE_ARRAY": 38}.get(phys)
        if phys == "FIXED_LEN_BYTE_ARRAY":
            top = min(38, len(str(2 ** (8 * col.length - 1) - 1)) - 1)
        p, s = col.precision, col.scale
        if top is None or not (1 <= p <= top and 0 <= s <= p):
            return None
        return DecimalType(p, s)
    meta = json.loads(logical.to_json())
    if kind == "INT":
        return _INT_TYPES.get((phys, meta["bitWidth"])) if meta["isSigned"] else None
    if kind == "TIMESTAMP" and phys == "INT64":
        if meta["timeUnit"] not in ("milliseconds", "microseconds"):
            return None
        if meta["isAdjustedToUTC"] or not _conf_on(
            spark, "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
        ):
            return TimestampType()
        return TimestampNTZType()
    return None


def _derived_schema(spark: SparkSession, columns) -> StructType | None:
    """The schema Spark's inference gives a Parquet file with no Spark
    schema in its footer, built from its column descriptors; None when
    a column is outside :func:`_column_type`'s mapping or two names
    collide case-insensitively. Every field is nullable, as Spark
    makes inferred file schemas."""
    names = [c.name for c in columns]
    if len({n.lower() for n in names}) != len(names):
        return None
    fields = []
    for c in columns:
        t = _column_type(spark, c)
        if t is None:
            return None
        fields.append(StructField(c.name, t, True))
    return StructType(fields)


def _footer_schema(
    spark: SparkSession, path: str
) -> tuple[StructType | None, list[str]]:
    """(schema Spark's inference would give, TIMESTAMP(NANOS) columns)
    of the first of :func:`_footer_files`, from one footer read by
    pyarrow in this process. The schema is the one Spark stored in the
    footer; for a file with none (pyarrow-written, say) it is derived
    from the Parquet column descriptors by :func:`_derived_schema`.
    ``(None, [])`` when there is no such file or the footer cannot be
    read; the schema is None when it cannot be derived, when the file
    has TIMESTAMP(NANOS) columns (which Spark's vectorized reader
    rejects outright, PARQUET_TYPE_ILLEGAL), or when
    ``spark.sql.parquet.mergeSchema`` has inference merge the schemas
    of several files."""
    files = _footer_files(path)
    if not files:
        return None, []
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        # INT96 (Spark's default timestamp encoding) would otherwise
        # surface as timestamp[ns] and pass for TIMESTAMP(NANOS)
        with pq.ParquetFile(files[0], coerce_int96_timestamp_unit="us") as pf:
            arrow = pf.schema_arrow
            descr = pf.schema
            columns = [descr.column(i) for i in range(len(descr))]
    except (OSError, pa.ArrowException):
        return None, []
    ns_cols = [
        c.name
        for c in arrow
        if pa.types.is_timestamp(c.type) and c.type.unit == "ns"
    ]
    if len(files) > 1 and _conf_on(spark, "spark.sql.parquet.mergeSchema", "false"):
        return None, ns_cols
    stored = (arrow.metadata or {}).get(SPARK_SCHEMA_KEY)
    if stored is None:
        return (None if ns_cols else _derived_schema(spark, columns)), ns_cols
    try:
        return StructType.fromJson(json.loads(stored)), ns_cols
    except (ValueError, KeyError, TypeError):
        return None, ns_cols


def read_parquet(
    spark: SparkSession, path: str, files: Sequence[str] = ()
) -> DataFrame:
    """Open the Parquet table at ``path`` (or only its ``files``).

    A local file or unpartitioned local directory opens with the
    schema :func:`_footer_schema` reads from its footer with pyarrow:
    the schema Spark stored there, or for a file without one (written
    by pyarrow, say) the schema derived from its column descriptors.
    So the open runs no schema-inference job, and the result equals
    ``spark.read.parquet(path)``'s. Anything else (partitioned
    directories, non-local URIs, nested, unsigned or INT96 columns)
    is inferred. TIMESTAMP(NANOS) columns are read as raw longs
    (``legacy.parquet.nanosAsLong``) and converted to microsecond
    timestamps (ns→µs floor — lossless for µs-grain data)."""
    schema, ns_cols = _footer_schema(spark, path)
    paths = list(files) or [path]
    if not ns_cols:
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(*paths)
    # The flag is consumed at schema resolution (inside .parquet()),
    # so it can be restored immediately after — later plain reads of
    # TIMESTAMP(NANOS) files in the same session are unaffected.
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        prev: str | None = spark.conf.get(conf_key)
    except Exception:
        prev = None
    spark.conf.set(conf_key, "true")
    try:
        df = spark.read.parquet(*paths)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def bare_parquet_files(df: DataFrame) -> list[str] | None:
    """Local paths of the files ``df`` reads when ``df`` is a bare
    Parquet scan, as :func:`read_parquet` returns for a table without
    TIMESTAMP(NANOS) columns: no projection, filter or other operator
    above the relation, and no bucketing. They come from the listing
    Spark took when the plan was built, so this runs no job. None for
    any other frame, or when a file is not local."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or rel.bucketSpec().isDefined()
    ):
        return None
    paths = _input_paths(df)
    return None if None in paths else paths


def scan_partitions(df: DataFrame) -> int:
    """The number of partitions ``df`` has, as
    ``df.rdd.getNumPartitions()`` gives it. For a bare Parquet scan
    (:func:`bare_parquet_files`) the count comes from the file sizes by
    Spark's own split rule, so nothing is planned; any other frame
    builds its RDD.

    The rule (``FilePartition.maxSplitBytes`` and
    ``getFilePartitions``): split size ``min(maxPartitionBytes,
    max(openCostInBytes, total / minPartitionNum))``, where ``total``
    counts each file's bytes plus ``openCostInBytes``; each file is cut
    into splits of that size, and the splits, largest first, are packed
    into a partition until the next would overflow it, each costing its
    bytes plus ``openCostInBytes``. A ``maxPartitionNum`` below that
    count repacks the same splits into partitions of their total cost
    over ``maxPartitionNum``."""
    files = bare_parquet_files(df)
    if files is None:
        return df.rdd.getNumPartitions()
    session = df.sparkSession._jsparkSession
    conf = session.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get() if min_parts.isDefined()
        else session.leafNodeDefaultParallelism()
    )
    sizes = [os.path.getsize(f) for f in files]
    total = sum(n + open_cost for n in sizes)
    split = min(
        conf.filesMaxPartitionBytes(), max(open_cost, total // min_parts)
    )
    pieces = sorted(
        (min(split, n - off) for n in sizes for off in range(0, n, split)),
        reverse=True,
    )

    def pack(limit: int) -> int:
        parts, size = 0, 0
        for n in pieces:
            if size and size + n > limit:
                parts, size = parts + 1, 0
            size += n + open_cost
        return parts + (size > 0)

    parts = pack(split)
    max_parts = conf.filesMaxPartitionNum()
    if max_parts.isDefined() and parts > max_parts.get():
        cost = sum(n + open_cost for n in pieces)
        parts = pack(-(-cost // max_parts.get()))
    return parts


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (``<sf_dir>/<name>.parquet``)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_temp_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES
) -> None:
    """Register each table as a temp view for ``spark.sql`` queries."""
    for n in names:
        read_table(spark, sf_dir, n).createOrReplaceTempView(n)


def write_raw_zone(df: DataFrame, path: str, fmt: str = "json") -> None:
    """Raw/landing-zone writer: Hive-style date partitions.

    Spark-native equivalent of the reference's per-page GCS blob
    layout ``raw_api_data/<name>/year=/month=/day=/`` (reference
    pipeline/data_pipeline.py:46-53). Requires ``year``/``month``/
    ``day`` columns (see enrich.with_date_partitions).
    """
    (
        df.write.mode("append")
        .partitionBy("year", "month", "day")
        .format(fmt)
        .save(path)
    )


#: Formats the generic table reader/writer accepts — the Spark-native
#: columnar pair, the text interchange pair, and Avro. Avro is
#: two-tier: the vectorized spark-avro JVM module when it's on the
#: classpath (see :func:`avro_available`), else the dependency-free
#: pure-Python container-file tier (``sources.avro_python`` —
#: spec-faithful, distributed, slow path; all three spec codecs:
#: null, deflate, snappy), so an Avro estate is always functional.
#: :class:`FormatUnavailable` remains for genuinely-JVM-only
#: features (e.g. zstandard-coded input).
TABLE_FORMATS = ("parquet", "orc", "json", "csv", "avro")


class FormatUnavailable(RuntimeError):
    """The requested format needs an external JVM package this
    session doesn't ship."""


def avro_available(spark: SparkSession) -> bool:
    """True when the spark-avro JVM package is on the session
    classpath (``--packages org.apache.spark:spark-avro_2.13:<ver>``
    or a cluster image that bakes it in). Resolved through Spark's
    own DataSource registry — a bare ``Class.forName`` is NOT enough
    (some distributions ship avro classes without registering the
    data source module).

    Only the EXPECTED absence signal is treated as "unavailable",
    and detection does not hinge on any one exception class: pyspark
    installs a py4j capture hook that (version-depending) converts
    the Java SparkClassNotFoundException into a captured
    AnalysisException, while a hook-less path surfaces the raw
    Py4JJavaError. Both forms are inspected — the Python-side
    message for the stable absence markers ("Failed to find data
    source", DATA_SOURCE_NOT_FOUND, _LEGACY_ERROR_TEMP_1139), and
    the Java exception's full cause chain for a
    *ClassNotFoundException class name. Any other failure (py4j
    transport, classloader corruption, ...) propagates: a
    fail-closed gate must not masquerade a real error as a missing
    optional dependency."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jvm.org.apache.spark.sql.internal.SQLConf.get()
        )
        return True
    except Exception as e:
        msg = str(e).lower()
        if (
            ("failed to find" in msg and "data source" in msg)
            or "data_source_not_found" in msg
            or "_legacy_error_temp_1139" in msg
        ):
            return False
        # Raw py4j form: walk the Java cause chain — Spark wraps the
        # underlying ClassNotFoundException before it reaches py4j.
        cause, hops = getattr(e, "java_exception", None), 0
        while cause is not None and hops < 8:
            jcls = cause.getClass().getName()
            jmsg = (cause.getMessage() or "").lower()
            if (
                "ClassNotFoundException" in jcls
                or ("failed to find" in jmsg and "data source" in jmsg)
                or "data_source_not_found" in jmsg
            ):
                return False
            cause, hops = cause.getCause(), hops + 1
        raise


AVRO_INSTALL_HINT = (
    "the external spark-avro package (launch with --packages "
    "org.apache.spark:spark-avro_2.13:<spark version>)"
)


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Generic table writer over the supported interchange formats —
    ORC rounds out the columnar pair (both are Spark-native with
    predicate pushdown and column pruning; ORC is the warehouse-side
    format a Hive/Trino estate usually mandates). CSV writes a
    header so the file round-trips through :func:`read_any`."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {TABLE_FORMATS}, got {fmt!r}")
    if fmt == "avro" and not avro_available(df.sparkSession):
        from dish_data_pipeline_spark.sources.avro_python import write_avro

        if mode not in ("overwrite", "append"):
            raise ValueError(
                f"python avro tier supports overwrite|append, got {mode!r}"
            )
        write_avro(df, path, mode=mode)
        return
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", "true")
    w.save(path)


def read_any(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Generic reader for :data:`TABLE_FORMATS`. Parquet routes
    through :func:`read_parquet` (nanos-timestamp handling); CSV
    reads the written header with schema inference — pass an
    explicit-schema scan (``sources.files.read_csv_validated``) for
    production CSV, where inference is a correctness hazard."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"fmt must be one of {TABLE_FORMATS}, got {fmt!r}")
    if fmt == "parquet":
        return read_parquet(spark, path)
    if fmt == "avro" and not avro_available(spark):
        from dish_data_pipeline_spark.sources.avro_python import read_avro

        return read_avro(spark, path)
    r = spark.read.format(fmt)
    if fmt == "csv":
        r = r.option("header", "true").option("inferSchema", "true")
    return r.load(path)


def write_staging(df: DataFrame, path: str) -> None:
    """Truncate-load staging write (reference WRITE_TRUNCATE,
    pipeline/data_pipeline.py:141-148)."""
    df.write.mode("overwrite").parquet(path)


def write_append(df: DataFrame, path: str) -> None:
    """Append write (audit sink, reference
    pipeline/data_pipeline.py:234-237)."""
    df.write.mode("append").parquet(path)


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the target's swap lock.

    The parquet swap path is read-modify-write: a second concurrent
    writer would silently base its merge on a snapshot the first
    writer is about to replace (lost update). The advisory lock turns
    that silent corruption into this loud, retryable error — the
    single-writer scope of ``atomic_overwrite`` is ENFORCED, not just
    documented. For genuine multi-writer MERGE use the versioned
    manifest table, ``io_backends.ManifestParquetBackend``."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


@contextlib.contextmanager
def _swap_lock(base: str):
    """Single-host advisory lock for the swap critical section
    (O_EXCL lock file holding the owner pid). A lock whose owner pid
    is gone — a crashed writer — is stolen; a live owner raises
    ``ConcurrentWriteError``. Pid liveness is a same-host judgement,
    which matches the rename-pair swap itself (atomic only on one
    filesystem); several writers need ``ManifestParquetBackend``."""
    lock = base + ".lock"
    parent = os.path.dirname(base)
    if parent:
        os.makedirs(parent, exist_ok=True)
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        owner: int | None = None
        with contextlib.suppress(OSError, ValueError):
            with open(lock) as f:
                owner = int(f.read().strip() or "0") or None
        if owner is not None and _pid_alive(owner):
            raise ConcurrentWriteError(
                f"target {base!r} is being rewritten by live pid {owner} "
                f"(lock {lock}); retry after it finishes — concurrent "
                "swap-writers would lose updates"
            ) from None
        # Stale lock from a crashed/unreadable owner: take it over.
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.write(fd, str(os.getpid()).encode())
    os.close(fd)
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock)


def _data_names(base: str) -> set[str]:
    """Names of the data files directly inside the directory ``base``
    (not subdirectories, nor the ``_``/``.`` names Spark skips)."""
    with os.scandir(base) as it:
        return {
            e.name
            for e in it
            if not e.is_dir() and not e.name.startswith(("_", "."))
        }


def _input_paths(df: DataFrame) -> list[str | None]:
    """The files ``df``'s plan reads, from the listings Spark took when
    the plan was built (``inputFiles``, no job): a local path each, or
    None for a file that is not local."""
    out = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        out.append(unquote(u.path) if u.scheme in ("", "file") else None)
    return out


def _names_read(df: DataFrame, base: str) -> set[str]:
    """Names of the files directly inside the local directory ``base``
    that ``df``'s plan reads (:func:`_input_paths`)."""
    root = os.path.realpath(base)
    dirs: dict[str, bool] = {}
    out = set()
    for path in _input_paths(df):
        if path is None:
            continue
        d, name = os.path.split(path)
        if d not in dirs:
            dirs[d] = os.path.realpath(d) == root
        if dirs[d]:
            out.add(name)
    return out


def clustered_writer(
    df: DataFrame, keys: Sequence[str], rows: int
) -> DataFrameWriter:
    """A writer of ``df`` laid out for skipping by ``keys``: each task
    sorts its rows by ``keys`` (``sortWithinPartitions``: no shuffle,
    no job) and cuts them into files of at most ``ceil(rows /
    defaultParallelism)`` rows (the ``maxRecordsPerFile`` option). So
    each file's footer holds one narrow key range, and a later read of
    about ``rows`` rows splits across every core. ``rows`` 0 leaves the
    files uncapped."""
    writer = df.sortWithinPartitions(*keys).write
    if rows > 0:
        par = df.sparkSession.sparkContext.defaultParallelism
        writer = writer.option("maxRecordsPerFile", -(-rows // par))
    return writer


def _footer_rows(paths: Sequence[str]) -> int:
    """Rows in the Parquet files ``paths``, from their footers (pyarrow,
    no job)."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def atomic_overwrite(
    df: DataFrame,
    path: str,
    carried: Sequence[str] = (),
    cluster: Sequence[str] = (),
) -> None:
    """Overwrite ``path`` with ``df`` — plus the ``carried`` data
    files of the current table, kept byte for byte — safely even when
    ``df`` reads from ``path`` (the upsert read-modify-write cycle).

    Plain ``mode("overwrite")`` on the source path would delete the
    files mid-read. Strategy: materialize to a temp sibling, then
    swap directories, all inside an advisory single-writer lock — a
    concurrent writer on the same target fails fast with
    ``ConcurrentWriteError`` instead of silently losing an update.
    The lazy plan's READ of the target runs during the write, inside
    the lock, but its file listing was taken when ``df`` was built.
    Carried files keep their names across swaps, so a stale listing
    can still point at files that exist. Hence, under the lock, the
    files ``df`` reads directly inside ``path`` plus ``carried`` must
    be exactly the target's current data files (when there are any);
    otherwise another writer swapped the target after ``df`` was
    planned, and ``ConcurrentWriteError`` is raised before anything
    is written.

    ``carried`` names files directly inside ``path``. They are
    hard-linked into the temp directory BEFORE Spark writes ``df``
    into it with ``mode("append")``: Spark writes ``_SUCCESS`` only
    when its job commits, and that marker is what
    ``recover_interrupted_swap`` trusts, so a temp holding links but
    no committed write is never promoted. A link needs the temp and
    the target on one filesystem; when one fails, the carried files
    are read back and rewritten with ``df`` (a whole-table rewrite).

    ``cluster`` names key columns to lay the written files out by
    (:func:`clustered_writer`): sorted by those keys within each task,
    and cut at ``ceil(rows / defaultParallelism)`` rows a file, where
    ``rows`` is the footer row count of the target files ``df`` reads
    and so rewrites (every file on a whole-table rewrite). A ``df``
    that reads no target file, such as an insert-only MERGE, gets
    sorted files with no cap.

    Crash-safety: every intermediate state is healable by
    ``recover_interrupted_swap`` and leaves either the old table or
    the complete new one; a crashed writer's stale lock is stolen by
    the next writer. For true multi-writer atomicity use the
    versioned manifest table (``io_backends.ManifestParquetBackend``,
    optimistic commits) — the operator composition in
    operators/upsert.py is format-agnostic, so only this writer
    changes.
    """
    base = path.rstrip("/")
    with _swap_lock(base):
        rewritten = _names_read(df, base)
        planned = rewritten | set(carried)
        if planned and os.path.isdir(base) and planned != _data_names(base):
            raise ConcurrentWriteError(
                f"target {base!r} was swapped by another writer after "
                "this write was planned; re-read the target and retry"
            )
        tmp = os.path.join(
            os.path.dirname(base), f".tmp-{uuid.uuid4().hex}-{os.path.basename(base)}"
        )
        mode = "overwrite"
        if carried:
            try:
                os.makedirs(tmp)
                for name in carried:
                    os.link(os.path.join(base, name), os.path.join(tmp, name))
                mode = "append"
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                kept = [os.path.join(base, name) for name in carried]
                df = df.unionByName(read_parquet(df.sparkSession, base, kept))
                rewritten = planned
        writer = df.write
        if cluster:
            rows = _footer_rows([os.path.join(base, n) for n in rewritten])
            writer = clustered_writer(df, cluster, rows)
        writer.mode(mode).parquet(tmp)
        old = tmp + ".old"
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        if os.path.exists(old):
            shutil.rmtree(old)


def recover_interrupted_swap(path: str) -> str:
    """Heal a target directory after a writer crashed anywhere inside
    ``atomic_overwrite``. Returns the action taken:

    - ``"clean"`` — target present, no debris.
    - ``"cleaned"`` — target present; stale tmp/old siblings removed.
    - ``"completed"`` — target missing but a FULLY WRITTEN tmp
      (Spark's ``_SUCCESS`` marker) existed: the interrupted swap is
      finished by promoting it (the merge result is not lost).
    - ``"rolled_back"`` — target missing, no complete tmp, but the
      pre-swap snapshot (``.old``) existed: restored; re-running the
      (idempotent, keyed) merge reproduces the lost update.
    - ``"missing"`` — nothing restorable (partial tmps removed).

    Call at writer startup, after taking over a stale lock, or from
    an orchestrator's recovery path.
    """
    base = path.rstrip("/")
    parent, name = os.path.dirname(base) or ".", os.path.basename(base)
    olds = glob.glob(os.path.join(parent, f".tmp-*-{name}.old"))
    tmps = [
        p
        for p in glob.glob(os.path.join(parent, f".tmp-*-{name}"))
        if not p.endswith(".old")
    ]
    if os.path.exists(base):
        for p in olds + tmps:
            shutil.rmtree(p, ignore_errors=True)
        return "cleaned" if (olds or tmps) else "clean"
    complete = sorted(
        (p for p in tmps if os.path.exists(os.path.join(p, "_SUCCESS"))),
        key=os.path.getmtime,
    )
    if complete:
        os.rename(complete[-1], base)
        for p in olds + tmps:
            if p != complete[-1]:
                shutil.rmtree(p, ignore_errors=True)
        return "completed"
    if olds:
        newest = max(olds, key=os.path.getmtime)
        os.rename(newest, base)
        for p in olds + tmps:
            if p != newest:
                shutil.rmtree(p, ignore_errors=True)
        return "rolled_back"
    for p in tmps:
        shutil.rmtree(p, ignore_errors=True)
    return "missing"


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    *bucket_cols: str,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a BUCKETED (and by default sorted) parquet
    table in the session catalog — the co-location contract that
    removes the shuffle from every subsequent equi-join or
    aggregation on the bucket columns.

    At 100 TB this is the difference between re-shuffling a fact
    table on every join against it and shuffling it ONCE at write
    time: two tables bucketed by the same columns into the same
    bucket count join with zero Exchange in the plan (asserted by
    ``tests/test_bucketed.py``), and sorting within buckets lets
    SortMergeJoin skip its sort. Spark's bucketing is hash(pmod)
    based and stable across writes, so incremental loads land in the
    right bucket files.

    Uses ``saveAsTable`` because bucket metadata lives in the
    catalog, not the parquet footers — path-based ``spark.read
    .parquet`` of the same files would NOT see the bucketing."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not bucket_cols:
        raise ValueError("at least one bucket column required")
    w = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort:
        w = w.sortBy(*bucket_cols)
    w.saveAsTable(table)

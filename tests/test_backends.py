"""Pluggable table-format backends (io_backends): the parquet swap
path end-to-end, backend routing through run_feed, and the
manifest tier (reference parity: the reference's MERGE is atomic
inside BigQuery, pipeline/data_pipeline.py:155-216 —
ManifestParquetBackend is the engine's transaction-logged
equivalent)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from dish_data_pipeline_spark.io_backends import (
    CARRY_FILES_PER_CORE,
    ManifestParquetBackend,
    ParquetSwapBackend,
    get_backend,
)
from dish_data_pipeline_spark.operators.upsert import upsert_keep_latest
from dish_data_pipeline_spark.pipeline import FeedConfig, run_feed
from tests.test_pipeline import FEED, visits_server


def test_parquet_backend_matches_upsert_keep_latest(spark, tmp_path):
    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    tgt = spark.createDataFrame(
        [Row(k="a", v=1, ts=1), Row(k="b", v=2, ts=1)]
    )
    stg = spark.createDataFrame(
        [
            Row(k="a", v=10, ts=2),
            Row(k="a", v=5, ts=1),  # stale duplicate — keep-latest drops it
            Row(k="c", v=30, ts=2),
        ]
    )
    assert not be.exists(spark, path)
    be.create(tgt, path)
    assert be.exists(spark, path)
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")

    got = sorted(map(tuple, be.read(spark, path).select("k", "v", "ts").collect()))
    want = sorted(
        map(
            tuple,
            upsert_keep_latest(tgt, stg, ["k"], "ts")
            .select("k", "v", "ts")
            .collect(),
        )
    )
    assert got == want == [("a", 10, 2), ("b", 2, 1), ("c", 30, 2)]


class _RecordingBackend(ParquetSwapBackend):
    """Parquet semantics + a call log, to prove run_feed routes every
    target-table touch through the backend protocol."""

    def __init__(self) -> None:
        self.calls: list[str] = []

    def exists(self, spark, path):
        self.calls.append("exists")
        return super().exists(spark, path)

    def create(self, df, path):
        self.calls.append("create")
        super().create(df, path)

    def merge_keep_latest(self, spark, path, staging, keys, ts_col, tiebreakers=()):
        self.calls.append("merge")
        super().merge_keep_latest(spark, path, staging, keys, ts_col, tiebreakers)


def test_run_feed_routes_through_backend(spark, tmp_path):
    wh = str(tmp_path / "wh")
    be = _RecordingBackend()
    r1 = run_feed(
        spark, FEED, "http://x", wh, http_get=visits_server(), backend=be
    )
    assert r1.status == "SUCCESS"
    assert be.calls == ["exists", "create"]
    r2 = run_feed(
        spark, FEED, "http://x", wh, http_get=visits_server(), backend=be
    )
    assert r2.status == "SUCCESS"
    assert be.calls == ["exists", "create", "exists", "merge"]


def test_get_backend_names():
    assert isinstance(get_backend("parquet"), ParquetSwapBackend)
    assert isinstance(get_backend("manifest"), ManifestParquetBackend)
    for gone in ("bigquery", "delta", "iceberg"):
        with pytest.raises(
            ValueError,
            match=r"unknown table backend .*\['manifest', 'parquet'\]",
        ):
            get_backend(gone)


# --- single-writer enforcement + crash recovery (round 5) ---------
# The reference's MERGE is atomic inside BigQuery; the parquet tier
# can't be multi-writer, but its single-writer scope is now ENFORCED
# (advisory lock) and every crash point inside the swap is healable.


def _mk(spark, rows):
    return spark.createDataFrame([Row(k=k, v=v, ts=t) for k, v, t in rows])


def test_concurrent_writer_fails_fast_not_lost_update(spark, tmp_path):
    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    be.create(_mk(spark, [("a", 1, 1)]), path)

    # writer A holds the lock (live pid = this process)
    lock = path + ".lock"
    with open(lock, "w") as f:
        f.write(str(__import__("os").getpid()))
    with pytest.raises(dio.ConcurrentWriteError, match="live pid"):
        be.merge_keep_latest(spark, path, _mk(spark, [("a", 99, 2)]), ["k"], "ts")
    # target untouched by the refused writer
    assert sorted(map(tuple, be.read(spark, path).collect())) == [("a", 1, 1)]

    __import__("os").remove(lock)
    be.merge_keep_latest(spark, path, _mk(spark, [("a", 99, 2)]), ["k"], "ts")
    assert sorted(map(tuple, be.read(spark, path).collect())) == [("a", 99, 2)]


def test_stale_lock_from_dead_writer_is_stolen(spark, tmp_path):
    import subprocess

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    be.create(_mk(spark, [("a", 1, 1)]), path)

    proc = subprocess.Popen(["true"])
    proc.wait()  # pid now dead
    with open(path + ".lock", "w") as f:
        f.write(str(proc.pid))
    be.merge_keep_latest(spark, path, _mk(spark, [("b", 2, 2)]), ["k"], "ts")
    assert sorted(map(tuple, be.read(spark, path).collect())) == [
        ("a", 1, 1),
        ("b", 2, 2),
    ]
    # garbage lock content is also treated as stale
    with open(path + ".lock", "w") as f:
        f.write("not-a-pid")
    be.merge_keep_latest(spark, path, _mk(spark, [("c", 3, 3)]), ["k"], "ts")
    assert len(be.read(spark, path).collect()) == 3


def test_crash_between_renames_recovers_completed_merge(spark, tmp_path, monkeypatch):
    import os as _os

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    be.create(_mk(spark, [("a", 1, 1)]), path)

    # crash AFTER path->old, BEFORE tmp->path: target dir is missing
    real_rename = _os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        real_rename(src, dst)
        if not _os.path.basename(dst).startswith(".tmp-"):
            return
        if dst.endswith(".old"):
            calls["n"] += 1
            raise OSError("simulated crash between the rename pair")

    monkeypatch.setattr(dio.os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        be.merge_keep_latest(spark, path, _mk(spark, [("a", 9, 2)]), ["k"], "ts")
    monkeypatch.undo()
    assert calls["n"] == 1 and not _os.path.exists(path)

    # the tmp was fully written (_SUCCESS) -> recovery COMPLETES the
    # interrupted swap; the merge result is not lost
    assert dio.recover_interrupted_swap(path) == "completed"
    assert sorted(map(tuple, be.read(spark, path).collect())) == [("a", 9, 2)]
    assert dio.recover_interrupted_swap(path) == "clean"
    # stale lock from the "crashed" writer must not block the next one
    be.merge_keep_latest(spark, path, _mk(spark, [("b", 2, 3)]), ["k"], "ts")
    assert len(be.read(spark, path).collect()) == 2


def test_crash_during_write_rolls_back_cleanly(spark, tmp_path):
    import os as _os
    import shutil as _shutil

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    be.create(_mk(spark, [("a", 1, 1)]), path)

    # a partial tmp (no _SUCCESS) from a writer that died mid-write
    partial = str(tmp_path / f".tmp-deadbeef-{_os.path.basename(path)}")
    _os.makedirs(partial)
    with open(_os.path.join(partial, "part-0.parquet"), "wb") as f:
        f.write(b"torn")
    assert dio.recover_interrupted_swap(path) == "cleaned"
    assert not _os.path.exists(partial)
    assert sorted(map(tuple, be.read(spark, path).collect())) == [("a", 1, 1)]

    # target missing + only a partial tmp -> nothing restorable
    _os.makedirs(partial)
    _shutil.rmtree(path)
    assert dio.recover_interrupted_swap(path) == "missing"
    assert not _os.path.exists(partial)


def test_rollback_when_only_old_snapshot_survives(spark, tmp_path):
    import os as _os
    import shutil as _shutil

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    be.create(_mk(spark, [("a", 1, 1)]), path)
    # simulate: path->old done, tmp lost/partial, writer died
    old = str(tmp_path / f".tmp-cafe-{_os.path.basename(path)}.old")
    _os.rename(path, old)
    partial = str(tmp_path / f".tmp-cafe-{_os.path.basename(path)}")
    _os.makedirs(partial)  # no _SUCCESS -> not promotable
    assert dio.recover_interrupted_swap(path) == "rolled_back"
    assert not _os.path.exists(partial)
    assert sorted(map(tuple, be.read(spark, path).collect())) == [("a", 1, 1)]


# --- file-scoped MERGE on the swap target --------------------------
# A MERGE rewrites only the files whose footer key range a staged key
# can fall in; the others are hard-linked into the new directory.


def _clustered(spark, path):
    """A swap target of 400 rows in ``min(4, defaultParallelism)``
    files, each holding one contiguous range of the string key ``k``;
    returns a copy of its rows that does not read ``path``."""
    n_files = min(4, spark.sparkContext.defaultParallelism)
    df = spark.range(0, 400, 1, n_files).selectExpr(
        "format_string('k%04d', id) AS k", "id AS v", "0L AS ts"
    )
    ParquetSwapBackend().create(df, path)
    return spark.createDataFrame(df.collect(), df.schema)


def _inodes(path):
    """Data file name → inode of the table at ``path``."""
    import os as _os

    return {
        e.name: e.inode()
        for e in _os.scandir(path)
        if not e.name.startswith(("_", "."))
    }


def _sorted_rows(df):
    return sorted(map(tuple, df.select("k", "v", "ts").collect()), key=repr)


def _updates_and_inserts(spark):
    """Updates of keys in the last file (one with a stale duplicate)
    plus keys beyond the target's range."""
    return spark.createDataFrame(
        [Row(k=f"k{i:04d}", v=-i, ts=1) for i in (390, 395, 399, 400, 401)]
        + [Row(k="k0395", v=0, ts=0)],
        "k string, v bigint, ts bigint",
    )


def test_file_scoped_merge_carries_untouched_files(spark, tmp_path):
    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    before = _clustered(spark, path)
    old = _inodes(path)
    last = max(old, key=lambda n: _key_max(path, n))  # holds k0399
    stg = _updates_and_inserts(spark)
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")

    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(
        upsert_keep_latest(before, stg, ["k"], "ts")
    )
    new = _inodes(path)
    carried = {n for n, ino in new.items() if old.get(n) == ino}
    assert carried == set(old) - {last}  # linked, not rewritten
    assert last not in new


def _key_max(path, name):
    import os as _os

    from dish_data_pipeline_spark.io_backends import _footer_min_max

    return _footer_min_max(_os.path.join(path, name), ["k"])["k"][1]


@pytest.mark.parametrize("fault", ["type_drift", "link_fails"])
def test_file_scoped_merge_falls_back_to_whole_rewrite(
    spark, tmp_path, monkeypatch, fault
):
    """A batch whose column types differ from the target's, or a
    filesystem that refuses hard links, gets the whole-table rewrite:
    today's result, no file carried, no temp left behind."""
    import os as _os

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    before = _clustered(spark, path)
    old = _inodes(path)
    stg = _updates_and_inserts(spark)
    if fault == "type_drift":
        stg = stg.selectExpr("k", "CAST(v AS string) AS v", "ts")
    else:
        def no_link(src, dst):
            raise OSError(18, "Invalid cross-device link")

        monkeypatch.setattr(dio.os, "link", no_link)
    want = upsert_keep_latest(before, stg, ["k"], "ts")
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")
    monkeypatch.undo()

    got = be.read(spark, path)
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want)
    assert not set(_inodes(path).values()) & set(old.values())
    assert not [d for d in _os.listdir(tmp_path) if d.startswith(".tmp-")]


def test_null_staged_keys_insert_and_carry_every_file(spark, tmp_path):
    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    before = _clustered(spark, path)
    old = _inodes(path)
    stg = spark.createDataFrame(
        [Row(k=None, v=7, ts=1)], "k string, v bigint, ts bigint"
    )
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")

    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(
        upsert_keep_latest(before, stg, ["k"], "ts")
    )
    new = _inodes(path)
    assert {n: new[n] for n in old} == old  # all carried
    assert len(new) > len(old)  # plus the inserted row's file


def test_crash_after_links_before_commit_leaves_old_target(
    spark, tmp_path, monkeypatch
):
    """The carried links go into the temp directory before Spark
    writes there; a writer dying before its job commits leaves a temp
    without ``_SUCCESS``, which recovery discards."""
    import os as _os

    from pyspark.sql.readwriter import DataFrameWriter

    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    before = _clustered(spark, path)
    old = _inodes(path)
    stg = _updates_and_inserts(spark)

    def crash(self, out, *a, **kw):
        raise RuntimeError("simulated crash before the write commits")

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        be.merge_keep_latest(spark, path, stg, ["k"], "ts")
    monkeypatch.undo()

    (tmp,) = [d for d in _os.listdir(tmp_path) if d.startswith(".tmp-")]
    linked = _inodes(str(tmp_path / tmp))
    assert linked and set(linked.values()) < set(old.values())
    assert not _os.path.exists(tmp_path / tmp / "_SUCCESS")
    assert _inodes(path) == old
    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(before)

    assert dio.recover_interrupted_swap(path) == "cleaned"
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")
    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(
        upsert_keep_latest(before, stg, ["k"], "ts")
    )


@pytest.mark.parametrize("batch", ["insert_only", "every_file"])
def test_merge_planned_before_another_swap_raises(
    spark, tmp_path, monkeypatch, batch
):
    """Another writer's insert-only MERGE, which carries every file,
    swaps the target after this MERGE listed it and before it takes
    the lock. Every file the stale plan names still exists, so only
    the listing check under the lock keeps the other writer's row:
    this MERGE raises and writes nothing, on the carrying path and on
    the whole-table rewrite."""
    from dish_data_pipeline_spark import io as dio

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    before = _clustered(spark, path)
    old = _inodes(path)
    schema = "k string, v bigint, ts bigint"
    other = spark.createDataFrame([Row(k="z1", v=1, ts=1)], schema)
    keys = ["z2"] if batch == "insert_only" else ["k0000", "k0399"]
    stg = spark.createDataFrame([Row(k=k, v=2, ts=1) for k in keys], schema)
    split = ParquetSwapBackend._split

    def racing_split(*args):
        out = split(*args)
        monkeypatch.setattr(ParquetSwapBackend, "_split", staticmethod(split))
        be.merge_keep_latest(spark, path, other, ["k"], "ts")
        return out

    monkeypatch.setattr(
        ParquetSwapBackend, "_split", staticmethod(racing_split)
    )
    with pytest.raises(dio.ConcurrentWriteError, match="swapped"):
        be.merge_keep_latest(spark, path, stg, ["k"], "ts")

    assert set(old.items()) < set(_inodes(path).items())  # all carried
    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(
        upsert_keep_latest(before, other, ["k"], "ts")
    )


@pytest.mark.parametrize("key_type", ["string", "bigint"])
@pytest.mark.parametrize("case", ["values", "some_null", "empty", "all_null"])
def test_staged_range_from_footers_equals_aggregate(
    spark, tmp_path, key_type, case
):
    """The staged key range folded from a bare staging scan's footers
    equals the min/max aggregate's and runs no job; all-null staging
    leaves the range to the aggregate, and so does any other frame."""
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark import io as dio
    from dish_data_pipeline_spark.io_backends import _footer_range, _staged_range
    from tests.test_job_budgets import spark_jobs

    files_ids = {  # the keys of each staging file
        "values": [[5, 17], [], [3, 11, 8]],
        "some_null": [[5, None], [None, 17, 2]],
        "empty": [[]],
        "all_null": [[None], [None]],
    }[case]
    path = str(tmp_path / "staging")
    for ids in files_ids:
        keys = [
            i if i is None or key_type == "bigint" else f"k{i:03d}" for i in ids
        ]
        df = spark.createDataFrame([(k, 1) for k in keys], f"k {key_type}, v int")
        df.coalesce(1).write.mode("append").parquet(path)
    staged = dio.read_parquet(spark, path)
    want = staged.agg(F.min("k"), F.max("k")).first()

    got, jobs = spark_jobs(spark, lambda: _staged_range(staged, ["k"]))
    assert got == [tuple(want)]
    files = dio.bare_parquet_files(staged)
    assert files
    if case == "all_null":
        assert _footer_range(files, ["k"]) is None
    else:
        assert _footer_range(files, ["k"]) == [tuple(want)] and jobs == 0
    assert dio.bare_parquet_files(staged.where("v = 1")) is None
    assert dio.bare_parquet_files(staged.select("k")) is None


def test_insert_only_merges_keep_the_file_count_bounded(spark, tmp_path):
    """Insert-only batches touch no file, so without a bound every
    MERGE would add files; the largest ``CARRY_FILES_PER_CORE ×
    defaultParallelism`` are carried and the rest are rewritten with
    the batch. The rewrite's row cap cuts it into about
    ``defaultParallelism`` files, plus one per writing task."""
    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    rows = _sorted_rows(_clustered(spark, path))
    par = spark.sparkContext.defaultParallelism
    cap = CARRY_FILES_PER_CORE * par
    for i in range(cap + 4):
        batch = [Row(k=f"n{i:03d}{j}", v=i, ts=1) for j in range(3)]
        old = _inodes(path)
        be.merge_keep_latest(
            spark, path, spark.createDataFrame(batch), ["k"], "ts"
        )
        new = _inodes(path)
        assert len({n for n, ino in new.items() if old.get(n) == ino}) <= cap
        assert len(new) <= cap + 2 * par
        rows = sorted(rows + [tuple(r) for r in batch], key=repr)
        assert _sorted_rows(be.read(spark, path)) == rows


def _footer_rows_and_ranges(path):
    """Data file name → (rows, [min k, max k]) from the footers."""
    import os as _os

    import pyarrow.parquet as pq

    from dish_data_pipeline_spark.io_backends import _footer_min_max

    out = {}
    for name in _inodes(path):
        f = _os.path.join(path, name)
        out[name] = (pq.read_metadata(f).num_rows, _footer_min_max(f, ["k"])["k"])
    return out


def test_rewrite_is_key_clustered_in_footer_sized_files(spark, tmp_path):
    """A MERGE that rewrites a one-file target writes files of at most
    ``ceil(rows / defaultParallelism)`` rows, each task's files in
    disjoint key ranges; a second MERGE inside one file's range
    rewrites only the files whose range it overlaps."""
    import math
    import re

    from pyspark.sql import functions as F

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    n = 4000
    # one file, keys in hashed (unsorted) order
    df = spark.range(n).selectExpr(
        "format_string('k%04d', id) AS k", "id AS v", "0L AS ts"
    ).orderBy(F.xxhash64("v")).coalesce(1)
    be.create(df, path)
    before = spark.createDataFrame(df.collect(), df.schema)
    assert len(_inodes(path)) == 1
    stg = spark.createDataFrame(
        [Row(k=f"k{i:04d}", v=-i, ts=1) for i in range(0, n + 40, 97)],
        "k string, v bigint, ts bigint",
    )
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")

    want = upsert_keep_latest(before, stg, ["k"], "ts")
    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(want)
    files = _footer_rows_and_ranges(path)
    limit = math.ceil(n / spark.sparkContext.defaultParallelism)
    assert len(files) > 1
    assert all(rows <= limit for rows, _ in files.values())
    by_task: dict[str, list] = {}
    for name, (_, rng) in files.items():
        task, part = re.match(r"part-(\d+)-.*-c(\d+)", name).groups()
        by_task.setdefault(task, []).append((int(part), rng))
    for ranges in by_task.values():
        ranges = [rng for _, rng in sorted(ranges)]
        assert all(a[1] < b[0] for a, b in zip(ranges, ranges[1:])), ranges

    # keys inside the range of one file of the target's task: only the
    # files overlapping it (the batch's own file among them) go
    lo, hi = sorted(rng for _, rng in max(by_task.values(), key=len))[1]
    inside = sorted(
        r.k for r in be.read(spark, path).where(F.col("k").between(lo, hi))
        .select("k").collect()
    )[::50]
    stg2 = spark.createDataFrame(
        [Row(k=k, v=7, ts=2) for k in inside], "k string, v bigint, ts bigint"
    )
    old = _inodes(path)
    be.merge_keep_latest(spark, path, stg2, ["k"], "ts")
    new = _inodes(path)
    overlapping = {
        name for name, (_, (a, b)) in files.items()
        if not (b < min(inside) or a > max(inside))
    }
    assert set(old) - overlapping  # some file is skipped
    assert {n for n, ino in new.items() if old.get(n) == ino} == (
        set(old) - overlapping
    )
    assert _sorted_rows(be.read(spark, path)) == _sorted_rows(
        upsert_keep_latest(want, stg2, ["k"], "ts")
    )


def test_update_heavy_merges_carry_every_untouched_file(spark, tmp_path):
    """Feed-shaped MERGEs (updates of the newest tenth of the keys plus
    as many inserts beyond them) carry every file outside the staged
    key range, and the file count stops growing."""
    import random

    path = str(tmp_path / "tgt")
    be = ParquetSwapBackend()
    n, batch = 8000, 20
    be.create(
        spark.range(0, n, 1, 4).selectExpr(
            "format_string('k%05d', id) AS k", "id AS v", "0L AS ts"
        ),
        path,
    )
    rows = {f"k{i:05d}": (i, 0) for i in range(n)}
    rng = random.Random(7)
    nxt, counts = n, []
    for op in range(1, 9):
        keys = rng.sample(range(n * 9 // 10, n), batch)
        keys += range(nxt, nxt + batch)
        nxt += batch
        staged = {f"k{i:05d}": (-i, op) for i in keys}
        stg = spark.createDataFrame(
            [Row(k=k, v=v, ts=ts) for k, (v, ts) in staged.items()],
            "k string, v bigint, ts bigint",
        )
        lo, hi = min(staged), max(staged)
        old = _footer_rows_and_ranges(path)
        inodes = _inodes(path)
        be.merge_keep_latest(spark, path, stg, ["k"], "ts")
        untouched = {
            name for name, (_, (a, b)) in old.items() if b < lo or a > hi
        }
        new = _inodes(path)
        assert {name for name in untouched if new.get(name) == inodes[name]} == (
            untouched
        )
        rows.update(staged)
        counts.append(len(new))
    assert sorted((k, v, ts) for k, (v, ts) in rows.items()) == _sorted_rows(
        be.read(spark, path)
    )
    assert max(counts[4:]) <= max(counts[:4]), counts


# --- ManifestParquetBackend (the executable transactional tier) ----

def _rows(be, spark, path, version=None):
    return sorted(
        map(tuple, be.read(spark, path, version).select("k", "v", "ts").collect())
    )


def test_manifest_backend_merge_and_time_travel(spark, tmp_path):
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "tgt")
    be = ManifestParquetBackend()
    assert not be.exists(spark, path)
    be.create(
        spark.createDataFrame([Row(k="a", v=1, ts=1), Row(k="b", v=2, ts=1)]),
        path,
    )
    assert be.exists(spark, path)
    assert be.latest_version(path) == 0

    stg = spark.createDataFrame(
        [Row(k="a", v=10, ts=2), Row(k="a", v=5, ts=1), Row(k="c", v=30, ts=2)]
    )
    be.merge_keep_latest(spark, path, stg, ["k"], "ts")
    assert be.latest_version(path) == 1
    assert _rows(be, spark, path) == [("a", 10, 2), ("b", 2, 1), ("c", 30, 2)]
    # time travel: version 0 still readable, bit-for-bit
    assert _rows(be, spark, path, version=0) == [("a", 1, 1), ("b", 2, 1)]

    # matches the pure-operator composition
    want = sorted(
        map(
            tuple,
            upsert_keep_latest(
                be.read(spark, path, version=0), stg, ["k"], "ts"
            ).select("k", "v", "ts").collect(),
        )
    )
    assert _rows(be, spark, path) == want


def test_manifest_backend_create_refuses_existing(spark, tmp_path):
    from dish_data_pipeline_spark.io_backends import (
        CommitConflict, ManifestParquetBackend,
    )

    path = str(tmp_path / "tgt")
    be = ManifestParquetBackend()
    be.create(spark.createDataFrame([Row(k="a", v=1, ts=1)]), path)
    with pytest.raises(CommitConflict, match="already exists"):
        be.create(spark.createDataFrame([Row(k="z", v=9, ts=9)]), path)


def test_manifest_backend_concurrent_merge_serializes(spark, tmp_path):
    """Writer A computes its merge from a stale snapshot; writer B
    commits first. A's commit attempt must LOSE (atomic create-if-
    absent), then its retry recomputes against B's snapshot so both
    updates survive — the update BigQuery/Delta MERGE atomicity
    guarantees and the plain directory swap cannot."""
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "tgt")
    be_a, be_b = ManifestParquetBackend(), ManifestParquetBackend()
    be_a.create(spark.createDataFrame([Row(k="a", v=1, ts=1)]), path)

    raced = {"n": 0}

    def rival_commits_first(attempt):
        if attempt == 0:
            raced["n"] += 1
            be_b.merge_keep_latest(
                spark, path,
                spark.createDataFrame([Row(k="b", v=20, ts=2)]), ["k"], "ts",
            )

    be_a.merge_keep_latest(
        spark, path,
        spark.createDataFrame([Row(k="a", v=100, ts=3)]), ["k"], "ts",
        _pre_commit_hook=rival_commits_first,
    )
    assert raced["n"] == 1
    # v0 create, v1 rival, v2 retried merge — no lost update
    assert be_a.latest_version(path) == 2
    assert _rows(be_a, spark, path) == [("a", 100, 3), ("b", 20, 2)]


def test_manifest_backend_conflict_exhaustion(spark, tmp_path):
    from dish_data_pipeline_spark.io_backends import (
        CommitConflict, ManifestParquetBackend,
    )

    path = str(tmp_path / "tgt")
    be = ManifestParquetBackend(max_retries=1)
    rival = ManifestParquetBackend()
    be.create(spark.createDataFrame([Row(k="a", v=1, ts=1)]), path)

    def rival_always_wins(attempt):
        rival.merge_keep_latest(
            spark, path,
            spark.createDataFrame([Row(k="r", v=attempt, ts=9)]), ["k"], "ts",
        )

    with pytest.raises(CommitConflict, match="commit race"):
        be.merge_keep_latest(
            spark, path,
            spark.createDataFrame([Row(k="a", v=2, ts=2)]), ["k"], "ts",
            _pre_commit_hook=rival_always_wins,
        )


def test_manifest_backend_vacuum_keeps_referenced(spark, tmp_path):
    import os

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "tgt")
    be = ManifestParquetBackend()
    be.create(spark.createDataFrame([Row(k="a", v=1, ts=1)]), path)
    be.merge_keep_latest(
        spark, path, spark.createDataFrame([Row(k="b", v=2, ts=2)]), ["k"], "ts"
    )
    # plant an orphan (a crashed / race-losing writer's leftovers)
    orphan = os.path.join(path, "data", "deadbeefcafe")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").close()

    deleted = be.vacuum(path)
    assert deleted == [os.path.join("data", "deadbeefcafe")]
    # every committed snapshot still reads
    assert _rows(be, spark, path, version=0) == [("a", 1, 1)]
    assert _rows(be, spark, path, version=1) == [("a", 1, 1), ("b", 2, 2)]


def test_manifest_backend_via_run_feed(spark, tmp_path):
    """Backend routing: run_feed(backend='manifest') performs the
    target MERGE through the versioned-manifest tier."""
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    import datetime as dt
    import os

    wh = str(tmp_path / "wh")
    for _ in range(2):  # second run proves idempotent MERGE, new version
        res = run_feed(
            spark, FEED, "http://fake", wh,
            http_get=visits_server(),
            load_date=dt.date(2024, 2, 1),
            backend="manifest",
        )
        assert res.status == "SUCCESS", res.issues
    be = ManifestParquetBackend()
    tgt = os.path.join(wh, "tgt_daily_visits")
    assert be.latest_version(tgt) == 1
    assert be.read(spark, tgt, 0).count() == 8
    assert be.read(spark, tgt, 1).count() == 8


def test_manifest_backend_compact(spark, tmp_path):
    """Compaction rewrites the latest snapshot into fewer files as a
    NEW version (older snapshots untouched), aborts instead of
    clobbering if a writer wins the version race, and vacuum after a
    successful compact drops only the superseded files."""
    import os

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "tgt")
    be = ManifestParquetBackend()
    be.create(
        spark.createDataFrame(
            [Row(k=f"k{i}", v=i, ts=1) for i in range(20)]
        ).repartition(8),
        path,
    )
    n_before = len(be._manifest(path, 0)["files"])
    assert n_before > 1

    v = be.compact(spark, path, target_files=1)
    assert v == 1
    assert len(be._manifest(path, 1)["files"]) == 1
    assert _rows(be, spark, path, 1) == _rows(be, spark, path, 0)

    # losing the race aborts (no stale snapshot over the merge)
    rival = ManifestParquetBackend()
    base = be.latest_version(path)
    df = be.read(spark, path, base).coalesce(1)
    files, schema, _stats = be._write_data(df, path)
    rival.merge_keep_latest(
        spark, path, spark.createDataFrame([Row(k="new", v=99, ts=9)]),
        ["k"], "ts",
    )
    assert not be._try_commit(
        path, base + 1,
        {"version": base + 1, "parent": base, "files": files,
         "schema": schema, "compaction": True},
    )
    assert be.read(spark, path).filter("k = 'new'").count() == 1


# --- delete_where (row-level DELETE with stats-scoped rewrite) ------
def _ranged_table(spark, path, n=100):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    be = ManifestParquetBackend()
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 10 == 0, None)
            .otherwise(F.col("id") % 7)
            .alias("v"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    be.create(df, path, stats_cols=["k"])
    return be


def test_delete_where_carries_unaffected_files(spark, tmp_path):
    path = str(tmp_path / "del1")
    be = _ranged_table(spark, path)
    v0_files = set(be._manifest(path, 0)["files"])
    ver, rewrote, carried = be.delete_where(
        spark, path, "k BETWEEN 10 AND 30", {"k": (10, 30)}
    )
    assert ver == 1 and rewrote >= 1 and carried >= 1
    man1 = be._manifest(path, 1)
    # carried files are the SAME paths (immutable bytes), only
    # overlapping files were replaced
    assert sum(1 for f in man1["files"] if f in v0_files) == carried
    got = sorted(r.k for r in be.read(spark, path).collect())
    assert got == [k for k in range(100) if not (10 <= k <= 30)]
    # stats were recomputed for the rewritten files: the new file
    # set still has footer min/max for every file
    assert set(man1["stats"]) == set(man1["files"])
    # time travel still sees v0 intact
    assert be.read(spark, path, version=0).count() == 100


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    path = str(tmp_path / "del2")
    be = _ranged_table(spark, path)
    # v IS NULL on k % 10 == 0 rows; predicate "v = 3" is NULL there
    # — SQL DELETE semantics: NULL-predicate rows are NOT deleted
    ver, _rw, _c = be.delete_where(spark, path, "v = 3")
    assert ver == 1
    rows = {r.k: r.v for r in be.read(spark, path).collect()}
    assert all(v != 3 for v in rows.values() if v is not None)
    assert all(k in rows for k in range(0, 100, 10))


def test_delete_where_empty_interval_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "del3")
    be = _ranged_table(spark, path)
    v0_files = list(be._manifest(path, 0)["files"])
    ver, rewrote, carried = be.delete_where(
        spark, path, "k BETWEEN 1000 AND 2000", {"k": (1000, 2000)}
    )
    assert ver == 1 and rewrote == 0 and carried == len(v0_files)
    assert be._manifest(path, 1)["files"] == v0_files
    assert be.read(spark, path).count() == 100


# --- append(merge_schema=True): additive schema evolution ----------
def test_append_merge_schema_adds_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "evo1")
    be = ManifestParquetBackend()
    be.create(spark.range(3).select(F.col("id").alias("k")), path)
    v = be.append(
        spark.range(3, 6).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        path,
        merge_schema=True,
    )
    assert v == 1
    cur = be.read(spark, path)
    assert cur.columns == ["k", "tag"]
    rows = {r.k: r.tag for r in cur.collect()}
    # old files surface the new column as NULL; new files carry it
    assert rows == {0: None, 1: None, 2: None, 3: "x", 4: "x", 5: "x"}
    # time travel: v0 keeps its original 1-column schema
    assert be.read(spark, path, version=0).columns == ["k"]


def test_append_merge_schema_tolerates_missing_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "evo2")
    be = ManifestParquetBackend()
    be.create(
        spark.range(2).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        path,
    )
    # batch lacks v entirely — allowed under merge_schema, NULL-filled
    be.append(
        spark.range(2, 4).select(F.col("id").alias("k")),
        path,
        merge_schema=True,
    )
    rows = {r.k: r.v for r in be.read(spark, path).collect()}
    assert rows == {0: 1, 1: 1, 2: None, 3: None}


def test_append_merge_schema_rejects_type_conflict(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "evo3")
    be = ManifestParquetBackend()
    be.create(
        spark.range(2).select(F.col("id").alias("k"), F.lit(1).alias("v")),
        path,
    )
    with pytest.raises(ValueError, match="type conflicts"):
        be.append(
            spark.range(2, 4).select(
                F.col("id").alias("k"), F.lit("s").alias("v")
            ),
            path,
            merge_schema=True,
        )


def test_append_without_merge_schema_still_strict(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "evo4")
    be = ManifestParquetBackend()
    be.create(spark.range(2).select(F.col("id").alias("k")), path)
    with pytest.raises(ValueError, match="merge_schema=True"):
        be.append(
            spark.range(2).select(
                F.col("id").alias("k"), F.lit("x").alias("tag")
            ),
            path,
        )


# --- bloom-filter file skipping -------------------------------------
def _bloom_table(spark, path, bits_per_row=16):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    be = ManifestParquetBackend()
    # clustered on k; u is UNCLUSTERED (shuffled ordering), so k-range
    # stats never help a u point lookup — only the bloom can
    df = spark.range(400).select(
        F.col("id").alias("k"),
        (F.col("id") * 2654435761 % 1000).alias("u"),
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    be.create(
        df, path, stats_cols=["k"], bloom_cols=["u"],
        bloom_bits_per_row=bits_per_row,
    )
    return be


def test_bloom_prunes_point_lookup(spark, tmp_path):
    path = str(tmp_path / "bl1")
    be = _bloom_table(spark, path)
    # u = 0 exists only for k = 0 (2654435761*0 % 1000) among few ks;
    # find a u value present in exactly one file: probe all
    rows = [(r.k, r.u) for r in be.read(spark, path).collect()]
    from collections import Counter

    file_of_k = {k: k * 4 // 400 for k, _ in rows}  # range partitioner
    files_of_u = {}
    for k, u in rows:
        files_of_u.setdefault(u, set()).add(file_of_k[k])
    one_file_u = next(
        u for u, fs in sorted(files_of_u.items()) if len(fs) == 1
    )
    kept, total = be.prune_files(path, {}, equals={"u": one_file_u})
    assert total == 4 and len(kept) < total
    got = sorted(
        r.k
        for r in be.scan(spark, path, {}, equals={"u": one_file_u})
        .filter(f"u = {one_file_u}")
        .collect()
    )
    want = sorted(k for k, u in rows if u == one_file_u)
    assert got == want


def test_bloom_absent_value_prunes_everything(spark, tmp_path):
    path = str(tmp_path / "bl2")
    be = _bloom_table(spark, path)
    kept, total = be.prune_files(path, {}, equals={"u": 123456789})
    assert total == 4 and kept == []
    assert be.scan(spark, path, {}, equals={"u": 123456789}).count() == 0


def test_bloom_survives_append_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "bl3")
    be = _bloom_table(spark, path)
    be.append(
        spark.range(400, 500).select(
            F.col("id").alias("k"),
            F.lit(777777).cast("bigint").alias("u"),
        ),
        path,
    )
    # new value findable, and only in the appended file(s)
    kept, total = be.prune_files(path, {}, equals={"u": 777777})
    assert 1 <= len(kept) < total
    assert (
        be.scan(spark, path, {}, equals={"u": 777777})
        .filter("u = 777777").count() == 100
    )
    v = be.compact(spark, path, target_files=2)
    assert v >= 0
    # blooms rebuilt for the compacted files: lookup still exact
    assert (
        be.scan(spark, path, {}, equals={"u": 777777})
        .filter("u = 777777").count() == 100
    )


def test_bloom_dense_hex_encoding_roundtrip(spark, tmp_path):
    # tiny bits_per_row saturates the filter into the hex-bitmap
    # branch; membership must still never false-negative
    path = str(tmp_path / "bl4")
    be = _bloom_table(spark, path, bits_per_row=1)
    man = be._manifest(path, 0)
    encodings = {
        ("hex" in e) for f in man["bloom"]["files"].values()
        for e in f.values()
    }
    assert True in encodings  # at least one dense bitmap
    rows = [(r.k, r.u) for r in be.read(spark, path).collect()]
    for _, u in rows[:20]:
        kept, _ = be.prune_files(path, {}, equals={"u": u})
        assert kept  # present values always survive pruning


def test_bloom_nulls_skipped(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "bl5")
    be = ManifestParquetBackend()
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("u"),
    )
    be.create(df, path, bloom_cols=["u"])
    kept, total = be.prune_files(path, {}, equals={"u": 42})
    assert kept  # 42 is even, present
    kept, _ = be.prune_files(path, {}, equals={"u": 43})
    assert kept == []  # odd → NULL, blooms never index NULL


def test_bloom_m_capped_for_large_files(spark, tmp_path):
    """Regression (r8 ADVICE, high): a file with >= 262144 rows at the
    default 16 bits/row used to get m > BLOOM_M_MAX. Build positions
    fold mod BLOOM_M_MAX but probes ran mod m, so (x % 2^22) % m !=
    x % m → false negatives → prune/scan/delete silently dropped the
    file. The cap keeps m a power-of-two divisor of BLOOM_M_MAX."""
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import (
        BLOOM_M_MAX,
        ManifestParquetBackend,
    )

    path = str(tmp_path / "blcap")
    be = ManifestParquetBackend()
    n = 262144 + 7
    df = (
        spark.range(n)
        .repartition(1)
        .select(
            F.col("id").alias("k"),
            (F.col("id") * 2654435761 % 1000000007).alias("u"),
        )
    )
    be.create(df, path, bloom_cols=["u"])
    man = be._manifest(path, 0)
    for entry in man["bloom"]["files"].values():
        assert entry["u"]["m"] <= BLOOM_M_MAX
        assert BLOOM_M_MAX % entry["u"]["m"] == 0
    # no false negatives on a sample of present values
    sample = [r.u for r in be.read(spark, path).limit(50).collect()]
    for u in sample[:10]:
        kept, total = be.prune_files(path, {}, equals={"u": int(u)})
        assert kept, f"present value {u} pruned away (false negative)"


def test_prune_equals_rejects_unsound_types(spark, tmp_path):
    """equals values outside int/str don't share Spark's string cast
    (bool str()s as 'True' vs Spark's 'true'; float/Decimal formatting
    drifts) — must raise instead of silently pruning wrong."""
    import pytest

    path = str(tmp_path / "bltyp")
    be = _bloom_table(spark, path)
    for bad in [True, 1.5, None]:
        with pytest.raises(TypeError):
            be.prune_files(path, {}, equals={"u": bad})
    # int and str still fine
    be.prune_files(path, {}, equals={"u": 7})
    be.prune_files(path, {}, equals={"u": "7"})
    # back-compat: a column the table never bloom-indexed is never
    # hashed, so any value type is a sound keep-all no-op — including
    # on tables with no blooms at all
    kept, total = be.prune_files(path, {}, equals={"k": 1.5})
    assert kept and len(kept) == total
    plain = str(path) + "_nobloom"
    be.create(be.read(spark, path), plain)  # no bloom_cols
    kept, total = be.prune_files(plain, {}, equals={"u": 1.5})
    assert kept and len(kept) == total


# --- txn-idempotent append (exactly-once sink device) ---------------
def test_append_txn_replay_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "txn1")
    be = ManifestParquetBackend()
    be.create(spark.range(5).select(F.col("id").alias("k")), path)
    batch = spark.range(5, 8).select(F.col("id").alias("k"))
    assert be.append(batch, path, txn=("appA", 0)) == 1
    # replay of the same (app, batch): no commit, no duplicate rows
    assert be.append(batch, path, txn=("appA", 0)) is None
    assert be.latest_version(path) == 1
    assert be.read(spark, path).count() == 8
    # a DIFFERENT app's batch 0 is independent
    assert be.append(batch, path, txn=("appB", 0)) == 2
    # lower-than-max batch ids are also covered (monotonic contract)
    assert be.append(batch, path, txn=("appA", 5)) == 3
    assert be.append(batch, path, txn=("appA", 3)) is None


def test_append_txn_survives_compaction(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "txn2")
    be = ManifestParquetBackend()
    be.create(spark.range(4).select(F.col("id").alias("k")), path)
    batch = spark.range(4, 6).select(F.col("id").alias("k"))
    be.append(batch, path, txn=("app", 7))
    assert be.compact(spark, path, target_files=1) == 2
    # the compacted manifest still carries the txn marker
    assert be.append(batch, path, txn=("app", 7)) is None
    assert be.read(spark, path).count() == 6


def test_stream_append_exactly_once_across_replay(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend
    from dish_data_pipeline_spark.streaming.pipeline import (
        stream_append_to_table,
    )

    src = str(tmp_path / "src")
    spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    ).coalesce(1).write.parquet(src)
    table = str(tmp_path / "table")
    be = ManifestParquetBackend()
    be.create(
        spark.createDataFrame([], "k bigint, g bigint"), table
    )
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("k bigint, g bigint").parquet(src)
    q = stream_append_to_table(stream, table, ckpt, app_id="ingest")
    q.awaitTermination(120)
    assert be.read(spark, table).count() == 10
    v_after = be.latest_version(table)
    # full replay with a FRESH checkpoint (same app, batch ids restart
    # at 0 over the same files): markers make every commit a no-op
    shutil.rmtree(ckpt)
    q = stream_append_to_table(stream, table, ckpt, app_id="ingest")
    q.awaitTermination(120)
    assert be.read(spark, table).count() == 10
    assert be.latest_version(table) == v_after
    # a different app_id ingests the same data as NEW rows
    q = stream_append_to_table(
        stream, table, str(tmp_path / "ckpt2"), app_id="other"
    )
    q.awaitTermination(120)
    assert be.read(spark, table).count() == 20


# --- merge txn markers + age-gated vacuum ----------------------------
def test_merge_txn_replay_is_noop(spark, tmp_path, monkeypatch):
    from pyspark.sql import Row

    from dish_data_pipeline_spark import cache_registry
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "mtxn")
    be = ManifestParquetBackend()
    be.create(spark.createDataFrame([Row(k="a", v=1, ts=1)]), path)
    stg = spark.createDataFrame([Row(k="a", v=10, ts=2), Row(k="b", v=2, ts=2)])
    assert be.merge_keep_latest(
        spark, path, stg, ["k"], "ts", txn=("up", 0)
    ) == 1
    # replay: no recompute, no version — it returns before the
    # keep-latest plan is persisted
    persisted: list[object] = []
    real_persist = cache_registry.tracked_persist

    def counting_persist(df):
        persisted.append(df)
        return real_persist(df)

    monkeypatch.setattr(cache_registry, "tracked_persist", counting_persist)
    assert be.merge_keep_latest(
        spark, path, stg, ["k"], "ts", txn=("up", 0)
    ) is None
    assert persisted == []
    assert be.latest_version(path) == 1
    got = sorted(map(tuple, be.read(spark, path).select("k", "v").collect()))
    assert got == [("a", 10), ("b", 2)]


def test_stream_upsert_exactly_once_versions(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend
    from dish_data_pipeline_spark.streaming.pipeline import (
        stream_upsert_to_table,
    )

    src = str(tmp_path / "src")
    spark.range(6).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v"),
        F.col("id").alias("ts"),
    ).coalesce(1).write.parquet(src)
    table = str(tmp_path / "table")
    be = ManifestParquetBackend()
    be.create(spark.createDataFrame([], "k bigint, v bigint, ts bigint"), table)
    stream = spark.readStream.schema("k bigint, v bigint, ts bigint").parquet(src)
    ck = str(tmp_path / "ck")
    q = stream_upsert_to_table(stream, table, ["k"], "ts", ck, app_id="up")
    q.awaitTermination(120)
    v1 = be.latest_version(table)
    # keep-latest per key: ids 3,4,5 win over 0,1,2
    got = {r.k: r.v for r in be.read(spark, table).collect()}
    assert got == {0: 3, 1: 4, 2: 5}
    shutil.rmtree(ck)
    q = stream_upsert_to_table(stream, table, ["k"], "ts", ck, app_id="up")
    q.awaitTermination(120)
    assert be.latest_version(table) == v1
    assert {r.k: r.v for r in be.read(spark, table).collect()} == got


def test_vacuum_age_window_protects_young_files(spark, tmp_path, monkeypatch):
    import os

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "vac")
    be = ManifestParquetBackend()
    be.create(spark.range(3).select(F.col("id").alias("k")), path)
    # simulate an in-flight writer: materialized files, no manifest yet
    orphan, _schema, _stats = be._write_data(
        spark.range(3).select(F.col("id").alias("k")), path, None
    )
    orphan_dir = os.path.dirname(orphan[0])
    # young orphan survives a windowed vacuum...
    assert be.vacuum(path, min_age_seconds=3600) == []
    assert os.path.isdir(os.path.join(path, orphan_dir))
    # ...but an aged one is reclaimed (backdate the directory mtime)
    old = __import__("time").time() - 7200
    os.utime(os.path.join(path, orphan_dir), (old, old))
    assert be.vacuum(path, min_age_seconds=3600) == [orphan_dir]
    assert not os.path.isdir(os.path.join(path, orphan_dir))
    # committed data untouched
    assert be.read(spark, path).count() == 3


def test_bloom_survives_merge_schema_append_without_column(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "bl_evo")
    be = ManifestParquetBackend()
    be.create(
        spark.range(50).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("u")
        ),
        path,
        bloom_cols=["u"],
    )
    # appended batch LACKS the bloom column entirely (additive
    # evolution in the other direction): must not crash, and the new
    # file's empty bloom soundly prunes every u probe against it
    v = be.append(
        spark.range(50, 60).select(F.col("id").alias("k")),
        path,
        merge_schema=True,
    )
    assert v == 1
    kept, total = be.prune_files(path, {}, equals={"u": 3})
    assert total == be._manifest(path, 1)["files"].__len__()
    # u=3 exists only in v0 files; all appended files pruned
    man = be._manifest(path, 1)
    v0_files = set(be._manifest(path, 0)["files"])
    assert all(f in v0_files for f in kept)
    got = (
        be.scan(spark, path, {}, equals={"u": 3}).filter("u = 3").count()
    )
    assert got == spark.range(50).filter("id % 7 = 3").count()


def test_delete_where_bloom_scoped_forget_user(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "forget")
    be = ManifestParquetBackend()
    # clustered on k, user u unclustered; bloom on u
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2654435761 % 997).alias("u")
    ).repartitionByRange(4, "k").sortWithinPartitions("k")
    be.create(df, path, stats_cols=["k"], bloom_cols=["u"])
    # pick a user present in exactly one file
    rows = [(r.k, r.u) for r in be.read(spark, path).collect()]
    files_of_u = {}
    for k, u in rows:
        files_of_u.setdefault(u, set()).add(k * 4 // 400)
    victim = next(u for u, fs in sorted(files_of_u.items()) if len(fs) == 1)
    ver, rewrote, carried = be.delete_where(
        spark, path, f"u = {victim}", equals={"u": victim}
    )
    assert ver == 1 and rewrote >= 1 and carried >= 1
    assert rewrote + carried >= 4  # bloom scoped the rewrite
    left = be.read(spark, path)
    assert left.filter(f"u = {victim}").count() == 0
    assert left.count() == 400 - sum(1 for _, u in rows if u == victim)


# --- restore (metadata-only rollback) + history ----------------------
def test_restore_rolls_back_without_rewrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "restore1")
    be = ManifestParquetBackend()
    be.create(spark.range(10).select(F.col("id").alias("k")), path)
    be.append(spark.range(10, 15).select(F.col("id").alias("k")), path)
    be.delete_where(spark, path, "k < 5")
    assert be.read(spark, path).count() == 10  # 5..14
    v = be.restore(path, 0)
    assert v == 3
    # restored content == v0, and the manifest REUSES v0's files
    assert sorted(r.k for r in be.read(spark, path).collect()) == list(range(10))
    assert be._manifest(path, 3)["files"] == be._manifest(path, 0)["files"]
    # bad versions remain time-travelable
    assert be.read(spark, path, version=2).count() == 10


def test_restore_carries_txn_markers_from_latest(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "restore2")
    be = ManifestParquetBackend()
    be.create(spark.range(3).select(F.col("id").alias("k")), path)
    batch = spark.range(3, 5).select(F.col("id").alias("k"))
    be.append(batch, path, txn=("app", 0))
    be.restore(path, 0)
    # replayed ingest batch must STILL be a no-op after the rollback
    assert be.append(batch, path, txn=("app", 0)) is None
    assert be.read(spark, path).count() == 3


def test_history_describes_operations(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "hist")
    be = ManifestParquetBackend()
    be.create(spark.range(4).select(F.col("id").alias("k")), path)
    be.append(spark.range(4, 6).select(F.col("id").alias("k")), path)
    be.delete_where(spark, path, "k = 0")
    be.compact(spark, path, target_files=1)
    be.restore(path, 1)
    ops = [h["operation"] for h in be.history(path)]
    assert ops == ["create", "write", "delete(k = 0)", "compact", "restore(v1)"]
    assert [h["version"] for h in be.history(path)] == [0, 1, 2, 3, 4]


# --- metadata-only COUNT(*) ------------------------------------------
def test_count_rows_metadata_only(spark, tmp_path):
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "cnt")
    be = ManifestParquetBackend()
    be.create(spark.range(123).select(F.col("id").alias("k")), path)
    assert be.count_rows(path) == 123
    be.append(spark.range(123, 150).select(F.col("id").alias("k")), path)
    assert be.count_rows(path) == 150
    be.delete_where(spark, path, "k < 10")
    assert be.count_rows(path) == 140
    # time travel counts too
    assert be.count_rows(path, version=0) == 123
    # restore reuses old stats verbatim
    be.restore(path, 0)
    assert be.count_rows(path) == 123


def test_count_rows_falls_back_on_legacy_manifest(spark, tmp_path):
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "legacy")
    be = ManifestParquetBackend()
    be.create(spark.range(5).select(F.col("id").alias("k")), path)
    # simulate a manifest written before the _rows stat existed
    mp = be._manifest_path(path, 0)
    man = _json.load(open(mp))
    for f in man.get("stats", {}):
        man["stats"][f].pop("_rows", None)
    _os.remove(mp)
    with open(mp, "w") as fh:
        _json.dump(man, fh)
    assert be.count_rows(path) is None  # caller falls back to a scan
    assert be.read(spark, path).count() == 5


# --- real concurrency: racing appends serialize without loss ---------
def test_concurrent_appends_all_commit(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "race")
    be = ManifestParquetBackend(max_retries=20)
    be.create(
        spark.createDataFrame([], "w bigint, i bigint"), path
    )

    def writer(w: int) -> None:
        for i in range(4):
            be.append(
                spark.range(1).select(
                    F.lit(w).cast("bigint").alias("w"),
                    F.lit(i).cast("bigint").alias("i"),
                ),
                path,
            )

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(writer, range(4)))

    # every append won SOME version: 16 commits after v0, no losses,
    # no duplicated versions (os.link is the arbiter)
    assert be.latest_version(path) == 16
    rows = sorted((r.w, r.i) for r in be.read(spark, path).collect())
    assert rows == sorted((w, i) for w in range(4) for i in range(4))


def test_concurrent_merge_keep_latest_all_commit(spark, tmp_path):
    """Racing MERGE writers on OVERLAPPING keys serialize: every
    writer's upsert lands in some version, losers re-read and
    re-merge, and the final state is the keep-latest winner per key
    exactly as a serial execution would produce."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "mrace")
    be = ManifestParquetBackend(max_retries=20)
    be.create(
        spark.range(6).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("bigint").alias("ts"),
            F.lit("seed").alias("who"),
        ),
        path,
    )

    def writer(w: int) -> int:
        # each writer touches keys {w, w+1, w+2}: key overlap across
        # writers, so losers MUST re-merge against the winner's
        # snapshot or an update is lost
        staging = spark.createDataFrame(
            [(k, w, f"w{w}") for k in (w, w + 1, w + 2)],
            "k bigint, ts bigint, who string",
        )
        return be.merge_keep_latest(spark, path, staging, ["k"], "ts")

    with ThreadPoolExecutor(max_workers=4) as ex:
        versions = list(ex.map(writer, range(4)))

    # every merge committed its own version, no two alike
    assert sorted(versions) == [1, 2, 3, 4]
    assert be.latest_version(path) == 4
    # serial-equivalent final state for the OBSERVED commit order:
    # MERGE replaces matched keys unconditionally (J1), so key k is
    # owned by the writer that committed LAST among those touching it;
    # seed rows nobody touched survive verbatim
    rows = {r.k: (r.ts, r.who) for r in be.read(spark, path).collect()}
    expect = {k: (-1, "seed") for k in range(6)}
    order = sorted(range(4), key=lambda w: versions[w])
    for w in order:
        for k in (w, w + 1, w + 2):
            expect[k] = (w, f"w{w}")
    assert rows == expect


def test_compact_aborts_when_append_lands_mid_compact(spark, tmp_path):
    """compact() claims abort-on-race: a rival commit landing between
    compact's snapshot read and its commit attempt must make compact
    return -1 and leave the rival's rows as the latest state (a
    committed stale compaction would silently DROP them)."""
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "crace")
    be = ManifestParquetBackend()
    be.create(spark.range(10).select(F.col("id").alias("k")), path)

    rival = ManifestParquetBackend()
    state = {"fired": False}
    orig = be._write_data

    def write_then_rival_appends(df, p, stats_cols):
        out = orig(df, p, stats_cols)
        if not state["fired"]:  # fire once: inside compact's window
            state["fired"] = True
            rival.append(
                spark.range(10, 15).select(F.col("id").alias("k")), p
            )
        return out

    be._write_data = write_then_rival_appends
    assert be.compact(spark, path, target_files=1) == -1
    assert state["fired"]
    # rival's commit (v1 after the v0 create) is the surviving latest
    assert be.latest_version(path) == 1
    assert be.read(spark, path).count() == 15
    # the aborted compaction's orphan files are reclaimable
    be._write_data = orig
    assert be.vacuum(path)
    assert be.read(spark, path).count() == 15


def test_concurrent_compact_and_appends_never_lose_rows(spark, tmp_path):
    """Nondeterministic thread race: appends (retrying) vs repeated
    compactions (abort-on-race). Invariant regardless of interleaving:
    every appended row is present at the end, and every compaction
    either committed a version preserving its parent's rows or
    returned -1."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "carace")
    be = ManifestParquetBackend(max_retries=20)
    be.create(
        spark.createDataFrame([], "w bigint, i bigint"), path
    )

    def appender(w: int) -> None:
        for i in range(3):
            be.append(
                spark.range(1).select(
                    F.lit(w).cast("bigint").alias("w"),
                    F.lit(i).cast("bigint").alias("i"),
                ),
                path,
            )

    compact_results: list[int] = []

    def compactor() -> None:
        for _ in range(3):
            compact_results.append(be.compact(spark, path, target_files=1))

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [ex.submit(appender, w) for w in range(3)]
        futs.append(ex.submit(compactor))
        for f in futs:
            f.result()

    rows = sorted((r.w, r.i) for r in be.read(spark, path).collect())
    assert rows == sorted((w, i) for w in range(3) for i in range(3))
    # 9 appends always commit; each compaction adds a version only when
    # it won its race
    wins = sum(1 for v in compact_results if v != -1)
    assert be.latest_version(path) == 9 + wins


def test_stream_merge_sql_replay_three_batches(spark, tmp_path):
    """Textual MERGE as a streaming sink (round-13): three
    micro-batches drive the reference J2 statement shape through
    merge_into_backend with txn markers; a fresh-checkpoint replay
    commits nothing and the table state is unchanged."""
    import shutil

    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend
    from dish_data_pipeline_spark.streaming.pipeline import (
        stream_merge_sql_to_table,
    )

    src = str(tmp_path / "src")
    # three one-row-group files -> three micro-batches under
    # maxFilesPerTrigger=1; keys repeat across batches so MERGE both
    # updates and inserts
    for i in range(3):
        spark.range(4).select(
            ((F.col("id") + i) % 4).alias("k"),
            (F.col("id") + 10 * i).alias("v"),
            F.lit(i).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)
    table = str(tmp_path / "table")
    be = ManifestParquetBackend()
    be.create(spark.createDataFrame([], "k bigint, v bigint, ts bigint"), table)
    sql = (
        "MERGE `proj.ds.tgt` T USING ("
        " SELECT * EXCEPT(rn) FROM ("
        "  SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC)"
        "  AS rn FROM `proj.ds.stg`) WHERE rn = 1) S "
        "ON T.k = S.k "
        "WHEN MATCHED THEN UPDATE SET T.v = S.v, T.ts = S.ts "
        "WHEN NOT MATCHED THEN INSERT (k, v, ts) VALUES (S.k, S.v, S.ts)"
    )
    stream = spark.readStream.schema("k bigint, v bigint, ts bigint").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    ck = str(tmp_path / "ck")

    def run():
        q = stream_merge_sql_to_table(
            stream, sql, table, ck, app_id="msql"
        )
        q.awaitTermination(120)

    run()
    v1 = be.latest_version(table)
    assert v1 == 3  # create + one MERGE commit per micro-batch
    got = {r.k: (r.v, r.ts) for r in be.read(spark, table).collect()}
    assert set(got) == {0, 1, 2, 3}
    # every key appears in every batch, so keep-latest leaves the
    # final batch's rows: ts=2, v = ((k-2) % 4) + 20
    assert got == {k: (((k - 2) % 4) + 20, 2) for k in range(4)}
    shutil.rmtree(ck)
    run()  # full at-least-once replay, fresh checkpoint
    assert be.latest_version(table) == 3  # txn markers: nothing committed
    assert {r.k: (r.v, r.ts) for r in be.read(spark, table).collect()} == got


def test_stream_merge_sql_rejects_subquery_source(spark, tmp_path):
    from dish_data_pipeline_spark.merge_sql import MergeParseError
    from dish_data_pipeline_spark.streaming.pipeline import (
        stream_merge_sql_to_table,
    )

    import pytest

    with pytest.raises(MergeParseError, match="NAMED USING source"):
        stream_merge_sql_to_table(
            None,
            "MERGE tgt T USING (SELECT 1 AS k) S ON T.k = S.k "
            "WHEN MATCHED THEN DELETE",
            str(tmp_path / "t"),
            str(tmp_path / "ck"),
            app_id="x",
        )


def test_replace_txn_marker_idempotent(spark, tmp_path):
    """replace(txn=...) is the exactly-once device for the GENERIC
    textual-MERGE commit route: a replayed (app, batch) marker
    writes nothing and returns None."""
    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "tbl")
    be = ManifestParquetBackend()
    be.create(spark.range(2).toDF("k"), path)
    assert be.replace(spark.range(3).toDF("k"), path, txn=("a", 0)) == 1
    # replay of the same marker: no new version, content unchanged
    assert be.replace(spark.range(9).toDF("k"), path, txn=("a", 0)) is None
    assert be.latest_version(path) == 1
    assert be.read(spark, path).count() == 3
    # the next batch commits normally
    assert be.replace(spark.range(4).toDF("k"), path, txn=("a", 1)) == 2
    assert be.read(spark, path).count() == 4


def test_update_where_scopes_rewrite_by_stats(spark, tmp_path):
    """update_where rewrites ONLY files whose stats overlap the
    scoping intervals; the rest are carried byte-unchanged into the
    new manifest, rows update exactly once, untouched columns and
    non-matching rows survive."""
    from pyspark.sql import functions as F

    from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

    path = str(tmp_path / "t")
    be = ManifestParquetBackend()
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.lit("keep").alias("note"),
    ).repartitionByRange(3, "k")
    be.create(df, path, stats_cols=["k"])
    man0 = be._manifest(path, 0)
    assert len(man0["files"]) == 3

    v, rewritten, carried = be.update_where(
        spark, path,
        {"v": "v + 1", "note": "'hit'"},
        "k BETWEEN 250 AND 260",
        intervals={"k": (250, 260)},
    )
    assert v == 1
    assert rewritten == 1 and carried == 2  # stats pruned 2 of 3 files
    man1 = be._manifest(path, 1)
    assert len(set(man0["files"]) & set(man1["files"])) == 2  # same files
    rows = {r.k: r for r in be.read(spark, path).collect()}
    assert len(rows) == 300  # row count invariant
    assert rows[255].v == 2551 and rows[255].note == "hit"
    assert rows[100].v == 1000 and rows[100].note == "keep"
    assert rows[261].v == 2610 and rows[261].note == "keep"  # same file, no match
    # unknown column raises before any write
    import pytest

    with pytest.raises(ValueError, match="unknown target columns"):
        be.update_where(spark, path, {"nope": "1"}, "true")
    assert be.latest_version(path) == 1


# --- the shared commit loop: what every commit carries forward ------
def test_stray_log_name_is_not_a_version(spark, tmp_path):
    """A ``v*.json`` in ``_log/`` whose name is not a number is not a
    commit: history, TIMESTAMP AS OF and VACUUM skip it, as
    latest_version does."""
    import os
    import time

    from pyspark.sql import functions as F

    path = str(tmp_path / "stray")
    be = ManifestParquetBackend()
    be.create(spark.range(3).select(F.col("id").alias("k")), path)
    be.append(spark.range(3, 5).select(F.col("id").alias("k")), path)
    with open(os.path.join(be._log_dir(path), "v_notes.json"), "w") as f:
        f.write("{}")
    assert be.latest_version(path) == 1
    assert [h["version"] for h in be.history(path)] == [0, 1]
    assert be.version_at_timestamp(path, time.time()) == 1
    assert be.vacuum(path, min_age_seconds=0) == []
    assert be.read(spark, path).count() == 5


def test_replace_builds_blooms_once_across_a_lost_race(spark, tmp_path):
    """replace() writes its data files and their bloom filters once:
    a lost version race re-links them, it does not rebuild."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "rbloom")
    be = _bloom_table(spark, path)
    rival = ManifestParquetBackend()
    built: list[int] = []
    state = {"fired": False}
    orig_bloom, orig_commit = be._bloom_for_files, be._try_commit

    def counting_bloom(*args):
        built.append(1)
        return orig_bloom(*args)

    def losing_first(path_, version, manifest):
        if not state["fired"]:
            state["fired"] = True
            rival.append(
                spark.range(900, 901).select(
                    F.col("id").alias("k"), F.col("id").alias("u")
                ),
                path_,
            )
        return orig_commit(path_, version, manifest)

    be._bloom_for_files, be._try_commit = counting_bloom, losing_first
    try:
        v = be.replace(
            spark.range(5).select(
                F.col("id").alias("k"), (F.col("id") + 7).alias("u")
            ),
            path,
        )
    finally:
        be._bloom_for_files, be._try_commit = orig_bloom, orig_commit
    assert v == 2  # lost v1 to the rival, committed v2
    assert built == [1]
    man = be._manifest(path, 2)
    assert set(man["bloom"]["files"]) == set(man["files"])


_OPS = {
    "merge_keep_latest": (
        lambda be, spark, p, df: be.merge_keep_latest(
            spark, p, df, ["k"], "ts"
        ),
        "write",
    ),
    "replace": (lambda be, spark, p, df: be.replace(df, p), "write"),
    "append": (lambda be, spark, p, df: be.append(df, p), "write"),
    "compact": (lambda be, spark, p, df: be.compact(spark, p), "compact"),
    "delete_where": (
        lambda be, spark, p, df: be.delete_where(
            spark, p, "k = 1", intervals={"k": (1, 1)}
        )[0],
        "delete(k = 1)",
    ),
    "update_where": (
        lambda be, spark, p, df: be.update_where(
            spark, p, {"x": "'hit'"}, "k = 2", intervals={"k": (2, 2)}
        )[0],
        "update(k = 2)",
    ),
    "restore": (lambda be, spark, p, df: be.restore(p, 0), "restore(v0)"),
    "add_columns": (
        lambda be, spark, p, df: be.add_columns(spark, p, [("extra", "int")]),
        "alter(add_column(extra int))",
    ),
    "drop_column": (
        lambda be, spark, p, df: be.drop_column(p, "x"),
        "alter(drop_column(x))",
    ),
}


@pytest.mark.parametrize("op", sorted(_OPS))
def test_every_commit_carries_table_metadata(spark, tmp_path, op):
    """Whatever the op, a commit names its parent, rolls the txn
    markers forward, keeps the table's stats columns, gives every
    live file a row count and a bloom entry, and names itself in
    the history."""
    from pyspark.sql import functions as F

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 7 % 11).alias("u"),
            F.lit("x").alias("x"),
            F.lit(1).cast("long").alias("ts"),
        )

    path = str(tmp_path / "inv")
    be = ManifestParquetBackend()
    be.create(
        rows(0, 40).repartitionByRange(2, "k"), path,
        stats_cols=["k"], bloom_cols=["u"],
    )
    assert be.append(rows(40, 50), path, txn=("app", 0)) == 1
    run, operation = _OPS[op]
    assert run(be, spark, path, rows(45, 55)) == 2
    man = be._manifest(path, 2)
    assert man["parent"] == 1
    assert man["txns"] == {"app": 0}
    assert man["stats_cols"] == ["k"]
    for f in man["files"]:
        assert "_rows" in man["stats"][f]
        assert "u" in man["bloom"]["files"][f]
    assert be.history(path)[-1]["operation"] == operation

"""Pluggable table-format backends for the target-zone MERGE.

The reference's MERGE runs inside BigQuery and is atomic under
concurrent writers (reference pipeline/data_pipeline.py:155-216).
This engine's default target zone is plain Parquet, where the
equivalent is a read→join→write cycle finished by a directory swap
(io.atomic_overwrite) — crash-safe but single-writer. Where MERGE
must be atomic under several writers, the target is a versioned
manifest table instead.

This module makes that a *backend choice* rather than a rewrite:
the upsert composition (operators/upsert.py) is format-agnostic, so
each backend only decides how a target table is created, read, and
merged into.

- ``ParquetSwapBackend`` (default): the join-based MERGE + directory
  swap. A MERGE rewrites only the files whose footer key range a
  staged key can fall in and hard-links the rest into the new
  directory (a whole-table rewrite where it cannot prune or link).
  Works anywhere Spark can list files; single-writer scope is
  documented on io.atomic_overwrite.
- ``ManifestParquetBackend``: pure-Parquet versioned-manifest table —
  immutable data files plus a ``_log/`` of JSON commit manifests,
  committed by atomic create-if-absent (``os.link``). Readers only
  ever see a committed manifest (snapshot isolation + time travel);
  writers use optimistic concurrency with recompute-on-conflict, so
  concurrent MERGEs serialize instead of losing updates. This is the
  minimal shape of the Delta/Iceberg commit protocol (Armbrust et
  al., "Delta Lake: High-Performance ACID Table Storage", VLDB 2020)
  with zero optional dependencies — the tier that makes the
  reference's BigQuery-MERGE atomicity (reference
  pipeline/data_pipeline.py:155-216) executable on any POSIX
  filesystem. Scope: atomic create-if-absent needs ``os.link``
  semantics (POSIX / HDFS-style), not S3.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

from dish_data_pipeline_spark import io as dio
from dish_data_pipeline_spark.operators.dedup import keep_latest
from dish_data_pipeline_spark.operators.upsert import upsert


class TableBackend(Protocol):
    """What the pipeline needs from a target-table format."""

    name: str

    def exists(self, spark: SparkSession, path: str) -> bool: ...

    def read(self, spark: SparkSession, path: str) -> DataFrame: ...

    def create(self, df: DataFrame, path: str) -> None: ...

    def replace(self, df: DataFrame, path: str) -> None:
        """Atomically replace the table's contents with ``df`` (the
        commit primitive for a pre-composed MERGE result — the
        textual ``merge_sql`` surface's generic path)."""
        ...

    def merge_keep_latest(
        self,
        spark: SparkSession,
        path: str,
        staging: DataFrame,
        keys: Sequence[str],
        ts_col: str,
        tiebreakers: Sequence[str] = (),
    ) -> None:
        """MERGE staging into the table at ``path``: staging is first
        deduped keep-latest per key (W1), then matched target rows are
        replaced and unmatched staging rows inserted (J2)."""
        ...


#: Untouched target files a ``ParquetSwapBackend`` MERGE carries, per
#: core of ``defaultParallelism``; the rest join the rewrite. It bounds
#: the file count under insert-only feeds, and leaves room for the
#: key-clustered files a rewrite leaves behind.
CARRY_FILES_PER_CORE = 4


class ParquetSwapBackend:
    """Join-based MERGE on plain Parquet, finished by a directory
    swap. Catalyst broadcasts the (small) staging side, so the target
    is never shuffled; the swap is crash-safe but single-writer
    (io.atomic_overwrite docstring).

    A MERGE rewrites only the target files a staged key can match and
    carries the others into the new directory by hard link
    (:meth:`_split`): per-file key min/max from the Parquet footers,
    read by pyarrow with no Spark job, pruned by the manifest tier's rule
    (:func:`_prune`) against the staged key range, which also comes
    from footers when the staging frame is a bare Parquet scan. Up to
    ``CARRY_FILES_PER_CORE × defaultParallelism`` untouched files are
    carried, the largest first. The rewritten rows are written sorted
    by the merge keys, in files of at most
    ``ceil(rows / defaultParallelism)`` rows (``io.clustered_writer``),
    so the next batch reads them in parallel and skips the files
    outside its key range."""

    name = "parquet"

    def exists(self, spark: SparkSession, path: str) -> bool:
        return os.path.exists(path)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        return dio.read_parquet(spark, path)

    def create(self, df: DataFrame, path: str) -> None:
        dio.write_staging(df, path)

    def replace(self, df: DataFrame, path: str) -> None:
        dio.atomic_overwrite(df, path)

    def merge_keep_latest(
        self,
        spark: SparkSession,
        path: str,
        staging: DataFrame,
        keys: Sequence[str],
        ts_col: str,
        tiebreakers: Sequence[str] = (),
    ) -> None:
        target = self.read(spark, path)
        deduped = keep_latest(staging, keys, ts_col, tiebreakers)
        carried, rewrite = self._split(spark, path, target, staging, keys)
        if not carried:
            new = upsert(target, deduped, keys)
        elif rewrite:
            new = upsert(dio.read_parquet(spark, path, rewrite), deduped, keys)
        else:
            new = deduped.select(*target.columns)
        dio.atomic_overwrite(new, path, carried, cluster=keys)

    @staticmethod
    def _split(
        spark: SparkSession,
        path: str,
        target: DataFrame,
        staging: DataFrame,
        keys: Sequence[str],
    ) -> tuple[list[str], list[str]]:
        """(names of the target files the MERGE carries unchanged,
        paths of the ones it rewrites); ``([], [])`` means a
        whole-table rewrite.

        No carried file holds a row whose keys can equal a staged
        row's: its footer min/max lies outside the staged range of a
        string or integer key, or every staged value of a key is null
        (nulls never equi-join). The footers are read by pyarrow, with
        no job, and so is the staged range when ``staging`` is a bare
        Parquet scan such as ``run_feed``'s staging re-read
        (:func:`_staged_range`); any other frame costs one small
        aggregate. At most ``CARRY_FILES_PER_CORE × defaultParallelism``
        files are carried, the largest first, so the file count stays
        bounded under insert-only feeds; the other untouched files join
        the rewrite.

        Nothing is carried when the staged column types differ from
        the target's (a union would retype a column the carried files
        keep), when the target is not a flat directory (a single file,
        or partitioned), or when no key column can prune."""

        def shape(df: DataFrame) -> list[tuple]:
            return [(f.name, f.dataType) for f in df.schema.fields]

        types = dict(shape(target))
        cols = [
            k for k in keys if isinstance(types.get(k), (StringType, IntegralType))
        ]
        if not cols or not os.path.isdir(path):
            return [], []
        with os.scandir(path) as it:
            entries = list(it)
        if (
            any(e.is_dir() for e in entries)
            or shape(staging.select(*target.columns)) != shape(target)
        ):
            return [], []
        names = sorted(dio._data_names(path))
        bounds = _staged_range(staging, cols)
        if any(lo is None for lo, _ in bounds):
            affected = set()
        else:
            man = {
                "files": names,
                "stats": {
                    n: _footer_min_max(os.path.join(path, n), cols) for n in names
                },
            }
            affected = set(_prune(man, dict(zip(cols, bounds))))
        untouched = sorted(
            (n for n in names if n not in affected),
            key=lambda n: os.path.getsize(os.path.join(path, n)),
            reverse=True,
        )
        cap = CARRY_FILES_PER_CORE * spark.sparkContext.defaultParallelism
        carried = untouched[:cap]
        if not carried:
            return [], []
        return carried, [os.path.join(path, n) for n in names if n not in carried]


class CommitConflict(RuntimeError):
    """A concurrent writer committed first and retries ran out (or
    the table already existed on ``create``)."""


def _staged_range(
    staging: DataFrame, cols: Sequence[str]
) -> list[tuple]:
    """``(min, max)`` of each of ``staging``'s columns ``cols``, both
    None for a column that is empty or all null, as
    ``staging.agg(min, max)`` gives them. When ``staging`` is a bare
    Parquet scan (``io.bare_parquet_files``) they come from the files'
    footers (:func:`_footer_range`), with no job; the aggregate runs
    for any other frame, or when the footers cannot tell."""
    files = dio.bare_parquet_files(staging)
    bounds = None if files is None else _footer_range(files, cols)
    if bounds is None:
        row = staging.agg(
            *[F.min(k) for k in cols], *[F.max(k) for k in cols]
        ).first()
        bounds = list(zip(row[: len(cols)], row[len(cols):]))
    return bounds


def _footer_range(files: Sequence[str], cols: Sequence[str]) -> list[tuple] | None:
    """``(min, max)`` of each column ``cols`` over the Parquet
    ``files``, folded from their footer statistics (files with no rows
    add nothing, so no rows at all gives ``(None, None)``); None when
    a file with rows has no min/max for a column (no statistics, or
    only nulls), which leaves the range to the aggregate."""
    import pyarrow.parquet as pq

    lo: dict = {}
    hi: dict = {}
    for f in files:
        stats = _footer_min_max(f, cols)
        if len(stats) < len(cols):
            if pq.read_metadata(f).num_rows:
                return None
            continue
        for c, (a, b) in stats.items():
            lo[c] = min(lo.get(c, a), a)
            hi[c] = max(hi.get(c, b), b)
    return [(lo.get(c), hi.get(c)) for c in cols]


def _footer_min_max(
    abs_path: str, cols: Sequence[str]
) -> dict[str, list]:
    """Column min/max from a parquet file's row-group footer
    statistics. Only JSON-stable scalar types are recorded (int,
    float, str, bool) — a column whose stats are missing or
    non-serializable is simply absent, and absence means "never
    prune on this file" (always safe)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(abs_path).metadata
    idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.num_columns)
    } if md.num_row_groups else {}
    out: dict[str, list] = {}
    for c in cols:
        i = idx.get(c)
        if i is None:
            continue
        mins: list = []
        maxs: list = []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                mins = []
                break
            mins.append(st.min)
            maxs.append(st.max)
        if mins and all(
            isinstance(v, (int, float, str, bool))
            for v in (min(mins), max(maxs))
        ):
            out[c] = [min(mins), max(maxs)]
    return out


#: Bloom probes per value. 5 hashes at ~16 bits/row gives fpp ≈
#: (1 - e^(-5/16))^5 ≈ 0.2% — standard Delta/Iceberg territory.
BLOOM_K = 5
#: Build-time position space; per-file filters FOLD down from this
#: (powers of two: (x mod 2^a) mod 2^b == x mod 2^b for b <= a), so
#: one distributed aggregate serves files of any row count.
BLOOM_M_MAX = 1 << 22


def _bloom_membership(entry: dict, h: int, coeffs) -> bool:
    """Probe one file's bloom entry with a 60-bit value hash. The
    probe arithmetic is the builder's exactly: universal-hash perm
    of the md5-derived value hash, folded mod the file's power-of-
    two filter size (mods by powers of two compose, so folding from
    BLOOM_M_MAX at build time and probing mod ``m`` agree)."""
    from dish_data_pipeline_spark.ops.portable import py_perm

    m = entry["m"]
    if m > BLOOM_M_MAX:
        # legacy entry from the uncapped builder: its positions were
        # folded mod BLOOM_M_MAX at build time, so probing mod m is
        # unsound (false negatives). "Maybe present" is always sound —
        # the file just isn't pruned; rebuild blooms via compact().
        return True
    positions = [py_perm(h, a, b) % m for a, b in coeffs]
    if "pos" in entry:
        s = set(entry["pos"])
        return all(p in s for p in positions)
    bitmap = int(entry["hex"], 16)
    return all((bitmap >> p) & 1 for p in positions)


def _prune(
    man: dict, intervals: dict[str, tuple], equals: dict | None = None
) -> list[str]:
    """The files of ``man`` (a manifest, or any dict with ``files``
    and per-file ``stats`` in its shape) that may hold a row matching
    every ``col: (lo, hi)`` interval and ``equals`` value — the rule
    :meth:`ManifestParquetBackend.prune_files` documents. Both tiers
    scope their rewrites with it."""
    from dish_data_pipeline_spark.ops.portable import (
        perm_coeffs,
        py_phash,
    )

    stats = man.get("stats", {})
    bloom = man.get("bloom") or {}
    bloom_files = bloom.get("files", {})
    coeffs = (
        perm_coeffs(bloom["k"], bloom["seed"]) if bloom else []
    )
    bloom_cols = set(bloom.get("cols") or [])
    for col, val in (equals or {}).items():
        # the filters hashed Spark's CAST(col AS STRING); Python's
        # str() agrees only for int/str (bool → 'True' vs 'true',
        # float/Decimal formatting drifts) — anything else would
        # hash differently and SILENTLY drop matching files, so
        # fail loudly instead. Only enforced for columns the table
        # actually bloom-indexed: a non-indexed column is never
        # hashed, so any value type is a sound keep-all no-op
        # (back-compat with bloom-less tables).
        if col in bloom_cols and (
            isinstance(val, bool) or not isinstance(val, (int, str))
        ):
            raise TypeError(
                f"equals[{col!r}] must be int or str (got "
                f"{type(val).__name__}); other types don't share "
                "Spark's string cast and would prune unsoundly"
            )
    hashes = {
        col: py_phash(str(val))
        for col, val in (equals or {}).items()
        if col in bloom_cols
    }
    kept = []
    for f in man["files"]:
        fstats = stats.get(f, {})
        ok = True
        for col, (lo, hi) in intervals.items():
            mm = fstats.get(col)
            # shape guard: a column literally named "_rows" would
            # collide with the per-file row-count stat (an int,
            # not a [min, max]); absence-of-stats semantics apply
            if mm is None or not isinstance(mm, (list, tuple)):
                continue
            if (lo is not None and mm[1] < lo) or (
                hi is not None and mm[0] > hi
            ):
                ok = False
                break
        if ok:
            for col, h in hashes.items():
                entry = bloom_files.get(f, {}).get(col)
                if entry is not None and not _bloom_membership(
                    entry, h, coeffs
                ):
                    ok = False
                    break
        if ok:
            kept.append(f)
    return kept


class ManifestParquetBackend:
    """Versioned-manifest Parquet table with optimistic concurrency.

    Layout::

        <path>/data/<uuid>/part-*.parquet   immutable data files
        <path>/_log/v000000000042.json      commit manifest, one per version

    A manifest lists the (relative) data files of that snapshot plus
    the schema JSON; the table's current state is the
    highest-numbered manifest. Commit = write the manifest body to a
    temp file, fsync, then ``os.link`` it to ``v{N}.json`` — the link
    is atomic create-if-absent, so exactly one of any competing
    writers wins version N and a crash can never expose a
    half-written manifest. Data files written by a loser are
    unreferenced garbage until :meth:`vacuum`.

    Commit protocol: every write after ``create``'s version 0 runs
    one loop. Each attempt reads the latest manifest, returns at once
    when it already covers the write's ``txn`` marker (a replayed
    batch writes nothing), builds the op's new snapshot on that base,
    and tries to commit ``latest+1``. The ops differ only in what
    they do on losing that race:

    - :meth:`merge_keep_latest` rereads and recomputes (serializable,
      the Delta/Iceberg optimistic-retry shape) and raises
      :class:`CommitConflict` after ``max_retries`` losses;
    - :meth:`replace` and :meth:`append` re-link the same data files,
      written once, against the new latest (their result does not
      depend on the base), with the same ``max_retries`` bound;
    - :meth:`compact`, :meth:`delete_where` and :meth:`update_where`
      abort and return version ``-1``: their rewrite depends on the
      base they read, so committing it anyway could drop or resurrect
      a concurrent writer's rows;
    - :meth:`restore`, :meth:`add_columns` and :meth:`drop_column`
      raise :class:`CommitConflict` (re-examine state before retrying:
      the rival may have been another restore or ALTER).

    Scale shape: every MERGE rewrites the full table (the directory
    swap's MERGE is file-scoped instead); DELETE and UPDATE share one
    file-scoped rewrite that touches only the files
    :meth:`prune_files` keeps. What this tier adds over the directory
    swap is *multi-writer safety and snapshot reads*, not rewrite
    avoidance.
    """

    name = "manifest"

    def __init__(self, max_retries: int = 5) -> None:
        self.max_retries = max_retries

    # -- layout -----------------------------------------------------
    @staticmethod
    def _log_dir(path: str) -> str:
        return os.path.join(path, "_log")

    @staticmethod
    def _manifest_path(path: str, version: int) -> str:
        return os.path.join(path, "_log", f"v{version:012d}.json")

    def _versions(self, path: str) -> list[int]:
        """Committed versions, oldest first (empty for no table). Only
        ``v<digits>.json`` names are commits; any other ``v*.json`` in
        ``_log/`` is ignored."""
        log = self._log_dir(path)
        if not os.path.isdir(log):
            return []
        return sorted(
            int(f[1:-5])
            for f in os.listdir(log)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        )

    def latest_version(self, path: str) -> int | None:
        """Highest committed version, or None for no table."""
        versions = self._versions(path)
        return versions[-1] if versions else None

    def _manifest(self, path: str, version: int) -> dict:
        with open(self._manifest_path(path, version)) as f:
            return json.load(f)

    def _load(self, path: str, version: int | None = None) -> dict:
        """The manifest of ``version`` (default: the latest);
        FileNotFoundError when the table or that version is gone."""
        v = self.latest_version(path) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no table at {path}")
        return self._manifest(path, v)  # FileNotFoundError once expired

    @staticmethod
    def _schema(man: dict) -> StructType:
        return StructType.fromJson(json.loads(man["schema"]))

    def txn_covered(self, path: str, txn: tuple[str, int]) -> bool:
        """True when the LATEST committed manifest already covers the
        ``(app_id, batch_id)`` idempotence marker — the replay fast
        path, checkable from the manifest alone (one driver-side JSON
        read, no DataFrame built, no job). Callers that commit must
        still re-check inside their commit loop: a rival can cover
        the txn between this probe and the commit."""
        v = self.latest_version(path)
        if v is None:
            return False
        covered = self._manifest(path, v).get("txns", {})
        return covered.get(txn[0], -1) >= txn[1]

    # -- data + commit ----------------------------------------------
    def _write_data(
        self,
        df: DataFrame,
        path: str,
        stats_cols: Sequence[str] | None = None,
    ) -> tuple[list[str], str, dict]:
        """Materialize ``df`` as immutable files under a fresh
        ``data/<uuid>`` dir; return (relative file list, schema json,
        per-file min/max stats for ``stats_cols``). Stats come from
        the parquet FOOTERS (row-group metadata via pyarrow) — no
        second Spark job over the data, the same source Delta/Iceberg
        data skipping reads."""
        rel_dir = os.path.join("data", uuid.uuid4().hex)
        out = os.path.join(path, rel_dir)
        df.write.parquet(out)
        files = sorted(
            os.path.join(rel_dir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        import pyarrow.parquet as pq

        stats = {}
        for rel in files:
            s = {}
            if stats_cols:
                s = _footer_min_max(os.path.join(path, rel), stats_cols)
            # per-file row count (the Delta numRecords analog) — makes
            # COUNT(*) and delete/compact accounting metadata-only
            s["_rows"] = pq.ParquetFile(
                os.path.join(path, rel)
            ).metadata.num_rows
            stats[rel] = s
        return files, df.schema.json(), stats

    def _bloom_for_files(
        self,
        spark: SparkSession,
        path: str,
        rel_files: Sequence[str],
        cfg: dict,
        schema: StructType,
    ) -> dict:
        """Per-file bloom filters for ``cfg['cols']`` over freshly
        written parquet files of ``schema`` (read with it, so no
        schema-inference job runs) — the equality-predicate half of data
        skipping (footer min/max prunes ranges; a point lookup on an
        UNCLUSTERED column overlaps every file's [min,max], and only
        a bloom can prove absence). One distributed aggregate per
        column: md5-portable value hash → BLOOM_K universal-hash
        positions mod BLOOM_M_MAX → ``distinct`` (map-side combined,
        bounds every downstream group at the filter size, never the
        row count) → per-file bitmap assembled EXECUTOR-side in one
        Arrow ``applyInPandas`` pass (vectorized numpy bit-sets); the
        driver collects only one bounded payload row per file. The
        pre-rewrite driver-side fold (collect_set of every position,
        per-bit Python big-int ORs) scaled with n·k on the DRIVER —
        measured 1.3× per-row degradation per decade
        (tools/bloom_flatness.py) and a guaranteed bottleneck at real
        scale. NULLs are skipped — a bloom answers non-null equality
        only."""
        import json as _json

        import pyarrow.parquet as pq

        from dish_data_pipeline_spark.ops.portable import (
            perm_coeffs,
            perm_expr,
            spark_phash,
        )

        coeffs = perm_coeffs(BLOOM_K, cfg["seed"])
        bpr = cfg["bits_per_row"]
        m_of: dict[str, int] = {}
        for rel in rel_files:
            n = pq.ParquetFile(os.path.join(path, rel)).metadata.num_rows
            # cap at BLOOM_M_MAX: build positions are folded mod
            # BLOOM_M_MAX, and (x % BLOOM_M_MAX) % m == x % m only
            # holds when m divides BLOOM_M_MAX — an uncapped m above
            # it would probe different bits than were set (silent
            # false negatives → dropped files in prune/delete)
            m_of[rel] = min(
                BLOOM_M_MAX, max(1024, 1 << (bpr * max(n, 1)).bit_length())
            )
        # input_file_name is an absolute file: URI; key by the
        # stable data/<uuid>/<name> suffix it shares with rel paths
        key = F.concat_ws(
            "/",
            F.element_at(F.split(F.input_file_name(), "/"), -3),
            F.element_at(F.split(F.input_file_name(), "/"), -2),
            F.element_at(F.split(F.input_file_name(), "/"), -1),
        )
        raw = spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in rel_files]
        )
        # a mergeSchema append may write files LACKING a bloom column
        # entirely — those files hold only NULLs for it, and a bloom
        # never indexes NULL, so the correct entry is an EMPTY filter
        # (prunes every equality probe on this column, soundly)
        present = [c for c in cfg["cols"] if c in raw.columns]
        df = raw.select(key.alias("_f"), *present)
        m_by_file = dict(m_of)  # plain dict: rides the UDF closure

        def _assemble(pdf):
            """One file's bitmap from its distinct hash positions —
            numpy byte-array bit-set, popcount for the sparse/dense
            format decision, payload mirrors the manifest entry."""
            import numpy as np
            import pandas as pd

            f = pdf["_f"].iloc[0]
            m = m_by_file.get(f)
            if m is None:  # file not in this commit (stale listing)
                return pd.DataFrame({"_f": [], "payload": []})
            p = (pdf["p"].to_numpy(dtype=np.int64) % m)
            buf = np.zeros(m // 8, dtype=np.uint8)
            np.bitwise_or.at(
                buf, p >> 3, np.left_shift(1, (p & 7)).astype(np.uint8)
            )
            n_bits = int(np.unpackbits(buf).sum())
            if n_bits * 64 <= m:
                entry = {"m": m, "pos": sorted({int(x) for x in p})}
            else:
                bitmap = int.from_bytes(buf.tobytes(), "little")
                entry = {"m": m, "hex": f"{bitmap:x}"}
            return pd.DataFrame(
                {"_f": [f], "payload": [_json.dumps(entry)]}
            )

        out: dict[str, dict] = {rel: {} for rel in rel_files}
        for col in cfg["cols"]:
            if col not in present:
                for rel in rel_files:
                    out[rel][col] = {"m": m_of[rel], "pos": []}
                continue
            h = spark_phash(f"cast(`{col}` as string)")
            pos_exprs = [
                F.expr(f"({perm_expr(h, a, b)}) % {BLOOM_M_MAX}")
                for a, b in coeffs
            ]
            agg = (
                df.filter(F.col(col).isNotNull())
                .select("_f", F.explode(F.array(*pos_exprs)).alias("p"))
                .distinct()
                .groupBy("_f")
                .applyInPandas(_assemble, "_f string, payload string")
                .collect()
            )
            by_file = {r["_f"]: _json.loads(r["payload"]) for r in agg}
            for rel in rel_files:
                # empty file / all-NULL column → no group → empty filter
                out[rel][col] = by_file.get(
                    rel, {"m": m_of[rel], "pos": []}
                )
        return out

    def _write(self, df: DataFrame, path: str, man: dict) -> tuple:
        """Write ``df`` as fresh data files for a commit onto ``man``:
        (files, schema json, stats, bloom filters of the new files;
        empty when the table keeps none). Filters depend only on the
        immutable file bytes, so a retried commit reuses them."""
        files, schema, stats = self._write_data(
            df, path, man.get("stats_cols") or []
        )
        cfg = man.get("bloom")
        blooms = (
            self._bloom_for_files(df.sparkSession, path, files, cfg, df.schema)
            if cfg and files
            else {}
        )
        return files, schema, stats, blooms

    @staticmethod
    def _link(man: dict, written: Sequence, carried: Sequence[str] = ()) -> dict:
        """Snapshot fields of a commit onto ``man``: the ``carried``
        files keep their stats and bloom filters (immutable bytes,
        immutable metadata), then the ``written`` files follow."""
        files, schema, stats, blooms = written
        old = man.get("stats") or {}
        fields = {
            "files": [*carried, *files],
            "schema": schema,
            "stats": {**{f: old[f] for f in carried if f in old}, **stats},
        }
        cfg = man.get("bloom")
        if cfg:
            old = cfg.get("files") or {}
            fields["bloom"] = {
                **cfg,
                "files": {**{f: old[f] for f in carried if f in old}, **blooms},
            }
        return fields

    @staticmethod
    def _carry(man: dict) -> dict:
        """``man``'s snapshot fields verbatim: the start of a
        metadata-only commit (restore, ALTER)."""
        fields = {
            "files": man["files"],
            "schema": man["schema"],
            "stats_cols": man.get("stats_cols") or [],
            "stats": man.get("stats", {}),
        }
        if man.get("bloom") is not None:
            fields["bloom"] = man["bloom"]
        return fields

    def _try_commit(self, path: str, version: int, manifest: dict) -> bool:
        """Atomically claim ``version``; False if a rival got there.

        A vanished scratch file (an overlapping ``vacuum(min_age_
        seconds=0)`` reclaiming ``.tmp-*`` between our create and the
        link) is treated as losing the race — the caller re-reads the
        log and retries — rather than an uncaught FileNotFoundError;
        no committed state is touched either way."""
        log = self._log_dir(path)
        os.makedirs(log, exist_ok=True)
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}")
        # wall-clock stamped at commit time (every attempt afresh, so
        # retry winners carry their real commit instant) — the Delta
        # commit-timestamp analog that DESCRIBE HISTORY's `timestamp`
        # column and TIMESTAMP AS OF resolution read back.
        manifest = dict(manifest, commit_ts=time.time())
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, json.dumps(manifest, sort_keys=True).encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, self._manifest_path(path, version))
            return True
        except FileExistsError:
            return False
        except FileNotFoundError:
            return False  # scratch vacuumed mid-commit: retryable loss
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def _commit(
        self,
        path: str,
        change: Callable[[dict], dict],
        retries: int,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """The commit loop every write after ``create`` runs. Each
        attempt reads the latest manifest once. If it already covers
        ``txn``, this returns None before ``change`` runs, so a replay
        writes nothing. Otherwise ``change(manifest)`` returns the op's
        own fields: files, schema, stats, bloom, its history marker,
        and ``stats_cols`` when the op changes them. This loop adds
        ``version``, ``parent``, the inherited ``stats_cols`` and the
        rolled-forward ``txns``, then ``_try_commit`` claims
        ``latest+1``. Returns the committed version, or -1 once
        ``retries + 1`` attempts have lost the race; what an op does
        with -1 is its race policy (class docstring)."""
        for _ in range(retries + 1):
            base = self.latest_version(path)
            if base is None:
                raise FileNotFoundError(f"no table at {path}")
            man = self._manifest(path, base)
            txns = dict(man.get("txns", {}))
            if txn is not None:
                if txns.get(txn[0], -1) >= txn[1]:
                    return None  # replayed batch: already applied
                txns[txn[0]] = txn[1]
            manifest = {
                "stats_cols": man.get("stats_cols") or [],
                **change(man),
                "version": base + 1,
                "parent": base,
                "txns": txns,
            }
            if self._try_commit(path, base + 1, manifest):
                return base + 1
        return -1

    @staticmethod
    def _or_conflict(version: int | None, message: str) -> int | None:
        """``version``, or :class:`CommitConflict` when the commit lost
        its race (-1)."""
        if version == -1:
            raise CommitConflict(message)
        return version

    def _open(
        self,
        spark: SparkSession,
        path: str,
        man: dict,
        files: Sequence[str] | None = None,
    ) -> DataFrame:
        """Read ``files`` (default: all) of the snapshot ``man`` under
        its manifest schema, so an empty snapshot round-trips and late
        data files can't widen it."""
        schema = self._schema(man)
        files = man["files"] if files is None else files
        if not files:
            # one empty slice, not defaultParallelism empty ones —
            # consumers of an empty snapshot (e.g. the first MERGE
            # into a fresh table) otherwise schedule a cluster-width
            # no-row stage per action
            return spark.createDataFrame(
                spark.sparkContext.parallelize([], 1), schema
            )
        return spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in files]
        )

    # -- TableBackend protocol --------------------------------------
    def exists(self, spark: SparkSession, path: str) -> bool:
        return self.latest_version(path) is not None

    def read(
        self, spark: SparkSession, path: str, version: int | None = None
    ) -> DataFrame:
        """Read a committed snapshot (latest, or time-travel to
        ``version``)."""
        return self._open(spark, path, self._load(path, version))

    def create(
        self,
        df: DataFrame,
        path: str,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits_per_row: int = 16,
        bloom_seed: int = 42,
    ) -> None:
        """Create version 0. ``stats_cols`` opts the table into
        per-file min/max stats in every future manifest (inherited by
        MERGE and compaction) — the range half of data skipping.
        ``bloom_cols`` additionally records a per-file bloom filter
        for each listed column (int/string typed — the probe hashes
        ``str(value)``, matching Spark's string cast), inherited by
        every future commit — the EQUALITY half: a point lookup on a
        column the table is not clustered by overlaps every file's
        [min,max], and only a bloom can prove a file clean."""
        os.makedirs(path, exist_ok=True)
        if self.latest_version(path) is not None:
            raise CommitConflict(f"table already exists at {path}")
        base: dict = {"stats_cols": list(stats_cols or []), "txns": {}}
        if bloom_cols:
            base["bloom"] = {"cols": list(bloom_cols), "k": BLOOM_K,
                             "seed": bloom_seed,
                             "bits_per_row": bloom_bits_per_row}
        manifest = {**base, **self._link(base, self._write(df, path, base)),
                    "version": 0, "parent": None}
        if not self._try_commit(path, 0, manifest):
            raise CommitConflict(f"concurrent create at {path}")

    def merge_keep_latest(
        self,
        spark: SparkSession,
        path: str,
        staging: DataFrame,
        keys: Sequence[str],
        ts_col: str,
        tiebreakers: Sequence[str] = (),
        txn: tuple[str, int] | None = None,
        _pre_commit_hook=None,
    ) -> int | None:
        """Optimistic-retry MERGE: each attempt recomputes the
        join-based upsert against the latest snapshot (race policy in
        the class docstring). Returns the committed version.

        ``txn=(app_id, batch_id)`` gives MERGE the same idempotence
        markers as :meth:`append` — the exactly-once device for a
        streaming UPSERT sink: a replayed micro-batch whose marker is
        already covered recomputes nothing and returns None. (A
        keyed MERGE is idempotent in VALUE anyway — replaying the
        same batch converges to the same rows — but the marker also
        spares the replay's full read-upsert-write cycle and keeps
        the version history one-commit-per-batch.)

        ``_pre_commit_hook(attempt)`` is a test seam invoked between
        materializing an attempt's result and trying its commit — the
        window where a rival can win the version race."""
        from dish_data_pipeline_spark.cache_registry import tracked_persist

        deduped: list = []
        attempts = itertools.count()

        def change(man):
            if not deduped:  # after the replay check: a replay persists nothing
                deduped.append(
                    tracked_persist(
                        keep_latest(staging, keys, ts_col, tiebreakers)
                    )
                )
            merged = upsert(self._open(spark, path, man), deduped[0], keys)
            written = self._write(merged, path, man)
            if _pre_commit_hook is not None:
                _pre_commit_hook(next(attempts))
            return self._link(man, written)

        return self._or_conflict(
            self._commit(path, change, self.max_retries, txn),
            f"lost the commit race {self.max_retries + 1} times at {path}",
        )

    def replace(
        self, df: DataFrame, path: str, txn: tuple[str, int] | None = None
    ) -> int | None:
        """Atomically replace the table's contents with ``df`` as a
        new version (Delta's ``mode("overwrite")`` analog; the commit
        primitive behind the textual MERGE surface's generic path).
        History is preserved — old versions still time-travel — and
        stats/bloom config is inherited from the parent manifest.
        The result is position-independent of the version race (the
        caller composed it from a snapshot THEY chose), so a lost race
        re-links the same data files (class docstring).

        ``txn=(app_id, batch_id)`` carries the same idempotence
        markers as :meth:`append`/:meth:`merge_keep_latest` — a
        replayed micro-batch whose marker is already covered writes
        nothing and returns None, which makes even the GENERIC
        textual-MERGE commit path (execute_merge → replace) an
        exactly-once streaming sink."""
        written: list = []

        def change(man):
            if not written:
                written.extend(self._write(df, path, man))
            return self._link(man, written)

        return self._or_conflict(
            self._commit(path, change, self.max_retries, txn),
            f"lost the commit race {self.max_retries + 1} times at {path}",
        )

    def append(
        self,
        df: DataFrame,
        path: str,
        merge_schema: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Transactional append: commit the parent snapshot's files
        PLUS ``df``'s fresh files as a new version. Appends carry no
        read-modify-write dependency, so a lost version race re-links
        the SAME data files against the new latest (class docstring;
        unlike MERGE, whose result depends on the base it read). The
        ingest path a streaming ``foreachBatch`` or batch loader
        uses. Returns the committed version.

        ``merge_schema=True`` is the Delta ``mergeSchema`` analog —
        additive schema evolution with NO data rewrite: columns of
        ``df`` missing from the table schema are appended to the
        manifest schema (as nullable), and columns of the table
        missing from ``df`` are tolerated. Data files are immutable
        and each keeps its own written columns; because reads apply
        the manifest schema BY NAME over parquet, files lacking a
        column surface it as NULL — old snapshots time-travel with
        their old schema untouched. A column present on both sides
        with a different type is an error either way (silent type
        widening would corrupt reads far from the cause).

        ``txn=(app_id, batch_id)`` makes the append IDEMPOTENT — the
        Delta ``txnAppId``/``txnVersion`` device for exactly-once
        streaming sinks over an at-least-once ``foreachBatch``:
        every manifest rolls forward a ``txns`` map of the highest
        batch id committed per app, and an append whose batch id is
        already covered commits NOTHING and returns None (the check
        re-runs on every commit attempt, so a rival's commit of the
        same txn between check and link is caught by the version
        race, never double-applied). Batch ids per app must be
        monotonic (Structured Streaming's are)."""
        # compare (name, type) shape, not the raw schema JSON —
        # nullability and field metadata legitimately differ between
        # a createDataFrame batch and the stored table schema
        shape = [(f.name, f.dataType.simpleString()) for f in df.schema]
        written: list = []

        def change(man):
            table = self._schema(man)
            have = {f.name: f.dataType.simpleString() for f in table}
            if merge_schema:
                # checked against every attempt's base: a rival append
                # may have evolved the schema since the first one
                clash = [
                    (n, t, have[n])
                    for n, t in shape
                    if n in have and have[n] != t
                ]
                if clash:
                    raise ValueError(
                        f"append type conflicts {clash} at {path}; "
                        "mergeSchema only ADDS columns, it never retypes"
                    )
            elif not written and shape != list(have.items()):
                # the commit reuses the table schema verbatim; silently
                # appending differently-shaped files would make reads
                # null-fill or fail later, far from the cause
                raise ValueError(
                    f"append schema {shape} differs from table schema "
                    f"{list(have.items())} at {path}; align the batch to "
                    "the table schema, pass merge_schema=True for "
                    "additive evolution, or recreate the table"
                )
            if not written:
                written.extend(self._write(df, path, man))
            # merge onto the schema of the base we commit onto, so a
            # rival append's evolution is kept, not un-evolved
            extra = [
                StructField(f.name, f.dataType, nullable=True)
                for f in df.schema
                if merge_schema and f.name not in have
            ]
            return {
                **self._link(man, written, carried=man["files"]),
                "schema": (
                    StructType(table.fields + extra).json()
                    if extra
                    else man["schema"]
                ),
            }

        return self._or_conflict(
            self._commit(path, change, self.max_retries, txn),
            f"lost the append race {self.max_retries + 1} times at {path}",
        )

    def compact(
        self,
        spark: SparkSession,
        path: str,
        target_files: int = 1,
        zorder_by: Sequence[str] | None = None,
    ) -> int:
        """Small-files maintenance: rewrite the LATEST snapshot's
        rows into ``target_files`` files and commit the result as a
        new version. Readers of every existing version are untouched
        (immutable data files + snapshot manifests). Compaction
        carries no new content, so on losing the version race it
        ABORTS and returns -1 (class docstring). Re-run when quiet;
        vacuum() afterwards reclaims the superseded files. Returns
        the committed version.

        ``zorder_by`` (two or more integer-castable columns) is the
        ``OPTIMIZE ... ZORDER BY`` analog: rows are re-laid-out along
        the Morton curve of those columns (``ops/layout.py``) before
        writing, so the footer min/max stats this table records
        become tight rectangles on EVERY listed column and
        :meth:`scan` prunes files for predicates on any of them."""

        def change(man):
            df = self._open(spark, path, man)
            if zorder_by:
                from dish_data_pipeline_spark.ops.layout import with_zvalue

                df = (
                    with_zvalue(df, list(zorder_by), bits=8, out_col="_zv")
                    .repartitionByRange(target_files, F.col("_zv"))
                    .sortWithinPartitions("_zv")
                    .select(*df.columns)
                )
            else:
                df = df.coalesce(target_files)
            written = self._write(df, path, man)
            return {**self._link(man, written), "compaction": True}

        return self._commit(path, change, 0)

    def _rewrite(
        self,
        spark: SparkSession,
        path: str,
        marker: dict,
        intervals: dict[str, tuple] | None,
        equals: dict | None,
        rows_for: Callable[[StructType], Callable[[DataFrame], DataFrame]],
    ) -> tuple[int, int, int]:
        """The file-scoped rewrite behind DELETE and UPDATE. Files the
        manifest's stats and blooms prove outside ``intervals`` and
        ``equals`` are carried byte-unchanged with their metadata; the
        rest are read, passed through ``rows_for(schema)`` (which
        validates against the snapshot schema and returns the row
        transform) and written as new files. ``marker`` names the op
        in the manifest history. Aborts on a lost race (class
        docstring). Returns (committed version or -1,
        n_files_rewritten, n_files_carried)."""
        counts: list[int] = []

        def change(man):
            rows = rows_for(self._schema(man))
            affected = _prune(man, intervals or {}, equals)
            gone = set(affected)
            carried = [f for f in man["files"] if f not in gone]
            written = (
                self._write(
                    rows(self._open(spark, path, man, affected)), path, man
                )
                if affected
                else ([], None, {}, {})
            )
            counts.extend([len(affected), len(carried)])
            return {
                **self._link(man, written, carried),
                "schema": man["schema"],
                **marker,
            }

        version = self._commit(path, change, 0)
        return version, *counts

    def delete_where(
        self,
        spark: SparkSession,
        path: str,
        predicate: str,
        intervals: dict[str, tuple] | None = None,
        equals: dict | None = None,
    ) -> tuple[int, int, int]:
        """Row-level ``DELETE ... WHERE`` as a new snapshot version,
        rewriting ONLY files that can possibly hold a match —
        the GDPR/retention write path. ``intervals`` (same shape as
        :meth:`prune_files`) is the caller's conservative file-level
        bound on ``predicate``: files whose recorded stats prove no
        overlap are carried into the new manifest byte-UNCHANGED (no
        read, no write — at 100 TB this is the difference between a
        metadata-speed delete and rewriting the table; exactly why
        Delta/Iceberg scope DELETE rewrites by file stats).
        ``equals`` adds bloom-filter scoping for point predicates —
        the right-to-be-forgotten shape: ``delete_where(spark, path,
        "user_id = 123", equals={"user_id": 123})`` rewrites only
        the files whose bloom may contain that user, typically a
        handful out of a 100 TB table. Affected
        files rewrite through ``NOT coalesce(predicate, false)`` —
        rows where the predicate is NULL survive, standard SQL DELETE
        semantics — and only their stats recompute.

        On losing the version race this ABORTS (class docstring).
        Returns (committed version or -1, n_files_rewritten,
        n_files_carried)."""
        return self._rewrite(
            spark, path, {"delete": predicate}, intervals, equals,
            lambda _schema: lambda df: df.filter(
                f"NOT coalesce(({predicate}), false)"
            ),
        )

    def update_where(
        self,
        spark: SparkSession,
        path: str,
        assignments: Mapping[str, str],
        predicate: str,
        intervals: dict[str, tuple] | None = None,
        equals: dict | None = None,
    ) -> tuple[int, int, int]:
        """Row-level ``UPDATE ... SET ... WHERE`` as a new snapshot
        version, rewriting ONLY files that can possibly hold a match
        — the same stats/bloom scoping as :meth:`delete_where`, which
        at 100 TB is the difference between touching a handful of
        files and rewriting the table (exactly why Delta/Iceberg
        scope UPDATE rewrites by file stats). ``assignments`` maps
        column → SQL expression evaluated over the row's OWN (pre-
        update) columns, cast to the column's type; rows where the
        predicate is false or NULL pass through unchanged, and
        columns outside ``assignments`` are untouched. Affected
        files rewrite wholesale (matching and non-matching rows
        alike) so row count is invariant.

        On losing the version race this ABORTS (class docstring).
        Returns (committed version or -1, n_files_rewritten,
        n_files_carried)."""

        def rows_for(schema):
            unknown = [c for c in assignments if c not in schema.names]
            if unknown:
                raise ValueError(
                    f"UPDATE sets unknown target columns {unknown}"
                )

            def rows(df):
                applies = F.expr(f"coalesce(({predicate}), false)")
                return df.select(
                    *[
                        F.when(
                            applies,
                            F.expr(assignments[f.name]).cast(f.dataType),
                        ).otherwise(F.col(f.name)).alias(f.name)
                        if f.name in assignments
                        else F.col(f.name)
                        for f in schema.fields
                    ]
                )

            return rows

        return self._rewrite(
            spark, path, {"update": predicate}, intervals, equals, rows_for
        )

    def changes(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Change data feed between two committed versions: the keyed
        row-level diff (insert/delete/update classification via
        ``operators.diff.snapshot_diff``, unchanged rows excluded) of
        snapshot ``from_version`` vs ``to_version`` (default latest).
        Because snapshots are immutable and manifests are cheap, this
        is the Delta CDF capability with zero extra write-path cost —
        the diff is computed from the two snapshots at read time
        rather than logged per commit; at 100 TB prefer small version
        distances (the diff scans both snapshots)."""
        from dish_data_pipeline_spark.operators.diff import snapshot_diff

        to_v = self.latest_version(path) if to_version is None else to_version
        if to_v is None or from_version > to_v:
            raise ValueError(
                f"bad version range [{from_version}, {to_v}] at {path}"
            )
        old = self.read(spark, path, from_version)
        new = self.read(spark, path, to_v)
        return snapshot_diff(old, new, keys, include_unchanged=False)

    # -- data skipping ------------------------------------------------
    def prune_files(
        self,
        path: str,
        intervals: dict[str, tuple],
        version: int | None = None,
        equals: dict | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-only file skipping: keep the files whose recorded
        [min, max] OVERLAPS every requested ``col: (lo, hi)``
        interval (``None`` bound = unbounded) AND whose bloom filter
        (if the table recorded one for the column) may contain every
        ``equals`` value. Files without stats/bloom for a column are
        always kept — pruning is sound, never required. ``equals``
        values hash via ``str(value)`` (int/string columns; matches
        the builder's Spark string cast). Probing a BLOOM-INDEXED
        column with a non-int/str value raises TypeError (other
        types don't share Spark's string cast, so the probe would
        prune unsoundly); columns the table never bloom-indexed are
        a sound keep-all no-op regardless of value type. Returns
        (kept relative files, total files)."""
        man = self._load(path, version)
        return _prune(man, intervals, equals), len(man["files"])

    def scan(
        self,
        spark: SparkSession,
        path: str,
        intervals: dict[str, tuple],
        version: int | None = None,
        equals: dict | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot read: every row matching the
        intervals (and ``equals`` point predicates, bloom-checked)
        is guaranteed present (pruning only drops files that
        PROVABLY contain no match); rows outside the predicates may
        also be present — apply the exact predicate on top, as any
        data-skipping reader does."""
        man = self._load(path, version)
        return self._open(spark, path, man, _prune(man, intervals, equals))

    def count_rows(self, path: str, version: int | None = None) -> int | None:
        """Metadata-only ``COUNT(*)``: sum of the per-file row counts
        recorded in the manifest at write time (the Delta
        ``numRecords`` analog) — no file is opened, no job runs; at
        100 TB this answers the most common query in milliseconds.
        Returns None when any live file predates the row-count stat
        (a table written by an older version) — callers fall back to
        a scan; soundness over guessing."""
        man = self._load(path, version)
        stats = man.get("stats") or {}
        total = 0
        for f in man["files"]:
            n = stats.get(f, {}).get("_rows")
            if n is None:
                return None
            total += n
        return total

    def restore(self, path: str, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION`` analog: commit a
        NEW version whose manifest reuses ``version``'s files,
        schema, and stats verbatim — a metadata-only rollback (no
        data read or written; at 100 TB this undoes a bad load in
        milliseconds). History is preserved: the bad versions remain
        time-travelable until :meth:`expire_versions`, and the
        restore itself is just another commit, so concurrent writers
        race it with the usual optimistic protocol. Txn markers are
        carried from the CURRENT latest (not the restore target) —
        a restore must not make replayed ingest batches re-apply.
        Returns the committed version; raises CommitConflict if a
        rival commits first (class docstring)."""

        def change(man):
            target = self._manifest(path, version)  # raises if expired
            return {**self._carry(target), "restore_of": version}

        return self._or_conflict(
            self._commit(path, change, 0),
            f"lost the restore race at {path}; re-examine state",
        )

    def history(self, path: str) -> list[dict]:
        """``DESCRIBE HISTORY`` analog: one record per committed
        version, oldest first — version, parent, commit timestamp
        (UTC epoch seconds; None for manifests written before
        timestamps were recorded), operation (create / append /
        merge-or-restore markers / compaction / delete / alter),
        file count, and the txn marker map. Driver-side metadata
        only (manifests are small JSON); expired versions are
        absent."""
        out = []
        for v in self._versions(path):
            m = self._manifest(path, v)
            if m.get("restore_of") is not None:
                op = f"restore(v{m['restore_of']})"
            elif m.get("compaction"):
                op = "compact"
            elif m.get("delete") is not None:
                op = f"delete({m['delete']})"
            elif m.get("update") is not None:
                op = f"update({m['update']})"
            elif m.get("alter") is not None:
                op = f"alter({m['alter']})"
            elif m.get("parent") is None:
                op = "create"
            else:
                op = "write"
            out.append(
                {
                    "version": m["version"],
                    "parent": m.get("parent"),
                    "timestamp": m.get("commit_ts"),
                    "operation": op,
                    "n_files": len(m["files"]),
                    "txns": m.get("txns", {}),
                }
            )
        return out

    def version_at_timestamp(self, path: str, ts: float) -> int:
        """``TIMESTAMP AS OF`` resolution, Delta's rule: the GREATEST
        committed version whose commit timestamp is <= ``ts`` (UTC
        epoch seconds). Raises when ``ts`` predates the earliest
        addressable commit — time traveling "before the table
        existed" must be loud, not silently pinned to v0. Versions
        whose manifests predate commit timestamps (older writers)
        are not time-addressable and are skipped."""
        versions = self._versions(path)
        if not versions:
            raise FileNotFoundError(f"no table at {path}")
        stamps: dict[int, float] = {}
        for v in versions:
            cts = self._manifest(path, v).get("commit_ts")
            if cts is not None:
                stamps[v] = cts
        best = max((v for v, cts in stamps.items() if cts <= ts), default=None)
        if best is None:
            if not stamps:
                raise ValueError(
                    f"table at {path} has no commit timestamps (written "
                    "before timestamps were recorded) — use VERSION AS OF"
                )
            raise ValueError(
                f"timestamp {ts} predates the earliest available commit "
                f"({min(stamps.values())}) at {path}"
            )
        return best

    def add_column(
        self, spark: SparkSession, path: str, name: str, ddl_type: str
    ) -> int:
        """Single-column convenience form of :meth:`add_columns`."""
        return self.add_columns(spark, path, [(name, ddl_type)])

    def add_columns(
        self,
        spark: SparkSession,
        path: str,
        coldefs: Sequence[tuple[str, str]],
    ) -> int:
        """``ALTER TABLE ... ADD COLUMN[S]`` analog: metadata-only
        ADDITIVE schema evolution — commit ONE new version reusing
        the latest manifest's files, stats, and bloom config
        verbatim with the schema widened by the listed NULLABLE
        columns (all-or-nothing: every name and type is validated
        BEFORE the commit, so a bad item mid-list cannot leave a
        half-applied ALTER — round-14 review finding #3). Existing
        parquet files are untouched; the schema-first read path
        (:meth:`read` passes the manifest schema to the scan) fills
        the new columns with NULL for every pre-alter file, exactly
        Delta's behavior. Anything non-additive is rejected: adding
        an existing column (i.e. a type change in disguise) raises —
        compared case-INSENSITIVELY, because Spark's default
        resolution is case-insensitive and a case-variant duplicate
        would be ambiguous at read time. Returns the committed
        version."""
        from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

        if not coldefs:
            raise ValueError("ALTER TABLE ADD COLUMNS: empty column list")

        def change(latest):
            schema = self._schema(latest)
            # validate EVERYTHING first — names (vs schema and vs each
            # other, case-insensitively), types, physical absence —
            # then commit once
            taken = {fld.name.lower() for fld in schema.fields}
            new_fields = []
            for name, ddl_type in coldefs:
                if name.lower() in taken:
                    raise ValueError(
                        f"column {name!r} already exists in {path} (names "
                        "resolve case-insensitively) — ALTER TABLE supports "
                        "only additive evolution (a type change means "
                        "rewriting committed files: use CREATE OR REPLACE "
                        "TABLE or MERGE)"
                    )
                taken.add(name.lower())
                new_fields.append(
                    StructField(name, _parse_datatype_string(ddl_type), True)
                )
            # resurrection guard: a column DROPPED earlier is gone from
            # the manifest schema but its bytes remain in any live file
            # written before the drop — re-adding the name would read
            # those stale values back instead of NULL (Spark resolves
            # the schema against physical columns case-insensitively,
            # so the guard compares folded names). Cheap path first: if
            # the UNBROKEN manifest history (back to v0) records no
            # drop_column of the name, no live file can carry it and
            # the footer sweep is skipped — the common estate-scale ADD
            # stays metadata-only. With a drop on record (or history
            # expired, so we cannot know), one footer-schema read per
            # live file (driver-side, maintenance-path cost, the same
            # class as stats collection) must prove the name physically
            # absent; otherwise the re-add needs a rewrite.
            suspect = [
                fld.name
                for fld in new_fields
                if self._name_may_linger(path, fld.name, latest)
            ]
            if suspect:
                import pyarrow.parquet as pq  # noqa: PLC0415

                folded = {n.lower() for n in suspect}
                for rel in latest["files"]:
                    physical = {
                        n.lower()
                        for n in pq.read_schema(os.path.join(path, rel)).names
                    }
                    clash = folded & physical
                    if clash:
                        raise ValueError(
                            f"column(s) {sorted(clash)} still exist "
                            f"physically in live file {rel} (dropped "
                            "earlier?) — re-adding would resurrect stale "
                            "values. Rewrite first (OPTIMIZE after the "
                            "drop, or CREATE OR REPLACE TABLE)"
                        )
            new_schema = StructType(list(schema.fields) + new_fields)
            rendered = ", ".join(
                f"{fld.name} {fld.dataType.simpleString()}"
                for fld in new_fields
            )
            marker = (
                f"add_column({rendered})"
                if len(new_fields) == 1
                else f"add_columns({rendered})"
            )
            return {
                **self._carry(latest),
                "alter": marker,
                "schema": json.dumps(new_schema.jsonValue()),
            }

        return self._or_conflict(
            self._commit(path, change, 0),
            f"lost the ALTER race at {path}; re-examine state",
        )

    def _name_may_linger(self, path: str, name: str, latest: dict) -> bool:
        """True when a live data file MIGHT physically carry ``name``
        despite it being absent from the current schema — i.e. the
        add_column footer sweep cannot be skipped. False only on
        proof: the manifest chain from the current version back to
        v0 is fully present (no expired link) and records no
        ``drop_column(name)``. Walks parents driver-side (manifests
        are small JSON). Marker comparison folds case — Spark
        resolves columns case-insensitively, so ``drop_column(W)``
        makes a later ``add_column(w)`` just as dangerous."""
        marker = f"drop_column({name})".lower()
        man = latest
        while True:
            if (man.get("alter") or "").lower() == marker:
                return True
            parent = man.get("parent")
            if parent is None:
                return False  # reached v0: complete, drop-free history
            try:
                man = self._manifest(path, parent)
            except FileNotFoundError:
                return True  # history expired: cannot prove absence

    def drop_column(self, path: str, name: str) -> int:
        """``ALTER TABLE ... DROP COLUMN`` analog: metadata-only —
        the manifest schema narrows and reads project the remaining
        columns; committed files are untouched, so the dropped
        bytes persist until the files are naturally rewritten
        (OPTIMIZE / MERGE / CTAS). Safe because the schema-first
        read path never surfaces unlisted physical columns, and
        :meth:`add_column`'s physical-presence guard refuses to
        resurrect a dropped name until the bytes are gone. The
        column's stats and bloom entries are stripped from the new
        manifest (stale prune metadata must not outlive the
        column). Dropping the last column is rejected. Returns the
        committed version."""

        def change(latest):
            schema = self._schema(latest)
            if name not in schema.names:
                raise ValueError(
                    f"column {name!r} does not exist in {path}; have "
                    f"{schema.names}"
                )
            kept = [fld for fld in schema.fields if fld.name != name]
            if not kept:
                raise ValueError(
                    f"cannot drop {name!r}: it is the last column of {path}"
                )
            fields = {
                **self._carry(latest),
                "alter": f"drop_column({name})",
                "schema": json.dumps(StructType(kept).jsonValue()),
                "stats_cols": [
                    c for c in (latest.get("stats_cols") or []) if c != name
                ],
                "stats": {
                    rel: {k: v for k, v in s.items() if k != name}
                    for rel, s in (latest.get("stats") or {}).items()
                },
            }
            bloom = fields.pop("bloom", None)
            cols = [c for c in (bloom or {}).get("cols", []) if c != name]
            if cols:
                fields["bloom"] = {
                    **bloom,
                    "cols": cols,
                    "files": {
                        rel: {c: e for c, e in entry.items() if c != name}
                        for rel, entry in (bloom.get("files") or {}).items()
                    },
                }
            return fields

        return self._or_conflict(
            self._commit(path, change, 0),
            f"lost the ALTER race at {path}; re-examine state",
        )

    def drop_table(self, path: str) -> None:
        """``DROP TABLE`` analog: remove the table directory — log,
        every version's manifests, and all data files. Refuses to
        remove a directory that is not a committed manifest table
        (no version in its log), so a mistyped ``table_paths``
        mapping can never point this at an arbitrary directory.
        Single-maintainer operation like vacuum: concurrent readers
        get FileNotFoundError, a concurrent writer's commit is
        swept with everything else."""
        if self.latest_version(path) is None:
            raise FileNotFoundError(
                f"not a committed manifest table: {path}"
            )
        shutil.rmtree(path)

    def expire_versions(self, path: str, keep_last: int = 7) -> list[int]:
        """Retention expiry: drop the manifests of all but the newest
        ``keep_last`` versions, shrinking the time-travel horizon so
        a following :meth:`vacuum` can reclaim the data files only
        those versions referenced — the log-retention half of Delta's
        ``VACUUM`` story. The latest version is never expirable.
        Single-maintainer operation like vacuum: a reader pinned to
        an expired version gets FileNotFoundError on its next
        manifest fetch. Returns the expired version numbers."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        expired = self._versions(path)[:-keep_last]
        for v in expired:
            os.remove(self._manifest_path(path, v))
        return expired

    def vacuum(self, path: str, min_age_seconds: float = 0.0) -> list[str]:
        """Delete data files referenced by NO committed manifest
        (losers of commit races, crashed writers, post-``expire_
        versions`` orphans). ``min_age_seconds`` is the Delta
        ``VACUUM ... RETAIN`` safety window: an unreferenced
        directory younger than the window is SKIPPED, because it may
        belong to a writer that has materialized its files but not
        yet linked its manifest — deleting them mid-commit would
        strand a manifest pointing at missing files. With the
        default 0 this remains a quiesced single-maintainer
        operation; with a window >= the longest plausible
        write-to-commit gap it is safe to run alongside live
        writers. Returns deleted relative paths."""
        log = self._log_dir(path)
        if not os.path.isdir(log):
            return []
        referenced: set[str] = set()
        for v in self._versions(path):
            referenced.update(self._manifest(path, v)["files"])
        referenced_dirs = {os.path.dirname(f) for f in referenced}
        deleted: list[str] = []
        data = os.path.join(path, "data")
        now = time.time()
        # stale commit scratch: _try_commit unlinks its .tmp-* in a
        # finally, so one only survives a HARD crash between create
        # and cleanup. They are never referenced (commits are the
        # hard-linked v*.json), but accumulate forever; reclaim them
        # under the same age window that protects in-flight writers.
        for f in os.listdir(log):
            if not f.startswith(".tmp-"):
                continue
            fp = os.path.join(log, f)
            try:
                if min_age_seconds > 0 and (
                    now - os.path.getmtime(fp) < min_age_seconds
                ):
                    continue
                os.unlink(fp)
                deleted.append(os.path.join("_log", f))
            except OSError:
                continue  # raced with its own committer
        for d in sorted(os.listdir(data)) if os.path.isdir(data) else []:
            rel = os.path.join("data", d)
            if rel in referenced_dirs:
                continue
            if min_age_seconds > 0:
                try:
                    age = now - os.path.getmtime(os.path.join(path, rel))
                except OSError:
                    continue  # raced with its own writer/cleaner
                if age < min_age_seconds:
                    continue
            shutil.rmtree(os.path.join(path, rel))
            deleted.append(rel)
        return deleted


#: The backend registry ``get_backend`` resolves names from.
BACKENDS = {
    "parquet": ParquetSwapBackend,
    "manifest": ManifestParquetBackend,
}


def get_backend(name: str) -> TableBackend:
    """Resolve a backend by name: 'parquet' (the default directory
    swap) or 'manifest' (the atomic multi-writer tier).

    Raises ``ValueError`` for unknown names."""
    try:
        cls = BACKENDS[name]
    except KeyError:
        raise ValueError(
            f"unknown table backend {name!r}; available: {sorted(BACKENDS)}"
        ) from None
    return cls()

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
  swap. Works anywhere Spark can list files; single-writer scope is
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

import json
import os
import shutil
import time
import uuid
from collections.abc import Mapping, Sequence
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

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


class ParquetSwapBackend:
    """Join-based MERGE on plain Parquet, finished by a directory
    swap. Catalyst broadcasts the (small) staging side, so the target
    is never shuffled; the swap is crash-safe but single-writer
    (io.atomic_overwrite docstring)."""

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
        dio.atomic_overwrite(upsert(target, deduped, keys), path)


class CommitConflict(RuntimeError):
    """A concurrent writer committed first and retries ran out (or
    the table already existed on ``create``)."""


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

    MERGE concurrency: each attempt reads the latest snapshot,
    recomputes the join-based upsert against it, writes fresh data
    files, and tries to commit ``latest+1``; on losing the race it
    rereads and recomputes (serializable — the Delta/Iceberg
    optimistic-retry shape), giving up with :class:`CommitConflict`
    after ``max_retries`` losses.

    Scale shape: every MERGE rewrites the full table (same as
    ParquetSwapBackend); DELETE and UPDATE already rewrite only the
    files :meth:`prune_files` keeps. What this tier adds over the
    directory swap is *multi-writer safety and snapshot reads*, not
    rewrite avoidance on MERGE.
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

    def latest_version(self, path: str) -> int | None:
        """Highest committed version, or None for no table."""
        log = self._log_dir(path)
        if not os.path.isdir(log):
            return None
        versions = [
            int(f[1:-5])
            for f in os.listdir(log)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        ]
        return max(versions) if versions else None

    def _manifest(self, path: str, version: int) -> dict:
        with open(self._manifest_path(path, version)) as f:
            return json.load(f)

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
    ) -> dict:
        """Per-file bloom filters for ``cfg['cols']`` over freshly
        written parquet files — the equality-predicate half of data
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
        from pyspark.sql import functions as F

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
        raw = spark.read.parquet(*[os.path.join(path, f) for f in rel_files])
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

    def _bloom_commit_entry(
        self,
        spark: SparkSession,
        path: str,
        parent_man: dict,
        new_files: Sequence[str],
        carried: Sequence[str] = (),
        prebuilt: dict | None = None,
    ) -> dict | None:
        """Bloom manifest entry for a commit: carried files keep
        their existing filters (immutable bytes → immutable filter),
        new files get freshly built ones. None when the table never
        opted into blooms. ``prebuilt`` supplies already-computed
        filters for the new files (a retry loop builds them ONCE —
        they depend only on the immutable file bytes, never on the
        commit base)."""
        cfg = parent_man.get("bloom")
        if not cfg:
            return None
        carried_set = set(carried)
        files = {
            rel: e
            for rel, e in (cfg.get("files") or {}).items()
            if rel in carried_set
        }
        if new_files:
            files.update(
                prebuilt
                if prebuilt is not None
                else self._bloom_for_files(spark, path, new_files, cfg)
            )
        return {
            "cols": cfg["cols"],
            "k": cfg["k"],
            "seed": cfg["seed"],
            "bits_per_row": cfg["bits_per_row"],
            "files": files,
        }

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

    # -- TableBackend protocol --------------------------------------
    def exists(self, spark: SparkSession, path: str) -> bool:
        return self.latest_version(path) is not None

    def read(
        self, spark: SparkSession, path: str, version: int | None = None
    ) -> DataFrame:
        """Read a committed snapshot (latest, or time-travel to
        ``version``). Schema comes from the manifest, so an empty
        snapshot round-trips and late data files can't widen it."""
        from pyspark.sql.types import StructType

        v = self.latest_version(path) if version is None else version
        if v is None or not os.path.exists(self._manifest_path(path, v)):
            raise FileNotFoundError(
                f"no committed version {version!r} at {path}"
            )
        man = self._manifest(path, v)
        schema = StructType.fromJson(json.loads(man["schema"]))
        files = [os.path.join(path, f) for f in man["files"]]
        if not files:
            # one empty slice, not defaultParallelism empty ones —
            # consumers of an empty snapshot (e.g. the first MERGE
            # into a fresh table) otherwise schedule a cluster-width
            # no-row stage per action
            return spark.createDataFrame(
                spark.sparkContext.parallelize([], 1), schema
            )
        return spark.read.schema(schema).parquet(*files)

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
        files, schema, stats = self._write_data(df, path, stats_cols)
        manifest = {"version": 0, "parent": None, "files": files,
                    "schema": schema,
                    "stats_cols": list(stats_cols or []),
                    "stats": stats, "txns": {}}
        if bloom_cols:
            cfg = {"cols": list(bloom_cols), "k": BLOOM_K,
                   "seed": bloom_seed,
                   "bits_per_row": bloom_bits_per_row}
            manifest["bloom"] = {
                **cfg,
                "files": self._bloom_for_files(
                    df.sparkSession, path, files, cfg
                ),
            }
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
        """Optimistic-retry MERGE (see class docstring). Returns the
        committed version.

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

        deduped = None
        for attempt in range(self.max_retries + 1):
            base = self.latest_version(path)
            if base is None:
                raise FileNotFoundError(f"no table at {path}; create() first")
            man_base = self._manifest(path, base)
            txns = dict(man_base.get("txns", {}))
            if txn is not None:
                if txns.get(txn[0], -1) >= txn[1]:
                    # replayed batch: already applied — on the first
                    # attempt, before the dedup plan is persisted
                    return None
                txns[txn[0]] = txn[1]
            if deduped is None:
                deduped = tracked_persist(
                    keep_latest(staging, keys, ts_col, tiebreakers)
                )
            target = self.read(spark, path, base)
            stats_cols = man_base.get("stats_cols") or []
            files, schema, stats = self._write_data(
                upsert(target, deduped, keys), path, stats_cols
            )
            if _pre_commit_hook is not None:
                _pre_commit_hook(attempt)
            manifest = {"version": base + 1, "parent": base,
                        "files": files, "schema": schema,
                        "stats_cols": stats_cols, "stats": stats,
                        "txns": txns}
            bloom = self._bloom_commit_entry(
                spark, path, man_base, files
            )
            if bloom is not None:
                manifest["bloom"] = bloom
            if self._try_commit(path, base + 1, manifest):
                return base + 1
        raise CommitConflict(
            f"lost the commit race {self.max_retries + 1} times at {path}"
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
        caller composed it from a snapshot THEY chose), so losing a
        race is always retryable by re-linking the same data files
        against the new latest, like :meth:`append`.

        ``txn=(app_id, batch_id)`` carries the same idempotence
        markers as :meth:`append`/:meth:`merge_keep_latest` — a
        replayed micro-batch whose marker is already covered writes
        nothing and returns None, which makes even the GENERIC
        textual-MERGE commit path (execute_merge → replace) an
        exactly-once streaming sink."""
        spark = df.sparkSession
        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}; create() first")
        man_base = self._manifest(path, base)
        if txn is not None:
            covered = dict(man_base.get("txns", {}))
            if covered.get(txn[0], -1) >= txn[1]:
                return None  # replayed batch: already applied
        stats_cols = man_base.get("stats_cols") or []
        files, schema, stats = self._write_data(df, path, stats_cols)
        for _ in range(self.max_retries + 1):
            base = self.latest_version(path)
            man_base = self._manifest(path, base)
            txns = dict(man_base.get("txns", {}))
            if txn is not None:
                if txns.get(txn[0], -1) >= txn[1]:
                    return None  # rival writer covered it mid-race
                txns[txn[0]] = txn[1]
            manifest = {"version": base + 1, "parent": base,
                        "files": files, "schema": schema,
                        "stats_cols": stats_cols, "stats": stats,
                        "txns": txns}
            bloom = self._bloom_commit_entry(spark, path, man_base, files)
            if bloom is not None:
                manifest["bloom"] = bloom
            if self._try_commit(path, base + 1, manifest):
                return base + 1
        raise CommitConflict(
            f"lost the commit race {self.max_retries + 1} times at {path}"
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
        read-modify-write dependency, so losing a version race is
        always retryable without recompute — re-read the new latest
        and re-commit the SAME data files against it (unlike MERGE,
        whose result depends on the base it read). The ingest path a
        streaming ``foreachBatch`` or batch loader uses. Returns the
        committed version.

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
        re-runs inside the commit loop, so a rival's commit of the
        same txn between check and link is caught by the version
        race, never double-applied). Batch ids per app must be
        monotonic (Structured Streaming's are)."""
        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}; create() first")
        man0 = self._manifest(path, base)
        if txn is not None and (
            man0.get("txns", {}).get(txn[0], -1) >= txn[1]
        ):
            return None  # fast path: replay detected before any write
        # compare (name, type) shape, not the raw schema JSON —
        # nullability and field metadata legitimately differ between
        # a createDataFrame batch and the stored table schema
        from pyspark.sql.types import StructField, StructType

        table_schema = StructType.fromJson(json.loads(man0["schema"]))
        shape = [(f.name, f.dataType.simpleString()) for f in df.schema]
        want = [(f.name, f.dataType.simpleString()) for f in table_schema]
        if merge_schema:
            want_types = dict(want)
            conflicts = [
                (n, t, want_types[n])
                for n, t in shape
                if n in want_types and want_types[n] != t
            ]
            if conflicts:
                raise ValueError(
                    f"append type conflicts {conflicts} at {path}; "
                    "mergeSchema only ADDS columns, it never retypes"
                )
        elif shape != want:
            # the commit reuses the table schema verbatim; silently
            # appending differently-shaped files would make reads
            # null-fill or fail later, far from the cause
            raise ValueError(
                f"append schema {shape} differs from table schema "
                f"{want} at {path}; align the batch to the table "
                "schema, pass merge_schema=True for additive "
                "evolution, or recreate the table"
            )
        # stats_cols is fixed at create() and inherited by every
        # commit, so reading it from any manifest is safe; the data
        # files are written ONCE — only the commit loop retries
        stats_cols = man0.get("stats_cols") or []
        files, _schema, stats = self._write_data(df, path, stats_cols)
        # bloom filters for the new files depend only on their
        # immutable bytes — build once, outside the retry loop (a
        # lost race re-reads the base but must not re-aggregate)
        bloom_cfg = man0.get("bloom")
        new_bloom = (
            self._bloom_for_files(df.sparkSession, path, files, bloom_cfg)
            if bloom_cfg and files
            else None
        )
        for _ in range(self.max_retries + 1):
            base = self.latest_version(path)
            man = self._manifest(path, base)
            txns = dict(man.get("txns", {}))
            if txn is not None:
                if txns.get(txn[0], -1) >= txn[1]:
                    return None  # rival committed our txn mid-race
                txns[txn[0]] = txn[1]
            commit_schema = man["schema"]
            if merge_schema:
                # merge against the schema of the base we are
                # committing onto — a rival append may have evolved
                # it since man0; dropping THEIR columns here would
                # un-evolve the table
                latest = StructType.fromJson(json.loads(man["schema"]))
                have = {
                    f.name: f.dataType.simpleString()
                    for f in latest.fields
                }
                clash = [
                    (f.name, f.dataType.simpleString(), have[f.name])
                    for f in df.schema
                    if f.name in have
                    and have[f.name] != f.dataType.simpleString()
                ]
                if clash:
                    # a rival's evolution claimed the name with a
                    # different type since man0 — same rule as the
                    # up-front check
                    raise ValueError(
                        f"append type conflicts {clash} at {path}; "
                        "mergeSchema only ADDS columns, never retypes"
                    )
                extra = [
                    StructField(f.name, f.dataType, nullable=True)
                    for f in df.schema
                    if f.name not in have
                ]
                if extra:
                    commit_schema = StructType(
                        list(latest.fields) + extra
                    ).json()
            manifest = {"version": base + 1, "parent": base,
                        "files": man["files"] + files,
                        "schema": commit_schema,
                        "stats_cols": stats_cols,
                        "stats": {**man.get("stats", {}), **stats},
                        "txns": txns}
            bloom = self._bloom_commit_entry(
                df.sparkSession,
                path,
                man,
                files,
                carried=man["files"],
                prebuilt=new_bloom,
            )
            if bloom is not None:
                manifest["bloom"] = bloom
            if self._try_commit(path, base + 1, manifest):
                return base + 1
        raise CommitConflict(
            f"lost the append race {self.max_retries + 1} times at {path}"
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
        (immutable data files + snapshot manifests), and the usual
        atomic-create commit applies — but unlike MERGE, compaction
        carries no new content, so on losing a version race to a
        concurrent writer it ABORTS (returns -1; committing would
        replace the winner's rows with a stale snapshot) instead of
        retrying. Re-run when quiet; vacuum() afterwards reclaims
        the superseded files. Returns the committed version.

        ``zorder_by`` (two or more integer-castable columns) is the
        ``OPTIMIZE ... ZORDER BY`` analog: rows are re-laid-out along
        the Morton curve of those columns (``ops/layout.py``) before
        writing, so the footer min/max stats this table records
        become tight rectangles on EVERY listed column and
        :meth:`scan` prunes files for predicates on any of them."""
        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        df = self.read(spark, path, base)
        if zorder_by:
            from pyspark.sql import functions as F

            from dish_data_pipeline_spark.ops.layout import with_zvalue

            cols = df.columns
            df = (
                with_zvalue(df, list(zorder_by), bits=8, out_col="_zv")
                .repartitionByRange(target_files, F.col("_zv"))
                .sortWithinPartitions("_zv")
                .select(*cols)
            )
        else:
            df = df.coalesce(target_files)
        man = self._manifest(path, base)
        stats_cols = man.get("stats_cols") or []
        files, schema, stats = self._write_data(df, path, stats_cols)
        manifest = {"version": base + 1, "parent": base, "files": files,
                    "schema": schema, "compaction": True,
                    "stats_cols": stats_cols, "stats": stats,
                    "txns": man.get("txns", {})}
        bloom = self._bloom_commit_entry(spark, path, man, files)
        if bloom is not None:
            manifest["bloom"] = bloom
        committed = self._try_commit(path, base + 1, manifest)
        return base + 1 if committed else -1

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

        Same race discipline as :meth:`compact`: the rewrite depends
        on the base it read, so on losing the version race this
        ABORTS (returns version -1) instead of retrying — committing
        anyway could resurrect a concurrent writer's rows.

        Returns (committed version or -1, n_files_rewritten,
        n_files_carried)."""
        from pyspark.sql.types import StructType

        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        man = self._manifest(path, base)
        affected, _total = self.prune_files(
            path, intervals or {}, base, equals=equals
        )
        affected_set = set(affected)
        carried = [f for f in man["files"] if f not in affected_set]
        stats_cols = man.get("stats_cols") or []
        schema = StructType.fromJson(json.loads(man["schema"]))
        new_files: list[str] = []
        new_stats: dict = {}
        if affected:
            df = spark.read.schema(schema).parquet(
                *[os.path.join(path, f) for f in affected]
            )
            remain = df.filter(f"NOT coalesce(({predicate}), false)")
            new_files, _schema, new_stats = self._write_data(
                remain, path, stats_cols
            )
        stats = {
            f: s
            for f, s in (man.get("stats") or {}).items()
            if f not in affected_set
        }
        stats.update(new_stats)
        manifest = {"version": base + 1, "parent": base,
                    "files": carried + new_files,
                    "schema": man["schema"], "delete": predicate,
                    "stats_cols": stats_cols, "stats": stats,
                    "txns": man.get("txns", {})}
        bloom = self._bloom_commit_entry(
            spark, path, man, new_files, carried=carried
        )
        if bloom is not None:
            manifest["bloom"] = bloom
        committed = self._try_commit(path, base + 1, manifest)
        return (
            base + 1 if committed else -1,
            len(affected),
            len(carried),
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

        Same race discipline as :meth:`delete_where`: ABORTS
        (version -1) on losing the version race. Returns (committed
        version or -1, n_files_rewritten, n_files_carried)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        man = self._manifest(path, base)
        schema = StructType.fromJson(json.loads(man["schema"]))
        t_fields = {f.name: f.dataType for f in schema.fields}
        unknown = [c for c in assignments if c not in t_fields]
        if unknown:
            raise ValueError(
                f"UPDATE sets unknown target columns {unknown}"
            )
        affected, _total = self.prune_files(
            path, intervals or {}, base, equals=equals
        )
        affected_set = set(affected)
        carried = [f for f in man["files"] if f not in affected_set]
        stats_cols = man.get("stats_cols") or []
        new_files: list[str] = []
        new_stats: dict = {}
        if affected:
            df = spark.read.schema(schema).parquet(
                *[os.path.join(path, f) for f in affected]
            )
            applies = F.expr(f"coalesce(({predicate}), false)")
            updated = df.select(
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
            new_files, _schema, new_stats = self._write_data(
                updated, path, stats_cols
            )
        stats = {
            f: s
            for f, s in (man.get("stats") or {}).items()
            if f not in affected_set
        }
        stats.update(new_stats)
        manifest = {"version": base + 1, "parent": base,
                    "files": carried + new_files,
                    "schema": man["schema"], "update": predicate,
                    "stats_cols": stats_cols, "stats": stats,
                    "txns": man.get("txns", {})}
        bloom = self._bloom_commit_entry(
            spark, path, man, new_files, carried=carried
        )
        if bloom is not None:
            manifest["bloom"] = bloom
        committed = self._try_commit(path, base + 1, manifest)
        return (
            base + 1 if committed else -1,
            len(affected),
            len(carried),
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
        from dish_data_pipeline_spark.ops.portable import (
            perm_coeffs,
            py_phash,
        )

        v = self.latest_version(path) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no table at {path}")
        man = self._manifest(path, v)
        stats = man.get("stats", {})
        bloom = man.get("bloom") or {}
        bloom_files = bloom.get("files", {})
        coeffs = (
            perm_coeffs(bloom["k"], bloom["seed"]) if bloom else []
        )
        bloom_cols = set(bloom.get("cols") or [])
        for col, val in (equals or {}).items():
            # the builder hashed Spark's CAST(col AS STRING); Python's
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
        return kept, len(man["files"])

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
        from pyspark.sql.types import StructType

        v = self.latest_version(path) if version is None else version
        kept, _total = self.prune_files(path, intervals, v, equals=equals)
        man = self._manifest(path, v)
        schema = StructType.fromJson(json.loads(man["schema"]))
        if not kept:
            return spark.createDataFrame(
                spark.sparkContext.parallelize([], 1), schema
            )
        return spark.read.schema(schema).parquet(
            *[os.path.join(path, f) for f in kept]
        )

    def count_rows(self, path: str, version: int | None = None) -> int | None:
        """Metadata-only ``COUNT(*)``: sum of the per-file row counts
        recorded in the manifest at write time (the Delta
        ``numRecords`` analog) — no file is opened, no job runs; at
        100 TB this answers the most common query in milliseconds.
        Returns None when any live file predates the row-count stat
        (a table written by an older version) — callers fall back to
        a scan; soundness over guessing."""
        v = self.latest_version(path) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no table at {path}")
        man = self._manifest(path, v)
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
        rival commits first (re-examine state before retrying — the
        rival may have been another restore)."""
        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        target = self._manifest(path, version)  # raises if expired
        latest = self._manifest(path, base)
        manifest = {
            "version": base + 1,
            "parent": base,
            "restore_of": version,
            "files": target["files"],
            "schema": target["schema"],
            "stats_cols": target.get("stats_cols") or [],
            "stats": target.get("stats", {}),
            "txns": latest.get("txns", {}),
        }
        if target.get("bloom") is not None:
            manifest["bloom"] = target["bloom"]
        if not self._try_commit(path, base + 1, manifest):
            raise CommitConflict(
                f"lost the restore race at {path}; re-examine state"
            )
        return base + 1

    def history(self, path: str) -> list[dict]:
        """``DESCRIBE HISTORY`` analog: one record per committed
        version, oldest first — version, parent, commit timestamp
        (UTC epoch seconds; None for manifests written before
        timestamps were recorded), operation (create / append /
        merge-or-restore markers / compaction / delete / alter),
        file count, and the txn marker map. Driver-side metadata
        only (manifests are small JSON); expired versions are
        absent."""
        log = self._log_dir(path)
        if not os.path.isdir(log):
            return []
        out = []
        for f in sorted(os.listdir(log)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            m = self._manifest(path, int(f[1:-5]))
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
        log = self._log_dir(path)
        if not os.path.isdir(log):
            raise FileNotFoundError(f"no table at {path}")
        best: int | None = None
        earliest: float | None = None
        stamped = False
        for f in sorted(os.listdir(log)):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            m = self._manifest(path, int(f[1:-5]))
            cts = m.get("commit_ts")
            if cts is None:
                continue
            stamped = True
            if earliest is None or cts < earliest:
                earliest = cts
            if cts <= ts and (best is None or m["version"] > best):
                best = m["version"]
        if best is None:
            if not stamped:
                raise ValueError(
                    f"table at {path} has no commit timestamps (written "
                    "before timestamps were recorded) — use VERSION AS OF"
                )
            raise ValueError(
                f"timestamp {ts} predates the earliest available commit "
                f"({earliest}) at {path}"
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
        from pyspark.sql.types import (  # noqa: PLC0415
            StructField,
            StructType,
            _parse_datatype_string,
        )

        if not coldefs:
            raise ValueError("ALTER TABLE ADD COLUMNS: empty column list")
        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        latest = self._manifest(path, base)
        schema = StructType.fromJson(json.loads(latest["schema"]))
        # validate EVERYTHING first — names (vs schema and vs each
        # other, case-insensitively), types, physical absence — then
        # commit once
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
        # drop_column of the name, no live file can carry it and the
        # footer sweep is skipped — the common estate-scale ADD
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
                        f"column(s) {sorted(clash)} still exist physically "
                        f"in live file {rel} (dropped earlier?) — "
                        "re-adding would resurrect stale values. Rewrite "
                        "first (OPTIMIZE after the drop, or CREATE OR "
                        "REPLACE TABLE)"
                    )
        new_schema = StructType(list(schema.fields) + new_fields)
        rendered = ", ".join(
            f"{fld.name} {fld.dataType.simpleString()}" for fld in new_fields
        )
        marker = (
            f"add_column({rendered})"
            if len(new_fields) == 1
            else f"add_columns({rendered})"
        )
        manifest = {
            "version": base + 1,
            "parent": base,
            "alter": marker,
            "files": latest["files"],
            "schema": json.dumps(new_schema.jsonValue()),
            "stats_cols": latest.get("stats_cols") or [],
            "stats": latest.get("stats", {}),
            "txns": latest.get("txns", {}),
        }
        if latest.get("bloom") is not None:
            manifest["bloom"] = latest["bloom"]
        if not self._try_commit(path, base + 1, manifest):
            raise CommitConflict(
                f"lost the ALTER race at {path}; re-examine state"
            )
        return base + 1

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
        from pyspark.sql.types import StructType  # noqa: PLC0415

        base = self.latest_version(path)
        if base is None:
            raise FileNotFoundError(f"no table at {path}")
        latest = self._manifest(path, base)
        schema = StructType.fromJson(json.loads(latest["schema"]))
        if not any(fld.name == name for fld in schema.fields):
            raise ValueError(
                f"column {name!r} does not exist in {path}; have "
                f"{[fld.name for fld in schema.fields]}"
            )
        kept = [fld for fld in schema.fields if fld.name != name]
        if not kept:
            raise ValueError(
                f"cannot drop {name!r}: it is the last column of {path}"
            )
        stats = {
            rel: {k: v for k, v in s.items() if k != name}
            for rel, s in (latest.get("stats") or {}).items()
        }
        manifest = {
            "version": base + 1,
            "parent": base,
            "alter": f"drop_column({name})",
            "files": latest["files"],
            "schema": json.dumps(StructType(kept).jsonValue()),
            "stats_cols": [
                c for c in (latest.get("stats_cols") or []) if c != name
            ],
            "stats": stats,
            "txns": latest.get("txns", {}),
        }
        bloom = latest.get("bloom")
        if bloom is not None:
            cols = [c for c in bloom["cols"] if c != name]
            if cols:
                manifest["bloom"] = {
                    **{k: v for k, v in bloom.items() if k != "files"},
                    "cols": cols,
                    "files": {
                        rel: {c: e for c, e in entry.items() if c != name}
                        for rel, entry in (bloom.get("files") or {}).items()
                    },
                }
        if not self._try_commit(path, base + 1, manifest):
            raise CommitConflict(
                f"lost the ALTER race at {path}; re-examine state"
            )
        return base + 1

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
        log = self._log_dir(path)
        if not os.path.isdir(log):
            return []
        versions = sorted(
            int(f[1:-5])
            for f in os.listdir(log)
            if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
        )
        expired = versions[:-keep_last]
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
        for f in os.listdir(log):
            if f.startswith("v") and f.endswith(".json"):
                referenced.update(self._manifest(path, int(f[1:-5]))["files"])
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

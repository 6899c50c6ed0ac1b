"""The benchmark workloads.

Each workload generates its inputs and seeds its tables from the
seed (``set_up``), then runs ops in a closed loop with one client:
``next_input`` (untimed) → ``op`` (timed) → ``check`` (untimed) →
``after_op`` (untimed clean-up). Ops call only
the engine's public entry points: ``pipeline.run_feed``, the
``plans.QUERIES`` catalog and ``merge_sql.run_sql`` on a
``ManifestParquetBackend`` table.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dish_data_pipeline_spark import cache_registry
from dish_data_pipeline_spark.config import feed_config
from dish_data_pipeline_spark.io_backends import ManifestParquetBackend
from dish_data_pipeline_spark.merge_sql import run_sql
from dish_data_pipeline_spark.pipeline import run_feed
from dish_data_pipeline_spark.plans import QUERIES

from perfbench import gen
from perfbench.trace import Tracer

BASE_URL = "http://feed.invalid/api"


def parquet_files(path: str) -> dict[str, int]:
    """Parquet data files under ``path`` → size in bytes."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    tracer: Tracer | None = None
    #: per op, figures measured outside spans (staged bytes, files a
    #: lookup reads, Spark jobs and tasks)
    notes: dict[int, dict[str, float]] = field(default_factory=dict)

    def note(self, op: int, key: str, value: float) -> None:
        row = self.notes.setdefault(op, {})
        row[key] = row.get(key, 0.0) + value

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a call the benchmark makes into a layer —
        only while the current op is traced."""
        tracing = self.tracer is not None and self.tracer.active
        span = self.tracer.open(name) if tracing else None
        try:
            yield
        finally:
            if span is not None:
                self.tracer.close(span)


class Workload:
    name = ""
    #: ops run untimed before the measured window
    warmup_ops = 1
    #: the measured window ends only on a multiple of this many ops
    cycle_len = 1
    #: ... and holds at least this many, so no median rests on one op
    min_ops = 2
    #: report the latency of a whole cycle, one op of each kind (the
    #: sum of every kind's median), not the median op
    latency_per_cycle = False

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def set_up(self) -> None:
        """Generate inputs and seed tables under ``ctx.work``."""
        raise NotImplementedError

    def warm_up(self) -> list[str]:
        """Untimed ops that let caches fill and lazy set-up finish;
        returns output-check problems."""
        problems: list[str] = []
        for i in range(-self.warmup_ops, 0):
            inp = self.next_input(i)
            problems += self.check(i, inp, self.op(i, inp))
            self.after_op(i)
        return problems

    def next_input(self, i: int):
        return None

    def op(self, i: int, inp):
        raise NotImplementedError

    def check(self, i: int, inp, out) -> list[str]:
        return []

    def after_op(self, i: int) -> None:
        cache_registry.release_caches()

    def kind(self, inp) -> str | None:
        """The op's statement kind, for per-kind latency medians."""
        return None

    def rows(self, inp) -> int:
        """Rows the op committed to its target (write workloads) or
        scanned from its inputs (analytics)."""
        raise NotImplementedError

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError


# --------------------------------------------------------------------
# GA feed through run_feed
# --------------------------------------------------------------------

FEED = feed_config("ga_sessions")
TARGET = "tgt_ga_sessions"


class FeedMerge(Workload):
    """Small GA batches through ``run_feed`` into a large target: half
    updates of recent sessions, half inserts, one ``load_date``, so
    the MERGE rewrites the whole target every batch."""

    name = "feed_merge"
    page_size = 500
    target_rows = 400_000
    batch = 1000
    #: updates hit this newest share of the seeded keys
    recent = 0.1
    seed_date = dt.date(2024, 2, 1)
    load_date = dt.date(2024, 3, 1)

    def run(self, records: list[dict], load_date: dt.date):
        return run_feed(
            self.spark, FEED, BASE_URL, self.wh,
            http_get=gen.PagedFeed(records, self.page_size),
            load_date=load_date,
        )

    def set_up(self) -> None:
        """Learn ``run_feed``'s output schema from one real run of a
        small batch, then seed the target in it, keyed 0..target_rows
        with the newest ``recent`` share stamped with the batches'
        ``load_date``."""
        self.wh = os.path.join(self.ctx.work, "schema")
        first = range(gen.VISIT_ID_BASE, gen.VISIT_ID_BASE + self.page_size)
        records, _ = gen.ga_batch(self.ctx.seed, first, dup_rate=0.0)
        res = self.run(records, self.seed_date)
        if res.status != "SUCCESS":
            raise RuntimeError(f"schema run_feed failed: {res.issues}")
        schema = self.spark.read.parquet(os.path.join(self.wh, TARGET)).schema
        self.wh = os.path.join(self.ctx.work, "wh")
        self.bulk(schema).write.parquet(os.path.join(self.wh, TARGET))
        self.rows_now = self.target_rows
        self.next_id = gen.VISIT_ID_BASE + self.target_rows

    def bulk(self, schema):
        """Rows 0..target_rows in ``schema``: every column a seeded
        hash of the row id, keys and dates by recency."""
        seed = self.ctx.seed
        recent_from = int(self.target_rows * (1 - self.recent))
        rid = F.col("id")
        cols = []
        for i, fld in enumerate(schema.fields):
            h = F.abs(F.xxhash64(rid, F.lit(seed), F.lit(i)))
            name = fld.name
            if name == "visitId":
                c = (rid + gen.VISIT_ID_BASE).cast("string")
            elif name == "source_file":
                day = F.when(rid >= recent_from, F.lit(self.load_date.isoformat()))
                c = day.otherwise(F.lit(self.seed_date.isoformat()))
            elif name == "load_timestamp":
                c = F.lit(dt.datetime.combine(self.seed_date, dt.time()))
            elif name == "totals_hits":
                c = h % 500 + 1
            elif fld.dataType.typeName() == "string":
                c = F.concat(F.lit(name[:6]), (h % 97).cast("string"))
            elif fld.dataType.typeName() == "boolean":
                c = h % 2 == 0
            else:
                c = h % 1000
            cols.append(c.cast(fld.dataType).alias(name))
        return self.spark.range(self.target_rows).select(*cols)

    def next_input(self, i: int):
        rng = random.Random(self.ctx.seed * 7 + i)
        lo = gen.VISIT_ID_BASE + int(self.target_rows * (1 - self.recent))
        upd = rng.sample(range(lo, gen.VISIT_ID_BASE + self.target_rows),
                         self.batch // 2)
        ins = list(range(self.next_id, self.next_id + self.batch // 2))
        self.next_id += len(ins)
        records, hits_of = gen.ga_batch(self.ctx.seed * 100_003 + i, upd + ins)
        return records, hits_of, len(ins), upd

    def op(self, i: int, inp):
        return self.run(inp[0], self.load_date)

    def check(self, i: int, inp, out) -> list[str]:
        """Target row count, sampled updated ``totals_hits`` and the
        newest audit row."""
        _records, hits_of, n_ins, upd = inp
        self.rows_now += n_ins
        if out.status != "SUCCESS" or out.record_count != self.batch:
            return [f"run_feed {out.status} count={out.record_count} "
                    f"want {self.batch}: {out.issues}"]
        problems: list[str] = []
        # keys duplicated inside the batch keep an arbitrary copy, so
        # only keys sent once are sampled
        updated = sorted(set(upd) & set(hits_of))
        sample = [str(v) for v in random.Random(self.ctx.seed + i).sample(updated, 5)]
        picked = F.when(F.col("visitId").isin(sample),
                        F.struct("visitId", "totals_hits"))
        row = self.spark.read.parquet(os.path.join(self.wh, TARGET)).agg(
            F.count(F.lit(1)).alias("n"), F.collect_list(picked).alias("got")
        ).first()
        if row.n != self.rows_now:
            problems.append(f"target rows {row.n} want {self.rows_now}")
        got = {r.visitId: r.totals_hits for r in row.got}
        want = {v: hits_of[int(v)] for v in sample}
        if got != want:
            problems.append(f"totals_hits {got} want {want}")
        audit = max(
            self.spark.read.parquet(os.path.join(self.wh, "load_audit")).collect(),
            key=lambda r: r.load_timestamp,
        )
        if audit.status != "SUCCESS" or audit.record_count != self.batch:
            problems.append(f"audit {audit.status} {audit.record_count}")
        return problems

    def rows(self, inp) -> int:
        return self.batch

    def stored_bytes_per_row(self) -> float:
        tgt = os.path.join(self.wh, TARGET)
        return sum(parquet_files(tgt).values()) / self.rows_now


# --------------------------------------------------------------------
# Read-only catalog queries
# --------------------------------------------------------------------

#: rotation of catalog queries → the tables each one scans
ROTATION: dict[str, tuple[str, ...]] = {
    "pricing_summary": ("lineitem",),
    "region_revenue": ("lineitem", "orders", "supplier", "customer",
                       "nation", "region"),
    "topk_revenue": ("lineitem", "orders", "customer"),
    "semi_anti_join": ("customer", "orders"),
    "window_running": ("events",),
    "cohort_retention": ("events",),
    "keep_latest_events": ("events",),
    "exact_dedup": ("documents",),
    "minhash_neardup": ("documents",),
}


def frames_agree(a, b) -> str | None:
    """Compare a Spark result with its DuckDB twin as sorted rows:
    same columns, row count and values (floats to 1e-9 relative)."""
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    cols = sorted(a.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            s = df[c]
            if s.dtype.kind in "fiub":
                df[c] = s.astype("float64")
            elif s.dtype.kind == "M":
                df[c] = s.astype("datetime64[us]").astype("int64").astype("float64")
            else:
                df[c] = s.map(lambda v: "<null>" if v is None else str(v))
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    a, b = norm(a), norm(b)
    for c in cols:
        if a[c].dtype.kind == "f" and b[c].dtype.kind == "f":
            x, y = a[c].to_numpy(), b[c].to_numpy()
            ok = np.isclose(x, y, rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            ok = (a[c].astype(str) == b[c].astype(str)).to_numpy()
        if not ok.all():
            return f"column {c}: {int((~ok).sum())} values differ"
    return None


class AnalyticsMix(Workload):
    """Catalog queries over a seeded warehouse, run to the noop sink.
    One op is one query of the rotation; the reported latency is that
    of the whole rotation, the sum of every query's median, so every
    query weighs the same: the cheap ones cannot hide a slow one."""

    name = "analytics_mix"
    scale = 0.01
    cycle_len = len(ROTATION)
    #: the first rotation after the check pass still runs ~10% slow
    #: (JIT); with three, each query's median skips it
    min_ops = 3 * cycle_len
    latency_per_cycle = True

    def set_up(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work, "sf")
        self.table_rows = gen.write_analytics_tables(
            self.sf_dir, self.ctx.seed, self.scale
        )

    def warm_up(self) -> list[str]:
        """Each query once against its DuckDB twin (``QueryDef.sql``):
        the run's output check, and the warm-up of every plan shape."""
        con = duckdb.connect()
        try:
            for t in self.table_rows:
                src = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
            problems = []
            for name in ROTATION:
                qd = QUERIES[name]
                df = qd.fn(self.spark, self.sf_dir)
                got = df.toPandas()
                # the timed path (the noop sink) warms up too
                df.write.format("noop").mode("overwrite").save()
                cache_registry.release_caches()
                if len(got) == 0:
                    problems.append(f"{name}: empty result")
                diff = frames_agree(got, con.execute(qd.sql).fetchdf())
                if diff:
                    problems.append(f"{name}: {diff}")
        finally:
            con.close()
        return problems

    def next_input(self, i: int) -> str:
        return list(ROTATION)[i % self.cycle_len]

    def op(self, i: int, inp):
        with self.ctx.span("plans.build"):
            df = QUERIES[inp].fn(self.spark, self.sf_dir)
        with self.ctx.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def kind(self, inp) -> str:
        return inp

    def rows(self, inp) -> int:
        return sum(self.table_rows[t] for t in ROTATION[inp])

    def stored_bytes_per_row(self) -> float:
        return (sum(parquet_files(self.sf_dir).values())
                / sum(self.table_rows.values()))


# --------------------------------------------------------------------
# Lakehouse SQL on a manifest table
# --------------------------------------------------------------------

MERGE_SQL = """
MERGE INTO tbl T
USING (
  SELECT * EXCEPT(rn) FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
    FROM src
  ) WHERE rn = 1
) S
ON T.k = S.k
WHEN MATCHED THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""

BASE_TS = dt.datetime(2024, 1, 1)


class LakehouseSql(Workload):
    """Textual SQL on a manifest table in cycles of one MERGE (half
    updates, half inserts), point SELECTs and one point DELETE. Each
    statement is an op; the window closes on a whole cycle."""

    name = "lakehouse_sql"
    table_rows = 50_000
    files = 4
    merge_rows = 1000
    lookups = 10
    cycle_len = 1 + lookups + 1
    #: statements get faster over the first cycle (JIT)
    warmup_ops = cycle_len
    #: op kind → the span around its ``run_sql`` call
    SPANS = {"merge": "merge_sql.merge", "lookup": "merge_sql.select",
             "delete": "merge_sql.delete"}

    def set_up(self) -> None:
        self.dir = self.ctx.work
        self.path = os.path.join(self.dir, "tbl")
        self.be = ManifestParquetBackend()
        seed = self.ctx.seed
        k = F.col("id")
        df = self.spark.range(0, self.table_rows, numPartitions=self.files).select(
            k.alias("k"),
            F.lit(BASE_TS).alias("ts"),
            ((k * 7919 + seed) % 100_003).alias("v"),
            F.concat(F.lit("c"), (k % 17).cast("string")).alias("cat"),
            F.concat(
                F.lit("p"),
                F.lpad(((k * 31 + seed) % 1_000_003).cast("string"), 12, "0"),
            ).alias("payload"),
        )
        self.be.create(df, self.path, stats_cols=["k"])
        #: the expected table: key → (v, cat, payload) for keys whose
        #: row differs from the seeded formula, None once deleted
        self.changed: dict[int, tuple | None] = {}
        self.live = self.table_rows
        self.next_key = self.table_rows
        self.rng = random.Random(seed)

    def base_row(self, k: int) -> tuple:
        seed = self.ctx.seed
        return ((k * 7919 + seed) % 100_003, f"c{k % 17}",
                "p" + str((k * 31 + seed) % 1_000_003).zfill(12))

    def expected(self, k: int) -> tuple | None:
        if k in self.changed:
            return self.changed[k]
        return self.base_row(k) if k < self.table_rows else None

    def live_key(self) -> int:
        while True:
            k = self.rng.randrange(self.next_key)
            if self.expected(k) is not None:
                return k

    def next_input(self, i: int):
        pos = i % self.cycle_len
        if pos == 0:
            return "merge", self.next_merge(i)
        lookups, victim = self.cycle
        if pos <= self.lookups:
            return "lookup", lookups[pos - 1]
        return "delete", victim

    def next_merge(self, i: int) -> str:
        """Stage the cycle's MERGE source as a Parquet file, apply it
        to the model, and pick the cycle's lookups and victim."""
        half = self.merge_rows // 2
        upd: set[int] = set()
        while len(upd) < half:
            upd.add(self.live_key())
        ins = list(range(self.next_key, self.next_key + half))
        keys = sorted(upd) + ins
        rows = {
            k: ((k * 13 + i * 101 + self.ctx.seed) % 100_003, f"u{i % 7}",
                "q" + str(k * 7 + i).zfill(12))
            for k in keys
        }
        stage = os.path.join(self.dir, "stage", f"{i}.parquet")
        os.makedirs(os.path.dirname(stage), exist_ok=True)
        ts = int((BASE_TS - dt.datetime(1970, 1, 1)).total_seconds() + i + 10)
        pq.write_table(pa.table({
            "k": pa.array(keys, pa.int64()),
            "ts": pa.array([ts * 1_000_000] * len(keys),
                           pa.timestamp("us", tz="UTC")),
            "v": pa.array([rows[k][0] for k in keys], pa.int64()),
            "cat": [rows[k][1] for k in keys],
            "payload": [rows[k][2] for k in keys],
        }), stage)
        lookups = sorted(upd)[:4] + ins[:3]
        self.changed.update(rows)
        self.next_key += half
        self.live += half
        while len(lookups) < self.lookups:
            lookups.append(self.live_key())
        self.cycle = lookups, self.live_key()
        self.ctx.note(i, "staged_bytes", os.path.getsize(stage))
        return stage

    def kind(self, inp) -> str:
        return inp[0]

    def sql(self, text: str, tables=None):
        return run_sql(self.spark, text, tables, backend=self.be,
                       table_paths={"tbl": self.path})

    def op(self, i: int, inp):
        kind, arg = inp
        with self.ctx.span(self.SPANS[kind]):
            if kind == "merge":
                return self.sql(MERGE_SQL, {"src": self.spark.read.parquet(arg)})
            if kind == "lookup":
                return self.sql(f"SELECT * FROM tbl WHERE k = {arg}").collect()
            return self.sql(f"DELETE FROM tbl WHERE k = {arg}")

    def check(self, i: int, inp, out) -> list[str]:
        kind, arg = inp
        problems = []
        if kind == "lookup":
            got = [(r.v, r.cat, r.payload) for r in out if r.k == arg]
            if len(out) != 1 or got != [self.expected(arg)]:
                problems.append(f"lookup k={arg}: {out} want {self.expected(arg)}")
            if self.ctx.tracer is not None and i % self.cycle_len == 1:
                probe = self.sql(f"SELECT * FROM tbl WHERE k = {arg}")
                self.ctx.note(i, "lookup_files", len(probe.inputFiles()))
                self.ctx.note(i, "snapshot_files", len(self.snapshot_files()))
            return problems
        if kind == "delete":
            self.changed[arg] = None
            self.live -= 1
            if self.sql(f"SELECT * FROM tbl WHERE k = {arg}").count():
                problems.append(f"deleted key {arg} still present")
        n = self.be.count_rows(self.path)
        if n is not None and n != self.live:
            problems.append(f"table rows {n} want {self.live}")
        return problems

    def after_op(self, i: int) -> None:
        super().after_op(i)
        if i % self.cycle_len == 0:
            shutil.rmtree(os.path.join(self.dir, "stage"), ignore_errors=True)

    def snapshot_files(self) -> list[str]:
        return [
            f.removeprefix("file:")
            for f in self.be.read(self.spark, self.path).inputFiles()
        ]

    def rows(self, inp) -> int:
        return {"merge": self.merge_rows, "lookup": 0, "delete": 1}[inp[0]]

    def stored_bytes_per_row(self) -> float:
        return sum(os.path.getsize(f) for f in self.snapshot_files()) / self.live


WORKLOADS = {
    w.name: w for w in (FeedMerge, AnalyticsMix, LakehouseSql)
}

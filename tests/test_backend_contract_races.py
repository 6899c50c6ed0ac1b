"""Multi-writer MERGE races, stated in backend-AGNOSTIC form for
every backend that claims the concurrent-MERGE contract (today the
manifest table).

The manifest backend's race proofs (tests/test_backends.py) assert
manifest-specific observables (committed version numbers). This
module states the same guarantees as observables any multi-writer
backend must show:

- every racing MERGE eventually lands (no writer starves, no
  exception escapes),
- no row is lost or duplicated per key,
- the final state is SERIALIZABLE: there exists a single total
  order of the racing writers that explains every key's final
  owner (each key is owned by the last writer, in that order,
  that touched it).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from itertools import permutations

import pytest
from pyspark.sql import functions as F

from dish_data_pipeline_spark.io_backends import ManifestParquetBackend

MERGE_CONTRACT_BACKENDS = ("manifest",)


@pytest.fixture(params=MERGE_CONTRACT_BACKENDS)
def race_env(tmp_path):
    """→ (backend, table-locator factory)."""
    return ManifestParquetBackend(max_retries=20), (lambda s: str(tmp_path / s))


def _serializable_witness(
    final: dict[int, tuple[int, str]],
    writers: list[int],
    touched: dict[int, list[int]],
    seed: tuple[int, str],
) -> bool:
    """True iff some total order of writers explains every key's
    final owner as the LAST toucher in that order (MERGE replaces
    matched keys unconditionally, reference J1)."""
    for order in permutations(writers):
        rank = {w: i for i, w in enumerate(order)}
        ok = True
        for k, owners in touched.items():
            expect = seed
            if owners:
                w = max(owners, key=rank.__getitem__)
                expect = (w, f"w{w}")
            if final.get(k) != expect:
                ok = False
                break
        if ok:
            return True
    return False


def test_racing_overlapping_merges_serialize(spark, race_env):
    be, loc = race_env
    path = loc("mrace_contract")
    be.create(
        spark.range(6).select(
            F.col("id").alias("k"),
            F.lit(-1).cast("bigint").alias("ts"),
            F.lit("seed").alias("who"),
        ),
        path,
    )

    def writer(w: int) -> None:
        staging = spark.createDataFrame(
            [(k, w, f"w{w}") for k in (w, w + 1, w + 2)],
            "k bigint, ts bigint, who string",
        )
        be.merge_keep_latest(spark, path, staging, ["k"], "ts")

    writers = list(range(4))
    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(writer, writers))  # re-raises any writer failure

    rows = be.read(spark, path).collect()
    final = {r.k: (r.ts, r.who) for r in rows}
    # no row lost, none duplicated
    assert len(rows) == 6
    assert sorted(final) == list(range(6))
    touched = {
        k: [w for w in writers if w <= k <= w + 2] for k in range(6)
    }
    assert _serializable_witness(final, writers, touched, (-1, "seed"))


def test_racing_disjoint_merges_all_land(spark, race_env):
    """Disjoint-key MERGEs may not interfere at all: every writer's
    rows must be present verbatim — the no-lost-update half of the
    contract with zero ordering freedom to hide behind."""
    be, loc = race_env
    path = loc("drace_contract")
    be.create(
        spark.createDataFrame([(-1, -1, "seed")], "k bigint, ts bigint, who string"),
        path,
    )

    def writer(w: int) -> None:
        staging = spark.createDataFrame(
            [(w * 10 + i, w, f"w{w}") for i in range(3)],
            "k bigint, ts bigint, who string",
        )
        be.merge_keep_latest(spark, path, staging, ["k"], "ts")

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(writer, range(4)))

    rows = {r.k: (r.ts, r.who) for r in be.read(spark, path).collect()}
    expect = {-1: (-1, "seed")}
    for w in range(4):
        for i in range(3):
            expect[w * 10 + i] = (w, f"w{w}")
    assert rows == expect

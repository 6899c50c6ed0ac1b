"""Hot-bucket stress for the MinHash-LSH band join — the real 100 TB
dedup failure mode: thousands of exact copies of one document all
land in the SAME four band buckets, so one reducer key carries a
quadratic pair set. AQE's skew-join split must break that key's
partition into bounded tasks WITHOUT changing the pair set.

Thresholds are lowered so the (test-sized) hot bucket crosses the
skew detector; at production defaults the same mechanics engage at
256 MB per partition. The salted_join/salted_agg operators
(operators/skew.py, tests/test_scale_ops.py) remain the explicit
fallback when a join shape AQE can't rewrite is skewed.

The skew detector reads compressed shuffle bytes per reducer. The hot
rows differ only in ``doc_id`` and compress well, so every map task
adds one small compressed block to a hot reducer (about 180 bytes on
top of ~6 KB of row data), and the hot partition's size grows with the
number of input slices: its largest reducer holds ~7.0 KB at 4 slices
and ~12 KB at 32, against the 8 KB threshold below. The slice count
(``N_SLICES``) is therefore pinned, like
``spark.sql.shuffle.partitions``, to the value the thresholds were set
on; left to ``defaultParallelism`` it would follow the host's core
count.
"""

from __future__ import annotations

from pyspark.sql import Row

from dish_data_pipeline_spark.ops.dedup_fuzzy import (
    minhash_candidate_pairs,
    with_minhash,
    with_shingles,
)

N_HOT = 200
N_COLD = 60
# input slices (map tasks) the SKEW_CONFS size thresholds were set on
N_SLICES = 32

SKEW_CONFS = {
    # force a shuffled join (no broadcast) and make the tiny hot
    # bucket register as skewed
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # pin the partition count the size thresholds below are tuned
    # for — catalog tests retune shuffle.partitions session-wide
    # (plans.common.ensure_session_confs), and at higher counts the
    # hot bucket no longer crosses the detector's median-based bar
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
}


def _corpus(spark):
    hot = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        Row(doc_id=i, text=hot, lang="en", source="s", n_chars=len(hot))
        for i in range(N_HOT)
    ]
    rows += [
        Row(
            doc_id=10_000 + i,
            text=f"totally distinct filler number{i} with words alpha{i} beta{i} gamma{i}",
            lang="en",
            source="s",
            n_chars=40,
        )
        for i in range(N_COLD)
    ]
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, N_SLICES))


def test_hot_band_bucket_is_skew_split_and_pairs_exact(spark):
    old = {k: spark.conf.get(k, None) for k in SKEW_CONFS}
    for k, v in SKEW_CONFS.items():
        spark.conf.set(k, v)
    try:
        pairs = minhash_candidate_pairs(with_minhash(with_shingles(_corpus(spark))))
        got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # pair-set correctness under skew handling: exactly the C(N_HOT, 2)
    # copy pairs, every one at estimated Jaccard 1.0; the distinct cold
    # docs share no band bucket with anything (fixed texts + portable
    # hash => deterministic, not a flaky property)
    expect = {
        (a, b) for a in range(N_HOT) for b in range(a + 1, N_HOT)
    }
    assert set(got) == expect
    assert all(v == 1.0 for v in got.values())

    # the executed adaptive plan must actually have engaged the skew
    # split on the band join (bounded task sizes, no single straggler
    # reducer owning the whole hot bucket)
    assert "skew=true" in plan, plan

"""ga_sessions-shaped feed end to end: nested structs through
flatten, keep-latest MERGE across two runs, list-valued field
sanitize (FIXTURES.md §A2)."""

from __future__ import annotations

import datetime as dt

import pytest

from dish_data_pipeline_spark.pipeline import FeedConfig, run_feed

FEED = FeedConfig(
    name="ga_sessions",
    endpoint="ga_sessions",
    keys=["visitId", "source_file"],
    required=["visitId", "channelGrouping"],
)


def sessions_server(hits_of: dict[str, int]):
    """One page of GA-like nested records; visitId → totals.hits."""
    recs = [
        {
            "visitId": vid,
            "channelGrouping": "Organic Search",
            "device": {"browser": "Chrome", "os": {"name": "linux"}},
            "geoNetwork": {"country": "Germany"},
            "totals": {"hits": hits},
            "customDimensions": [{"index": 1, "value": "x"}],  # list cell
        }
        for vid, hits in hits_of.items()
    ]

    def http_get(url):
        page = int(url.rsplit("=", 1)[1])
        if page == 1:
            return 200, {"records": recs, "hasMore": False}
        return 200, {"records": []}

    return http_get


def test_nested_feed_flattens_and_merges(spark, tmp_path):
    wh = str(tmp_path / "wh")
    srv = sessions_server({f"v{i}": i for i in range(1, 7)})
    res = run_feed(
        spark, FEED, "http://fake", wh, http_get=srv,
        load_date=dt.date(2024, 3, 1),
    )
    assert res.status == "SUCCESS", res.issues
    tgt = spark.read.parquet(f"{wh}/tgt_ga_sessions")
    cols = set(tgt.columns)
    # json_normalize-style flattened names (3 levels deep)
    assert {"visitId", "channelGrouping", "device_browser",
            "device_os_name", "geoNetwork_country", "totals_hits"} <= cols
    row = {r.visitId: r for r in tgt.collect()}
    assert row["v3"].totals_hits == 3
    assert row["v3"].device_os_name == "linux"
    # list-valued field stringified, not exploded (P3 parity)
    assert isinstance(row["v3"].customDimensions, str)
    assert '"index"' in row["v3"].customDimensions

    # Second run, same load_date, updated hits → keep-latest update,
    # no duplicate keys in target.
    srv2 = sessions_server({"v1": 99, "v7": 7, "v2": 2, "v3": 3, "v4": 4, "v5": 5})
    res2 = run_feed(
        spark, FEED, "http://fake", wh, http_get=srv2,
        load_date=dt.date(2024, 3, 1),
    )
    assert res2.status == "SUCCESS", res2.issues
    tgt2 = spark.read.parquet(f"{wh}/tgt_ga_sessions")
    rows = {r.visitId: r for r in tgt2.collect()}
    assert len(rows) == 7  # v1..v7, no dup (visitId, source_file)
    assert rows["v1"].totals_hits == 99  # updated
    assert rows["v6"].totals_hits == 6  # retained from run 1
    assert rows["v7"].totals_hits == 7  # inserted


def dup_sessions_server(n=6):
    """Every visitId served twice with DIFFERENT hits — key-dups that
    are NOT exact-row dups, so the full-row pre-dedup (D1) keeps both
    and they reach the DQ gate."""
    recs = [
        {"visitId": f"v{i}", "channelGrouping": "Direct", "hits": h}
        for i in range(1, n + 1)
        for h in (1, 2)
    ]

    def http_get(url):
        page = int(url.rsplit("=", 1)[1])
        if page == 1:
            return 200, {"records": recs, "hasMore": False}
        return 200, {"records": []}

    return http_get


def _run_stages(spark, feed, base_url, wh, http_get, load_date):
    from dish_data_pipeline_spark.orchestration import StageContext, run_stages

    return run_stages(
        StageContext(spark, feed, base_url, wh, http_get, load_date)
    )


def _run_feed(spark, feed, base_url, wh, http_get, load_date):
    return run_feed(
        spark, feed, base_url, wh, http_get=http_get, load_date=load_date
    )


@pytest.mark.parametrize(
    "driver", [_run_feed, _run_stages], ids=["run_feed", "run_stages"]
)
def test_recoverable_duplicates_dedup_and_continue(spark, tmp_path, driver):
    """D2/X9 (reference pipeline/data_pipeline.py:253-258): key-dups
    surviving pre-dedup trigger the recoverable branch — DQ reports
    the duplicates, the feed is deduped by the feed keys and the run
    CONTINUES, and the SUCCESS audit carries the deduped count. Both
    drivers — run_feed and the stage-granular orchestration — take
    this route."""
    wh = str(tmp_path / "wh")
    res = driver(
        spark, FEED, "http://fake", wh, dup_sessions_server(6),
        dt.date(2024, 3, 1),
    )
    assert res.status == "SUCCESS", res.issues
    # The route was D2, not D1: DQ saw and reported the duplicates.
    assert any("duplicate" in i.lower() for i in res.issues), res.issues
    assert res.record_count == 6  # deduped, not the 12 served
    tgt = spark.read.parquet(f"{wh}/tgt_ga_sessions")
    assert tgt.count() == 6
    audit = spark.read.parquet(f"{wh}/load_audit").collect()
    assert len(audit) == 1
    assert audit[0].status == "SUCCESS" and audit[0].record_count == 6

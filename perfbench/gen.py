"""Seeded input generators for the benchmark workloads.

Every generator takes an explicit ``seed`` and is deterministic: the
same seed gives the same records, rows and files. Nothing here is
timed; the workloads call these during set-up.

- GA-sample-shaped session records (nested ``device`` /
  ``geoNetwork`` / ``totals`` / ``trafficSource`` structs, a
  list-valued ``customDimensions``, some ``visitId`` values sent as
  JSON numbers so schema inference has to merge them into strings,
  and ~1% key duplicates with differing ``totals``), paged like the
  REST API the pipeline extracts from.
- A small TPC-H/events/documents warehouse for the ``plans`` catalog,
  written with pyarrow in the same layout as the catalog's test data
  (one ``<table>.parquet`` file per table).
"""

from __future__ import annotations

import os
import random
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------
# GA sessions feed
# --------------------------------------------------------------------

CHANNELS = ("Organic Search", "Direct", "Referral", "Paid Search",
            "Social", "Display", "Affiliates")
BROWSERS = ("Chrome", "Safari", "Firefox", "Internet Explorer", "Edge")
OSES = ("Windows", "Macintosh", "Android", "iOS", "Linux", "Chrome OS")
CATEGORIES = ("desktop", "mobile", "tablet")
GEO = (
    ("Americas", "Northern America", "United States", "Mountain View"),
    ("Americas", "South America", "Brazil", "Sao Paulo"),
    ("Europe", "Western Europe", "Germany", "Berlin"),
    ("Europe", "Northern Europe", "United Kingdom", "London"),
    ("Asia", "Southern Asia", "India", "Bengaluru"),
    ("Asia", "Eastern Asia", "Japan", "Tokyo"),
    ("Oceania", "Australasia", "Australia", "Sydney"),
)
SOURCES = (("google", "organic"), ("(direct)", "(none)"),
           ("youtube.com", "referral"), ("google", "cpc"),
           ("facebook.com", "social"), ("dfa", "cpm"))
REGIONS = ("California", "New York", "Bavaria", "England", "Karnataka",
           "Tokyo", "New South Wales")

#: visitIds start here, so every id looks like a GA epoch-second id
VISIT_ID_BASE = 1_500_000_000


def ga_record(rng: random.Random, visit_id: int, hits: int,
              as_number: bool = False) -> dict:
    """One GA-sample-shaped session. ``as_number`` sends the visitId
    as a JSON number instead of a digit string."""
    continent, sub, country, city = rng.choice(GEO)
    source, medium = rng.choice(SOURCES)
    return {
        "visitId": visit_id if as_number else str(visit_id),
        "fullVisitorId": str(rng.getrandbits(62)),
        "visitNumber": rng.randint(1, 40),
        "visitStartTime": visit_id + rng.randint(0, 59),
        "date": "20240301",
        "channelGrouping": rng.choice(CHANNELS),
        "socialEngagementType": "Not Socially Engaged",
        "device": {
            "browser": rng.choice(BROWSERS),
            "operatingSystem": rng.choice(OSES),
            "isMobile": rng.random() < 0.4,
            "deviceCategory": rng.choice(CATEGORIES),
        },
        "geoNetwork": {
            "continent": continent,
            "subContinent": sub,
            "country": country,
            "city": city,
            "networkDomain": rng.choice(("comcast.net", "(not set)",
                                         "t-online.de", "bt.com")),
        },
        "totals": {
            "visits": 1,
            "hits": hits,
            "pageviews": max(1, hits - rng.randint(0, 3)),
            "timeOnSite": rng.randint(1, 3600),
            "newVisits": rng.randint(0, 1),
        },
        "trafficSource": {
            "source": source,
            "medium": medium,
            "campaign": rng.choice(("(not set)", "Data Share Promo",
                                    "AW - Dynamic Search Ads")),
            "adwordsClickInfo": {
                "criteriaParameters": "not available in demo dataset",
            },
        },
        "customDimensions": [
            {"index": 4, "value": rng.choice(REGIONS)}
        ],
    }


def ga_batch(
    seed: int,
    visit_ids: Iterable[int],
    dup_rate: float = 0.01,
) -> tuple[list[dict], dict[int, int]]:
    """Records for ``visit_ids`` plus ~``dup_rate`` key duplicates.

    Returns (records, hits_of) where ``hits_of`` maps each visitId
    that occurs exactly once to its ``totals.hits`` — the values an
    output check can expect in the target. A duplicated key carries a
    different ``totals.hits`` in each copy, so which copy the
    pipeline's key dedup keeps is not predictable and such keys are
    left out of ``hits_of``."""
    rng = random.Random(seed)
    records: list[dict] = []
    hits_of: dict[int, int] = {}
    dups: list[int] = []
    for i, vid in enumerate(visit_ids):
        hits = rng.randint(1, 500)
        # the first record of a batch is always a digit string, so
        # inference always sees both spellings merged into a string
        records.append(ga_record(rng, vid, hits, i > 0 and rng.random() < 0.1))
        hits_of[vid] = hits
        if rng.random() < dup_rate:
            dups.append(vid)
    for vid in dups:
        hits = hits_of.pop(vid) + 1000  # same key, different totals
        records.append(ga_record(rng, vid, hits))
    rng.shuffle(records)
    return records, hits_of


class PagedFeed:
    """In-memory REST endpoint: serves prebuilt pages of records as
    ``http_get(url) -> (status, payload)``, the injectable fetch the
    pipeline's REST source takes. Page ``p`` is 1-based; the last page
    clears ``hasMore``. No network and no serialization happen here,
    so the benchmark times only the program."""

    def __init__(self, records: list[dict], page_size: int) -> None:
        self.pages = [
            records[i : i + page_size]
            for i in range(0, len(records), page_size)
        ]

    def __call__(self, url: str) -> tuple[int, dict]:
        page = int(url.rsplit("=", 1)[1])
        if page > len(self.pages):
            return 200, {"records": []}
        return 200, {
            "records": self.pages[page - 1],
            "hasMore": page < len(self.pages),
        }


# --------------------------------------------------------------------
# Analytics warehouse (plans catalog input)
# --------------------------------------------------------------------

R_NAMES = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "STANDARD")
P_ADJ = ("small", "red", "blue", "green", "large", "steel", "round")
P_NOUN = ("ring", "widget", "bolt", "gear", "panel", "valve", "spring")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a the data table row column key value part line order customer "
    "query scan filter join agg group sort window batch stream merge "
    "hash spark fast slow big small vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

DAY_US = 86_400_000_000


def _ts_us(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dest: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(dest, f"{name}.parquet"))


def write_analytics_tables(dest: str, seed: int, scale: float) -> dict[str, int]:
    """Write region/nation/supplier/customer/part/orders/lineitem/
    events/documents under ``dest`` at ``scale`` (1.0 ≈ TPC-H SF1
    row counts for the TPC-H tables). Returns rows per table."""
    os.makedirs(dest, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * scale))
    n_cust = max(50, int(150_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_events = max(500, int(1_000_000 * scale))
    n_users = max(20, n_events // 65)
    n_docs = max(50, int(50_000 * scale))
    i32 = pa.int32()

    _write(dest, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(R_NAMES),
    }))
    _write(dest, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }))
    _write(dest, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }))
    _write(dest, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }))
    _write(dest, "part", pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part),
    }))

    # two thirds of customers place orders, so the anti-join has rows
    epoch_1995 = np.datetime64("1995-01-01", "us").astype("int64")
    o_date = epoch_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    _write(dest, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, max(1, n_cust * 2 // 3), n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_us(o_date),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }))

    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    n_line = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_num = np.arange(n_line) - np.repeat(starts, lines_per) + 1
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(dest, "lineitem", pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts_us(
            o_date[l_order] + rng.integers(1, 122, n_line) * DAY_US
        ),
    }))

    epoch_2024 = np.datetime64("2024-01-01", "us").astype("int64")
    _write(dest, "events", pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts_us(epoch_2024 + rng.integers(0, 30 * DAY_US, n_events)),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }))

    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(20, 90, n_docs)
    ]
    _write(dest, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }))
    return {
        "region": 5, "nation": 25, "supplier": n_supp, "customer": n_cust,
        "part": n_part, "orders": n_ord, "lineitem": n_line,
        "events": n_events, "documents": n_docs,
    }

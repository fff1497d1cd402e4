"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the same seed gives byte-identical inputs.  Two families:

* ``write_tables`` — the ten TPC-H-ish/corpus tables the registered
  queries read (``sources/tables.TABLE_NAMES``), with the schemas and
  value domains of the repository's test tables (TESTDATA.md), at a
  fixed scale.
* ``Breadcrumbs`` — the reference flow's input: per-vehicle breadcrumb
  API responses (what the collector fetches), the subscriber's
  arrival-order drop directory (hourly waves, late records, malformed
  lines) and the per-event-day JSONL files the batch transform reads.

``fetch_vehicle`` is the fetcher handed to ``fetch_breadcrumbs``; it is
a module-level function so Spark's Python workers import it by name.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Tables.

#: Row counts of the repository's sf0.01 test tables (TESTDATA.md), as
#: read from their parquet footers.
ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
#: Shares of documents that are near duplicates (an earlier text plus
#: " dup": 25 of 500 at sf0.01, 250 of 5000 at sf0.1) and exact
#: duplicates (8 of 5000 at sf0.1) in the test tables.
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.43, 0.15, 0.145, 0.14, 0.135]
#: The test tables' vocabulary, less "dup" (which marks a near duplicate).
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((end - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < NEAR_DUP_SHARE:
            # Near duplicate, planted as in the test tables: an earlier
            # text plus one word, so its shingle Jaccard is >= 0.9 (the
            # regime where the MinHash queries are exact).
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(size=(10, dim))
    x = rng.normal(size=(n, dim)) + 0.15 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": emb, "label": labels})


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = ROWS
    nc, ns, np_, no, nl, ne = (n["customer"], n["supplier"], n["part"],
                               n["orders"], n["lineitem"], n["events"])
    i32 = np.int32
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(_SEGMENTS, nc),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }),
        "part": pa.table({
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                       zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
            "p_type": rng.choice(_PTYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }),
        "events": pa.table({
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")),
            "user_id": rng.integers(0, ne * 3 // 200, ne).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }),
        "documents": pa.table(_documents(rng, n["documents"])),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return out


def write_tables(seed: int, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    return rows


# ---------------------------------------------------------------------------
# Breadcrumbs for the reference flow.

_MONTHS = "JAN FEB MAR APR MAY JUN JUL AUG SEP OCT NOV DEC".split()


def opd(day: dt.date) -> str:
    return f"{day.day:02d}{_MONTHS[day.month - 1]}{day.year}:00:00:00"


def fetch_vehicle(api_dir: str, vehicle_id: int) -> list[dict]:
    """The collector's fetcher: one vehicle's breadcrumb array, read from
    the pre-generated API response file (the stand-in for the HTTP GET)."""
    path = os.path.join(api_dir, f"vehicle_{vehicle_id}.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


class Breadcrumbs:
    """Reference-flow inputs made from ``seed``: VEHICLES buses over DAYS
    service days, TRIPS trips per bus-day, PINGS records per trip."""

    #: The reference's vehicle fan-out: 199 ids (BASELINE.md).
    VEHICLES = 199
    DAYS = (dt.date(2023, 1, 6), dt.date(2023, 1, 7))  # a weekday and a Saturday
    TRIPS = 3
    PINGS = 20
    #: share of a day's records that arrive in the next day's first wave
    LATE_SHARE = 0.03
    #: malformed lines, both in the drop directory and in the day files
    MALFORMED = 7

    def __init__(self, seed: int) -> None:
        self.seed = seed
        # Filled by ``write``.
        self.rows_per_day: dict[str, int] = {}
        self.trips_total = 0
        self.vehicle_ids: list[int] = []

    def _records(self) -> list[dict]:
        rng = np.random.default_rng([self.seed, 2])
        self.vehicle_ids = sorted(int(v) for v in rng.choice(
            np.arange(1000, 10000), self.VEHICLES, replace=False))
        recs = []
        for d_i, day in enumerate(self.DAYS):
            for v_i, vid in enumerate(self.vehicle_ids):
                start = int(rng.integers(5 * 3600, 8 * 3600))
                for t in range(self.TRIPS):
                    trip = 10_000_000 * (d_i + 1) + 100 * v_i + t
                    act = start + np.cumsum(rng.integers(5, 40, self.PINGS))
                    meters = np.cumsum(rng.uniform(0.0, 300.0, self.PINGS))
                    lat = 45.4 + 0.2 * rng.random() + np.cumsum(rng.normal(0, 1e-4, self.PINGS))
                    lon = -122.75 + 0.25 * rng.random() + np.cumsum(rng.normal(0, 1e-4, self.PINGS))
                    # ACT_TIME rises strictly within a trip: the engine orders
                    # a trip's pings by ACT_TIME alone, so tied pings would get
                    # arbitrary speeds (see README, "Open engine defect").
                    for k in range(self.PINGS):
                        recs.append({
                            "EVENT_NO_TRIP": trip, "EVENT_NO_STOP": trip * 1000 + k,
                            "OPD_DATE": opd(day), "VEHICLE_ID": vid,
                            "METERS": round(float(meters[k]), 1),
                            "ACT_TIME": int(act[k]),
                            "GPS_LATITUDE": round(float(lat[k]), 6),
                            "GPS_LONGITUDE": round(float(lon[k]), 6),
                        })
                    start = int(act[-1]) + int(rng.integers(300, 1800))
        return recs

    def write(self, root: str) -> None:
        """Write ``api/`` (collector input), ``drop/`` (subscriber drop
        directory in arrival order) and ``days/`` (per-event-day JSONL)."""
        recs = self._records()
        rng = np.random.default_rng([self.seed, 3])
        api, drop, days = (os.path.join(root, d) for d in ("api", "drop", "days"))
        for d in (api, drop, days):
            os.makedirs(d, exist_ok=True)
        by_vehicle: dict[int, list[dict]] = {}
        for r in recs:
            by_vehicle.setdefault(r["VEHICLE_ID"], []).append(
                {k: v for k, v in r.items() if k != "VEHICLE_ID"})
        for vid, rs in by_vehicle.items():
            with open(os.path.join(api, f"vehicle_{vid}.json"), "w") as f:
                json.dump(rs, f)

        # Arrival order: hourly waves per service day; a share of each
        # day's records arrives late, in the next day's first wave.
        waves: dict[tuple[int, int], list[str]] = {}
        day_lines: dict[str, list[str]] = {}
        day_index = {opd(d): i for i, d in enumerate(self.DAYS)}
        for r in recs:
            d_i = day_index[r["OPD_DATE"]]
            line = json.dumps(r)
            day_lines.setdefault(self.DAYS[d_i].isoformat(), []).append(line)
            hour = r["ACT_TIME"] // 3600
            if d_i + 1 < len(self.DAYS) and rng.random() < self.LATE_SHARE:
                waves.setdefault((d_i + 1, 0), []).append(line)
            else:
                waves.setdefault((d_i, hour), []).append(line)
        bad = ['{"EVENT_NO_TRIP": 1, "OPD_DATE": ', "not json at all",
               '{"VEHICLE_ID": }', "{{", '["array"', "}", "truncated{\"a\":"]
        keys = sorted(waves)
        for j in range(self.MALFORMED):
            waves[keys[int(rng.integers(0, len(keys)))]].append(bad[j % len(bad)])
            day = sorted(day_lines)[j % len(day_lines)]
            day_lines[day].append(bad[j % len(bad)])
        for (d_i, hour), lines in sorted(waves.items()):
            with open(os.path.join(drop, f"wave_{d_i}_{hour:02d}.jsonl"), "w") as f:
                f.write("\n".join(lines) + "\n")
        for day, lines in day_lines.items():
            with open(os.path.join(days, f"{day}.jsonl"), "w") as f:
                f.write("\n".join(lines) + "\n")
        self.rows_per_day = {self.DAYS[i].isoformat(): 0 for i in range(len(self.DAYS))}
        for r in recs:
            self.rows_per_day[self.DAYS[day_index[r["OPD_DATE"]]].isoformat()] += 1
        self.trips_total = len({r["EVENT_NO_TRIP"] for r in recs})

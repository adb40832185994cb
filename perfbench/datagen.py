"""Seeded input generators for the benchmark workloads.

Everything here is NumPy + pyarrow/pandas on the driver: no Spark job
runs while inputs are made, so generation time is input cost only.

* :func:`write_catalog_tables` writes the ten parquet tables the query
  catalog reads (``region`` … ``events``, ``documents``, ``embeddings``)
  with the column names, types and value domains of the catalog's
  testdata layout.
* :func:`write_flights_csvs` writes the medallion pipeline's raw CSV
  inputs (flights, airlines, airports) with the dirty-row mix the
  silver cleansing rules act on (FIXTURES.md §1-3).

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts per table for the catalog workload.  The catalog's bench
#: queries are planning- and scheduling-bound at this size (a 10x larger
#: set measured within a few percent per query), so the run stays short
#: without changing which layer dominates.
CATALOG_ROWS = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "lineitem": 30000,
    "events": 5000,
    "documents": 500,
    "embeddings": 500,
}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

#: Files the flights CSV is split into.
FLIGHT_CSV_FILES = 4

AIRLINES = ["AA", "DL", "UA", "WN", "B6", "AS", "NK", "F9", "HA", "VX", "OO", "EV", "MQ", "US"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """Build the catalog tables in memory (see module docstring)."""
    n = CATALOG_ROWS
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS, s)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), i64),
            "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), s),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), i64),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), i64),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, npart), rng.choice(_PART_NOUN, npart))],
                s,
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], s),
            "p_type": pa.array(rng.choice(_PART_TYPES, npart), s),
            "p_size": pa.array(rng.integers(1, 51, npart), i32),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2), f64),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), i64),
            "o_custkey": pa.array(rng.integers(0, nc, no), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), f64),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", 2400, no), ts),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no), s),
        }
    )
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
            "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, nl), ts),
        }
    )
    out["events"] = events_table(rng, n["events"])

    nd = n["documents"]
    texts: list[str] = []
    for k in range(nd):
        if k >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup queries'
            # positive class)
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(rng.choice(_LANGS, nd), s),
            "source": pa.array([f"src{k % 20}" for k in range(nd)], s),
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    ne = n["embeddings"]
    vec = rng.normal(size=(ne, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(ne), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, ne), i32),
        }
    )
    return out


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``events``: one row per event, time-ordered, ~4 minutes apart."""
    users = max(10, n // 66)
    gaps = rng.exponential(260.0, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n), pa.string()),
            "value": pa.array(_money(rng, 0.01, 490.0, n), pa.float64()),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def write_catalog_tables(out_dir: str, seed: int) -> None:
    """Write the catalog tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def airport_codes(n: int = 300) -> list[str]:
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    return [letters[i // 676] + letters[(i // 26) % 26] + letters[i % 26] for i in range(n)]


def write_flights_csvs(out_dir: str, seed: int, n_rows: int, n_days: int) -> dict[str, str]:
    """Raw medallion inputs under ``out_dir``; returns the ``csv_paths``
    mapping ``run_medallion`` takes.  Dirty rows: ~1% inconsistent
    day_of_week, ~0.5% unknown airline codes, ~0.3% origin ==
    destination, nullable measures, ~1% exact duplicate rows, plus a
    duplicate and a null key in each dimension CSV."""
    from unicargo_medallion_data_pipeline_spark.schemas.flights import FLIGHTS_SCHEMA

    rng = np.random.default_rng(seed)
    codes = np.array(airport_codes())

    def u(m: int) -> np.ndarray:
        return rng.integers(0, m, n_rows)

    def nullable(values: np.ndarray, every: int) -> pd.Series:
        return pd.Series(values).astype("Int64").mask(u(every) == 0)

    date = np.datetime64("2015-01-01") + u(n_days).astype("timedelta64[D]")
    dt = pd.DatetimeIndex(date)
    dow = dt.dayofweek.to_numpy() + 1  # Monday=1
    cancelled = (u(66) == 0).astype(int)
    origin = codes[u(len(codes))]
    cols = {
        "year": np.full(n_rows, 2015),
        "month": dt.month.to_numpy(),
        "day": dt.day.to_numpy(),
        "day_of_week": np.where(u(100) == 0, dow % 7 + 1, dow),
        "airline": np.where(u(200) == 0, "ZZ", np.array(AIRLINES)[u(len(AIRLINES))]),
        "flight_number": u(7999) + 1,
        "tail_number": pd.Series([f"N{k}XY" for k in u(900) + 100]).mask(u(100) == 0),
        "origin_airport": origin,
        "destination_airport": np.where(u(333) == 0, origin, codes[u(len(codes))]),
        "scheduled_departure": u(2360),
        "departure_time": nullable(u(2360), 50),
        "departure_delay": nullable(u(120) - 30 + np.where(u(20) == 0, u(500), 0), 50),
        "taxi_out": u(58) + 3,
        "wheels_off": u(2360),
        "scheduled_time": u(471) + 30,
        "elapsed_time": u(526) + 25,
        "air_time": u(481) + 20,
        "distance": u(2951) + 50,
        "wheels_on": u(2360),
        "taxi_in": u(39) + 2,
        "scheduled_arrival": u(2360),
        "arrival_time": u(2360),
        "arrival_delay": nullable(u(140) - 40, 50),
        "diverted": (u(500) == 0).astype(int),
        "cancelled": cancelled,
        "cancellation_reason": pd.Series(np.array(list("ABCD"))[u(4)]).mask(cancelled == 0),
    }
    df = pd.DataFrame(cols)
    for c in FLIGHTS_SCHEMA.fieldNames():
        if c not in df:
            df[c] = pd.Series([None] * n_rows, dtype="Int64")
    df = df[FLIGHTS_SCHEMA.fieldNames()]
    dups = df.iloc[np.flatnonzero(u(100) == 0)]
    df = pd.concat([df, dups], ignore_index=True)

    flights_dir = os.path.join(out_dir, "flights_csv")
    os.makedirs(flights_dir, exist_ok=True)
    for k, part in enumerate(np.array_split(np.arange(len(df)), FLIGHT_CSV_FILES)):
        df.iloc[part].to_csv(os.path.join(flights_dir, f"part-{k:05d}.csv"), index=False)

    airlines = os.path.join(out_dir, "airlines.csv")
    with open(airlines, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["iata_code", "airline"])
        for c in AIRLINES:
            w.writerow([c, f"{c} Airlines"])
        w.writerow(["AA", "Duplicate AA Airlines"])
        w.writerow(["", "Mystery Air"])
    airports = os.path.join(out_dir, "airports.csv")
    with open(airports, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["iata_code", "airline", "city", "state", "country", "latitude", "longitude"])
        for i, c in enumerate(codes):
            w.writerow([c, f"{c} Intl", f"City {c}", "CA", "USA", 17.0 + (i % 55), -176.0 + (i % 112)])
        w.writerow([codes[0], "Duplicate Intl", "City X", "CA", "USA", 17.0, -176.0])
        w.writerow(["", "Nowhere Intl", "City Y", "CA", "USA", 18.0, -175.0])
    return {"flights": flights_dir, "airlines": airlines, "airports": airports}

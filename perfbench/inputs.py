"""Seeded input generation for the benchmark workloads.

Every table has the schema and value ranges of the engine's TPC-H-ish
test tables (``plans/tables.py``: region, nation, customer, supplier,
part, orders, lineitem, events). Values are
drawn with NumPy from ``--seed``, so one seed always yields byte-equal
inputs and another seed yields different values with the same shape.

The speed-layer feed is an OpenSky-shaped JSON-lines replay derived
from the generated ``events`` table: rows are range-split by event time
into one file per trigger, each file covers whole 1-minute windows, and
file modification times increase in event-time order, so the file
source replays the feed in event order and a 0 s watermark drops no
row.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _us(text: str) -> int:
    return int((np.datetime64(text, "us") - _EPOCH_US).astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.int64()).cast(
        pa.timestamp("us")
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, as dbgen draws them: rounding a float instead can
    # give -0.0, which no test table holds
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def relational_tables(out_dir: str, seed: int, customers: int) -> None:
    """region, nation, customer, supplier, part, orders, lineitem and
    events in the test tables' shape; ``customers`` sets the scale
    (sf0.1 has 15,000: ten orders per customer, four lines per order)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = customers, customers // 15, customers * 4 // 3
    n_ord, n_line, n_users = customers * 10, customers * 40, customers // 10
    n_events = customers * 20 // 3

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]
        ),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1),
    })
    day_us = 86_400 * 1_000_000
    first_day = _us("1995-01-01")
    order_day = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(first_day + order_day * day_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(
            first_day + rng.integers(1, 2500, n_line) * day_us
        ),
    })
    events_table(out_dir, rng, n_events, n_users)


def events_table(out_dir: str, rng: np.random.Generator, n: int, users: int) -> None:
    start = _us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(start + rng.integers(0, 30 * 86_400 * 1_000_000, n)),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def stream_inputs(
    out_dir: str, seed: int, files: int, rows_per_file: int,
    minutes_per_file: int, aircraft: int, airlines: int,
) -> None:
    """OpenSky feed (``feed/part-NNNNN.json``, one file per trigger) plus
    the two lookup tables S1 joins, derived from a generated ``events``
    table: ``aircraft`` distinct icao24 keys (one per user), flying for
    ``airlines`` three-letter airline codes."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = files * rows_per_file
    events_table(out_dir, rng, n, aircraft)
    ev = pq.read_table(os.path.join(out_dir, "events.parquet")).sort_by("ts")
    user = ev.column("user_id").to_numpy()
    value = ev.column("value").to_numpy()
    event_id = ev.column("event_id").to_numpy()

    t0 = _us("2024-03-01") // 1_000_000
    span = minutes_per_file * 60
    # the i-th row by time lands in file i // rows_per_file at an offset
    # inside that file's whole-minute span: files never overlap in time
    offsets = np.sort(rng.integers(0, span, (files, rows_per_file)), axis=1)
    stamps = t0 + (np.arange(files)[:, None] * span + offsets).ravel()

    icao = [f"{u * 2654435761 % 16**6:06x}" for u in user]
    # three-letter codes without a leading N, which would read as a
    # private registration
    letters = np.array(list("ABCDEFGHIJKLMOPQRSTUVWXYZ"))
    codes = sorted({"".join(c) for c in rng.choice(letters, (airlines * 2, 3))})
    codes = [codes[i] for i in rng.permutation(len(codes))[:airlines]]
    callsign: list[str | None] = []
    for u in user:
        k = u % 40
        if k == 0:
            callsign.append(None)
        elif k == 1:
            callsign.append("  ")
        elif k < 5:
            callsign.append(f"N{u:04d}")
        elif k == 5:
            callsign.append("ab")
        else:
            callsign.append(f"{codes[u % len(codes)]}{u % 900 + 100} ")
    key_noise = rng.random(n)
    feed_dir = os.path.join(out_dir, "feed")
    os.makedirs(feed_dir, exist_ok=True)
    for f in range(files):
        lines = []
        for i in range(f * rows_per_file, (f + 1) * rows_per_file):
            key = icao[i]
            if key_noise[i] < 0.03:
                key = None
            elif key_noise[i] < 0.05:
                key = " "
            elif key_noise[i] < 0.15:
                key = f" {key.upper()} "
            lines.append(json.dumps({
                "timestamp": int(stamps[i]),
                "icao24": key,
                "callsign": callsign[i],
                "origin_country": "USA",
                "longitude": float(event_id[i] % 360) - 180.0,
                "latitude": float(event_id[i] % 180) - 90.0,
                "geo_altitude": float(value[i]) * 100.0,
                "velocity": 200.0,
                "true_track": 90.0,
                "vertical_rate": 0.0,
                "on_ground": False,
                "baro_altitude": float(value[i]) * 99.0,
            }))
        path = os.path.join(feed_dir, f"part-{f:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        # the file source replays in modification-time order
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))

    known = sorted(set(icao))
    keep = [k for k in known if int(k, 16) % 5 != 0]
    _write(out_dir, "aircrafts_lookup", {
        "icao24": keep,
        "AvgCarrierDelayMinutes": np.round(rng.uniform(0, 60, len(keep)), 2),
        "FlightCount": rng.integers(1, 500, len(keep)).astype(np.int64),
        "DelayScore01": np.round(rng.uniform(0, 1, len(keep)), 4),
    })
    signs = sorted({c.strip() for c in callsign if c and c.strip()})
    signs = [c for i, c in enumerate(signs) if i % 4 != 0]
    _write(out_dir, "flights_lookup", {
        "callsign": signs,
        "AirlineName": [f"Airline {c[:3]}" for c in signs],
        "CRSArrTime": [f"{int(rng.integers(0, 24)):02d}:00" for _ in signs],
        "CRSDepTime": [f"{int(rng.integers(0, 24)):02d}:30" for _ in signs],
    })

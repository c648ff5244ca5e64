"""Correctness checks made apart from the program under test.

Batch results are read back from the written parquet with DuckDB (no
Spark) and compared to the catalog's DuckDB oracle SQL over the same
inputs, with the engine's oracle gate's own ``normalize``
(``tools/selfcheck.py``): columns matched by name, rows
order-insensitive, floats bit-exact. The speed-layer
oracles are DuckDB SQL over the JSON feed itself.

Every check returns a list of problems; an empty list means correct.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import duckdb

from big_data_flight_analytics_spark.plans.tables import TABLES
from tools import selfcheck


def _naive_utc(v):
    # Spark writes timestamps as UTC instants, which DuckDB reads back
    # as zone-aware values; the oracle over the inputs gives naive ones
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def normalize(rows, cols) -> list[tuple]:
    """``tools/selfcheck.normalize`` (columns by name, floats bit-exact,
    rows sorted) after zone-aware timestamps are made naive UTC."""
    return selfcheck.normalize(
        [tuple(_naive_utc(v) for v in row) for row in rows], cols
    )


def compare(got_cols, got_rows, want_cols, want_rows) -> list[str]:
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns differ: {sorted(got_cols)} vs {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"row count differs: {len(got_rows)} vs {len(want_rows)}"]
    ng, nw = normalize(got_rows, got_cols), normalize(want_rows, want_cols)
    diff = [(a, b) for a, b in zip(ng, nw) if a != b][:2]
    return [f"values differ, first: {diff}"] if diff else []


def connect(input_dir: str, tables=TABLES) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        path = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def read_result(con, path: str):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rel.columns, rel.fetchall()


def check_query(con, name: str, oracle_sql: str, out_path: str) -> list[str]:
    """Written result of catalog query ``name`` vs its DuckDB oracle."""
    got_cols, got_rows = read_result(con, out_path)
    want = con.sql(oracle_sql)
    return [f"{name}: {p}" for p in compare(
        got_cols, got_rows, want.columns, want.fetchall()
    )]


# --- speed layer -----------------------------------------------------------

def feed_view(con, feed_dir: str) -> None:
    """``feed``: the JSON feed with its file order (``file_no``), event
    time and the stream's key normalisation."""
    con.sql(f"""
        CREATE OR REPLACE VIEW feed AS
        SELECT *,
               CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INTEGER)
                   AS file_no,
               lower(trim(icao24)) AS key
        FROM read_json('{feed_dir}/*.json', filename = true,
                       format = 'newline_delimited',
                       columns = {{timestamp: 'BIGINT', icao24: 'VARCHAR',
                                  callsign: 'VARCHAR',
                                  origin_country: 'VARCHAR',
                                  longitude: 'DOUBLE', latitude: 'DOUBLE',
                                  geo_altitude: 'DOUBLE', velocity: 'DOUBLE',
                                  true_track: 'DOUBLE',
                                  vertical_rate: 'DOUBLE',
                                  on_ground: 'BOOLEAN',
                                  baro_altitude: 'DOUBLE'}})
    """)


def late_rows(con) -> int:
    """Rows whose 1-minute window had already closed when their file
    was read: window end at or before the largest event time of every
    earlier file (the 0 s watermark)."""
    return con.sql("""
        WITH prior AS (
            SELECT file_no,
                   max(max(timestamp)) OVER (
                       ORDER BY file_no
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS watermark
            FROM feed GROUP BY file_no
        )
        SELECT count(*) FROM feed JOIN prior USING (file_no)
        WHERE (timestamp // 60 + 1) * 60 <= watermark
    """).fetchone()[0]


def check_late(con, stream_dropped: int) -> list[str]:
    """The feed is built to hold no late row: both the stream's dropped
    count and the feed's own count must be 0."""
    feed_late = late_rows(con)
    if stream_dropped == 0 and feed_late == 0:
        return []
    return [f"late rows: the stream dropped {stream_dropped}, "
            f"the feed holds {feed_late}; both must be 0"]


S2_ORACLE = """
WITH keyed AS (
    SELECT key,
           CASE WHEN trim(callsign) = '' THEN 'UNKNOWN'
                WHEN upper(trim(callsign)) LIKE 'N%' THEN 'PRIVATE'
                WHEN length(trim(callsign)) < 3 THEN upper(trim(callsign))
                ELSE substr(upper(trim(callsign)), 1, 3) END AS airline,
           (timestamp // 60 + 1) * 60000 AS window_end_ms
    FROM feed
    WHERE key IS NOT NULL AND key <> '' AND callsign IS NOT NULL
), closed AS (
    SELECT * FROM keyed
    WHERE window_end_ms <= (SELECT max(timestamp) * 1000 FROM feed)
), latest AS (
    SELECT airline, max(window_end_ms) AS window_end_ms
    FROM closed GROUP BY airline
)
SELECT airline AS _id, airline,
       CAST(count(DISTINCT key) AS INTEGER) AS aircraft_count,
       window_end_ms
FROM closed JOIN latest USING (airline, window_end_ms)
GROUP BY airline, window_end_ms
"""


def check_s2(con, state_path: str) -> list[str]:
    """Final upsert-sink state: one row per key, each equal to the
    distinct-aircraft count of the airline's latest closed window."""
    cols, rows = read_result(con, state_path)
    keep = [i for i, c in enumerate(cols) if not c.startswith("__")]
    cols = [cols[i] for i in keep]
    rows = [tuple(r[i] for i in keep) for r in rows]
    problems = []
    keys = [r[cols.index("_id")] for r in rows]
    if len(keys) != len(set(keys)):
        problems.append("sink state holds more than one row for a key")
    want = con.sql(S2_ORACLE)
    problems += compare(cols, rows, want.columns, want.fetchall())
    return [f"s2: {p}" for p in problems]


S1_ORACLE = """
SELECT f.key AS icao24, f.timestamp, f.callsign, f.geo_altitude,
       a.AvgCarrierDelayMinutes AS avg_carrier_delay_minutes,
       a.FlightCount AS lookup_flight_count,
       a.DelayScore01 AS delay_score_01,
       f.key AS _id, l.AirlineName, l.CRSArrTime, l.CRSDepTime
FROM feed f
LEFT JOIN aircrafts_lookup a ON a.icao24 = f.key
LEFT JOIN flights_lookup l ON l.callsign = trim(f.callsign)
WHERE f.key IS NOT NULL AND f.key <> ''
"""
S1_COLUMNS = (
    "icao24", "timestamp", "callsign", "geo_altitude",
    "avg_carrier_delay_minutes", "lookup_flight_count", "delay_score_01",
    "_id", "AirlineName", "CRSArrTime", "CRSDepTime",
)


def check_s1(con, out_path: str) -> list[str]:
    """Enriched stream rows == feed rows with a non-blank icao24, left
    joined to both lookups."""
    cols = ", ".join(f'"{c}"' for c in S1_COLUMNS)
    got = con.sql(f"SELECT {cols} FROM read_parquet('{out_path}/*.parquet')")
    want = con.sql(S1_ORACLE)
    return [f"s1: {p}" for p in compare(
        got.columns, got.fetchall(), want.columns, want.fetchall()
    )]

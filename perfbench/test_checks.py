"""Self-tests of the benchmark's own correctness checks (no Spark).

Each check must pass on a result equal to its oracle and fail when one
value is changed, one row is dropped, or one late row is put into the
feed. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks, inputs
from big_data_flight_analytics_spark.plans.catalog import ORACLES


def _write_result(path: str, cols: list[str], rows: list[tuple]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pylist([dict(zip(cols, r)) for r in rows])
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _change_one(rows: list[tuple], col: int) -> list[tuple]:
    first = list(rows[0])
    v = first[col]
    first[col] = v + 1 if isinstance(v, (int, float)) else f"{v}x"
    return [tuple(first)] + rows[1:]


@pytest.fixture(scope="module")
def relational(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("relational"))
    inputs.relational_tables(d, seed=7, customers=300)
    return d


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    inputs.stream_inputs(d, seed=7, files=3, rows_per_file=300,
                         minutes_per_file=2, aircraft=400, airlines=30)
    return d


@pytest.mark.parametrize("name", ["q1_supplier_stats", "l3_flights_lookup"])
def test_query_check(relational, tmp_path, name):
    con = checks.connect(relational)
    want = con.sql(ORACLES[name])
    cols, rows = want.columns, want.fetchall()
    assert len(rows) > 1

    exact = str(tmp_path / "exact")
    _write_result(exact, cols, rows)
    assert checks.check_query(con, name, ORACLES[name], exact) == []

    changed = str(tmp_path / "changed")
    _write_result(changed, cols, _change_one(rows, 1))
    assert checks.check_query(con, name, ORACLES[name], changed)

    dropped = str(tmp_path / "dropped")
    _write_result(dropped, cols, rows[1:])
    assert checks.check_query(con, name, ORACLES[name], dropped)


def _stream_con(stream):
    con = checks.connect(stream, ("aircrafts_lookup", "flights_lookup"))
    checks.feed_view(con, os.path.join(stream, "feed"))
    return con


def test_s2_check(stream, tmp_path):
    con = _stream_con(stream)
    want = con.sql(checks.S2_ORACLE)
    cols, rows = want.columns, want.fetchall()
    assert len(rows) > 1
    count = cols.index("aircraft_count")

    exact = str(tmp_path / "exact")
    _write_result(exact, cols + ["__batch"], [r + (3,) for r in rows])
    assert checks.check_s2(con, exact) == []

    changed = str(tmp_path / "changed")
    _write_result(changed, cols, _change_one(rows, count))
    assert checks.check_s2(con, changed)

    dropped = str(tmp_path / "dropped")
    _write_result(dropped, cols, rows[1:])
    assert checks.check_s2(con, dropped)

    twice = str(tmp_path / "twice")
    _write_result(twice, cols, rows[1:] + [rows[0], rows[0]])
    assert checks.check_s2(con, twice)


def test_s1_check(stream, tmp_path):
    con = _stream_con(stream)
    want = con.sql(checks.S1_ORACLE)
    cols, rows = want.columns, want.fetchall()
    assert len(rows) > 1

    exact = str(tmp_path / "exact")
    _write_result(exact, cols, rows)
    assert checks.check_s1(con, exact) == []

    changed = str(tmp_path / "changed")
    _write_result(changed, cols, _change_one(rows, cols.index("AirlineName")))
    assert checks.check_s1(con, changed)

    dropped = str(tmp_path / "dropped")
    _write_result(dropped, cols, rows[1:])
    assert checks.check_s1(con, dropped)


def test_late_row_check(stream, tmp_path):
    con = _stream_con(stream)
    assert checks.late_rows(con) == 0
    assert checks.check_late(con, stream_dropped=0) == []
    assert checks.check_late(con, stream_dropped=1)

    # the same feed with one row of the first minute moved into the last
    # file: its window closed two files earlier
    feed = tmp_path / "feed"
    feed.mkdir()
    src = os.path.join(stream, "feed")
    names = sorted(os.listdir(src))
    for name in names:
        with open(os.path.join(src, name)) as fh:
            lines = fh.read().splitlines()
        if name == names[-1]:
            with open(os.path.join(src, names[0])) as fh:
                late = json.loads(fh.readline())
            lines.append(json.dumps(late))
        (feed / name).write_text("\n".join(lines) + "\n")
    late_con = checks.connect(stream, ())
    checks.feed_view(late_con, str(feed))
    assert checks.late_rows(late_con) == 1
    assert checks.check_late(late_con, stream_dropped=0)

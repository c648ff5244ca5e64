"""The workloads: one pass each over a fixed list of operations,
timed only around calls into the program's public functions.

A pass returns one record per operation: ``{"name", "start", "end",
"ok"}`` plus the timed parts of that operation. An operation is one
catalog query with its result write, or one stream micro-batch.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timezone

from big_data_flight_analytics_spark.cache import release_tracked
from big_data_flight_analytics_spark.pipeline import run_pipeline
from big_data_flight_analytics_spark.plans.catalog import ORACLES, QUERIES
from big_data_flight_analytics_spark.plans.tables import TABLES
from big_data_flight_analytics_spark.sources.writers import write_parquet
from big_data_flight_analytics_spark.streaming.enrichment import (
    enrich_stream,
    parse_opensky,
    transformed_stream,
)
from big_data_flight_analytics_spark.streaming.sinks import ParquetUpsertSink
from big_data_flight_analytics_spark.streaming.windowed_counts import (
    airline_aircraft_counts,
)

# The benchmark's own modules (``checks``, ``inputs``: DuckDB, PyArrow)
# are imported where they are used, so that loading them stays out of
# setup_s, which run.py times from the process's start.

# the batch layer: the three lookup pipelines and the nine flight queries
FLIGHT_QUERIES = [
    "l1_customer_balance_norm",
    "l2_user_top_event",
    "l3_flights_lookup",
    "q1_supplier_stats",
    "q2_status_priority_delays",
    "q3_busiest_customers",
    "q4_weekly_orders",
    "q5_measure_averages",
    "q6_dow_events",
    "q7_price_buckets",
    "q8_problematic_segments",
    "q9_part_attributes",
]
FLIGHT_CUSTOMERS = 15_000
FEED_FILES = 4
FEED_ROWS_PER_FILE = 25_000
FEED_MINUTES_PER_FILE = 4
FEED_AIRCRAFT = 2_000
FEED_AIRLINES = 300
STREAM_TIMEOUT_S = 120


def _du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


class FlightBatch:
    """The flight queries run as one ``run_pipeline`` pass; each result
    is written with ``write_parquet`` and followed by
    ``release_tracked``."""

    def __init__(self, work: str, trace: bool) -> None:
        self.queries = FLIGHT_QUERIES
        self.input_dir = os.path.join(work, "inputs")
        self.out_dir = os.path.join(work, "curated")
        self.trace = trace

    def make_inputs(self, seed: int) -> None:
        from . import inputs

        inputs.relational_tables(self.input_dir, seed, FLIGHT_CUSTOMERS)

    def register(self, spark) -> None:
        self.spark = spark
        for t in TABLES:
            path = os.path.join(self.input_dir, f"{t}.parquet")
            if os.path.exists(path):
                spark.read.parquet(path).createOrReplaceTempView(t)

    def run_pass(self) -> list[dict]:
        spark, records = self.spark, {}

        def build_step(name):
            def build():
                t0 = time.time()
                df = QUERIES[name](spark, self.input_dir)
                records[name] = {"name": name, "start": t0,
                                 "build_end": time.time()}
                return df
            return build

        def sink(name, df):
            rec = records[name]
            write_parquet(df, os.path.join(self.out_dir, name))
            rec["write_end"] = time.time()
            release_tracked()
            rec["end"] = time.time()
            if self.trace:
                rec["rdds_left"] = len(spark.sparkContext._jsc.getPersistentRDDs())

        report = run_pipeline(
            {n: build_step(n) for n in self.queries}, sink=sink
        )
        out = []
        for step in report.steps:
            rec = records.get(step.name, {"name": step.name})
            rec["ok"] = step.ok
            if not step.ok:
                rec["error"] = step.error
                # release what the failed step left behind
                release_tracked()
            rec.setdefault("start", time.time() - step.seconds)
            rec.setdefault("end", rec["start"] + step.seconds)
            out.append(rec)
        if self.trace:
            out[-1]["output_mb"] = _du_mb(self.out_dir)
        return out

    def check(self, records: list[dict]) -> list[str]:
        from . import checks

        # a query that failed on every pass left no result to check
        done = {r["name"] for r in records if r["ok"]}
        con = checks.connect(self.input_dir)
        problems = []
        for name in self.queries:
            if name in done:
                problems += checks.check_query(
                    con, name, ORACLES[name],
                    os.path.join(self.out_dir, name),
                )
        return problems


class StreamServe:
    """S1 enrichment into ``noop``, then S2 windowed distinct counts
    upserted through ``ParquetUpsertSink``; each an ``availableNow`` run
    over the whole feed with one file per trigger."""

    def __init__(self, work: str, trace: bool) -> None:
        self.input_dir = os.path.join(work, "inputs")
        self.feed_dir = os.path.join(self.input_dir, "feed")
        self.ckpt = os.path.join(work, "checkpoints")
        self.state = os.path.join(work, "serving", "airline_counts")
        self.s1_out = os.path.join(work, "curated", "s1_enriched")
        self.trace = trace

    def make_inputs(self, seed: int) -> None:
        from . import inputs

        inputs.stream_inputs(
            self.input_dir, seed, FEED_FILES, FEED_ROWS_PER_FILE,
            FEED_MINUTES_PER_FILE, FEED_AIRCRAFT, FEED_AIRLINES,
        )

    def register(self, spark) -> None:
        self.spark = spark
        self.aircrafts = spark.read.parquet(
            os.path.join(self.input_dir, "aircrafts_lookup.parquet")
        )
        self.flights = spark.read.parquet(
            os.path.join(self.input_dir, "flights_lookup.parquet")
        )

    def _raw(self):
        return self.spark.readStream.option("maxFilesPerTrigger", 1).text(
            self.feed_dir
        )

    def _s1(self):
        return enrich_stream(
            transformed_stream(parse_opensky(self._raw())),
            self.aircrafts, self.flights,
        )

    def _run(self, name: str, writer) -> list[dict]:
        ckpt = os.path.join(self.ckpt, name)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            q.stop()
        if not done:
            raise RuntimeError(f"{name} did not finish in {STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(f"{name} failed: {q.exception()}")
        out = []
        for p in q.recentProgress:
            start = _epoch_s(p["timestamp"])
            dur = p["durationMs"]
            ops = p.get("stateOperators") or [{}]
            out.append({
                "name": f"{name}.batch{p['batchId']}",
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1e3,
                "ok": True,
                "rows": p.get("numInputRows", 0),
                "trigger_ms": dur.get("triggerExecution", 0),
                "plan_ms": dur.get("queryPlanning", 0),
                "add_batch_ms": dur.get("addBatch", 0),
                "state_rows": ops[0].get("numRowsTotal", 0),
                "late_rows": ops[0].get("numRowsDroppedByWatermark", 0),
            })
        return out

    def run_pass(self) -> list[dict]:
        s1 = self._s1().writeStream.format("noop").outputMode("append")
        records = self._run("s1", s1)

        shutil.rmtree(os.path.dirname(self.state), ignore_errors=True)
        sink = ParquetUpsertSink(
            self.state, key_col="_id", version_col="window_end_ms"
        )
        merges: dict[int, dict] = {}

        def timed_sink(batch_df, batch_id):
            t0 = time.time()
            sink(batch_df, batch_id)
            merges[batch_id] = {"merge_s": time.time() - t0}
            if self.trace:
                merges[batch_id]["state_mb"] = _du_mb(self.state)

        s2 = airline_aircraft_counts(
            transformed_stream(parse_opensky(self._raw()))
        ).writeStream.foreachBatch(timed_sink).outputMode("append")
        s2_records = self._run("s2", s2)
        for rec in s2_records:
            rec.update(merges.get(int(rec["name"].rsplit("batch", 1)[1]), {}))
        return records + s2_records

    def check(self, records: list[dict]) -> list[str]:
        from . import checks

        # one more S1 run, untimed, into parquet so its rows can be read
        shutil.rmtree(self.s1_out, ignore_errors=True)
        self._run("s1_check", self._s1().writeStream.format("parquet")
                  .option("path", self.s1_out).outputMode("append"))
        con = checks.connect(
            self.input_dir, ("aircrafts_lookup", "flights_lookup")
        )
        checks.feed_view(con, self.feed_dir)
        problems = checks.check_s1(con, self.s1_out)
        problems += checks.check_s2(con, self.state)
        dropped = sum(r.get("late_rows", 0) for r in records)
        return problems + checks.check_late(con, dropped)


def _epoch_s(stamp: str) -> float:
    """Epoch seconds of a progress timestamp (2024-01-01T00:00:00.123Z)."""
    dt = datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return dt.replace(tzinfo=timezone.utc).timestamp()


WORKLOADS = {
    "flight_batch": FlightBatch,
    "stream_serve": StreamServe,
}

"""Per-layer metrics of a traced run.

Sources: Spark's own event log (switched on by the benchmark's session
config) for jobs, stages, task metrics and SQL executions, and each
streaming query's ``recentProgress`` for triggers. Event-log jobs are
attributed to the benchmark's operation spans by submission time: the
passes run one operation at a time, so a job submitted inside a span
belongs to it. No tracing code runs inside the program.

Every per-pass figure is summed over that pass's operations; the run
reports the median over the measured passes (those after the cold
pass and the warm-up pass).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_mb", 1e-6),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 1e-6),
    "internal.metrics.input.bytesRead": ("input_mb", 1e-6),
    "internal.metrics.input.recordsRead": ("input_rows", 1),
}

BENCHMARK_JSON = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCHMARK.json",
)


def layer_metrics() -> list[tuple[str, str]]:
    """(name, unit) of every per_layer metric in BENCHMARK.json."""
    with open(BENCHMARK_JSON) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def read_event_log(work: str) -> dict:
    """Job submission times, completed stages (submission time, task
    count and task metrics) and SQL execution start times from the
    run's single event log file."""
    files = [f for f in glob.glob(os.path.join(work, "eventlog", "*"))
             if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    jobs, stages, sql = {}, [], {}
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"submit_ms": ev["Submission Time"]}
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                rec = {"submit_ms": info["Submission Time"],
                       "tasks": info["Number of Tasks"]}
                for acc in info.get("Accumulables", []):
                    key = STAGE_METRICS.get(acc.get("Name"))
                    if key:
                        name, scale = key
                        rec[name] = rec.get(name, 0) + float(acc["Value"]) * scale
                stages.append(rec)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[ev["executionId"]] = ev["time"]
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _in(t_ms: float, start_s: float, end_s: float) -> bool:
    return start_s * 1000.0 <= t_ms <= end_s * 1000.0


def _jobs_in(log: dict, start_s: float, end_s: float) -> list[dict]:
    return [j for j in log["jobs"].values() if _in(j["submit_ms"], start_s, end_s)]


def _stage_totals(log: dict, start_s: float, end_s: float) -> dict:
    """Stages that ran (skipped ones never complete) with their summed
    task metrics, by stage submission time."""
    out = {"stages": 0, "tasks": 0}
    for rec in log["stages"]:
        if _in(rec["submit_ms"], start_s, end_s):
            out["stages"] += 1
            for k, v in rec.items():
                if k != "submit_ms":
                    out[k] = out.get(k, 0) + v
    return out


def _plan_ms(log: dict, start_s: float, end_s: float, jobs: list[dict]) -> float:
    """SQL execution start to its first job, for the execution the
    span's terminal write started."""
    starts = [t for t in log["sql"].values() if _in(t, start_s, end_s)]
    if not starts or not jobs:
        return 0.0
    return max(0.0, min(j["submit_ms"] for j in jobs) - min(starts))


def op_layers(log: dict, rec: dict) -> dict:
    """Per-operation layer figures for one batch query record."""
    out = {}
    if "build_end" in rec:
        build_jobs = _jobs_in(log, rec["start"], rec["build_end"])
        write_jobs = _jobs_in(log, rec["build_end"], rec["write_end"])
        out["plans.build_s"] = rec["build_end"] - rec["start"]
        out["plans.build_jobs"] = len(build_jobs)
        out["plans.exec_s"] = rec["write_end"] - rec["build_end"]
        out["plans.plan_ms"] = _plan_ms(
            log, rec["build_end"], rec["write_end"], write_jobs
        )
        out["cache.release_s"] = rec["end"] - rec["write_end"]
    totals = _stage_totals(log, rec["start"], rec["end"])
    for k in ("stages", "tasks", "cpu_s", "gc_s", "shuffle_mb", "spill_mb"):
        out[f"operators.{k}"] = totals.get(k, 0)
    out["sources.input_mb"] = totals.get("input_mb", 0)
    out["sources.input_rows"] = totals.get("input_rows", 0)
    if "trigger_ms" in rec:
        for k in ("trigger_ms", "plan_ms", "add_batch_ms", "state_rows",
                  "late_rows"):
            out[f"streaming.{k}"] = rec[k]
        out["streaming.sinks.merge_s"] = rec.get("merge_s", 0.0)
    return out


def per_layer(work: str, passes: list, first_measured: int, session_s: float):
    """(metrics, detail): the per-layer metrics as {name: (value, unit)}
    and the per-operation / per-pass record written beside them."""
    log = read_event_log(work)
    detail_passes = []
    for no, (wall, cpu, records) in enumerate(passes):
        ops = []
        for rec in records:
            ops.append({"name": rec["name"], "ok": rec["ok"],
                        "seconds": rec["end"] - rec["start"],
                        **op_layers(log, rec)})
        sums: dict[str, float] = {}
        for op in ops:
            for k, v in op.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool) \
                        and k != "seconds":
                    sums[k] = sums.get(k, 0) + v
        triggers = [op["streaming.trigger_ms"] for op in ops
                    if "streaming.trigger_ms" in op]
        summary = {
            "pass": no, "wall_s": wall, "cpu_s": cpu,
            **sums,
            "sources.output_mb": max(
                (r.get("output_mb", 0.0) for r in records), default=0.0),
            "cache.rdds_left": max(
                (r.get("rdds_left", 0) for r in records), default=0),
            "streaming.sinks.state_mb": max(
                (r.get("state_mb", 0.0) for r in records), default=0.0),
            "streaming.state_rows": max(
                (op.get("streaming.state_rows", 0) for op in ops), default=0),
        }
        if triggers:
            summary["streaming.trigger_ms_p50"] = statistics.median(triggers)
            summary["streaming.trigger_ms_max"] = max(triggers)
            summary["streaming.plan_ms"] = statistics.median(
                op["streaming.plan_ms"] for op in ops if "streaming.plan_ms" in op)
            summary["streaming.add_batch_ms"] = statistics.median(
                op["streaming.add_batch_ms"] for op in ops
                if "streaming.add_batch_ms" in op)
        detail_passes.append({"summary": summary, "operations": ops})

    warm = [p["summary"] for p in detail_passes[first_measured:]]
    metrics = {}
    for name, unit in layer_metrics():
        if name == "session.start_s":
            value = session_s
        elif name == "cache.rdds_left":
            value = max(s.get(name, 0) for s in warm)
        else:
            value = statistics.median(s.get(name, 0) for s in warm)
        metrics[name] = (value, unit)
    return metrics, {"first_measured_pass": first_measured,
                     "passes": detail_passes}

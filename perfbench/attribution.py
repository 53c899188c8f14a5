"""Span bookkeeping and Spark event-log attribution for the traced run.

Spans are kept in memory as plain dicts ``{"id", "parent", "name", "kind",
"start", "end"}`` (epoch seconds).  After the traced pass the Spark event log
is parsed and every job, stage and task -- and the SQL metrics the Python
workers report -- is charged to the span that launched it:

1. the job's ``spark.jobGroup.id`` property names an op span;
2. otherwise a job of the same SQL execution carried a group;
3. otherwise the op span whose interval holds the job's submission time.

Ops run one after another on one thread, so rule 3 places the jobs no tag
reaches (streaming micro-batches run under the stream's own job group).
"""

from __future__ import annotations

import bisect
import json
import statistics

# Spark 4.1 SQL metric names of the Python-worker exec nodes (ArrowEvalPython,
# MapInPandas, ...), as the installed spark-sql jar spells them.
PYWORKER_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
}
PYTHON_NODE_MARKERS = ("Python", "Pandas", "Arrow")

P90_MIN_SAMPLES = 100


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo: float, hi: float) -> list:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(start: float, end: float, child_intervals) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(child_intervals, start, end))


def latency_summary(samples) -> dict:
    """Median, and p90 only when at least ``P90_MIN_SAMPLES`` samples exist
    (the p90 of fewer samples has under ten samples beyond it)."""
    samples = sorted(samples)
    out = {"n": len(samples), "p50": statistics.median(samples) if samples else None, "p90": None}
    if len(samples) >= P90_MIN_SAMPLES:
        out["p90"] = statistics.quantiles(samples, n=10)[-1]
    return out


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def _walk_plan(node, out: dict) -> None:
    python_node = any(m in node.get("nodeName", "") for m in PYTHON_NODE_MARKERS)
    for metric in node.get("metrics", []):
        out[metric["accumulatorId"]] = (metric["name"], metric.get("metricType", ""), python_node)
    for child in node.get("children", []):
        _walk_plan(child, out)


def parse_event_log(lines) -> dict:
    """Reduce a Spark JSON event log to jobs, stages and per-stage task
    totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    accums: dict[int, tuple] = {}
    exec_start: dict[int, float] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            exec_id = props.get("spark.sql.execution.id")
            jobs[jid] = {
                "id": jid,
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "exec_id": int(exec_id) if exec_id not in (None, "") else None,
                "stages": list(ev.get("Stage IDs", [])),
                "failed": False,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
                job["failed"] = ev.get("Job Result", {}).get("Result") != "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.setdefault(info["Stage ID"], _empty_stage())["completed"] += 1
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _empty_stage())
            _add_task(st, ev, accums)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_start[ev["executionId"]] = ev["time"] / 1000.0
            _walk_plan(ev.get("sparkPlanInfo", {}), accums)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo", {}), accums)
    for job in jobs.values():
        if job["end"] is None:  # still running when the log closed
            job["end"] = job["start"]
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages, "exec_start": exec_start}


def _empty_stage() -> dict:
    return {
        "completed": 0, "tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write": 0, "shuffle_read": 0, "fetch_wait_s": 0.0,
        "spill": 0, "scan_bytes": 0, "scan_rows": 0, "out_bytes": 0, "out_rows": 0,
        "py": {},
    }


def _add_task(st: dict, ev: dict, accums: dict) -> None:
    st["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        st["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    st["scan_bytes"] += inp.get("Bytes Read", 0)
    st["scan_rows"] += inp.get("Records Read", 0)
    out = m.get("Output Metrics") or {}
    st["out_bytes"] += out.get("Bytes Written", 0)
    st["out_rows"] += out.get("Records Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        update = acc.get("Update")
        if not isinstance(update, (int, float)) and not (isinstance(update, str) and update.lstrip("-").isdigit()):
            continue
        update = float(update)
        meta = accums.get(acc.get("ID"))
        if name in PYWORKER_METRICS:
            key = PYWORKER_METRICS[name]
            if key.endswith("_s"):
                # nano-timing SQL metrics; "timing" ones are milliseconds
                update /= 1e3 if meta and meta[1] == "timing" else 1e9
            st["py"][key] = st["py"].get(key, 0.0) + update
        elif name == "number of output rows" and meta and meta[2]:
            st["py"]["pyworker.rows"] = st["py"].get("pyworker.rows", 0.0) + update


# ---------------------------------------------------------------------------
# Attribution
# ---------------------------------------------------------------------------


def attribute(jobs: dict, spans: list[dict], exec_start: dict | None = None) -> tuple[dict, list]:
    """Map every job id to a span id by group, SQL execution, then time.
    ``spans`` are the leaf spans jobs may be charged to, one after another
    in time; by time a job belongs to the last span started at or before
    its submission.  Returns ``(job_id -> span_id, unattributed)``."""
    by_id = {s["id"]: s for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])
    starts = [s["start"] for s in ordered]

    def by_time(t: float):
        i = bisect.bisect_right(starts, t) - 1
        return ordered[i]["id"] if i >= 0 else None

    owner: dict[int, str] = {}
    exec_owner: dict[int, str] = {}
    for jid, job in sorted(jobs.items()):
        if job["group"] in by_id:
            owner[jid] = job["group"]
            if job["exec_id"] is not None:
                exec_owner.setdefault(job["exec_id"], job["group"])
    for eid, t in (exec_start or {}).items():
        if eid not in exec_owner:
            sid = by_time(t)
            if sid is not None:
                exec_owner[eid] = sid
    unattributed = []
    for jid, job in sorted(jobs.items()):
        if jid in owner:
            continue
        sid = exec_owner.get(job["exec_id"]) if job["exec_id"] is not None else None
        if sid is None:
            sid = by_time(job["start"])
        if sid is None:
            unattributed.append(jid)
        else:
            owner[jid] = sid
    return owner, unattributed


def span_layers(span: dict, job_ids: list, log: dict, cores: int) -> dict:
    """Per-layer metrics of one op span from the jobs charged to it."""
    jobs = [log["jobs"][j] for j in job_ids]
    wall = span["end"] - span["start"]
    self_s = self_time(span["start"], span["end"], [(j["start"], j["end"]) for j in jobs])
    job_s = wall - self_s
    stage_ids = {sid for sid, jid in log["stage_job"].items() if jid in set(job_ids)}
    agg = _empty_stage()
    for sid in stage_ids:
        st = log["stages"].get(sid)
        if st is None:
            continue
        for k, v in st.items():
            if k == "py":
                for pk, pv in v.items():
                    agg["py"][pk] = agg["py"].get(pk, 0.0) + pv
            else:
                agg[k] += v
    out = {
        "wall_s": wall,
        "driver.self_s": self_s,
        "driver.self_share": self_s / wall if wall > 0 else 0.0,
        "spark.jobs": len(jobs),
        "spark.failed_jobs": sum(1 for j in jobs if j["failed"]),
        "spark.stages": agg["completed"],
        "spark.tasks": agg["tasks"],
        "spark.job_s": job_s,
        "spark.task_run_s": agg["run_s"],
        "spark.task_cpu_s": agg["cpu_s"],
        "spark.gc_s": agg["gc_s"],
        "spark.failed_tasks": agg["failed_tasks"],
        "spark.slot_use": agg["run_s"] / (job_s * cores) if job_s > 0 else 0.0,
        "shuffle.write_bytes": agg["shuffle_write"],
        "shuffle.read_bytes": agg["shuffle_read"],
        "shuffle.fetch_wait_s": agg["fetch_wait_s"],
        "spill.bytes": agg["spill"],
        "scan.bytes": agg["scan_bytes"],
        "scan.rows": agg["scan_rows"],
        "io.bytes_written": agg["out_bytes"],
        "io.rows_written": agg["out_rows"],
    }
    for key in list(PYWORKER_METRICS.values()) + ["pyworker.rows"]:
        out[key] = agg["py"].get(key, 0.0)
    return out

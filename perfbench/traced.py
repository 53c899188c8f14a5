"""The traced run: one pass under per-op job groups and in-memory spans,
the count() ledger, then the event log charged to the spans."""

from __future__ import annotations

import bisect
import datetime
import os
import statistics
import time

from pyspark.sql.streaming import StreamingQueryListener

import attribution

COUNT_LEDGER_RATIO = 1.5


class ProgressListener(StreamingQueryListener):
    """Collects streaming progress: when, trigger duration, input rows."""

    def __init__(self):
        self.progress = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        started = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.progress.append({
            "at": started.timestamp(),  # the trigger's start; the callback itself arrives later
            "trigger_s": (p.durationMs or {}).get("triggerExecution", 0) / 1000.0,
            "rows": p.numInputRows,
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _files(root: str) -> dict:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _set_group(sc, span_id: str) -> None:
    sc.setJobGroup(span_id, span_id, interruptOnCancel=False)


def traced_run(ctx, workload: str, ops, failures: list, marks: dict, reps: list) -> tuple[dict, dict]:
    """Run the traced pass; returns (per-layer metrics, full report)."""
    from harness import new_pass_dir, run_op

    spark = ctx.spark
    sc = spark.sparkContext
    app_id = sc.applicationId
    cores = sc.defaultParallelism
    listener = ProgressListener()
    spark.streams.addListener(listener)
    leaves = [
        {"id": "setup", "start": marks["app_start"], "end": marks["warmup_start"]},
        {"id": "warmup", "start": marks["warmup_start"], "end": marks["warmup_end"]},
    ]
    op_spans, children, files_written = [], {}, {}
    new_pass_dir(ctx, "traced")
    pass_start = time.time()
    for idx, op in enumerate(ops):
        sid = f"op{idx}:{op.name}"
        before = _files(ctx.pass_dir)
        _set_group(sc, sid)
        t0 = time.time()
        try:
            call_s, mat_s = run_op(ctx, op)
        except Exception as exc:  # noqa: BLE001
            failures.append({"op": op.name, "phase": "traced", "error": f"{type(exc).__name__}: {exc}"[:500]})
            call_s, mat_s = time.time() - t0, 0.0
        t2 = time.time()
        # the wall clock brackets the op; its perf-counter split places the call/materialize boundary
        t1 = min(t2, t0 + call_s)
        span = {"id": sid, "name": op.name, "group": op.group, "start": t0, "end": t2}
        op_spans.append(span)
        children[sid] = [
            {"id": sid + "/call", "parent": sid, "start": t0, "end": t1},
            {"id": sid + "/materialize", "parent": sid, "start": t1, "end": t2},
        ]
        after = _files(ctx.pass_dir)
        files_written[sid] = sum(1 for p, m in after.items() if before.get(p) != m)
    pass_end = time.time()
    _set_group(sc, "pass-end")
    index_files = 0
    if workload == "index-lifecycle" and not failures:
        from bigdata_usaspending_spark.operators import dedup, similarity

        index_files = (similarity.ann_index_stats(spark, ctx.out("ann"))["data_files"]
                       + dedup.winnow_index_stats(spark, ctx.out("win"))["data_files"])
    leaves.append({"id": "pass-end", "start": pass_end, "end": time.time()})
    ledger = []
    for idx, op in enumerate(ops):
        if not op.registry:
            continue
        sid = f"count{idx}:{op.name}"
        _set_group(sc, sid)
        t0 = time.time()
        op.run(ctx).count()
        leaves.append({"id": sid, "start": t0, "end": time.time()})
        ledger.append({"op": op.name, "count_s": time.time() - t0,
                       "materialized_s": op_spans[idx]["end"] - op_spans[idx]["start"]})
    from harness import peak_rss_mb

    rss = peak_rss_mb(spark)
    tail_start = time.time()
    _set_group(sc, "tail")
    time.sleep(0.5)  # let the listener bus hand over the last progress events
    spark.stop()
    leaves.append({"id": "tail", "start": tail_start, "end": time.time()})
    leaves += [{"id": s["id"], "start": s["start"], "end": s["end"]} for s in op_spans]

    with open(os.path.join(marks["event_log_dir"], app_id)) as f:
        log = attribution.parse_event_log(f)
    owner, unattributed = attribution.attribute(log["jobs"], leaves, log["exec_start"])
    jobs_of: dict[str, list] = {}
    for jid, sid in owner.items():
        jobs_of.setdefault(sid, []).append(jid)

    # a trigger belongs to the op span running when it started, as a job does
    starts = [s["start"] for s in op_spans]
    stream_of: dict[str, list] = {}
    for p in listener.progress:
        i = bisect.bisect_right(starts, p["at"]) - 1
        if i >= 0 and p["at"] <= op_spans[i]["end"]:
            stream_of.setdefault(op_spans[i]["id"], []).append(p)
    per_op = {}
    for span in op_spans:
        sid = span["id"]
        layers = attribution.span_layers(span, jobs_of.get(sid, []), log, cores)
        call, mat = children[sid]
        stream = stream_of.get(sid, [])
        layers |= {
            "plans.call_s": call["end"] - call["start"],
            "materialize_s": mat["end"] - mat["start"],
            "io.files_written": files_written[sid],
            "streaming.triggers": len(stream),
            "streaming.trigger_s": sum(p["trigger_s"] for p in stream),
            "streaming.rows": sum(p["rows"] for p in stream),
        }
        per_op[span["name"]] = layers

    sums: dict[str, float] = {}
    for layers in per_op.values():
        for k, v in layers.items():
            sums[k] = sums.get(k, 0.0) + v
    sums |= {
        "session.start_s": statistics.median(r["session_s"] for r in reps),
        "catalog.warmup_s": statistics.median(r["catalog_s"] for r in reps),
        "trace.wall_s": pass_end - pass_start,
        "trace.unattributed_jobs": len(unattributed),
        "peak_rss_mb": rss,
        "index.files": index_files,
        "driver.self_share": sums["driver.self_s"] / sums["wall_s"],
        "spark.slot_use": sums["spark.task_run_s"] / (sums["spark.job_s"] * cores) if sums["spark.job_s"] else 0.0,
        "pyworker.run_share": sums["pyworker.run_s"] / sums["spark.task_run_s"] if sums["spark.task_run_s"] else 0.0,
    }
    metrics = {name: (sums[name], unit) for name, unit in PER_LAYER.items()}
    under_timed = [r["op"] for r in ledger if r["materialized_s"] > COUNT_LEDGER_RATIO * r["count_s"]]
    report = {
        "app_id": app_id,
        "jobs": len(log["jobs"]),
        "unattributed_jobs": unattributed,
        "jobs_by_rule": _rule_counts(log["jobs"], owner, leaves),
        "pass_wall_s": pass_end - pass_start,
        "ops": per_op,
        "spans": {"leaves": leaves, "ops": op_spans, "children": children},
        "count_ledger": ledger,
        "under_timed_by_count": under_timed,
        "streaming_progress": listener.progress,
    }
    return metrics, report


# The per-layer metrics a traced run prints, summed over the pass's ops.
# Left out, though kept per op in the results file: times that are zero by
# construction on one workload (Python-worker and streaming-trigger seconds
# on spending-analytics; shuffle fetch wait and spill at this scale).
PER_LAYER = {
    "session.start_s": "s",
    "catalog.warmup_s": "s",
    "trace.wall_s": "s",
    "trace.unattributed_jobs": "count",
    "peak_rss_mb": "MB",
    "plans.call_s": "s",
    "driver.self_s": "s",
    "driver.self_share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_s": "s",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.slot_use": "ratio",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "pyworker.run_share": "ratio",
    "pyworker.bytes_sent": "B",
    "pyworker.bytes_received": "B",
    "pyworker.rows": "count",
    "scan.bytes": "B",
    "scan.rows": "count",
    "io.bytes_written": "B",
    "io.rows_written": "count",
    "io.files_written": "count",
    "index.files": "count",
    "streaming.triggers": "count",
    "streaming.rows": "count",
}


def _rule_counts(jobs: dict, owner: dict, leaves: list) -> dict:
    by_id = {s["id"] for s in leaves}
    tagged = sum(1 for j in jobs.values() if j["group"] in by_id)
    return {"job_group": tagged, "execution_or_time": len(owner) - tagged}

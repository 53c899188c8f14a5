"""Set-up, warm-up, timed and traced passes of one workload.

The untraced run measures the end-to-end figures: after set-up and a
warm-up pass that checks every op's output, it makes a fixed number of timed
passes over the workload's ops, sized by ``--seconds``, and reports each op
at its best time over the passes.  The traced run replaces the timed passes
with one pass under per-op job groups and spans, then charges the Spark
event log to those spans (traced.py).
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import sys
import time

import numpy as np

import attribution
import gen
import workloads

SETUP_REPS = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
# Wall time of one warm pass on a shared 4-core host.  ``--seconds`` buys
# round(seconds / PASS_S) timed passes, at least one: a count that does not
# depend on how fast a run goes, so that a quiet run takes as many samples
# of each op, and as many JIT-warming repetitions, as every other.
PASS_S = {"spending-analytics": 6.0, "index-lifecycle": 12.0}
# A pass during which the host took more than STEAL_SHARE of this machine's
# CPU time (the steal column of /proc/stat) ran under load from other
# tenants; up to MAX_EXTRA_PASSES more passes follow such a pass, so that
# each op gets another chance at an undisturbed sample.
STEAL_SHARE = 0.02
MAX_EXTRA_PASSES = 1
# No extra pass starts after this many seconds of the run, which must end
# within 180 s even when every pass runs under load.
EXTRA_PASS_CUTOFF_S = 100.0


class Context:
    """What an op sees: the session, the generated inputs and its pass's
    output directory."""

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.sf = os.path.join(work, "inputs", "sf")
        self.lc = os.path.join(work, "inputs", "lifecycle")
        self.spark = None
        self.pass_dir = None
        self.inputs: dict[str, str] = {}
        self.lifecycle: dict = {}
        self.payload = None  # the last dashboard payload, for its check
        self.recall = None  # ANN search recall@10, set by its check
        self.pre_compact_hits = None
        self._duck = None

    def out(self, name: str) -> str:
        return os.path.join(self.pass_dir, name)

    def duck(self):
        from bigdata_usaspending_spark.plans.oracle_check import duck_connection

        if self._duck is None:
            self._duck = duck_connection(self.sf)
        return self._duck


# ---------------------------------------------------------------------------
# Set-up
# ---------------------------------------------------------------------------


def generate_inputs(ctx: Context, workload: str) -> None:
    """Every input file of the workload, from the seed alone."""
    shutil.rmtree(os.path.join(ctx.work, "inputs"), ignore_errors=True)
    os.makedirs(ctx.sf)
    os.makedirs(ctx.lc)
    gen.star_schema(np.random.default_rng([ctx.seed, 0]), ctx.sf)
    if workload == "spending-analytics":
        awards = awards_snapshot(ctx)
        gen.geo_tables(np.random.default_rng([ctx.seed, 1]), awards, ctx.lc)
        for key in ("recipient_name", "awarding_sub_agency"):
            ctx.inputs["geo_" + key] = os.path.join(ctx.lc, f"geo_{key}.parquet")
    else:
        ctx.lifecycle = gen.lifecycle_splits(np.random.default_rng([ctx.seed, 2]), ctx.sf, ctx.lc)
        for name in ("ann_build", "win_build", "win_add"):
            ctx.inputs[name] = os.path.join(ctx.lc, f"{name}.parquet")
        ctx.inputs["ann_landing"] = os.path.join(ctx.lc, "ann_landing")


def awards_snapshot(ctx: Context):
    """The awards fact, built by ``ml.adapter.awards_view`` over the
    generated star schema and written in award-id order."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from bigdata_usaspending_spark.ml.adapter import awards_view

    view = awards_view(ctx.spark, ctx.sf)
    rows = sorted((r.asDict() for r in view.collect()), key=lambda r: r["award_id"])
    awards = pa.Table.from_pylist(rows, schema=to_arrow_schema(view.schema))
    ctx.inputs["awards"] = os.path.join(ctx.lc, "awards.parquet")
    pq.write_table(awards, ctx.inputs["awards"])
    return awards


def warm_catalog(ctx: Context, workload: str) -> None:
    from bigdata_usaspending_spark.catalog import load

    for t in workloads.TABLES[workload]:
        load(ctx.spark, ctx.sf, t).count()


def shutdown(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def start_session():
    from bigdata_usaspending_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("FATAL")
    return spark


# ---------------------------------------------------------------------------
# Passes
# ---------------------------------------------------------------------------


def run_op(ctx: Context, op: workloads.Op):
    """Call the public function, then materialize what it returned.
    Returns (call seconds, materialize seconds)."""
    t0 = time.perf_counter()
    result = op.run(ctx)
    t1 = time.perf_counter()
    if result is not None:
        result.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t1


def new_pass_dir(ctx: Context, label: str) -> None:
    if ctx.pass_dir:
        shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    ctx.pass_dir = os.path.join(ctx.work, "passes", label)
    shutil.rmtree(ctx.pass_dir, ignore_errors=True)
    os.makedirs(ctx.pass_dir)


def warmup_pass(ctx: Context, ops, failures: list) -> dict:
    """Run every op once and check its output; returns each op's time and,
    apart, each check's.  A registry query is materialized with ``toPandas``
    here, so that its check compares the very rows it returned."""
    new_pass_dir(ctx, "warmup")
    spent = {}
    for op in ops:
        try:
            t0 = time.perf_counter()
            result = op.run(ctx)
            if op.registry:
                result = result.toPandas()
            elif result is not None:
                result.write.format("noop").mode("overwrite").save()
            t1 = time.perf_counter()
            spent[op.name] = t1 - t0
            if op.check is not None:
                op.check(ctx, result if op.registry else None)
            spent["check:" + op.name] = time.perf_counter() - t1
        except Exception as exc:  # noqa: BLE001 - a failed op is a result
            failures.append({"op": op.name, "phase": "warmup", "error": f"{type(exc).__name__}: {exc}"[:500]})
    return spent


def pass_count(workload: str, seconds: float) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def host_steal_s() -> float:
    """CPU seconds the host has taken from this machine's CPUs, summed over
    them (0 where the kernel reports no steal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def timed_passes(ctx: Context, workload: str, ops, seconds: float, failures: list, t_process: float) -> list[dict]:
    passes = []
    base = pass_count(workload, seconds)
    cpus = os.cpu_count() or 1

    def another_pass() -> bool:
        if len(passes) < base:
            return True
        return (len(passes) < base + MAX_EXTRA_PASSES and passes[-1]["steal_share"] > STEAL_SHARE
                and time.perf_counter() - t_process < EXTRA_PASS_CUTOFF_S)

    while another_pass():
        new_pass_dir(ctx, f"timed{len(passes)}")
        timings = []
        s0, t0 = host_steal_s(), time.perf_counter()
        for op in ops:
            try:
                call_s, mat_s = run_op(ctx, op)
                timings.append((op.name, op.group, call_s + mat_s))
            except Exception as exc:  # noqa: BLE001
                failures.append({"op": op.name, "phase": "timed", "error": f"{type(exc).__name__}: {exc}"[:500]})
        wall = time.perf_counter() - t0
        figures = workloads.pass_figures(workload, timings)
        if workload == "index-lifecycle":
            figures["index_bytes_per_row"] = workloads.index_bytes_per_row(ctx)
        steal_share = (host_steal_s() - s0) / (cpus * wall)
        passes.append({"wall_s": wall, "steal_share": steal_share, "ops": timings, **figures})
    return passes


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def peak_rss_mb(spark) -> float:
    """High-water RSS of this driver process plus its JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def environment(ctx: Context, root: str) -> dict:
    import duckdb
    import pyspark

    sc = ctx.spark.sparkContext
    commit = None  # a checkout without .git records none
    head = os.path.join(root, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            commit = f.read().strip()
        ref = os.path.join(root, ".git", commit[5:])
        if commit.startswith("ref: ") and os.path.exists(ref):
            with open(ref) as f:
                commit = f.read().strip()
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(ctx.spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": len(os.sched_getaffinity(0)),
        "spark": ctx.spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "seed": ctx.seed,
        "commit": commit,
    }


def best_times(ops, warm: dict, passes: list[dict]) -> list[tuple[str, str, float]]:
    """Each op at its fastest over the warm-up and the timed passes.  Other
    tenants of a shared host only ever add to an op's time, and the JIT
    compiler's work fades as a run goes on, so an op's fastest sample is its
    least disturbed one.  A registry query's warm-up time is no sample: the
    warm-up collects its rows instead of writing them to the noop sink."""
    samples = {op.name: [warm[op.name]] for op in ops if op.name in warm and not op.registry}
    for p in passes:
        for name, _group, sec in p["ops"]:
            samples.setdefault(name, []).append(sec)
    return [(op.name, op.group, min(samples[op.name])) for op in ops if op.name in samples]


def e2e_figures(workload: str, best: list, passes: list[dict]) -> dict:
    """The workload's end-to-end figures.  ``wall_s`` and the op-class
    figures are built from the ops' best times; ``pass_wall_median_s`` is
    the median wall time of the timed passes themselves."""
    figures = workloads.pass_figures(workload, best)
    out = {"wall_s": sum(sec for _n, _g, sec in best), "passes": len(passes),
           "pass_wall_median_s": statistics.median(p["wall_s"] for p in passes)}
    if workload == "spending-analytics":
        queries = attribution.latency_summary([s for p in passes for s in p["query_samples_s"]])
        out |= {"etl_s": figures["etl_s"], "query_p50_s": queries["p50"], "query_p90_s": queries["p90"],
                "query_samples": queries["n"]}
    else:
        out |= figures
        out["index_bytes_per_row"] = statistics.median(p["index_bytes_per_row"] for p in passes)
    return out


def print_result(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


def run(args, root: str, work: str) -> int:
    ctx = Context(work, args.seed)
    t_process = time.perf_counter()
    reps = []
    for _rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.spark = start_session()
        t1 = time.perf_counter()
        generate_inputs(ctx, args.workload)
        t2 = time.perf_counter()
        warm_catalog(ctx, args.workload)
        t3 = time.perf_counter()
        reps.append({"session_s": t1 - t0, "inputs_s": t2 - t1, "catalog_s": t3 - t2, "total_s": t3 - t0})
    marks = {"app_start": ctx.spark.sparkContext.startTime / 1000.0,
             "event_log_dir": os.path.join(work, "eventlog")}
    ops = workloads.WORKLOADS[args.workload](np.random.default_rng([args.seed, 1]))
    failures: list[dict] = []
    marks["warmup_start"] = time.time()
    ctx.spark.sparkContext.setJobGroup("warmup", "warmup", interruptOnCancel=False)
    warm = warmup_pass(ctx, ops, failures)
    warm_s = sum(v for k, v in warm.items() if not k.startswith("check:"))
    marks["warmup_end"] = time.time()
    setup_s = statistics.median(r["total_s"] for r in reps) + warm_s
    env = environment(ctx, root)
    detail = {"workload": args.workload, "env": env, "setup": {
        "setup_s": setup_s, "reps": reps, "warmup_ops_s": warm_s, "warmup": warm,
        "process_to_first_op_s": time.perf_counter() - t_process}}
    if ctx.recall is not None:
        detail["ann_recall_at_10"] = ctx.recall
    if args.trace:
        import traced

        layers, detail["trace"] = traced.traced_run(ctx, args.workload, ops, failures, marks, reps)
        attempted = 2 * len(ops)
        metrics = layers
    else:
        passes = timed_passes(ctx, args.workload, ops, args.seconds, failures, t_process)
        figures = e2e_figures(args.workload, best_times(ops, warm, passes), passes)
        rss = peak_rss_mb(ctx.spark)
        attempted = len(ops) * (1 + len(passes))
        detail |= {"figures": figures, "peak_rss_mb": rss, "failed_ops": len(failures) / attempted,
                   "passes": [{k: v for k, v in p.items() if k != "ops"} | {"ops": {n: s for n, _g, s in p["ops"]}}
                              for p in passes]}
        metrics = {"setup_s": (setup_s, "s"), "wall_s": (figures["wall_s"], "s")}
    t0 = time.perf_counter()
    shutdown(ctx.spark)
    detail["shutdown_s"] = time.perf_counter() - t0
    detail["failures"] = failures
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    out_path = os.path.join(work, "results", f"{args.workload}-seed{args.seed}-trace{int(args.trace)}.json")
    with open(out_path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    summary = {"workload": args.workload, "env": env, "setup_s": setup_s, "figures": detail.get("figures"),
               "failures": failures[:3], "detail": os.path.relpath(out_path, root)}
    print("detail: " + json.dumps(summary, default=str))
    sys.stdout.flush()
    print_result(not failures, attempted, len(failures), metrics)
    return 0

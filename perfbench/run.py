"""End-to-end and per-layer benchmark of the engine on a 4-core box.

    python3 perfbench/run.py --workload spending-analytics --seed 1 --seconds 12 --trace 0

Run from the repository root.  Every input is generated from ``--seed``
under ``.perfbench-work/``; nothing outside the checkout is read or written.
The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced pass with
``--trace 1``.  The line before it, prefixed ``detail:``, summarizes the
run; the full record is written under ``.perfbench-work/results/``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ("spending-analytics", "index-lifecycle")


def pin_environment(trace: bool) -> None:
    """Settle everything the engine reads at import or session start:
    the core count, Spark's scratch space, the Python workers' import path,
    and, for a traced run, the event log."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    event_log = os.path.join(WORK, "eventlog")
    for d in (tmp, event_log):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + event_log,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_MASTER": f"local[{cpus}]",
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(WORK, "warehouse"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # both JVMs (spark-submit's launcher and the driver) keep their
        # scratch files in the work directory; -UsePerfData drops the
        # hsperfdata file the JVM would otherwise create under /tmp
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [f"--conf {k}={v}" for k, v in conf.items()]
            + [f'--driver-java-options "{jvm_opts}"', "pyspark-shell"]
        ),
    })
    os.environ.pop("SPARK_CONF_DIR", None)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bigdata_usaspending_spark")):
        print(f"perfbench: no engine package next to {HERE}; run it from a checkout of the repository",
              file=sys.stderr)
        return 2
    for sub in ("inputs", "passes", "eventlog", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    pin_environment(bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    import harness

    return harness.run(args, ROOT, WORK)


if __name__ == "__main__":
    sys.exit(main())

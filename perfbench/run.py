"""Benchmark entry point: one command per workload.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed`` under a fresh work directory inside the checkout
(``.perfbench_work/<run id>``, removed at exit), starts one
SparkSession on ``local[<cpus>]`` with one client thread, sets up the
workload (session start, generation, index/cache builds and warm-up
all count toward ``setup_s``), measures at least one unit of work and
until ``--seconds`` of timed work is done (``pipeline_full``: one cold
run), checks the outputs outside the timed region, and prints one JSON
object as the last stdout line:

    {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}

With ``--trace 0`` the metrics are the end-to-end ones; the line
before it carries every workload-specific figure with its unit and
sample count. With ``--trace 1`` the run wraps the calls into each
module's public functions in spans, prints the per-layer metrics, and
writes spans and counts to ``.perfbench_out/trace-<run id>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_full", "query_suite", "knn_serving")

# end-to-end metrics every workload reports (name -> unit); the
# workload defines its unit operation and its unit of work
E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p90_ms": "ms",
    "work_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    """Every workload's per-layer metrics (name -> unit). Each traced
    run prints all of them, with 0 for a layer its workload never
    calls."""
    out: dict[str, str] = {}
    for w in WORKLOADS:
        out.update(__import__(w).PER_LAYER)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _driver_mem() -> str:
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 1024 / 1024
    return f"{max(2, min(8, int(total_gb // 4)))}g"


def configure_env(work: str) -> None:
    """Point every cache, temp and spill location into the run's work
    directory and size the session to this machine."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_GRAFT_CACHE_ROOT"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for d in ("cache", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)


def start_session(work: str):
    from scotustician_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            # not the program's tmpfs default: a run reads and writes
            # only inside its checkout
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file in /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Context:
    """What a workload receives: the session, its seed and time budget,
    its private work directory, and the tracer (None when untraced)."""

    def __init__(self, spark, seed: int, seconds: float, work: str, run_id: str, trace: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.run_id = run_id
        self.tracer = None
        self.counters = None
        if trace:
            from tracing import SparkCounters, Tracer

            self.tracer = Tracer(run_id)
            self.counters = SparkCounters(spark, run_id)
        self.setup_end: float | None = None

    def setup_done(self) -> None:
        self.setup_end = time.perf_counter()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "scotustician_spark", "__init__.py")):
        print("perfbench: scotustician_spark not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    configure_env(work)
    spark = None
    try:
        spark = start_session(work)
        ctx = Context(spark, args.seed, args.seconds, work, run_id, bool(args.trace))
        mod = __import__(args.workload)
        res = mod.run(ctx)
        setup_s = ctx.setup_end - T_START
        rss = peak_rss_mb(spark)
        attempted, failed = res["attempted"], res["failed"]
        detail = {
            "setup_s": (setup_s, "s", 1),
            "failed_ratio": (failed / attempted, "ratio", attempted),
            "peak_rss_mb": (rss, "MB", 1),
            **res["detail"],
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": {
            k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in detail.items()
        }, "problems": res["problems"][:20]}))
        if args.trace:
            layer = res["per_layer"]
            metrics = {k: {"value": layer.get(k, 0), "unit": u}
                       for k, u in per_layer_units().items()}
            ctx.counters.close()
            ctx.tracer.write(
                os.path.join(ROOT, ".perfbench_out", f"trace-{run_id}.json"),
                ctx.counters.records,
                {"workload": args.workload, "seed": args.seed,
                 "per_layer": res["per_layer"], "detail": detail},
            )
        else:
            e2e = {"setup_s": setup_s, **res["e2e"]}
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

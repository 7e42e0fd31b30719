"""katta_spark benchmark: one workload, one seed, one process on local[4].

    python3 perfbench/run.py --workload query_zipf --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The run generates the workload's inputs
from the seed, sets them up (untimed, reported as ``setup_s``), runs the
closed loop for ``--seconds`` seconds of operation time, checks the outputs
outside the timed calls, and prints two JSON lines: a detail line with
every metric (name, unit, sample count), the input properties, the
correctness checks, the host memory-stream rate before and after and the
CPU share stolen by the hypervisor in between; then
the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones with ``--trace 0`` and the per-layer
ones with ``--trace 1``. A traced run also writes its spans to
``.perfbench_out/``. The exit code is 1 when a correctness check or a timed
call failed (the result line then omits any metric left unmeasured) and 2
when the checkout is incomplete.

Everything the run writes goes under ``.perfbench_work/`` (removed at the
end) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_zipf", "build_ingest", "update_mixed")
E2E = ("setup_s", "op_p50_ms", "work_per_s", "cpu_ms_per_unit", "index_bytes_per_text_byte")
CPUS = 4


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test runs at a tiny scale)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import katta_spark from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    if HERE not in sys.path:
        sys.path.insert(0, HERE)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str, trace: bool):
    from katta_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ev,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started (the JVM and Spark's Python workers) has exited."""
    from pyspark import SparkContext

    from harness import tree_pids

    pids = tree_pids(os.getpid())[1:]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        gw.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while True:
        alive = [p for p in pids if _alive(p)]
        if not alive:
            return
        if time.time() > deadline:
            for p in alive:
                os.kill(p, signal.SIGKILL)
            deadline = time.time() + 10
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            st = fh.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def result_metrics(metrics: dict, names) -> tuple[dict, list[str]]:
    """The result line's metrics: value and unit of each named metric that
    has a finite value, and the names of those without one."""
    out, missing = {}, []
    for n in names:
        v = (metrics.get(n) or {}).get("value")
        if isinstance(v, (int, float)) and math.isfinite(v):
            out[n] = {"value": v, "unit": metrics[n]["unit"]}
        else:
            missing.append(n)
    return out, missing


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "katta_spark")) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"{ROOT} holds no katta_spark checkout (katta_spark/ and bench.py)",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from bench import host_memstream_gb_s
    import layers
    import workloads
    from harness import (ProcTree, Tracer, attach_jobs, host_cpu_ticks, median, metric,
                         read_event_log)

    t_run = time.perf_counter()
    host = {"memstream_gb_s_before": host_memstream_gb_s()}
    steal0, total0 = host_cpu_ticks()
    proc = ProcTree()
    tracer = Tracer(bool(args.trace))
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    session_start_s = time.perf_counter() - t0
    tracer.attach(spark.sparkContext)
    ctx = workloads.Ctx(spark, tracer, proc, work, args.seed, args.seconds, args.scale,
                        session_start_s)
    try:
        getattr(workloads, args.workload)(ctx)
    finally:
        proc.close()
        stop_spark(spark)
    steal1, total1 = host_cpu_ticks()
    host["cpu_steal_pct"] = 100 * (steal1 - steal0) / max(1, total1 - total0)
    host["memstream_gb_s_after"] = host_memstream_gb_s()
    ctx.detail["run_wall_s"] = metric(time.perf_counter() - t_run, "s", 1)

    mem = proc.within(ctx.op_windows)
    ctx.detail["mem_pss_mb"] = metric(median(mem) / 2**20 if mem else None, "MB", len(mem))
    ctx.detail["peak_pss_mb"] = metric(proc.peak() / 2**20, "MB", len(proc.samples))
    ctx.detail["cpu_s"] = metric(ctx.cpu_s, "s", len(ctx.op_windows))
    ctx.detail["session_start_s"] = metric(session_start_s, "s", 1)
    ctx.detail["failed_frac"] = metric(ctx.failed / max(1, ctx.attempted), "ratio",
                                       ctx.attempted)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale, "timed_s": ctx.elapsed,
              "end_to_end": ctx.e2e, "detail": ctx.detail, "inputs": ctx.inputs,
              "checks": ctx.checks, "host": host}
    names = E2E
    metrics = ctx.e2e
    if args.trace:
        attach_jobs(tracer, read_event_log(os.path.join(work, "eventlog")))
        common, extra = layers.layer_metrics(ctx)
        out = os.path.join(ROOT, ".perfbench_out",
                           f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(out)
        detail.update(per_layer=common, per_layer_extra=extra, trace_file=out)
        names, metrics = list(common), common
    print(json.dumps(detail))
    values, missing = result_metrics(metrics, names)
    if missing:
        # only a run with failed calls leaves a metric unmeasured
        print(f"metrics without a measured value: {missing}", file=sys.stderr)
    correct = all(c["ok"] for c in ctx.checks) and not missing
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": values}))
    sys.stdout.flush()
    return 0 if correct and ctx.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

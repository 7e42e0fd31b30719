"""Measurement plumbing shared by the workloads.

Everything here observes katta_spark from the outside: the process tree
through /proc, spans kept by the benchmark around its own calls, Spark job
groups and ``statusTracker()``, the executed plan's SQLMetrics, and the
Spark event log. Nothing is imported from katta_spark.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs):
    """The highest whole percentile that still has at least ten samples
    above it, by nearest rank: (value, percentile), or (None, None) when
    there are ten samples or fewer."""
    n = len(xs)
    if n <= 10:
        return None, None
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))
    return sorted(xs)[rank - 1], pct


def metric(value, unit, n=None, **extra):
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    out.update(extra)
    return out


# ------------------------------------------------------------- process tree


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        st = fh.read()
    # fields after the parenthesised command name; index 0 is field 3
    return st[st.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, i = [root], 0
    while i < len(out):
        out.extend(kids.get(out[i], []))
        i += 1
    return out


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat: the
    share of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


class ProcTree:
    """CPU seconds and memory of this process and its descendants: the
    Python process itself, the JVM it launches and Spark's Python workers.

    CPU is utime+stime plus the reaped-children times, so a worker that
    exits between two readings is still counted through its parent. Memory
    is the summed proportional set size, sampled by a background thread
    since workers come and go."""

    def __init__(self, interval_s: float = 0.5):
        self.root = os.getpid()
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._sample, args=(interval_s,), daemon=True
        )
        self._thread.start()

    def cpu_s(self) -> float:
        ticks = 0
        for pid in tree_pids(self.root):
            try:
                f = _stat(pid)
            except OSError:
                continue
            ticks += sum(int(x) for x in f[11:15])
        return ticks / _CLK

    def pss_bytes(self) -> int:
        """Proportional set size: pages shared between processes (the
        forked Python workers share most of theirs) are split among them
        instead of counted once per process."""
        total = 0
        for pid in tree_pids(self.root):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _sample(self, interval_s: float) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), self.pss_bytes()))
            self._stop.wait(interval_s)

    def peak(self) -> int:
        return max((b for _, b in self.samples), default=0)

    def within(self, windows) -> list[int]:
        """The samples taken inside any of the (start, end) ``windows``."""
        return [b for t, b in self.samples if any(lo <= t <= hi for lo, hi in windows)]

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------------- spans


class Tracer:
    """Spans kept in memory and written out once at the end of the run.

    A span records name, start, end, its parent and the id of the
    operation it belongs to (the id of the root span). When a SparkContext
    is attached, a span opened with ``spark=True`` runs under its own job
    group, and on exit records the ids of the Spark jobs it caused: those
    of its group plus any new group-less ones, which come from threads the
    library starts itself (job groups are thread-local).

    A disabled tracer records nothing and sets no job group. ``own_s``
    accumulates the time spent in the tracer's own bookkeeping (job groups,
    status-tracker queries, plan walks charged through ``charge``), which
    spans exclude but the calls around them pay."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.own_s = 0.0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._seen_free: set[int] = set()

    def attach(self, sc) -> None:
        self._sc = sc

    def _free_jobs(self) -> set[int]:
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "op": parent["op"] if parent else len(self.spans),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": None,
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = None
        t0 = time.perf_counter()
        if spark and self._sc is not None:
            group = rec["group"] = f"perfbench-{rec['id']}"
            self._seen_free = self._free_jobs()
            self._sc.setJobGroup(group, f"{name} op={rec['op']}", False)
        self.own_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if group is not None:
                tracker = self._sc.statusTracker()
                free = self._free_jobs()
                rec["jobs"] = sorted(
                    set(tracker.getJobIdsForGroup(group)) | (free - self._seen_free)
                )
                self._seen_free = free
                outer = next(
                    (s for s in reversed(self._stack) if "group" in s), None
                )
                if outer is None:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                else:
                    self._sc.setJobGroup(outer["group"], outer["name"], False)
            self.own_s += time.perf_counter() - t0

    def charge(self, fn, *args):
        """Run tracing work (a plan walk) and count its time in ``own_s``."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.own_s += time.perf_counter() - t0

    def add(self, name: str, parent: dict, start: float, end: float, **attrs):
        """Attach a span measured elsewhere (a Spark job from the event
        log) under ``parent``."""
        rec = {
            "id": len(self.spans), "op": parent["op"], "parent": parent["id"],
            "name": name, "start": start, "end": end, "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------ executed-plan walk

_PY_METRICS = {
    "pythonInitTime": "python_init_ms",
    "pythonTotalTime": "python_run_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
}

# the metrics read per node class (reading only these keeps the walk to a
# few py4j round trips per node)
_WANTED = {
    "FileSourceScanExec": ("numFiles", "filesSize", "numOutputRows"),
    "FilterExec": ("numOutputRows",),
    "BroadcastExchangeExec": ("collectTime", "dataSize"),
    "ShuffleExchangeExec": ("dataSize",),
}


def _node_metrics(node, cls: str) -> dict[str, int]:
    keys = _WANTED.get(cls)
    if keys is None and ("Python" in cls or "Pandas" in cls or "Arrow" in cls):
        keys = tuple(_PY_METRICS)
    if not keys:
        return {}
    m = node.metrics()
    return {k: int(m.apply(k).value()) for k in keys if m.contains(k)}


def _plan_children(node, cls: str) -> list:
    if cls == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if cls.endswith("QueryStageExec"):
        return [node.plan()]
    if cls == "ReusedExchangeExec":
        return [node.child()]
    out, it = [], node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


# nodes that pass a scan's rows through unchanged on the way to its filter
_PASS_THROUGH = {"ColumnarToRowExec", "InputAdapter", "WholeStageCodegenExec"}


def plan_metrics(df) -> dict[str, float]:
    """Sum the SQLMetrics of an executed DataFrame's physical plan, AQE
    query stages included: parquet scans (files, bytes, rows read and rows
    the filter above each scan kept), broadcast and shuffle exchanges, and
    the Python (Arrow) kernel nodes."""
    acc = {
        "scan_files": 0, "scan_bytes": 0, "scan_rows_read": 0,
        "scan_rows_kept": 0, "broadcast_collect_ms": 0, "broadcast_bytes": 0,
        "shuffle_bytes": 0, "python_init_ms": 0, "python_run_ms": 0,
        "python_boot_ms": 0, "python_bytes_sent": 0, "python_bytes_received": 0,
    }

    def walk(node, filter_rows):
        cls = node.getClass().getSimpleName()
        m = _node_metrics(node, cls)
        if cls == "FileSourceScanExec":
            read = m.get("numOutputRows", 0)
            acc["scan_files"] += m.get("numFiles", 0)
            acc["scan_bytes"] += m.get("filesSize", 0)
            acc["scan_rows_read"] += read
            acc["scan_rows_kept"] += read if filter_rows is None else filter_rows
        elif cls == "BroadcastExchangeExec":
            acc["broadcast_collect_ms"] += m.get("collectTime", 0)
            acc["broadcast_bytes"] += m.get("dataSize", 0)
        elif cls == "ShuffleExchangeExec":
            acc["shuffle_bytes"] += m.get("dataSize", 0)
        for k, name in _PY_METRICS.items():
            acc[name] += m.get(k, 0)
        if cls == "FilterExec":
            below = m.get("numOutputRows", 0)
        elif cls in _PASS_THROUGH:
            below = filter_rows
        else:
            below = None
        for child in _plan_children(node, cls):
            walk(child, below)

    walk(df._jdf.queryExecution().executedPlan(), None)
    return acc


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per Spark job: submission/completion time (s), task count, executor
    CPU (s), JVM GC (s) and shuffle bytes written, from an uncompressed,
    non-rolling event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = [
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir)
        for f in files
        if not f.startswith(".")
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    j = jobs.setdefault(ev["Job ID"], _new_job())
                    j["start"] = ev["Submission Time"] / 1000
                    for s in ev.get("Stage IDs", []):
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs.setdefault(ev["Job ID"], _new_job())["end"] = (
                        ev["Completion Time"] / 1000
                    )
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    tm = ev.get("Task Metrics") or {}
                    j["tasks"] += 1
                    j["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    j["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    j["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return jobs


def _new_job() -> dict:
    return {"start": None, "end": None, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0}


def attach_jobs(tracer: Tracer, jobs: dict[int, dict]) -> None:
    """Give every span that ran Spark jobs one ``spark.job`` child span per
    job, timed from the event log and carrying the job's task counters."""
    for rec in list(tracer.spans):
        for jid in rec.get("jobs", []):
            j = jobs.get(jid)
            if j is None or j["start"] is None or j["end"] is None:
                continue
            tracer.add(
                "spark.job", rec, j["start"], j["end"], job_id=jid,
                tasks=j["tasks"], cpu_s=j["cpu_s"], gc_s=j["gc_s"],
                shuffle_write_bytes=j["shuffle_write_bytes"],
            )


def job_totals(tracer: Tracer, recs: list[dict]) -> dict[str, float]:
    """Spark job counters summed over the ``spark.job`` spans anywhere below
    the given spans."""
    ids = {r["id"] for r in recs}
    tot = {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0}
    by_id = {s["id"]: s for s in tracer.spans}
    for s in tracer.spans:
        if s["name"] != "spark.job":
            continue
        p = s["parent"]
        while p is not None and p not in ids:
            p = by_id[p]["parent"]
        if p is None:
            continue
        a = s["attrs"]
        tot["jobs"] += 1
        for k in ("tasks", "cpu_s", "gc_s", "shuffle_write_bytes"):
            tot[k] += a[k]
    return tot


# ----------------------------------------------------------- disk listing


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file below ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files

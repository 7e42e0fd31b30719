"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py

Checks that
- every workload, untraced and traced, exits 0 and prints every metric
  BENCHMARK.json names, with its unit, plus the detail line with sample
  counts;
- the traced run writes spans whose parent links resolve within one
  operation;
- each correctness check trips when fed a wrong expected result;
- in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
from run import WORKLOADS  # noqa: E402


def run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def check_workload(spec: dict, workload: str, trace: int) -> None:
    p = run(["--workload", workload, "--seed", "7", "--seconds", "2",
             "--trace", str(trace), "--scale", "0.05"])
    assert p.returncode == 0, (workload, trace, p.stderr[-3000:])
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    detail, result = json.loads(detail_line), json.loads(result_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert list(got) == [m["name"] for m in want], (sorted(got), want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], (m, got[m["name"]])
        assert isinstance(got[m["name"]]["value"], (int, float)), m
    for name, m in {**detail["end_to_end"], **detail["detail"]}.items():
        assert "unit" in m and "n" in m, (workload, name, m)
    if trace:
        spans = json.load(open(detail["trace_file"]))["spans"]
        by_id = {s["id"]: s for s in spans}
        linked = [s for s in spans if s["parent"] is not None]
        assert linked, "no span has a parent"
        for s in linked:
            assert by_id[s["parent"]]["op"] == s["op"], s
            assert s["start"] <= s["end"], s
        assert any(s["name"] == "spark.job" for s in spans), "no Spark job spans"
    print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


def check_checks_trip() -> None:
    good = [(11, 2.5), (7, 1.25), (3, 1.25)]
    assert checks.rank_match(good, list(good)) == []
    assert checks.rank_match(good, [good[1], good[0], good[2]])
    assert checks.rank_match(good, [(11, 2.5), (7, 1.3), (3, 1.25)])
    assert checks.none_deleted([1, 2, 3], {4}) == []
    assert checks.none_deleted([1, 2, 3], {2})
    assert checks.count_equal("n_docs", 5, 5) == []
    assert checks.count_equal("n_docs", 5, 6)
    assert checks.contains(3, [1, 3]) == []
    assert checks.contains(4, [1, 3])
    streams = {1: ["hotalpha", "w00012"], 2: []}
    assert checks.text_equal(streams, {1: "HotAlpha, w00012!", 2: ""}) == []
    assert checks.text_equal(streams, {1: "w00012 hotalpha", 2: ""})
    print("ok correctness checks trip on wrong expected results", flush=True)


def check_bare_dir_fails() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(["--workload", "query_zipf", "--seed", "1", "--seconds", "1"],
                cwd=bare, timeout=180)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok incomplete checkout exits non-zero without a result", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_checks_trip()
    check_bare_dir_fails()
    for w in WORKLOADS:
        for trace in (0, 1):
            check_workload(spec, w, trace)
    print("smoke: all ok")


if __name__ == "__main__":
    main()

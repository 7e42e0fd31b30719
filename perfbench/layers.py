"""Per-layer metrics of a traced run, read off its spans.

Layers are named after the katta_spark modules the spans wrap. ``common``
holds the metrics every workload exercises (these make the traced run's
result line); ``extra`` holds those of the delete and compact layers, which
only update_mixed runs.
"""

from __future__ import annotations

from collections import defaultdict

from harness import covered, job_totals, median, metric

_PLAN_KEYS = {
    "scan_files": "count", "scan_bytes": "bytes", "scan_rows_read": "count",
    "scan_rows_kept": "count", "broadcast_collect_ms": "ms",
    "broadcast_bytes": "bytes", "shuffle_bytes": "bytes",
    "python_init_ms": "ms", "python_run_ms": "ms",
    "python_bytes_sent": "bytes", "python_bytes_received": "bytes",
}


def _s(rec) -> float:
    return rec["end"] - rec["start"]


def _med(values, unit):
    return metric(median(values), unit, len(values)) if values else None


def layer_metrics(ctx) -> tuple[dict, dict]:
    spans = ctx.tracer.spans
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def child(rec, name):
        return next(c for c in kids[rec["id"]] if c["name"] == name)

    L: dict[str, dict] = {}
    L["session.start_s"] = metric(ctx.session_start_s, "s", 1)
    L["synth.generate_s"] = _med(
        [_s(s) for s in named("synth.generate") if s["attrs"]["role"] == "setup"], "s")
    tok = named("tokenizer.noop_write")
    L["tokenizer.tokens_per_s"] = _med([s["attrs"]["tokens"] / _s(s) for s in tok], "1/s")

    builds = named("build.build_index")
    timed = [b for b in builds if b["attrs"]["role"] == "timed"] or builds
    pts = [b["attrs"]["phase_timings"] for b in timed]
    L["build.dictionary_s"] = _med([p.get("dictionary", 0.0) for p in pts], "s")
    L["build.encode_write_s"] = _med([
        sum(v for k, v in p.items() if k.endswith("_encode_write")) for p in pts], "s")
    L["build.stats_s"] = _med([p.get("phase3_stats", 0.0) for p in pts], "s")
    L["build.jobs"] = _med([len(b["jobs"]) for b in timed], "count")
    tots = [job_totals(ctx.tracer, [b]) for b in timed]
    L["build.shuffle_write_bytes"] = _med([t["shuffle_write_bytes"] for t in tots], "bytes")
    L["build.task_cpu_s"] = _med([t["cpu_s"] for t in tots], "s")
    L["build.postings_files"] = metric(timed[-1]["attrs"]["postings_files"], "count", 1)
    L["build.index_bytes"] = metric(timed[-1]["attrs"]["index_bytes"], "bytes", 1)

    for kind in ("encode", "decode"):
        sp = named(f"codec.{kind}")
        L[f"codec.{kind}_postings_per_s"] = _med([s["attrs"]["postings"] / _s(s) for s in sp], "1/s")

    L["query.open_ms"] = _med([1000 * _s(s) for s in named("query.open")], "ms")
    L["query.parse_ms"] = _med([1000 * _s(s) for s in named("query.parse")], "ms")
    dfl = named("query.df_lookup")
    L["query.df_lookup_ms"] = _med([1000 * _s(s) for s in dfl], "ms")
    lookups = sum(s["attrs"]["lookups"] for s in dfl)
    L["query.df_memo_hit_ratio"] = metric(
        sum(s["attrs"]["hits"] for s in dfl) / max(1, lookups), "ratio", lookups)

    # single-query calls: wall = plan + Spark-job wall inside collect() +
    # unattributed (client-side work between and around the jobs)
    rows = []
    for s in named("query.search"):
        if s["attrs"]["api"] == "search_batch":
            continue
        plan, ex = child(s, "query.plan"), child(s, "query.exec")
        jobs_wall = covered(
            [(j["start"], j["end"]) for j in kids[ex["id"]] if j["name"] == "spark.job"],
            ex["start"], ex["end"],
        )
        wall, plan_s = _s(s), _s(plan)
        rows.append({
            "wall_ms": 1000 * wall, "plan_ms": 1000 * plan_s,
            "exec_ms": 1000 * _s(ex), "jobs_wall_ms": 1000 * jobs_wall,
            "unattributed_ms": 1000 * (wall - plan_s - jobs_wall),
            "jobs": len(plan["jobs"]) + len(ex["jobs"]),
            **{k: ex["attrs"][k] for k in _PLAN_KEYS},
        })
    for k in ("plan_ms", "exec_ms", "jobs_wall_ms", "unattributed_ms"):
        L[f"query.{k}"] = _med([r[k] for r in rows], "ms")
    L["query.jobs_per_call"] = _med([r["jobs"] for r in rows], "count")
    for k, unit in _PLAN_KEYS.items():
        L[f"query.{k}"] = _med([r[k] for r in rows], unit)
    read = sum(r["scan_rows_read"] for r in rows)
    L["query.scan_keep_ratio"] = metric(
        sum(r["scan_rows_kept"] for r in rows) / max(1, read), "ratio", len(rows))

    ops = [s for s in spans if s["attrs"].get("timed")]
    tot = job_totals(ctx.tracer, ops)
    n = max(1, len(ops))
    L["spark.jobs_per_call"] = metric(tot["jobs"] / n, "count", len(ops))
    L["spark.tasks_per_call"] = metric(tot["tasks"] / n, "count", len(ops))
    L["spark.task_cpu_s_per_call"] = metric(tot["cpu_s"] / n, "s", len(ops))
    L["spark.gc_s_per_call"] = metric(tot["gc_s"] / n, "s", len(ops))

    # the tracer's own time inside each traced call, against the rest of
    # the call: what the same call costs untraced
    L["trace.overhead_pct"] = _med([
        100 * s["attrs"]["trace_s"] / (s["attrs"]["wall_s"] - s["attrs"]["trace_s"])
        for s in ops if "wall_s" in s["attrs"]], "%")

    X: dict[str, dict] = {}
    dels = named("delete.delete_docs")  # timed calls only; set-up deletes run unspanned
    if dels:
        X["delete.call_ms"] = _med([1000 * _s(s) for s in dels], "ms")
        X["delete.jobs"] = _med([len(s["jobs"]) for s in dels], "count")
        X["delete.tombstones_total"] = metric(
            named("delete.num_deleted")[-1]["attrs"]["tombstones"], "count", 1)
    comps = named("compact.compact")
    for c in comps:
        for k in c["attrs"]["phase_timings"]:
            X[f"compact.{k}_s"] = _med([
                cc["attrs"]["phase_timings"][k] for cc in comps
                if k in cc["attrs"]["phase_timings"]], "s")
    if comps:
        X["compact.jobs"] = _med([len(c["jobs"]) for c in comps], "count")
        X["compact.passthrough_frac"] = _med([c["attrs"]["passthrough_frac"] for c in comps], "ratio")
        X["compact.bytes_written"] = _med([c["attrs"]["bytes_written"] for c in comps], "bytes")

    by_name: dict[str, list[float]] = defaultdict(list)
    for s in spans:
        cov = covered([(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"])
        by_name[s["name"]].append(1000 * (_s(s) - cov))
    X["self_ms"] = {k: metric(median(v), "ms", len(v)) for k, v in sorted(by_name.items())}
    if rows:
        mid = sorted(rows, key=lambda r: r["wall_ms"])[(len(rows) - 1) // 2]
        X["search_median_call"] = {
            k: mid[k] for k in ("wall_ms", "plan_ms", "jobs_wall_ms", "unattributed_ms")
        }
    # traced against untraced (control) calls of the same kind; where the
    # two halves ran different queries this mixes in the query difference
    X["trace_overhead_pct_by_kind"] = {
        k: 100 * (median(ctx.traced_walls[k]) / median(ctx.control_walls[k]) - 1)
        for k in ctx.traced_walls if ctx.control_walls.get(k)
    }
    return L, X

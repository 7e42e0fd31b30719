"""The three workloads. Each is a single-client closed loop on one local
SparkSession: the next call starts when the previous one has returned.

query_zipf    set-up builds one synthetic-transcripts index; the timed phase
              runs rounds of one search() per query shape, with Zipf-drawn
              terms, followed by one 16-query search_batch.
build_ingest  the timed phase runs build_index over one seeded transcripts
              table, each time into a fresh directory; no queries run.
update_mixed  set-up builds a small base index; the timed phase runs rounds
              of DELTAS_PER_COMPACT cycles (delta build, delete_docs on the
              base, search_multi over base+deltas), then compact() and
              search() on the compacted index.

The seed is the only input: the corpora come from katta_spark.synth with
seeds derived from it, and the query, delete and delta streams from
random.Random(seed). katta_spark sees only these generated inputs.
"""

from __future__ import annotations

import dataclasses
import itertools
import os
import random
import shutil
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import nullcontext

from pyspark.sql import functions as F

import checks
from harness import dir_stats, median, metric, plan_metrics, tail

NUM_SHARDS = 8
K = 10
SETUP_REPS = 3
BATCH_SIZE = 16
# a run stops early after this many timed calls in a row have failed
MAX_CONSECUTIVE_FAILURES = 3

# update_mixed's traffic. No public trace gives these rates for a
# transcripts index, so they are synthetic assumptions. A round is the
# smallest that holds every call the workload is about: one delta build,
# one delete_docs of 20 base ids (2% of the base), six search_multi over
# base+delta (enough for a steady median), compact() of the two, and a
# search of the result. A second delta per round would cost about eight
# more seconds a run on a 4-CPU host, more than the run budget holds.
# Its searches have no exact repeats and no hot-only shape, so update_mixed
# is the workload without the properties the df memo and a stats broadcast
# depend on; query_zipf is the one with them.
DELTAS_PER_COMPACT = 1
DELETES_PER_CALL = 20
CYCLE_SHAPES = ("hot_rare", "or", "rare") * 2
# the compacted index gets these
COMPACTED_SHAPES = ("hot_rare",)

# turns at --scale 1
TURNS = {
    "query_zipf": 4_000,
    "build_ingest": 12_000,
    "build_warmup": 2_000,
    "update_base": 1_000,
    "update_delta": 500,
}

HOT = ("hotalpha", "hotbeta", "hotgamma")
# synth's tail vocabulary: 'w00010'.. with log-uniform rank frequencies, so
# a lower number is a more frequent term
TAIL = tuple(f"w{r:05d}" for r in range(10, 2000))
RANKED = HOT + TAIL


# ------------------------------------------------------------ query stream


class QueryStream:
    """Seeded queries over the synthetic vocabulary.

    Terms are drawn Zipf-distributed (exponent ZIPF_S) over the vocabulary
    ranked by corpus frequency, so queries share terms; with probability
    ``repeat_p`` a query repeats an earlier one of the same shape exactly.
    Shapes: one hot term, one rare term, hot+rare, a 3-4 term OR, a 2-term
    mode="and" and a 2-term phrase. ``oracle_ok`` marks the flat-OR shapes
    that oracle.bm25_topk scores.

    The constants are synthetic assumptions, not measured traffic: an
    exponent just above 1 gives the heavy head that makes queries share
    terms; a 15% exact-repeat rate gives a per-query memo something to hit
    while most queries stay new; shapes are drawn uniformly, one per query
    path, since no traffic source weights them."""

    ZIPF_S = 1.1
    REPEAT_P = 0.15
    SHAPES = ("hot", "rare", "hot_rare", "or", "and", "phrase")

    def __init__(self, seed: int, repeat_p: float = REPEAT_P):
        self.rng = random.Random(seed)
        self.repeat_p = repeat_p
        w = [1.0 / (r + 1) ** self.ZIPF_S for r in range(len(RANKED))]
        self.cum = list(itertools.accumulate(w))
        self.history: list[tuple[str, str, str]] = []

    def _zipf(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            t = self.rng.choices(RANKED, cum_weights=self.cum)[0]
            if t not in out:
                out.append(t)
        return out

    def next(self, shape: str | None = None, batch: bool = False) -> tuple[str, str, str]:
        """(query, mode, shape); the shape is drawn uniformly unless given.
        ``batch``: no mode="and" (search_batch takes query strings only)."""
        if shape is None:
            shape = self.rng.choice(self.SHAPES)
        if batch and shape == "and":
            shape = "or"
        same = [h for h in self.history if h[2] == shape]
        if same and self.rng.random() < self.repeat_p:
            item = self.rng.choice(same)
        elif shape == "hot":
            item = (self.rng.choices(HOT, weights=(4, 2, 1))[0], "or", shape)
        elif shape == "rare":
            item = (self.rng.choice(TAIL[200:]), "or", shape)
        elif shape == "hot_rare":
            item = (f"{self.rng.choice(HOT)} {self.rng.choice(TAIL[200:])}", "or", shape)
        elif shape == "or":
            item = (" ".join(self._zipf(self.rng.choice((3, 4)))), "or", shape)
        elif shape == "and":
            item = (" ".join(self._zipf(2)), "and", shape)
        else:
            item = ('"{} {}"'.format(*self._zipf(2)), "or", shape)
        self.history.append(item)
        return item


def oracle_ok(shape: str) -> bool:
    return shape in ("hot", "rare", "hot_rare", "or")


def stream_shares(queries: list[str]) -> dict:
    """The input properties the df memo and a stats broadcast depend on:
    the share of queries that repeat an earlier one exactly, and the share
    whose terms are all hot terms."""
    seen, rep, hot = set(), 0, 0
    for q in queries:
        rep += q in seen
        seen.add(q)
        hot += all(t in HOT for t in checks.tokens(q))
    n = max(1, len(queries))
    return {"queries": len(queries), "repeat_share": rep / n, "hot_only_share": hot / n}


# ----------------------------------------------------------------- context


class Ctx:
    """State of one run: the session, the tracer, the operation clock,
    operation and check counts, and the samples the metrics come from."""

    def __init__(self, spark, tracer, proc, work, seed, seconds, scale,
                 session_start_s):
        self.spark = spark
        self.tracer = tracer
        self.proc = proc
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.session_start_s = session_start_s
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failed_in_a_row = 0
        # wall seconds, process-tree CPU seconds and (start, end) times of
        # the timed calls alone: input generation, checks and probes
        # between them are not counted
        self.elapsed = 0.0
        self.cpu_s = 0.0
        self.op_windows: list[tuple[float, float]] = []
        self.n_ops: Counter = Counter()
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.traced_walls: dict[str, list[float]] = defaultdict(list)
        self.control_walls: dict[str, list[float]] = defaultdict(list)
        self.gen_s: list[float] = []
        self.checks: list[dict] = []
        self.detail: dict[str, dict] = {}
        self.e2e: dict[str, dict] = {}
        self.inputs: dict = {}
        # the IndexHandle each index directory opened to (IndexHandle.open
        # memoizes, so it is the one the search calls use)
        self.handles: dict = {}

    def turns(self, key: str) -> int:
        return max(200, int(TURNS[key] * self.scale))

    def span(self, name, on=True, **kw):
        return self.tracer.span(name, **kw) if on else nullcontext()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def done(self) -> bool:
        return (self.elapsed >= self.seconds
                or self.failed_in_a_row >= MAX_CONSECUTIVE_FAILURES)

    def next_traced(self, kind: str) -> bool:
        """Whether the next timed operation of ``kind`` will be traced."""
        return self.tracer.enabled and self.n_ops[kind] % 2 == 0

    def op(self, kind: str, fn):
        """One timed operation: ``fn(traced)``'s result, or None when it
        raised (counted as failed; its time still counts, so a program
        that fails every call still ends the run). In a traced run every
        other operation of each kind runs untraced, as the control the
        tracing overhead is read from."""
        traced = self.next_traced(kind)
        self.n_ops[kind] += 1
        self.attempted += 1
        own0 = self.tracer.own_s
        cpu0 = self.proc.cpu_s()
        w0 = time.time()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            with self.span(f"op.{kind}", traced, timed=True) as rec:
                out = fn(traced)
        except Exception:  # one failed call must not end the closed loop
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        self.op_windows.append((w0, time.time()))
        self.cpu_s += self.proc.cpu_s() - cpu0
        self.elapsed += wall
        if not ok:
            self.failed += 1
            self.failed_in_a_row += 1
            return None
        self.failed_in_a_row = 0
        if rec is not None:
            rec["attrs"]["trace_s"] = self.tracer.own_s - own0
            rec["attrs"]["wall_s"] = wall
        self.walls[kind].append(wall)
        if self.tracer.enabled:
            (self.traced_walls if traced else self.control_walls)[kind].append(wall)
        return out

    def check(self, name: str, fn) -> None:
        """Run a correctness check outside the timed spans; a failure
        counts against failed/attempted and fails the run."""
        self.attempted += 1
        try:
            with self.span(f"check.{name}", spark=True):
                failures = fn()
        except Exception as exc:  # a check that cannot run has failed
            traceback.print_exc(file=sys.stderr)
            failures = [f"check raised {exc!r}"]
        if failures:
            self.failed += 1
            print(f"CHECK FAILED {name}: {failures[:3]}", file=sys.stderr)
        self.checks.append({"name": name, "ok": not failures, "failures": failures[:3]})


# ------------------------------------------------------------ shared calls


def generate(ctx: Ctx, name: str, n: int, seed: int, prefix: str,
             role: str = "setup") -> str:
    """Write a seeded synthetic transcripts table; ``prefix`` keeps the
    conversation ids (and so the doc ids) of different tables disjoint.
    ``role``: "setup" for the set-up's tables, "delta" for those made
    between timed calls."""
    from katta_spark.synth import synth_transcripts

    out = ctx.path("in", name)
    t0 = time.perf_counter()
    with ctx.span("synth.generate", spark=True, turns=n, role=role):
        df = synth_transcripts(ctx.spark, n, seed=seed)
        df = df.withColumn("conv_id", F.concat(F.lit(prefix + "-"), F.col("conv_id")))
        df.write.parquet(out)
    if role == "setup":
        ctx.gen_s.append(time.perf_counter() - t0)
    return out


def text_bytes(ctx: Ctx, paths: list[str], deleted=()) -> int:
    from katta_spark.oracle import with_doc_ids

    df = with_doc_ids(ctx.spark.read.parquet(*paths), NUM_SHARDS)
    if deleted:
        df = df.where(~F.col("doc_id").isin(list(deleted)))
    return int(df.agg(F.sum(F.octet_length("text"))).collect()[0][0] or 0)


def build(ctx: Ctx, src: str, out: str, role: str, traced: bool = True) -> dict:
    from katta_spark.build import build_index

    with ctx.span("build.build_index", traced, spark=True, role=role) as s:
        res = build_index(ctx.spark, ctx.spark.read.parquet(src), out,
                          num_shards=NUM_SHARDS)
    if s is not None:
        s["attrs"].update(phase_timings=res["phase_timings"],
                          index_bytes=dir_stats(out)[0],
                          postings_files=dir_stats(os.path.join(out, "postings.parquet"))[1])
    return res


def open_index(ctx: Ctx, d: str):
    from katta_spark.query import IndexHandle

    with ctx.span("query.open", spark=True):
        return IndexHandle.open(ctx.spark, d)


def run_search(ctx: Ctx, traced: bool, api: str, call):
    """``call()`` returns the lazy result DataFrame; the rows it collects
    are returned. Traced: plan building and collect() are separate spans
    and the executed plan's SQLMetrics land on the collect span."""
    if not traced:
        return call().collect()
    with ctx.tracer.span("query.search", api=api):
        with ctx.tracer.span("query.plan", spark=True):
            df = call()
        with ctx.tracer.span("query.exec", spark=True) as ex:
            rows = df.collect()
    ex["attrs"].update(ctx.tracer.charge(plan_metrics, df))
    return rows


def memo_hits(ctx: Ctx, dirs: list[str], q: str) -> tuple[int, int]:
    """(hits, lookups) of the query's per-index df lookups: how many of its
    (index, term) pairs the handles' df memo (IndexHandle.df_of_terms)
    already holds. Read before the timed call, so it is what that call
    finds."""
    terms = set(checks.tokens(q))
    hits = 0
    for d in dirs:
        h = ctx.handles.get(d)
        memo = h.__dict__.get("_df_cache", {}) if h is not None else {}
        hits += sum(t in memo for t in terms)
    return hits, len(terms) * len(dirs)


def remember_handles(ctx: Ctx, dirs: list[str]) -> None:
    """After a search call: the handles it opened (a memo hit in
    IndexHandle.open, so no Spark job)."""
    from katta_spark.query import IndexHandle

    for d in dirs:
        if d not in ctx.handles:
            ctx.handles[d] = IndexHandle.open(ctx.spark, d)


def query_probes(ctx: Ctx, dirs: list[str], q: str, memo: tuple[int, int]) -> None:
    """Traced runs only, after the timed call: the client-side parse and
    rewrite of the query string, and the per-handle df lookup on the
    handles the call used, with the memo hits ``memo_hits`` read before
    it."""
    from katta_spark.query import expand_wildcards, parse_tree_query

    handles = [ctx.handles[d] for d in dirs]
    with ctx.tracer.span("query.parse", spark=True):
        parse_tree_query(q)
        for h in handles:
            expand_wildcards(ctx.spark, h, q)
    terms = sorted(set(checks.tokens(q)))
    with ctx.tracer.span("query.df_lookup", spark=True, hits=memo[0], lookups=memo[1]):
        for h in handles:
            h.df_of_terms(ctx.spark, terms)


def per(x: float, n: float):
    """x / n, or None when nothing was measured."""
    return x / n if n else None


def pairs(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def oracle_pairs(ctx: Ctx, paths: list[str], q: str, k: int, deleted=frozenset(),
                 stale: bool = False) -> list[tuple[int, float]]:
    """Ranked top-k from oracle.bm25_topk over the generated tables, minus
    ``deleted``. ``stale``: score with the deleted docs still counted in
    the corpus statistics (the tombstone semantics of search before a
    compaction) and drop them from the ranking afterwards."""
    from katta_spark.oracle import bm25_topk, with_doc_ids

    docs = with_doc_ids(ctx.spark.read.parquet(*paths), NUM_SHARDS)
    if deleted and not stale:
        docs = docs.where(~F.col("doc_id").isin(list(deleted)))
    kk = k + len(deleted) if stale else k
    rows = bm25_topk(docs, q, kk, shard_col="shard_id").collect()
    return [p for p in pairs(rows) if p[0] not in deleted][:k]


# ---------------------------------------------------------------- workloads


def query_zipf(ctx: Ctx) -> None:
    from katta_spark.query import search, search_batch

    n = ctx.turns("query_zipf")
    t_setup = time.perf_counter()
    corpus = generate(ctx, "corpus", n, ctx.seed, "q")
    rep_s, handle = [], None
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        d = ctx.path(f"index{r}")
        build(ctx, corpus, d, "setup")
        handle = open_index(ctx, d)
        rep_s.append(time.perf_counter() - t0)
    for r in range(SETUP_REPS - 1):
        shutil.rmtree(ctx.path(f"index{r}"), ignore_errors=True)
    dirs = [handle.index_dir]
    ctx.handles[handle.index_dir] = handle
    t_warm = time.perf_counter()
    # warm-up: one call per query shape and one batch, the calls a round
    # makes, so no timed call is the first of its kind
    warm = QueryStream(ctx.seed + 1)
    for shape in QueryStream.SHAPES:
        q, mode, _ = warm.next(shape)
        search(ctx.spark, handle, q, K, mode=mode).collect()
    search_batch(ctx.spark, handle, [warm.next(batch=True)[0] for _ in range(BATCH_SIZE)],
                 K).collect()
    warm_s = time.perf_counter() - t_warm
    setup_s = ctx.session_start_s + sum(ctx.gen_s) + median(rep_s) + warm_s
    setup_wall = time.perf_counter() - t_setup

    stream = QueryStream(ctx.seed)
    issued: list[str] = []
    samples: list[tuple] = []  # (kind, query, rows) of oracle-checkable results
    n_queries = 0
    # whole rounds only, so every run issues the same mix: one search per
    # shape, then one batch
    while not ctx.done():
        for shape in QueryStream.SHAPES:
            q, mode, _ = stream.next(shape)
            issued.append(q)
            traced = ctx.next_traced("search")
            memo = memo_hits(ctx, dirs, q)
            rows = ctx.op("search", lambda tr: run_search(
                ctx, tr, "search", lambda: search(ctx.spark, handle, q, K, mode=mode)))
            if rows is not None:
                n_queries += 1
                if oracle_ok(shape):
                    samples.append(("search", q, rows))
            if traced:
                query_probes(ctx, dirs, q, memo)
        batch = [stream.next(batch=True) for _ in range(BATCH_SIZE)]
        qs = [b[0] for b in batch]
        rows = ctx.op("batch16", lambda tr: run_search(
            ctx, tr, "search_batch", lambda: search_batch(ctx.spark, handle, qs, K)))
        if rows is not None:
            n_queries += BATCH_SIZE
            for i, (q, _, shape) in enumerate(batch):
                if oracle_ok(shape):
                    samples.append(("batch", q, [r for r in rows if r["query_id"] == i]))
        issued.extend(qs)

    # correctness, outside the timed spans: one single search and one batch
    # entry re-scored by the oracle
    for kind in ("search", "batch"):
        cand = [s for s in samples if s[0] == kind]
        if cand:
            _, q, rows = ctx.rng.choice(cand)
            ctx.check(f"oracle_{kind}", lambda: checks.rank_match(
                pairs(rows), oracle_pairs(ctx, [corpus], q, K)))

    size, _ = dir_stats(handle.index_dir)
    ratio = size / text_bytes(ctx, [corpus])
    s_ms = [1000 * w for w in ctx.walls["search"]]
    b_ms = [1000 * w for w in ctx.walls["batch16"]]
    tv, tp = tail(s_ms)
    ctx.inputs = stream_shares(issued)
    ctx.detail.update({
        "setup_wall_s": metric(setup_wall, "s", 1),
        "setup_build_open_s": metric(median(rep_s), "s", len(rep_s)),
        "warmup_s": metric(warm_s, "s", len(QueryStream.SHAPES) + 1),
        "search_p50_ms": metric(median(s_ms), "ms", len(s_ms)),
        "search_tail_ms": metric(tv, "ms", len(s_ms), percentile=tp),
        "batch16_p50_ms": metric(median(b_ms), "ms", len(b_ms)),
        "queries_per_s": metric(per(n_queries, ctx.elapsed), "q/s", n_queries),
        "index_bytes_per_text_byte": metric(ratio, "ratio", 1),
    })
    ctx.e2e.update({
        "setup_s": metric(setup_s, "s", SETUP_REPS),
        "op_p50_ms": metric(median(s_ms), "ms", len(s_ms)),
        "work_per_s": metric(per(n_queries, ctx.elapsed), "1/s", n_queries),
        "cpu_ms_per_unit": metric(per(1000 * ctx.cpu_s, n_queries), "ms", n_queries),
        "index_bytes_per_text_byte": metric(ratio, "ratio", 1),
    })
    if ctx.tracer.enabled:
        probes(ctx, corpus, handle.index_dir)


def build_ingest(ctx: Ctx) -> None:
    from katta_spark.oracle import with_doc_ids
    from katta_spark.query import search

    n, nw = ctx.turns("build_ingest"), ctx.turns("build_warmup")
    t_setup = time.perf_counter()
    src = generate(ctx, "input", n, ctx.seed, "b")
    warm_src = generate(ctx, "warmup", nw, ctx.seed + 1, "w")
    rep_s = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        build(ctx, warm_src, ctx.path(f"warm{r}"), "setup")
        rep_s.append(time.perf_counter() - t0)
        shutil.rmtree(ctx.path(f"warm{r}"), ignore_errors=True)
    setup_s = ctx.session_start_s + sum(ctx.gen_s) + median(rep_s)
    setup_wall = time.perf_counter() - t_setup
    tbytes = text_bytes(ctx, [src])

    built, sizes, last = [], [], None
    while not ctx.done():
        out = ctx.path(f"build{len(built)}")
        res = ctx.op("build", lambda tr: build(ctx, src, out, "timed", tr))
        if res is None:
            continue
        built.append(res["n_docs"])
        sizes.append(dir_stats(out)[0])
        if last is not None:
            shutil.rmtree(last, ignore_errors=True)
        last = out

    for i, nd in enumerate(built):
        ctx.check(f"n_docs_build{i}", lambda nd=nd: checks.count_equal("n_docs", nd, n))
    if last is not None:
        sample = (
            with_doc_ids(ctx.spark.read.parquet(src), NUM_SHARDS)
            .orderBy(F.xxhash64("doc_id", F.lit(ctx.seed)))
            .limit(4).select("doc_id", "text").collect()
        )
        texts = {int(r["doc_id"]): r["text"] for r in sample}
        ctx.check("text_equal", lambda: checks.text_equal(
            checks.index_token_streams(last, texts, NUM_SHARDS), texts))
        # the fresh index answers for its docs: a sampled turn is found by
        # an AND of all its distinct terms
        doc, text = max(texts.items(), key=lambda kv: len(set(checks.tokens(kv[1]))))
        q = " ".join(sorted(set(checks.tokens(text))))
        h = open_index(ctx, last)
        ctx.handles[last] = h
        memo = memo_hits(ctx, [last], q)
        rows = run_search(ctx, ctx.tracer.enabled, "search",
                          lambda: search(ctx.spark, h, q, K, mode="and"))
        if ctx.tracer.enabled:
            query_probes(ctx, [last], q, memo)
        ctx.check("searchable", lambda: checks.contains(doc, [int(r["doc_id"]) for r in rows]))

    b_s = ctx.walls["build"]
    turns = n * len(b_s)
    ratio = median(sizes) / tbytes if sizes else None
    ctx.inputs = {"turns_per_build": n, "builds": len(b_s), "text_bytes": tbytes}
    ctx.detail.update({
        "setup_wall_s": metric(setup_wall, "s", 1),
        "setup_warm_build_s": metric(median(rep_s), "s", len(rep_s)),
        "build_p50_s": metric(median(b_s), "s", len(b_s)),
        "build_turns_per_s": metric(per(n, median(b_s)), "turns/s", len(b_s)),
        "index_bytes_per_text_byte": metric(ratio, "ratio", len(sizes)),
    })
    ctx.e2e.update({
        "setup_s": metric(setup_s, "s", SETUP_REPS),
        "op_p50_ms": metric(1000 * median(b_s) if b_s else None, "ms", len(b_s)),
        "work_per_s": metric(per(turns, ctx.elapsed), "1/s", turns),
        "cpu_ms_per_unit": metric(per(1000 * ctx.cpu_s, turns / 1000), "ms", len(b_s)),
        "index_bytes_per_text_byte": metric(ratio, "ratio", len(sizes)),
    })
    if ctx.tracer.enabled and last is not None:
        probes(ctx, src, last)


def update_mixed(ctx: Ctx) -> None:
    from katta_spark.delete import delete_docs
    from katta_spark.oracle import with_doc_ids
    from katta_spark.query import search, search_multi

    nb, nd = ctx.turns("update_base"), ctx.turns("update_delta")
    t_setup = time.perf_counter()
    # each set-up repetition generates the base table, builds and opens it,
    # and warms the write and read paths on it with one delete_docs and one
    # search_multi; setup_s takes the median repetition
    warm_q = QueryStream(ctx.seed + 1, repeat_p=0.0).next("or")[0]
    rep_s, live, deleted = [], [], set()
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        base_src = generate(ctx, f"base{r}", nb, ctx.seed, "base")
        base = ctx.path(f"base{r}")
        build(ctx, base_src, base, "setup")
        open_index(ctx, base)
        if not live:
            ids = with_doc_ids(ctx.spark.read.parquet(base_src), NUM_SHARDS).select("doc_id")
            live = sorted(int(row["doc_id"]) for row in ids.collect())
            deleted = set(ctx.rng.sample(live, DELETES_PER_CALL))
            live = sorted(set(live) - deleted)
        delete_docs(ctx.spark, base, sorted(deleted))
        search_multi(ctx.spark, [base], warm_q, K).collect()
        rep_s.append(time.perf_counter() - t0)
        if r < SETUP_REPS - 1:
            shutil.rmtree(base, ignore_errors=True)
            shutil.rmtree(base_src, ignore_errors=True)
    setup_s = ctx.session_start_s + median(rep_s)
    setup_wall = time.perf_counter() - t_setup
    remember_handles(ctx, [base])

    stream = QueryStream(ctx.seed, repeat_p=0.0)
    issued, inputs = [], [base_src]  # every table whose docs the index holds
    n_rounds, ingested, compacted = 0, 0, None
    # the first round's last search_multi and first search on the compacted
    # index, with the index state they saw, re-scored after the timed phase
    samples: dict[str, tuple] = {}
    # whole rounds only, every one the same size, so every run measures the
    # same mix of calls
    while not ctx.done():
        n_rounds += 1
        srcs = [
            generate(ctx, f"delta{n_rounds}.{c}", nd, ctx.seed + 100 * n_rounds + c,
                     f"d{n_rounds}.{c}", "delta")
            for c in range(DELTAS_PER_COMPACT)
        ]
        deltas = []
        for c, dsrc in enumerate(srcs):
            ddir = ctx.path(f"delta{n_rounds}.{c}")
            if ctx.op("delta_build", lambda tr: build(ctx, dsrc, ddir, "timed", tr)) is not None:
                deltas.append(ddir)
                inputs.append(dsrc)
                ingested += nd
            ids = ctx.rng.sample(live, DELETES_PER_CALL)
            traced = ctx.next_traced("delete")
            if ctx.op("delete", lambda tr: delete_docs_span(ctx, base, ids, tr)) is not None:
                deleted.update(ids)
                live = sorted(set(live) - set(ids))
                if traced:
                    count_tombstones(ctx, base)
            for shape in CYCLE_SHAPES:
                q, _, _ = stream.next(shape)
                issued.append(q)
                dirs = [base] + deltas
                traced = ctx.next_traced("search")
                memo = memo_hits(ctx, dirs, q)
                rows = ctx.op("search", lambda tr: run_search(
                    ctx, tr, "search_multi", lambda: search_multi(ctx.spark, dirs, q, K)))
                if rows is None:
                    continue
                remember_handles(ctx, dirs)
                if traced:
                    query_probes(ctx, dirs, q, memo)
                ctx.check("no_deleted", lambda: checks.none_deleted(
                    [int(r["doc_id"]) for r in rows], deleted))
                if n_rounds == 1:
                    samples["multi"] = (q, rows, list(inputs), frozenset(deleted))
        out = ctx.path(f"compact{n_rounds}")
        merged = [base] + deltas
        traced = ctx.next_traced("compact")
        if ctx.op("compact", lambda tr: compact_span(ctx, merged, out, tr)) is None:
            break
        if traced:
            annotate_compact(ctx, merged, out)
        compacted = (out, list(inputs), set(deleted))
        for d in merged:
            shutil.rmtree(d, ignore_errors=True)
        for shape in COMPACTED_SHAPES:
            q, _, _ = stream.next(shape)
            issued.append(q)
            rows = ctx.op("search_compacted", lambda tr: run_search(
                ctx, tr, "search", lambda: search(ctx.spark, out, q, K)))
            if rows is None:
                continue
            ctx.check("no_deleted", lambda: checks.none_deleted(
                [int(r["doc_id"]) for r in rows], deleted))
            if n_rounds == 1:
                samples.setdefault("compacted", (q, rows, list(inputs), frozenset(deleted)))
        base = out

    # search_multi over tombstoned inputs scores with the pre-delete
    # statistics (tests/test_delete.py); the compacted index with the live
    # docs' statistics
    for name, stale in (("multi", True), ("compacted", False)):
        if name not in samples:
            ctx.check(f"{name}_vs_oracle", lambda: [f"no {name} search succeeded"])
            continue
        q, rows, ins, dels = samples[name]
        ctx.check(f"{name}_vs_oracle", lambda: checks.rank_match(
            pairs(rows), oracle_pairs(ctx, ins, q, K, dels, stale=stale)))

    ratio = None
    if compacted is not None:
        ratio = dir_stats(compacted[0])[0] / text_bytes(ctx, compacted[1], compacted[2])
    s_ms = [1000 * w for w in ctx.walls["search"]]
    c_ms = [1000 * w for w in ctx.walls["search_compacted"]]
    dels = ctx.walls["delete"]
    tv, tp = tail(s_ms + c_ms)
    ctx.inputs = dict(stream_shares(issued), rounds=n_rounds, deleted=len(deleted),
                      turns_ingested=ingested)
    ctx.detail.update({
        "setup_wall_s": metric(setup_wall, "s", 1),
        "setup_rep_s": metric(median(rep_s), "s", len(rep_s)),
        "search_p50_ms": metric(median(s_ms + c_ms), "ms", len(s_ms) + len(c_ms)),
        "search_tail_ms": metric(tv, "ms", len(s_ms) + len(c_ms), percentile=tp),
        "search_multi_p50_ms": metric(median(s_ms), "ms", len(s_ms)),
        "search_compacted_p50_ms": metric(median(c_ms), "ms", len(c_ms)),
        "delta_build_s": metric(median(ctx.walls["delta_build"]), "s", len(ctx.walls["delta_build"])),
        "delete_p50_ms": metric(1000 * median(dels) if dels else None, "ms", len(dels)),
        "compact_s": metric(median(ctx.walls["compact"]), "s", len(ctx.walls["compact"])),
        "index_bytes_per_text_byte": metric(ratio, "ratio", 1),
    })
    ctx.e2e.update({
        "setup_s": metric(setup_s, "s", SETUP_REPS),
        "op_p50_ms": metric(median(s_ms), "ms", len(s_ms)),
        "work_per_s": metric(per(ingested, ctx.elapsed), "1/s", ingested),
        "cpu_ms_per_unit": metric(per(1000 * ctx.cpu_s, ingested / 1000), "ms", n_rounds),
        "index_bytes_per_text_byte": metric(ratio, "ratio", 1),
    })
    if ctx.tracer.enabled and compacted is not None:
        probes(ctx, base_src, compacted[0])


def delete_docs_span(ctx: Ctx, index_dir: str, ids: list[int], traced: bool) -> int:
    from katta_spark.delete import delete_docs

    with ctx.span("delete.delete_docs", traced, spark=True):
        return delete_docs(ctx.spark, index_dir, ids)


def count_tombstones(ctx: Ctx, index_dir: str) -> None:
    """Traced runs only, after the delete call: the index's tombstone
    count, on a fresh handle so the count does not fill the shared
    handle's tombstone memo that the next search would otherwise fill."""
    h = dataclasses.replace(ctx.handles[index_dir])
    with ctx.tracer.span("delete.num_deleted", spark=True) as c:
        c["attrs"]["tombstones"] = h.num_deleted(ctx.spark)


def compact_span(ctx: Ctx, srcs: list[str], out: str, traced: bool) -> dict:
    from katta_spark.compact import compact

    with ctx.span("compact.compact", traced, spark=True) as s:
        res = compact(ctx.spark, srcs, out)
    if s is not None:
        s["attrs"]["phase_timings"] = res["phase_timings"]
    return res


def annotate_compact(ctx: Ctx, srcs: list[str], out: str) -> None:
    """Traced runs only, after the compact call: its output size and the
    share of postings it could pass through unchanged."""
    rec = next(s for s in reversed(ctx.tracer.spans) if s["name"] == "compact.compact")
    rec["attrs"].update(bytes_written=dir_stats(out)[0],
                        passthrough_frac=passthrough_frac(srcs))


def passthrough_frac(index_dirs: list[str]) -> float:
    """bench.py's definition: the share of (shard, term) groups present in
    exactly one compaction input — those move byte-identical."""
    import pyarrow.dataset as ds

    c: Counter = Counter()
    for d in index_dirs:
        t = ds.dataset(os.path.join(d, "postings.parquet"), format="parquet",
                       partitioning="hive").to_table(columns=["shard_id", "th"])
        c.update(zip(t.column("shard_id").to_pylist(), t.column("th").to_pylist()))
    return sum(1 for v in c.values() if v == 1) / max(1, len(c))


# ------------------------------------------------------------ layer probes


def probes(ctx: Ctx, src: str, index_dir: str) -> None:
    """Traced runs only, after the timed phase: the tokenizer over the
    workload input, and the codec over the hot terms' posting rows."""
    import numpy as np
    import pyarrow.dataset as ds
    from pyspark.sql import Observation

    from katta_spark.codec import decode_posting_lists_concat, encode_posting_lists_batch
    from katta_spark.tokenizer import tokenize_col
    from katta_spark.xxhash import term_hash

    obs = Observation("tokens")
    with ctx.tracer.span("tokenizer.noop_write", spark=True) as s:
        (ctx.spark.read.parquet(src)
         .select(F.size(tokenize_col(F.col("text"))).alias("n"))
         .observe(obs, F.sum("n").alias("tokens"))
         .write.format("noop").mode("overwrite").save())
    s["attrs"]["tokens"] = int(obs.get["tokens"] or 0)

    hot = [term_hash(t) for t in HOT]
    t = ds.dataset(os.path.join(index_dir, "postings.parquet"), format="parquet",
                   partitioning="hive").to_table(
        columns=["th", "doc_ids", "tfs", "doclens"], filter=ds.field("th").isin(hot))
    bufs = [t.column(c).to_pylist() for c in ("doc_ids", "tfs", "doclens")]
    reps = 0
    with ctx.tracer.span("codec.decode") as s:
        while True:
            docs, tfs, dls, cnt = decode_posting_lists_concat(*bufs)
            reps += 1
            if time.time() - s["start"] > 0.2:
                break
    s["attrs"]["postings"] = int(docs.size) * reps
    starts = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    reps = 0
    with ctx.tracer.span("codec.encode") as s:
        while True:
            encode_posting_lists_batch(docs, tfs, dls, starts)
            reps += 1
            if time.time() - s["start"] > 0.2:
                break
    s["attrs"]["postings"] = int(docs.size) * reps

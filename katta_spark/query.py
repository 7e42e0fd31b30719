"""Query path — Katta's two-phase scatter-gather search re-created as one
Spark job over the pre-partitioned postings table.

Reference lifecycle (SURVEY.md §3.1, LuceneClient.java:149-203):
  phase 1: gather global df per term  → we PRECOMPUTED it at build time
           (immutable index ⇒ stats are a broadcast side table, exactly the
           invariant Katta exploits via CachedDfSource, LuceneServer.java:441)
  phase 2: scatter per-shard top-k    → one mapInPandas/applyInPandas kernel
           per shard partition (partition-pruned, predicate-pushed scan)
  merge  : node + client k-way merges → TakeOrderedAndProject (orderBy+limit)

Tie-break replicated exactly from Hit.java:150-162: score DESC, doc_id ASC,
shard_id DESC.

The kernel is exact, vectorized term-at-a-time scoring with a MaxScore-style
prune: terms are processed in descending max_impact order and postings of
low-impact terms are dropped early when their upper bound cannot lift any
new document into the running top-k (block-max bounds from the index make
the prune block-granular). Pruning never changes results — property-tested
against the unpruned path and the brute-force oracle.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from katta_spark import scoring
from katta_spark.codec import (
    decode_blocks,
    decode_positions,
    decode_posting_list,
    f64_to_u64_order,
    i64_to_u64_order,
    read_skips,
    u64_to_f64_order,
    u64_to_i64_order,
    vb_decode,
)
from katta_spark.tokenizer import tokenize_str
from katta_spark.xxhash import term_hash


class DocFilter(NamedTuple):
    """Combined allow/deny doc set for the shard kernels' second argument.

    ``allow`` — docIDs that MAY match (Katta's Filter, P2; None = no
    restriction). ``deny`` — docIDs that must NOT match: the index's
    tombstoned (deleted) documents, the analog of Lucene's liveDocs
    bitset that every collector consults before scoring a hit
    (deleted docs are skipped at collection time while df/numDocs stay
    STALE until a merge expunges them — IndexWriter.deleteDocuments
    semantics). Kernels accept either a plain ndarray (allow-only,
    the original contract) or a DocFilter."""

    allow: "np.ndarray | None"
    deny: "np.ndarray | None"


class CachedFilter:
    """A prepared, reusable query filter — the CachingWrapperFilter
    analog (Katta P3: Lucene caches a filter's per-reader bitset so
    repeated filtered searches skip recomputing it; LuceneServer wraps
    client filters in exactly that cache).

    :func:`prepare_filter` derives the (doc_id, shard_id) frame ONCE,
    hash-partitions it by shard_id with the session's shuffle
    parallelism and persists it — so every subsequent
    ``search(filter_df=<CachedFilter>)`` reuses the materialized
    partitions and the cogroup re-shuffles only the postings side (the
    filter side's exchange is satisfied by the cached partitioning).
    Valid for any index sharing the sharding config it was prepared
    under (shard assignment is a pure function of doc_id, num_shards
    and the sharding fn); mismatches refuse. Single-index paths only —
    multi-index searches offset shard ids per index, so pass the raw
    DataFrame there. Call :meth:`unpersist` when done.
    """

    def __init__(self, df: "DataFrame", num_shards: int, sharding: str):
        self.df = df
        self.num_shards = num_shards
        self.sharding = sharding

    def unpersist(self) -> None:
        self.df.unpersist()


def prepare_filter(
    spark: "SparkSession",
    index: "IndexHandle | str",
    filter_df: "DataFrame",
    doc_col: str = "doc_id",
) -> CachedFilter:
    """Materialize ``filter_df`` as a :class:`CachedFilter` for repeated
    filtered searches against ``index`` (or any sharding-compatible
    index)."""
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    fdf = (
        filter_df.select(F.col(doc_col).cast("long").alias("doc_id"))
        .withColumn("shard_id", h.shard_expr(F.col("doc_id")))
        .repartition(n, "shard_id")
        .persist()
    )
    fdf.count()  # materialize now, not on the first search
    return CachedFilter(fdf, h.num_shards, h.sharding)


def _filter_frame(index, filter_df, filter_doc_col: str):
    """The shard-keyed (doc_id, shard_id) frame for the cogroup: derive
    it from a raw DataFrame, or reuse a CachedFilter's materialization
    (after checking it was prepared under the same sharding config)."""
    if isinstance(filter_df, CachedFilter):
        if (
            filter_df.num_shards != index.num_shards
            or filter_df.sharding != index.sharding
        ):
            raise ValueError(
                "CachedFilter was prepared for "
                f"{filter_df.num_shards} shards/{filter_df.sharding!r}; "
                f"this index has {index.num_shards} shards/"
                f"{index.sharding!r} — prepare_filter against this index"
            )
        return filter_df.df
    return filter_df.select(
        F.col(filter_doc_col).cast("long").alias("doc_id")
    ).withColumn("shard_id", index.shard_expr(F.col("doc_id")))


def _keep_mask(d: np.ndarray, flt) -> "np.ndarray | None":
    """Boolean keep-mask of ``d`` under an allow-array or DocFilter;
    None when the filter is a no-op (no mask needed)."""
    if flt is None:
        return None
    if isinstance(flt, DocFilter):
        keep = None
        if flt.allow is not None:
            keep = np.isin(d, flt.allow)
        if flt.deny is not None and flt.deny.size:
            km = ~np.isin(d, flt.deny)
            keep = km if keep is None else keep & km
        return keep
    return np.isin(d, flt)


def _cursor_mask(
    scores: np.ndarray, docs: np.ndarray, shard_id: int, cursor: tuple
) -> np.ndarray:
    """Mask of candidates strictly AFTER ``cursor`` in the reference
    tie-break (score DESC, doc ASC, shard DESC) — the per-shard predicate
    of Lucene's IndexSearcher.searchAfter (the deep-paging cursor that
    keeps per-shard emission at k instead of offset+k). ``cursor`` is the
    (score, doc_id, shard_id) of the last already-returned hit; score
    equality is exact because the kernels recompute bit-identical
    scores."""
    cs, cd, csh = cursor
    return (
        (scores < cs)
        | ((scores == cs) & (docs > cd))
        | ((scores == cs) & (docs == cd) & (shard_id < csh))
    )


# open() memo — see IndexHandle.open. Keyed by (resolved index dir,
# corpus.parquet mtime_ns) so a rebuild into the same directory gets a
# fresh handle; bounded by the number of distinct indexes a process opens.
_OPEN_HANDLE_CACHE: dict = {}


@dataclass
class IndexHandle:
    """Opened index — the analog of Katta's deployed-index client view."""

    index_dir: str
    n_docs: int
    avgdl: float
    num_shards: int
    keyword_fields: tuple[str, ...] = ()
    sharding: str = "pmod_doc_id"
    # False for positions=False builds (Lucene omit-term-positions): the
    # postings' positions blobs are empty and phrase queries refuse.
    positions: bool = True

    @classmethod
    def open(cls, spark: SparkSession, index_dir: str) -> "IndexHandle":
        # Refuse old on-disk formats up front with a clear message — a
        # pre-v8 index would otherwise surface as an opaque
        # AnalysisException about a missing 'positions'/'sum_dl' column
        # deep inside the first phrase query or compaction.
        from katta_spark.build import FORMAT_VERSION

        vf = os.path.join(index_dir, "FORMAT_VERSION")
        stored = None
        if os.path.exists(vf):
            with open(vf) as fh:
                stored = fh.read().strip()
        if stored != str(FORMAT_VERSION):
            raise ValueError(
                f"index at {index_dir!r} has on-disk format "
                f"{stored or 'unknown (no FORMAT_VERSION file)'}; this "
                f"build reads format {FORMAT_VERSION} — rebuild the index "
                "(build_index into a fresh directory)"
            )
        # Memoized per (resolved dir, corpus mtime_ns): every API that
        # accepts a path-string opens a handle, and each open is a Spark
        # job over corpus.parquet plus a cold df cache — Katta's client
        # caches IndexMetaData for a deployed index instead
        # (Client.java/IndexMetaData). The mtime key invalidates on
        # rebuild (overwrite rewrites the corpus.parquet directory);
        # tombstones are deliberately NOT part of the handle state and
        # stay checked per call.
        corpus_path = os.path.join(index_dir, "corpus.parquet")
        try:
            corpus_mtime = os.stat(corpus_path).st_mtime_ns
        except FileNotFoundError as e:
            # FORMAT_VERSION is written at build start and corpus.parquet
            # last, so this is a build that never finished
            raise ValueError(
                f"index at {index_dir!r} is an incomplete build (no "
                "corpus.parquet); re-run build_index to resume"
            ) from e
        key = (os.path.realpath(index_dir), corpus_mtime)
        cached = _OPEN_HANDLE_CACHE.get(key)
        if cached is not None:
            # qpm() is "queries per minute since the handle was opened":
            # before memoization every open() started its own metric
            # window, so a memo hit re-stamps the window to keep that
            # per-open semantic (Client.java:458-464)
            cached._opened_at = time.time()
            cached._n_queries = 0
            return cached
        row = spark.read.parquet(corpus_path).collect()[0]
        kw = tuple(row["keyword_fields"] or ()) if "keyword_fields" in row else ()
        sharding = row["sharding"] if "sharding" in row else "pmod_doc_id"
        pos = bool(row["positions"]) if "positions" in row else True
        h = cls(
            index_dir, int(row["n_docs"]), float(row["avgdl"]),
            int(row["n_shards"]), kw, sharding, pos,
        )
        h._opened_at = time.time()
        h._n_queries = 0
        _OPEN_HANDLE_CACHE[key] = h
        return h

    def _record_query(self) -> None:
        self._n_queries = getattr(self, "_n_queries", 0) + 1

    def qpm(self) -> float:
        """Queries per minute since the handle was opened — Katta's client
        QPS metric (Client.java:458-464, getQueryPerMinute)."""
        elapsed_min = (time.time() - getattr(self, "_opened_at", time.time())) / 60.0
        n = getattr(self, "_n_queries", 0)
        return n / elapsed_min if elapsed_min > 0 else float(n)

    def shard_expr(self, doc_col):
        """shard_id of a docID under this index's sharding function — lets
        external docID sets (filters) be co-partitioned with the postings."""
        if self.sharding == "pmod_xxhash64":
            return F.pmod(F.xxhash64(doc_col), F.lit(self.num_shards)).cast("int")
        return F.pmod(doc_col, F.lit(self.num_shards)).cast("int")

    def _rel(
        self, spark: SparkSession, path: str, fresh: bool = False
    ) -> DataFrame:
        """``spark.read.parquet(path)`` memoized per (path, session,
        directory mtime_ns). Every ``read.parquet`` pays a driver file
        listing + footer fetch over py4j (~60 ms measured) that repeated
        queries on a warm handle should not pay — the index is immutable
        while its directory is unchanged, the same invariant the open()
        memo keys on. An in-place rewrite (expunge/compact/delete into
        the same directory) bumps the directory mtime and invalidates;
        the session is part of the key so a handle that outlives a
        stopped SparkSession never serves a frame bound to it.

        ``fresh=True`` bypasses the memo and re-reads: a plan that joins
        or cogroups the relation WITH ITSELF needs distinct attribute
        ids on the two sides (Spark's ambiguous-self-join check rejects
        one Dataset on both sides of a cogroup), so the second side
        takes a fresh frame."""
        cache = self.__dict__.setdefault("_rel_cache", {})
        key = (path, spark)
        mt = os.stat(path).st_mtime_ns
        if not fresh:
            hit = cache.get(key)
            if hit is not None and hit[0] == mt:
                return hit[1]
        df = spark.read.parquet(path)
        if not fresh:
            cache[key] = (mt, df)
        return df

    def postings(
        self, spark: SparkSession, fresh: bool = False
    ) -> DataFrame:
        return self._rel(
            spark,
            os.path.join(self.index_dir, "postings.parquet"),
            fresh=fresh,
        )

    def stats(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, os.path.join(self.index_dir, "stats.parquet"))

    def shards(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, os.path.join(self.index_dir, "shards.parquet"))

    def total_dl(self, spark: SparkSession) -> float:
        """Corpus-wide Σ default-field tokens, memoized on the handle (the
        index is immutable — a client holding a deployed-index view never
        re-reads its stats, like Katta's cached IndexMetaData)."""
        if not hasattr(self, "_total_dl"):
            row = self.shards(spark).agg(F.sum("sum_dl").alias("sdl")).collect()[0]
            object.__setattr__(self, "_total_dl", float(row["sdl"] or 0))
        return self._total_dl

    def docvalue_kinds(self) -> dict[str, str]:
        """col → kind of the index's sort-value sidecar (docvalues.py),
        memoized — {} when the index was built without docvalue_cols."""
        if not hasattr(self, "_dv_kinds"):
            from katta_spark.docvalues import read_meta

            object.__setattr__(self, "_dv_kinds", read_meta(self.index_dir))
        return self._dv_kinds

    def df_of_terms(self, spark: SparkSession, terms: list[str]) -> dict[str, int]:
        """Per-term global df, memoized per handle (df=0 for unindexed
        terms is cached too) — Katta's CachedDfSource invariant
        (LuceneServer.java:441: an immutable deployed index never re-serves
        the same df question twice). Repeated queries over warm handles
        trigger ZERO stats jobs."""
        cache: dict[str, int] = self.__dict__.setdefault("_df_cache", {})
        missing = [t for t in terms if t not in cache]
        if missing:
            mhashes = [term_hash(t) for t in missing]
            rows = (
                self.stats(spark)
                .where(F.col("th").isin(mhashes) & F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                cache[t] = found.get(t, 0)
        return {t: cache[t] for t in terms}

    # ---- tombstones (document deletion; katta_spark.delete) ----------
    #
    # Lucene model replicated exactly: deleteDocuments marks docs in a
    # side structure; every collector skips them at collection time
    # (liveDocs), while df/cf/numDocs/avgdl stay STALE until a merge
    # (expunge) rewrites the segments. Our tombstone set is a parquet
    # side table (shard_id, doc_id) next to the postings; at query time
    # it becomes a broadcast sorted id array — the direct analog of
    # Lucene's in-RAM liveDocs bitset, bounded by the DELETED count
    # (not maxDoc). Search paths consult it via DocFilter.deny;
    # compact()/expunge() applies and clears it.

    def tombstones_path(self) -> str:
        return os.path.join(self.index_dir, "tombstones.parquet")

    def has_tombstones(self) -> bool:
        """Checked per call (not cached): delete_docs may run after open."""
        p = self.tombstones_path()
        return os.path.isdir(p) and any(
            f.endswith(".parquet") for f in os.listdir(p)
        )

    def tombstones(self, spark: SparkSession) -> "DataFrame | None":
        if not self.has_tombstones():
            return None
        return spark.read.parquet(self.tombstones_path())

    def deleted_array(self, spark: SparkSession) -> "np.ndarray | None":
        """Sorted int64 array of tombstoned docIDs, memoized per handle
        (invalidated when the tombstone file set changes — a handle held
        across a delete_docs call sees the new set). None when empty."""
        if not self.has_tombstones():
            return None
        p = self.tombstones_path()
        sig = tuple(sorted(os.listdir(p)))
        cached = self.__dict__.get("_tomb_cache")
        if cached is not None and cached[0] == sig:
            return cached[1]
        pdf = (
            spark.read.parquet(p).select("doc_id").toPandas()
        )
        arr = np.sort(pdf["doc_id"].to_numpy(np.int64))
        if arr.size > _MAX_TOMBSTONES:
            raise ValueError(
                f"index {self.index_dir!r} carries {arr.size} tombstones "
                f"(> {_MAX_TOMBSTONES}); the live-deletion path holds the "
                "deleted-id set in memory like Lucene's liveDocs — run "
                "katta_spark.compact.expunge() to fold the deletions into "
                "the postings"
            )
        self.__dict__["_tomb_cache"] = (sig, arr)
        return arr

    def num_deleted(self, spark: SparkSession) -> int:
        """Lucene's IndexReader.numDeletedDocs analog."""
        arr = self.deleted_array(spark)
        return 0 if arr is None else int(arr.size)


# Live tombstone sets ride to the kernels as an in-memory id array (the
# liveDocs analog). Past this bound the user should expunge instead —
# the array no longer qualifies as "small side state".
_MAX_TOMBSTONES = 50_000_000


_SPACED_FIELD_RE = None
_FIELD_GROUP_RE = None


def fold_spaced_fields(query: str) -> str:
    """Lucene's QueryParser accepts whitespace between a field's ``:`` and
    its term — the reference's own tests query exactly that shape
    (``"foo: bar"`` LuceneServerTest, ``"content: the"``
    LuceneClientTest.java, wildcard ``"foo: b*"``) — so fold the gap
    BEFORE any whitespace-splitting or rewrite routing. Idempotent. For
    analyzed fallbacks the fold is a no-op (the tokenizer splits on ':'
    anyway); folding onto a quote feeds parse_bool_query's
    field-quoted-value branch (``tool: "web search"`` ≡
    ``tool:"web search"``, both one verbatim keyword term).

    Field GROUPS distribute afterwards — Lucene QueryParser's
    ``role:(user assistant)`` ≡ ``(role:user role:assistant)`` sugar,
    occur flags and group boosts carried onto each member (a member's own
    boost wins over the group's); groups containing quotes or nested
    parens are left alone. The distributed form keeps its parens, so it
    routes through the tree grammar — combining a field group with
    wildcard members therefore surfaces the documented tree-vs-rewrite
    refusal rather than silently mis-parsing."""
    global _SPACED_FIELD_RE, _FIELD_GROUP_RE
    if _SPACED_FIELD_RE is None:
        import re as _re

        _SPACED_FIELD_RE = _re.compile(r"([A-Za-z_][\w.]*):\s+(?=[^\s)])")
        _FIELD_GROUP_RE = _re.compile(
            r'([A-Za-z_][\w.]*):\(([^()"]*)\)(\^\d+(?:\.\d+)?)?'
        )
    query = _SPACED_FIELD_RE.sub(r"\1:", query)

    def _dist(m: "object") -> str:
        fld, body, boost = m.group(1), m.group(2), m.group(3) or ""
        out = []
        for tok in body.split():
            if tok in ("AND", "OR", "NOT"):
                out.append(tok)
                continue
            sign = ""
            if tok[0] in "+-" and len(tok) > 1:
                sign, tok = tok[0], tok[1:]
            b = "" if "^" in tok else boost
            out.append(f"{sign}{fld}:{tok}{b}")
        return "(" + " ".join(out) + ")"

    return _FIELD_GROUP_RE.sub(_dist, query)


def parse_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> dict[str, float]:
    """query string → {term: qweight}; duplicated terms weight 2x (F3).

    ``field:value`` tokens are field-qualified keyword terms (reference:
    Katta.java:825-826 parses queries with a KeywordAnalyzer QueryParser,
    so field terms are matched verbatim, case preserved) — but ONLY for
    fields the index actually declares (``keyword_fields``, carried on the
    handle). Any other colon-bearing token (URLs, 'a:b' noise) falls back
    to the standard analyzer, like Lucene analyzing an unknown-field text
    query, so e.g. 'http://x.com' matches [http, x, com] instead of
    becoming an unmatchable verbatim term."""
    query = fold_spaced_fields(query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    for raw in query.split():
        raw, boost = split_boost(raw)
        fld, sep, rest = raw.partition(":")
        if sep and rest and fld in fields:
            qw[raw] = qw.get(raw, 0.0) + boost
        else:
            for t in tokenize_str(raw):
                qw[t] = qw.get(t, 0.0) + boost
    return qw


# Lucene QueryParser boost suffix: term^2 / term^0.5 multiplies the clause's
# score contribution (Katta exposes the full parser, Katta.java:825-826).
_BOOST_RE = None  # compiled lazily below


def split_boost(raw: str) -> tuple[str, float]:
    """``term^2.5`` → ("term", 2.5); no suffix → ("term", 1.0)."""
    global _BOOST_RE
    if _BOOST_RE is None:
        import re as _re

        _BOOST_RE = _re.compile(r"^(.*)\^(\d+(?:\.\d+)?)$")
    m = _BOOST_RE.match(raw)
    if m and m.group(1):
        return m.group(1), float(m.group(2))
    return raw, 1.0


def parse_bool_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> tuple[dict[str, float], set[str], set[str], list[tuple[list[str], int]]]:
    """Lucene-QueryParser-style boolean clauses (F2 — the syntax Katta
    exposes verbatim through Lucene's QueryParser, Katta.java:825-826):

    - ``+term``    MUST: the doc must contain the term (it also scores)
    - ``-term``    MUST_NOT: the doc must not contain the term (never scores)
    - ``"a b c"``  phrase: the doc must contain the exact consecutive token
                   sequence, executed against the index's positional
                   postings alone (LuceneServer.java:682 runs PhraseQuery
                   per shard with no stored-text access); each phrase
                   token scores as a normal term. Phrases are MUST clauses
                   here (a documented simplification of Lucene's
                   default-OR bare phrase; negated phrases are rejected).
    - ``"a b"~N``  proximity (sloppy) phrase, Lucene SloppyPhraseMatcher
                   semantics: token i's positions are adjusted by its
                   phrase offset and the doc matches iff max(adj) -
                   min(adj) <= N over distinct chosen positions —
                   reorderings are admitted at their displacement cost
                   ('"b a"~2' matches an adjacent "a b"; the r3
                   ordered-only divergence is closed).
    - plain terms  SHOULD: score when present.

    Returns (qweights, must, must_not, phrases): qweights covers every
    SCORING term (should + must + phrase tokens), duplicated clauses
    weight additively like parse_query. Each phrases entry is
    ``(tokens, slop)`` with slop 0 for exact phrases.
    """
    import re as _re

    query = fold_spaced_fields(query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    must: set[str] = set()
    must_not: set[str] = set()
    phrases: list[list[str]] = []

    def _terms_of(raw: str) -> list[str]:
        fld, sep, val = raw.partition(":")
        if sep and val and fld in fields:
            return [raw]
        return tokenize_str(raw)

    def _phrase(m: "_re.Match") -> str:
        sign, fldpfx, body, slop_g, boost_g = m.groups()
        if fldpfx and fldpfx[:-1] in fields:
            # Keyword-field quoted value — KeywordAnalyzer semantics
            # (Katta parses with a KeywordAnalyzer QueryParser,
            # Katta.java:825-826): ``tool:"web search"`` is ONE verbatim
            # term on that field (value case+spaces preserved), NOT a
            # positional phrase — the only way to query keyword values
            # containing whitespace, and it needs no positions.
            if slop_g:
                raise ValueError(
                    f"slop on keyword field value {m.group(0)!r} is not "
                    "supported (KeywordAnalyzer indexes the value "
                    "verbatim; there are no positions to slop over)"
                )
            term = fldpfx + body
            if sign == "-":
                must_not.add(term)
                return " "
            boost = float(boost_g[1:]) if boost_g else 1.0
            qw[term] = qw.get(term, 0.0) + boost
            if sign == "+":
                must.add(term)
            return " "
        if fldpfx:
            # undeclared field: keep the analyzed fallback exactly as if
            # the prefix were a separate token (it re-enters `rest`)
            out = f" {sign}{fldpfx} "
            sign = ""
        else:
            out = " "
        if sign == "-":
            raise ValueError("negated phrases are not supported")
        slop = int(slop_g[1:]) if slop_g else 0
        # '"a b"^2' boosts every phrase token (Lucene boosts the clause)
        boost = float(boost_g[1:]) if boost_g else 1.0
        toks = tokenize_str(body)
        if toks:
            phrases.append((toks, slop))
            for t in toks:
                qw[t] = qw.get(t, 0.0) + boost
                must.add(t)
        return out

    rest = _re.sub(
        r'([+-]?)([A-Za-z_][\w.]*:)?"([^"]*)"(~\d+)?(\^\d+(?:\.\d+)?)?',
        _phrase,
        query,
    )
    for raw in rest.split():
        if raw.startswith("+") and len(raw) > 1:
            clause, boost = split_boost(raw[1:])
            for t in _terms_of(clause):
                qw[t] = qw.get(t, 0.0) + boost
                must.add(t)
        elif raw.startswith("-") and len(raw) > 1:
            # a boost on MUST_NOT is meaningless (the clause never scores)
            must_not.update(_terms_of(split_boost(raw[1:])[0]))
        else:
            clause, boost = split_boost(raw)
            for t in _terms_of(clause):
                qw[t] = qw.get(t, 0.0) + boost
    return qw, must, must_not, phrases


def parse_tree_query(
    query: str, keyword_fields: tuple[str, ...] | None = None
) -> tuple[tuple, dict[str, float]]:
    """Grouped boolean queries — Lucene QueryParser's explicit operator
    grammar (Katta.java:825-826): ``(a AND b) OR c``, ``NOT d``, with
    parentheses. Returns ``(tree, qweights)`` where tree nodes are
    ``("term", t)`` / ``("and", [children])`` / ``("or", [children])`` /
    ``("not", child)``.

    Grammar (precedence low→high): OR (also implicit juxtaposition —
    Lucene's default-OR), AND, unary NOT, parens. Uppercase AND/OR/NOT
    only, like Lucene. NOT children follow Lucene's occur-flag model: a
    NOT clause is a MUST_NOT of its ENCLOSING boolean, so ``a NOT b`` ≡
    ``a OR NOT b`` ≡ (a) AND NOT (b), and a level with only NOT clauses
    matches nothing. Scoring follows BooleanQuery: a doc's score sums
    the contributions of the sub-clauses that MATCH on its matching path
    (a non-matching AND group contributes nothing even if one of its
    terms is present). Leaf nodes carry their own boost —
    ``("term", t, boost)`` — and duplicate leaves each contribute once,
    so ``a OR a`` scores 2x like the flat parse of ``a a`` (qweights in
    the returned dict are informational sums; the kernel scores per
    leaf)."""
    import re as _re

    query = fold_spaced_fields(query)
    toks = _re.findall(r"\(|\)|[^\s()]+", query)
    fields = set(keyword_fields or ())
    qw: dict[str, float] = {}
    pos = 0

    def _leaf(raw: str):
        base, boost = split_boost(raw)
        fld, sep, val = base.partition(":")
        if sep and val and fld in fields:
            terms = [base]
        else:
            terms = tokenize_str(base)
        if not terms:
            return None
        for t in terms:
            qw[t] = qw.get(t, 0.0) + boost
        # the boost lives ON THE LEAF: the kernel's per-term contribution
        # is unweighted and each leaf occurrence multiplies by its own
        # boost, so 'a OR a' scores 2x (the flat-parse precedent) instead
        # of the 4x a global additive weight would square into
        if len(terms) == 1:
            return ("term", terms[0], boost)
        # a raw token that analyzes into several tokens (e.g. 'foo-bar')
        # becomes a conjunctive group — the conservative reading
        return ("and", [("term", t, boost) for t in terms])

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or():
        children = [parse_and()]
        while peek() is not None and peek() != ")":
            if peek() == "OR":
                take()
            children.append(parse_and())
        children = [c for c in children if c is not None]
        if not children:
            return None
        return children[0] if len(children) == 1 else ("or", children)

    def parse_and():
        children = [parse_not()]
        while peek() == "AND":
            take()
            children.append(parse_not())
        children = [c for c in children if c is not None]
        if not children:
            return None
        return children[0] if len(children) == 1 else ("and", children)

    def parse_not():
        if peek() == "NOT":
            take()
            child = parse_not()
            if child is None:
                raise ValueError("NOT requires an operand")
            return ("not", child)
        return parse_primary()

    def parse_primary():
        t = peek()
        if t is None or t in (")", "AND", "OR"):
            raise ValueError(f"unexpected token {t!r} in boolean query")
        if t == "(":
            take()
            node = parse_or()
            if peek() != ")":
                raise ValueError("unbalanced parentheses in boolean query")
            take()
            return node
        leaf_tok = take()
        # Plain field groups 'role:(user admin)' distribute in
        # fold_spaced_fields before reaching this grammar; what still
        # lands here is the undistributed residue (quoted bodies, nested
        # groups) — analyzing the dangling 'role:' as a default-field
        # term would silently score the WORD 'role', so refuse instead.
        if leaf_tok.endswith(":") and peek() == "(":
            raise ValueError(
                f"field grouping {leaf_tok}(...) with quoted or nested "
                f"members is not supported — write "
                f"({leaf_tok}a OR {leaf_tok}b) instead"
            )
        return _leaf(leaf_tok)

    tree = parse_or()
    if pos != len(toks):
        raise ValueError("unbalanced parentheses in boolean query")
    if tree is None:
        raise ValueError("empty boolean query")
    return tree, qw


def tree_terms(tree: tuple, positive: bool = True) -> tuple[set, set]:
    """(positive_terms, negated_terms) of a parse_tree_query tree."""
    pos_s: set = set()
    neg_s: set = set()

    def walk(node, sign):
        kind = node[0]
        if kind == "term":
            (pos_s if sign else neg_s).add(node[1])
        elif kind == "not":
            walk(node[1], not sign)
        else:
            for ch in node[1]:
                walk(ch, sign)

    walk(tree, positive)
    return pos_s, neg_s


# Lucene guards wildcard rewrites with BooleanQuery.maxClauseCount (default
# 1024): a broad prefix over a web-scale vocabulary must error, not build a
# million-clause query. Same analog here.
MAX_WILDCARD_EXPANSIONS = 1024

# Past this many query terms, the scan filter switches from a pushed
# In(th, …) predicate to a broadcast-joined term table (see search()).
_ISIN_MAX_TERMS = 64


def expand_wildcards(
    spark: SparkSession,
    index: "IndexHandle",
    query: str,
    max_expansions: int = MAX_WILDCARD_EXPANSIONS,
) -> dict[str, float]:
    """P5 query rewrite: prefix wildcards (``ab*``) expand against the term
    dictionary, like Lucene's per-shard rewrite of WildcardQuery
    (LuceneServer.java:602-624; reference test query 'text:ab*',
    LuceneClientTest.java:310). Expansion is global (stats table) so all
    shards score the same rewritten term set.

    Expansion is capped at ``max_expansions`` terms per wildcard (Lucene's
    maxClauseCount analog): the dictionary scan collects at most cap+1
    rows — a too-broad prefix fails fast without pulling the vocabulary
    through the driver.

    Fuzzy terms (``term~`` / ``term~1`` — Lucene QueryParser FuzzyQuery
    syntax) expand the same way, to every analyzed dictionary term within
    the given Levenshtein distance (default 2, computed JVM-side with
    ``F.levenshtein``'s bounded form); each expanded term scores as a
    normal OR term (the scoring-rewrite simplification used for wildcards,
    documented vs Lucene's similarity-boosted rewrite)."""
    import re as _re

    qw: dict[str, float] = {}

    def _collect_capped(base, clause: str, boost: float = 1.0) -> None:
        rows = base.select("term").limit(max_expansions + 1).collect()
        if len(rows) > max_expansions:
            raise ValueError(
                f"{clause!r} expands to more than {max_expansions} terms "
                "(Lucene maxClauseCount analog) — narrow it or raise "
                "max_expansions"
            )
        for r in rows:
            qw[r["term"]] = qw.get(r["term"], 0.0) + boost

    kw = set(index.keyword_fields or ())
    for raw in query.split():
        # strip a '^boost' suffix FIRST so 'ab*^2' boosts the expansion
        # instead of silently falling through to the plain-term parser
        raw_clause, boost = split_boost(raw)
        fld, sep, val = raw_clause.partition(":")
        if sep and fld in kw and val and any(c in val for c in "*?~"):
            # Field-qualified rewrites — the reference's own test shape
            # ('foo: b*', LuceneServerTest.java; Lucene rewrites
            # WildcardQuery/FuzzyQuery per field): expand against THIS
            # field's verbatim keyword terms. Values keep their case,
            # consistent with parse_query's KeywordAnalyzer semantics
            # (a documented divergence from Lucene 3.5's
            # lowercaseExpandedTerms default).
            pfx = fld + ":"
            fz_f = _re.fullmatch(r"([\w.-]+)~([0-2]?)", val)
            if fz_f:
                word, dist = fz_f.group(1), int(fz_f.group(2) or 2)
                _collect_capped(
                    index.stats(spark)
                    .where(F.col("term").startswith(pfx))
                    .where(
                        F.abs(
                            F.length("term") - F.lit(len(pfx) + len(word))
                        ) <= F.lit(dist)
                    )
                    .where(
                        F.levenshtein(
                            F.col("term").substr(
                                F.lit(len(pfx) + 1), F.length("term")
                            ),
                            F.lit(word),
                            dist,
                        ) >= 0
                    ),
                    raw,
                    boost,
                )
            elif _re.fullmatch(r"[\w.*?-]+", val):
                if val[0] in "*?":
                    raise ValueError(
                        f"leading wildcard in {raw!r} is not allowed "
                        "(Lucene QueryParser default) — anchor the pattern"
                    )
                parts = _re.split(r"([*?])", val)
                rx_val = "".join(
                    "[^:]*" if p == "*" else "[^:]" if p == "?"
                    else _re.escape(p)
                    for p in parts
                )
                lit_pre = pfx + (parts[0] if parts[0] not in "*?" else "")
                _collect_capped(
                    index.stats(spark)
                    .where(F.col("term").startswith(lit_pre))
                    .where(
                        F.col("term").rlike(
                            "^" + _re.escape(fld) + ":" + rx_val + "$"
                        )
                    ),
                    raw,
                    boost,
                )
            else:
                raise ValueError(
                    f"invalid field-qualified rewrite {raw!r}: fuzzy "
                    "distance must be 0-2 (field:value~N), wildcard "
                    "values must be [\\w.*?-]+ with no leading wildcard"
                )
            continue
        low = raw_clause.lower()
        fz = _re.fullmatch(r"([a-z0-9]+)~([0-2]?)", low)
        if _re.fullmatch(r"[a-z0-9]+\*", low):
            _collect_capped(
                index.stats(spark)
                .where(F.col("term").startswith(low[:-1]))
                .where(~F.col("term").contains(":")),
                raw,
                boost,
            )
        elif _re.fullmatch(r"[a-z0-9*?]+", low) and ("*" in low or "?" in low):
            # general pattern wildcards (te*t, t?st — WildcardQuery);
            # leading wildcards are refused like Lucene's QueryParser
            # default (allowLeadingWildcard=false: an unanchored scan of
            # the whole vocabulary per shard)
            if low[0] in "*?":
                raise ValueError(
                    f"leading wildcard in {raw!r} is not allowed (Lucene "
                    "QueryParser default) — anchor the pattern"
                )
            rx = "^" + low.replace("*", "[a-z0-9]*").replace("?", "[a-z0-9]") + "$"
            prefix = _re.match(r"[a-z0-9]*", low).group(0)
            _collect_capped(
                index.stats(spark)
                .where(F.col("term").startswith(prefix))
                .where(F.col("term").rlike(rx)),
                raw,
                boost,
            )
        elif fz:
            word, dist = fz.group(1), int(fz.group(2) or 2)
            _collect_capped(
                index.stats(spark)
                .where(~F.col("term").contains(":"))
                # cheap length prefilter keeps the bounded levenshtein scan
                # from touching wildly different-length terms
                .where(
                    F.abs(F.length("term") - F.lit(len(word))) <= F.lit(dist)
                )
                .where(F.levenshtein(F.col("term"), F.lit(word), dist) >= 0),
                raw,
                boost,
            )
        else:
            # A clause that CONTAINS rewrite syntax but matched none of the
            # valid forms must error, not silently tokenize: 'term~3' would
            # otherwise score the literal token '3' (Lucene rejects
            # maxEdits > 2), and a malformed pattern would score its
            # fragments.
            if "~" in low or "*" in low or "?" in low:
                raise ValueError(
                    f"invalid wildcard/fuzzy clause {raw!r}: fuzzy distance "
                    "must be 0-2 (term~N), wildcards must be [a-z0-9*?]+ "
                    "with no leading wildcard"
                )
            for t, w in parse_query(raw, index.keyword_fields).items():
                qw[t] = qw.get(t, 0.0) + w
    return qw


import re as _re_mod

# Lucene QueryParser range syntax: field:[lo TO hi] inclusive,
# field:{lo TO hi} exclusive; '*' as an open bound (Katta exposes the full
# QueryParser surface, Katta.java:825-826; Lucene 3.5 TermRangeQuery
# compares term text lexicographically).
_RANGE_RE = _re_mod.compile(
    r"(?:([A-Za-z_][A-Za-z0-9_]*):)?([\[\{])\s*(\S+)\s+TO\s+(\S+)\s*([\]\}])"
    r"(\^\d+(?:\.\d+)?)?"
)

# Explicit-grammar boolean queries: uppercase AND/OR/NOT keywords (Lucene
# QueryParser convention — lowercase 'and' is just a term) or parentheses.
_TREE_RE = _re_mod.compile(r"(?:^|\s)(?:AND|OR|NOT)(?:\s|$)|[()]")


def expand_ranges(
    spark: SparkSession,
    index: "IndexHandle",
    query: str,
    max_expansions: int = MAX_WILDCARD_EXPANSIONS,
) -> dict[str, float]:
    """Term-range rewrite: ``field:[lo TO hi]`` expands against the term
    dictionary to every indexed ``field:value`` whose value sorts inside the
    bounds (lexicographic, Lucene TermRangeQuery semantics), each scoring as
    a normal OR term — the same scoring-rewrite precedent as
    ``expand_wildcards``. ``{lo TO hi}`` excludes the bounds; ``*`` opens a
    bound. A bare ``[lo TO hi]`` (no field) ranges over the ANALYZED default
    field's terms. Expansion is capped at ``max_expansions`` (Lucene
    maxClauseCount analog) and is global (stats table) so every shard scores
    the same rewritten term set.

    The non-range remainder of the query is rewritten by
    ``expand_wildcards`` (which itself falls back to plain parsing), so
    ranges, wildcards and plain terms compose."""
    qw: dict[str, float] = {}
    fields = set(index.keyword_fields or ())

    def _expand(m: "_re_mod.Match") -> str:
        fld, lbr, lo, hi, rbr, boost_s = m.groups()
        boost = float(boost_s[1:]) if boost_s else 1.0
        if fld is not None and fld not in fields:
            raise ValueError(
                f"range on unknown keyword field {fld!r}; index declares "
                f"{sorted(fields)!r}"
            )
        if fld is None:
            # analyzed default field: term text is the value itself —
            # bounds are lowercased like the analyzer lowercases terms
            # (Lucene's lowercaseExpandedTerms default; keyword-field
            # bounds stay verbatim, KeywordAnalyzer semantics)
            lo, hi = lo.lower(), hi.lower()
            value = F.col("term")
            base = index.stats(spark).where(~F.col("term").contains(":"))
        else:
            value = F.substring(F.col("term"), len(fld) + 2, 1 << 20)
            base = index.stats(spark).where(
                F.col("term").startswith(fld + ":")
            )
        if lo != "*":
            base = base.where(
                value > lo if lbr == "{" else value >= lo
            )
        if hi != "*":
            base = base.where(
                value < hi if rbr == "}" else value <= hi
            )
        rows = base.select("term").limit(max_expansions + 1).collect()
        if len(rows) > max_expansions:
            raise ValueError(
                f"range {m.group(0)!r} expands to more than "
                f"{max_expansions} terms (Lucene maxClauseCount analog) — "
                "narrow the bounds or raise max_expansions"
            )
        for r in rows:
            qw[r["term"]] = qw.get(r["term"], 0.0) + boost
        return " "

    rest = _RANGE_RE.sub(_expand, query)
    for t, w in expand_wildcards(
        spark, index, rest, max_expansions=max_expansions
    ).items():
        qw[t] = qw.get(t, 0.0) + w
    return qw


# Columns the scoring kernels actually read — selected explicitly before
# applyInPandas so the parquet scan PRUNES everything else (most
# importantly the positions blobs, which only phrase queries fetch, and
# cf/sum_dl, which only the build-time stats job reads).
_KERNEL_COLS = [
    "shard_id", "th", "df", "doc_ids", "tfs", "doclens", "skips",
    "max_tf", "min_dl", "block_max_tf", "block_min_dl",
]

def _local_df(
    spark: SparkSession, rows: list, columns: list[str] | None, schema: str
) -> DataFrame:
    """Arrow-backed LocalRelation from driver-side rows.

    ``spark.createDataFrame(list_of_tuples)`` plans as a parallelized RDD,
    so every job that consumes it — including a bare ``.collect()`` on a
    10-row result — pays a Python-deserialization stage (~1-3 s on cold
    workers). A pandas input plans as LocalTableScan: broadcast builds and
    result collects stay JVM/driver-local with no Python tasks.

    ``columns=None`` derives the names from the DDL ``schema`` string
    (simple ``name type`` lists only — every caller here qualifies).
    """
    if columns is None:
        columns = [f.strip().split()[0] for f in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=columns), schema
    )


# Positions arithmetic packs (candidate doc index, adjusted position) into
# one int64 key; adjusted positions are < 2^22 (MAX_DOCLEN 2^21 + phrase
# length), so 2^24 per-doc key space is safe and slop is clamped to it.
_POS_KEY_SPACE = np.int64(1 << 24)
_MAX_SLOP = (1 << 22) - 1

# Repeated-token sloppy phrases are verified per candidate doc with a
# distinct-occurrence assignment search; the configuration space is capped.
def _phrase_match_mask(
    cand: np.ndarray,
    tokens: list[str],
    slop: int,
    pdata: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> np.ndarray:
    """Which candidate docs match the phrase — Lucene SloppyPhraseMatcher
    semantics (SloppyPhraseScorer in the Lucene 3.5 the reference embeds):
    token i's positions are adjusted by its phrase offset (adj = pos - i),
    and the doc matches iff tokens can be chosen at DISTINCT absolute
    positions with max(adj) - min(adj) <= slop. slop=0 degenerates to the
    exact consecutive phrase; reorderings cost their displacement, so
    '"b a"~2' matches an adjacent "a b" (the r3 ordered-only divergence is
    closed). Distinct tokens can never share an absolute position (one
    term per position), so the distinctness constraint only binds for
    phrases with REPEATED tokens, which take the per-doc assignment path.

    ``cand``: sorted candidate docIDs, every one already known to contain
    every phrase token (the kernel's must-set). ``pdata``: per token the
    FULL (doc_ids, tfs, flat positions) of its posting list in this shard.
    """
    m = len(tokens)
    nc = cand.size
    ok = np.zeros(nc, dtype=bool)
    if nc == 0:
        return ok
    slop = min(int(slop), _MAX_SLOP)
    # per-slot occurrence arrays restricted to candidate docs:
    # (doc index into cand, absolute pos, adjusted pos), plus a sorted
    # (doc_idx, adj) key array for O(log) window probes
    per_slot = []
    slot_keys = []
    for i, t in enumerate(tokens):
        d, tf, pos = pdata[t]
        occ_doc = np.repeat(d, tf)
        keep = np.isin(occ_doc, cand)
        di = np.searchsorted(cand, occ_doc[keep]).astype(np.int64)
        p_abs = pos[keep]
        adj = p_abs - i + m  # +m keeps adj strictly positive
        per_slot.append((di, p_abs, adj))
        slot_keys.append(np.sort(di * _POS_KEY_SPACE + adj))
    if len(set(tokens)) < m:
        return _phrase_match_repeats(nc, per_slot, slop, tokens)
    # A config with span <= slop exists iff SOME slot j occurrence is its
    # minimum adjusted position and every other slot has an adjusted
    # position within [anchor, anchor + slop] in the same doc.
    for j in range(m):
        dj, _, aj = per_slot[j]
        good = np.ones(dj.size, dtype=bool)
        lo = dj * _POS_KEY_SPACE + aj
        for i in range(m):
            if i == j:
                continue
            keys = slot_keys[i]
            if keys.size == 0:
                good[:] = False
                break
            li = np.searchsorted(keys, lo, side="left")
            good &= (li < keys.size) & (
                keys[np.minimum(li, keys.size - 1)] <= lo + slop
            )
        ok[dj[good]] = True
    return ok


def _phrase_match_repeats(
    nc: int, per_slot: list, slop: int, tokens: list[str]
) -> np.ndarray:
    """Distinct-occurrence phrase check for phrases with repeated tokens
    ('"a b a"') — polynomial in the occurrence counts, no configuration
    cap (the r4 itertools.product enumeration was exponential and raised
    past a defensive cap mid-job).

    Two structural facts make this easy. (1) Slots holding DIFFERENT
    tokens can never collide on an absolute position (one term occupies a
    position), so the distinct-positions constraint decomposes per token
    GROUP. (2) For a fixed window anchor ``a`` (candidate minimum
    adjusted position), the slot at phrase offset ``i`` accepts exactly
    the absolute positions ``p`` with ``a <= p - i + m <= a + slop`` — an
    INTERVAL of p whose endpoints grow with i — so within a group a
    system of distinct representatives exists iff the greedy sweep
    (offsets ascending, each taking the smallest unused position in its
    interval) completes: interval bipartite matching. A feasible
    assignment's minimum adjusted position is always some occurrence's
    adjusted position, so trying every such anchor is exhaustive.
    """
    m = len(tokens)
    ok = np.zeros(nc, dtype=bool)
    # one entry per DISTINCT token: (ascending phrase offsets using it,
    # that token's (doc-index, abs-position) occurrence arrays — identical
    # across its slots, so taken from the first)
    by_tok: dict[str, list[int]] = {}
    for i, t in enumerate(tokens):
        by_tok.setdefault(t, []).append(i)
    groups = [
        (offs, per_slot[offs[0]][0], per_slot[offs[0]][1])
        for offs in by_tok.values()
    ]
    for c in range(nc):
        pos_by_g = [p_abs[di == c] for _, di, p_abs in groups]
        anchors = np.unique(
            np.concatenate(
                [
                    (p[None, :] - np.asarray(offs)[:, None] + m).ravel()
                    for (offs, _, _), p in zip(groups, pos_by_g)
                ]
            )
        )
        for a in anchors:
            good = True
            for (offs, _, _), p in zip(groups, pos_by_g):
                ptr = 0
                for i in offs:
                    lo = a + i - m
                    # positions consumed or skipped at earlier (smaller-lo)
                    # offsets stay unusable — the pointer never rewinds
                    ptr += int(np.searchsorted(p[ptr:], lo))
                    if ptr >= p.size or p[ptr] > lo + slop:
                        good = False
                        break
                    ptr += 1
                if not good:
                    break
            if good:
                ok[c] = True
                break
    return ok


def _empty_hits(score_dtype: str, with_total: bool = False) -> pd.DataFrame:
    cols = {
        "shard_id": pd.array([], dtype="int32"),
        "doc_id": pd.array([], dtype="int64"),
        "score": pd.array([], dtype=score_dtype),
    }
    if with_total:
        cols["shard_total"] = pd.array([], dtype="int64")
    return pd.DataFrame(cols)


def _tree_has_not(node: tuple) -> bool:
    if node[0] == "term":
        return False
    if node[0] == "not":
        return True
    return any(_tree_has_not(c) for c in node[1])


def _tree_leaves(node: tuple) -> list[tuple[str, float]]:
    if node[0] == "term":
        return [(node[1], node[2])]
    kids = [node[1]] if node[0] == "not" else node[1]
    out: list[tuple[str, float]] = []
    for c in kids:
        out.extend(_tree_leaves(c))
    return out


def _make_tree_kernel(
    tree: tuple,
    qweights: dict[str, float],
    n_docs: float,
    avgdl: float,
    k: int,
    score_dtype: str = "float32",
    with_total: bool = False,
    prune: bool = True,
    stats: dict | None = None,
    cursor: tuple | None = None,
):
    """Per-shard kernel for grouped boolean queries (parse_tree_query).

    Scoring is BooleanQuery's path-sum: a node's score sums the scores of
    its MATCHING children only — a failed AND group contributes nothing
    even when one of its terms is present.

    NOT-free trees take the PRUNED path: the tree is viewed as an OR of
    top-level children; children are evaluated in descending impact-bound
    order (bound = Σ leaf boost × idf × tf_norm(max_tf, min_dl)), every
    accumulated doc is known to MATCH (it entered via a matching child),
    so θ = kth best accumulated score is a valid lower bound, and a child
    whose bound + suffix cannot reach θ is evaluated RESTRICTED to the
    accumulated docs — decoding only the postings blocks that contain
    them (skip pointers). Because bounds are sorted descending, once one
    child is restricted every later child is too, so no doc is ever
    introduced after a restricted evaluation — scores stay exact (the
    same argument as the flat MaxScore kernel; fuzz-tested pruned ==
    unpruned). Inside AND groups the intersection narrows with skip-
    pointer block decoding as in the conjunctive kernel.

    Trees containing NOT (bounds don't compose through negation),
    with_total (exact counts must visit every match), and filtered
    searches fall back to the full-decode path (_eval_tree_scores).

    ``stats`` (tests): counts blocks_decoded / blocks_total."""

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        if not len(pdf):
            return _empty_hits(score_dtype, with_total)
        shard_id = int(pdf["shard_id"].iloc[0])
        idf_col = scoring.idf_np(pdf["df_g"].to_numpy(np.float64), n_docs)
        rows_map = {
            row.term: (row, idf)
            for row, idf in zip(pdf.itertuples(index=False), idf_col)
        }
        use_prune = (
            prune
            and not with_total
            and not _tree_has_not(tree)
            and filter_docs is None
            and cursor is None
            and k > 0
        )

        def _count(decoded: int, total_b: int) -> None:
            if stats is not None:
                stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + decoded
                stats["blocks_total"] = stats.get("blocks_total", 0) + total_b

        if not use_prune:
            per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
            for term, (row, idf) in rows_map.items():
                d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
                nb = read_skips(row.skips).shape[0]
                _count(nb, nb)
                keep = _keep_mask(d, filter_docs)
                if keep is not None:
                    d, t, l = d[keep], t[keep], l[keep]
                # UNWEIGHTED base contribution: each leaf multiplies by its
                # own boost, so duplicate leaves sum to boost x occurrences
                # (not (Σboost)² as a global additive weight would)
                per_term[term] = (d, idf * scoring.tf_norm_np(t, l, avgdl))
            docs, s64, total = _eval_tree_scores(tree, per_term)
            if docs is None:
                return _empty_hits(score_dtype, with_total)
            sc = s64.astype(score_dtype)
        else:
            docs, sc, total = _pruned_tree_topk(
                tree, rows_map, avgdl, k, _count
            )
            if docs is None:
                return _empty_hits(score_dtype, with_total)
            sc = sc.astype(score_dtype)
        if cursor is not None:
            cm = _cursor_mask(sc, docs, shard_id, cursor)
            docs, sc = docs[cm], sc[cm]
            if docs.size == 0:
                return _empty_hits(score_dtype, with_total)
        if docs.size > k:
            order = np.lexsort((docs, -sc.astype(np.float64)))[:k]
            docs, sc = docs[order], sc[order]
        out = pd.DataFrame(
            {
                "shard_id": np.full(docs.size, shard_id, dtype=np.int32),
                "doc_id": docs,
                "score": pd.array(sc, dtype=score_dtype),
            }
        )
        if with_total:
            out["shard_total"] = np.full(docs.size, total, dtype=np.int64)
        return out

    return kernel


def _pruned_tree_topk(
    tree: tuple, rows_map: dict, avgdl: float, k: int, count
):
    """MaxScore-style evaluation of a NOT-free tree (see _make_tree_kernel
    docstring for the soundness argument). Returns (docs, scores, total)
    over every doc that matched a fully-evaluated child — a superset of
    the exact top-k, each with its EXACT score."""
    MARGIN = 1.0 + 1e-9
    children = list(tree[1]) if tree[0] == "or" else [tree]

    def leaf_impact(t: str, boost: float) -> float:
        if t not in rows_map:
            return 0.0
        row, idf = rows_map[t]
        return boost * idf * float(
            scoring.tf_norm_np(
                np.array([row.max_tf]), np.array([row.min_dl]), avgdl
            )[0]
        )

    bounds = [
        sum(leaf_impact(t, b) for t, b in _tree_leaves(ch))
        for ch in children
    ]
    order = np.argsort(bounds)[::-1]
    children = [children[i] for i in order]
    bounds = [bounds[i] for i in order]
    suffix = np.concatenate([np.cumsum(bounds[::-1])[::-1][1:], [0.0]])

    # Per-kernel decode cache: a term appearing as several leaves (or
    # re-evaluated under different AND restricts) decodes at most its
    # total block count — the second request upgrades to a cached full
    # decode, and the block charge per term is capped at nblocks, so the
    # pruned path NEVER decodes more than the full path.
    full_cache: dict[str, tuple] = {}
    charged: dict[str, int] = {}
    requested: set[str] = set()

    def _term_decode(t: str, restrict: np.ndarray | None):
        row, idf = rows_map[t]
        skips = read_skips(row.skips)
        nb = skips.shape[0]
        if t not in requested:
            requested.add(t)
            count(0, nb)

        def _charge(n: int) -> None:
            prev = charged.get(t, 0)
            add = max(0, min(n, nb - prev))
            charged[t] = prev + add
            count(add, 0)

        if t in full_cache:
            return full_cache[t] + (idf,)
        if restrict is None or nb <= 1 or charged.get(t, 0):
            d, tf, dl = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            full_cache[t] = (d, tf, dl)
            _charge(nb)
            return d, tf, dl, idf
        firsts = skips["first_doc"]
        idx = np.searchsorted(
            firsts, i64_to_u64_order(restrict), side="right"
        ) - 1
        need = np.unique(np.clip(idx, 0, nb - 1))
        d, tf, dl = decode_blocks(
            row.doc_ids, row.tfs, row.doclens, row.skips, need, int(row.df)
        )
        _charge(need.size)
        return d, tf, dl, idf

    def ev(node, restrict: np.ndarray | None):
        """Exact (docs, scores) of the subtree; if ``restrict`` is given,
        exact over restrict's docs only (both sorted)."""
        kind = node[0]
        if kind == "term":
            t, boost = node[1], node[2]
            if t not in rows_map:
                return np.empty(0, np.int64), np.empty(0, np.float64)
            d, tf, dl, idf = _term_decode(t, restrict)
            if restrict is not None:
                keep = np.isin(d, restrict)
                d, tf, dl = d[keep], tf[keep], dl[keep]
            return d, boost * idf * scoring.tf_norm_np(tf, dl, avgdl)
        if kind == "and":
            docs, scores = ev(node[1][0], restrict)
            for ch in node[1][1:]:
                if docs.size == 0:
                    return docs, scores
                d2, s2 = ev(ch, docs)  # d2 ⊆ docs, sorted
                pos = np.searchsorted(docs, d2)
                scores = scores[pos] + s2
                docs = d2
            return docs, scores
        # or: union-merge summing matching children's scores
        parts = [ev(ch, restrict) for ch in node[1]]
        parts = [(d, s) for d, s in parts if d.size]
        if not parts:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if len(parts) == 1:
            return parts[0]
        docs_cat = np.concatenate([d for d, _ in parts])
        s_cat = np.concatenate([s for _, s in parts])
        docs_u, inv = np.unique(docs_cat, return_inverse=True)
        scores = np.zeros(docs_u.size, dtype=np.float64)
        np.add.at(scores, inv, s_cat)
        return docs_u, scores

    acc_docs: np.ndarray | None = None
    acc_scores: np.ndarray | None = None
    theta = -np.inf
    for i, child in enumerate(children):
        restrict = None
        if (
            acc_docs is not None
            and acc_docs.size >= k
            and (bounds[i] + suffix[i]) * MARGIN < theta
        ):
            restrict = acc_docs
        d, s = ev(child, restrict)
        if d.size == 0:
            continue
        if acc_docs is None:
            acc_docs, acc_scores = d, np.asarray(s, dtype=np.float64)
        else:
            pos_in = np.searchsorted(acc_docs, d)
            pos_c = np.minimum(pos_in, max(acc_docs.size - 1, 0))
            hit = acc_docs[pos_c] == d
            acc_scores[pos_c[hit]] += s[hit]
            if not hit.all():
                new_d, new_s = d[~hit], s[~hit]
                ins = np.searchsorted(acc_docs, new_d)
                acc_docs = np.insert(acc_docs, ins, new_d)
                acc_scores = np.insert(acc_scores, ins, new_s)
        if acc_docs.size >= k:
            theta = np.partition(acc_scores, acc_scores.size - k)[
                acc_scores.size - k
            ]
    if acc_docs is None or acc_docs.size == 0:
        return None, None, 0
    return acc_docs, acc_scores, int(acc_docs.size)


def _eval_tree_scores(
    tree: tuple, per_term: dict
) -> "tuple[np.ndarray | None, np.ndarray | None, int]":
    """Evaluate a parse_tree_query tree over decoded postings.

    ``per_term``: term → (sorted docIDs, UNWEIGHTED BM25 contributions).
    Returns (matched docs sorted, float64 scores, total matches) or
    (None, None, 0) when no positive term has postings. Scoring is
    BooleanQuery's path-sum: a node's score sums the scores of its
    MATCHING children only; Lucene occur-flag NOT semantics ('a NOT b' ≡
    'a OR NOT b' ≡ (a) AND NOT (b); a level with only NOT children
    matches nothing)."""
    pos_terms, _ = tree_terms(tree)
    pos_arrays = [per_term[t][0] for t in sorted(pos_terms) if t in per_term]
    if not pos_arrays:
        return None, None, 0
    universe = np.unique(np.concatenate(pos_arrays))
    n = universe.size

    def leaf(t: str, boost: float) -> tuple[np.ndarray, np.ndarray]:
        m = np.zeros(n, dtype=bool)
        s = np.zeros(n, dtype=np.float64)
        if t in per_term:
            d, c = per_term[t]
            ix = np.searchsorted(universe, d)
            ok = (ix < n) & (universe[np.minimum(ix, n - 1)] == d)
            m[ix[ok]] = True
            s[ix[ok]] = boost * c[ok]
        return m, s

    def ev(node) -> tuple[np.ndarray, np.ndarray]:
        kind = node[0]
        if kind == "term":
            return leaf(node[1], node[2])
        if kind == "not":
            # bare top-level NOT (or nested not-of-not): pure negative
            return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.float64)
        pos_parts, neg_ms = [], []
        for ch in node[1]:
            if ch[0] == "not":
                neg_ms.append(ev(ch[1])[0])
            else:
                pos_parts.append(ev(ch))
        if not pos_parts:
            return np.zeros(n, dtype=bool), np.zeros(n, dtype=np.float64)
        ms = [p[0] for p in pos_parts]
        s = np.zeros(n, dtype=np.float64)
        for mi, si in pos_parts:
            s += np.where(mi, si, 0.0)
        m = (
            np.logical_and.reduce(ms)
            if kind == "and"
            else np.logical_or.reduce(ms)
        )
        for nm in neg_ms:
            m = m & ~nm
        return m, s

    m, s = ev(tree)
    return universe[m], s[m], int(m.sum())


def _make_score_kernel(
    qweights: dict[str, float],
    n_docs: float,
    avgdl: float,
    k: int,
    prune: bool,
    score_dtype: str = "float32",
    with_total: bool = False,
    must_terms: frozenset[str] = frozenset(),
    not_terms: frozenset[str] = frozenset(),
    phrases: tuple = (),
    cursor: tuple | None = None,
    min_should: int = 0,
    syn_groups: tuple = (),
):
    """Per-shard scoring kernel (applyInPandas over shard_id groups).

    Input: the ≤len(query) postings rows of one shard, plus an optional
    per-shard array of allowed docIDs (the cogrouped filter — Katta's
    Filter restricts the matched set without affecting scores, P2).
    Output: that shard's top-k (shard_id, doc_id, score) — the analog of
    Katta's per-shard TopScoreDocCollector capped at min(limit, maxDoc)
    (LuceneServer.java:664-679) — and, when ``with_total``, the shard's
    exact match count (totalHits partial, Hits.java:34-51).

    Boolean clauses (parse_bool_query): ``must_terms`` docs must contain
    every listed term (they score too — Lucene MUST clauses score);
    ``not_terms`` docs are excluded and never score. Docs live wholly in
    one shard, so both masks are exact per shard. Block pruning is forced
    off with clauses present (the θ bound is over UNMASKED scores).

    ``phrases`` — list of (tokens, slop) — are verified ENTIRELY in-index
    against the positions blobs (Lucene executes PhraseQuery per shard
    with no stored-text access, LuceneServer.java:682): candidates are
    the must-intersection (every phrase token is a MUST), then
    _phrase_match_mask applies Lucene's sloppy-span semantics. Surviving
    docs keep their BM25 scores unchanged.

    ``min_should`` — Lucene BooleanQuery.setMinimumNumberShouldMatch: a
    doc matches only if it contains at least this many DISTINCT optional
    (SHOULD) clauses; MUST clauses never count toward the minimum, and a
    synonym group counts as ONE clause (it matches when any member does).
    If the minimum exceeds the number of optional clauses the query
    matches nothing (Lucene rewrites that case to MatchNoDocsQuery).

    ``syn_groups`` — Lucene SynonymQuery blended scoring (what
    QueryParser emits when the analyzer chain holds a SynonymGraphFilter):
    each entry is ``(weight, group_df, members)``; the group scores as a
    SINGLE pseudo-term with tf = Σ member tfs per doc and df = max member
    GLOBAL df (SynonymQuery.java uses the max docFreq across terms), so
    a doc matching two synonyms is scored like one term seen twice, not
    twice over. group_df is resolved from global stats driver-side so
    every shard scores with the same idf."""
    # a searchAfter cursor masks candidates AFTER accumulation, so the
    # θ prune bound (computed over masked candidates) cannot drive block
    # skipping — prune off, like filters disable tree pruning
    prune = (
        prune and not must_terms and not not_terms and not phrases
        and cursor is None and min_should <= 0 and not syn_groups
    )
    if cursor is not None and with_total:
        raise ValueError("searchAfter does not combine with totals")
    phrase_terms = {t for toks, _ in phrases for t in toks}
    syn_members = {m for _, _, members in syn_groups for m in members}
    # optional (SHOULD) clauses = scoring terms that are not MUST, minus
    # synonym members (each group is ONE clause), plus the groups
    should_terms = (
        frozenset(qweights) - must_terms - phrase_terms - syn_members
        if min_should > 0
        else frozenset()
    )
    n_optional = len(should_terms) + len(syn_groups)

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        if not len(pdf):
            return _empty_hits(score_dtype, with_total)
        shard_id = int(pdf["shard_id"].iloc[0])
        excl_parts: list[np.ndarray] = []
        if not_terms:
            neg = pdf[pdf["term"].isin(not_terms)]
            for row in neg.itertuples(index=False):
                excl_parts.append(
                    decode_posting_list(row.doc_ids, row.tfs, row.doclens)[0]
                )
            pdf = pdf[~pdf["term"].isin(not_terms)]
            if not len(pdf):
                return _empty_hits(score_dtype, with_total)
        must_seen: dict[str, np.ndarray] = {}
        phrase_data: dict[str, tuple] = {}
        # synonym-member postings stashed for blended group scoring:
        # term -> (docs, tfs, doclens), filter already applied
        syn_data: dict[str, tuple] = {}
        # per-optional-clause matched-doc arrays for min_should counting
        should_seen: dict[str, np.ndarray] = {}
        group_seen: list[np.ndarray] = []
        # idf from the per-row GLOBAL df (broadcast-joined from the stats
        # table inside the same job — phase 1 without a driver round-trip);
        # then row-level impact bound from raw (max_tf, min_dl), and terms
        # processed in descending max-impact order so the prune threshold
        # grows as fast as possible (MaxScore ordering).
        idf_col = scoring.idf_np(pdf["df_g"].to_numpy(np.float64), n_docs)
        pdf = pdf.assign(
            idf_row=idf_col,
            _qimpact=[
                qweights.get(t, 0.0)
                * iv
                * float(scoring.tf_norm_np(np.array([mt]), np.array([md]), avgdl)[0])
                for t, iv, mt, md in zip(
                    pdf["term"], idf_col, pdf["max_tf"], pdf["min_dl"]
                )
            ],
        ).sort_values("_qimpact", ascending=False)
        # suffix[i] = Σ qimpact of terms AFTER position i — upper bound of
        # what a doc can still gain from the remaining (lower-impact) terms.
        qimps = pdf["_qimpact"].to_numpy(np.float64)
        suffix = np.concatenate([np.cumsum(qimps[::-1])[::-1][1:], [0.0]])
        MARGIN = 1.0 + 1e-9  # guard float rounding of the bound arithmetic

        theta = -np.inf  # running lower bound of the k-th best score
        # Exact accumulation: upper bounds only *skip decoding blocks* that
        # provably cannot create a NEW top-k entry AND contain no already-
        # accumulated candidate (whose exact score must stay exact).
        # The accumulator is kept SORTED by doc_id (postings decode in
        # sorted order), so each term merges in O(|acc| + |postings|) —
        # no per-term np.unique re-sort of the whole accumulated set
        # (that re-sort was O(T·M log M) and quadratic-ish for a 500-term
        # wildcard expansion). Sum order per doc is unchanged (term order),
        # so scores are bit-identical to the previous accumulation.
        acc_docs: np.ndarray | None = None  # int64, sorted ascending
        acc_scores: np.ndarray | None = None

        def _merge(d: np.ndarray, contrib: np.ndarray) -> None:
            # merge one clause's (sorted, unique-doc) contributions into
            # the accumulator; clause processing order fixes the per-doc
            # float sum order, so scores stay deterministic
            nonlocal acc_docs, acc_scores
            if acc_docs is None:
                acc_docs = d.copy()
                acc_scores = np.asarray(contrib, dtype=np.float64).copy()
            elif d.size:
                pos_in = np.searchsorted(acc_docs, d)
                pos_c = np.minimum(pos_in, max(acc_docs.size - 1, 0))
                hit = (
                    acc_docs[pos_c] == d
                    if acc_docs.size
                    else np.zeros(d.size, dtype=bool)
                )
                # docs are unique within a posting list → indices unique
                acc_scores[pos_c[hit]] += contrib[hit]
                if not hit.all():
                    new_d, new_c = d[~hit], contrib[~hit]
                    ins = np.searchsorted(acc_docs, new_d)
                    acc_docs = np.insert(acc_docs, ins, new_d)
                    acc_scores = np.insert(acc_scores, ins, new_c)

        for pos, row in enumerate(pdf.itertuples(index=False)):
            # block-max bound: idf * tf_norm(block max_tf, block min_dl)
            bmi = (
                qweights.get(row.term, 0.0)
                * row.idf_row
                * scoring.tf_norm_np(
                    vb_decode(row.block_max_tf), vb_decode(row.block_min_dl), avgdl
                )
            )
            use_prune = prune and acc_docs is not None and acc_docs.size >= k
            if use_prune:
                # block is needed if it may contain an accumulated doc
                # (must stay exact) or its new-doc bound can reach θ.
                skips = read_skips(row.skips)
                firsts = skips["first_doc"]
                # acc_docs is sorted in int64 order == u64 order (the map
                # is order-preserving), so no sort is needed here.
                acc_u = i64_to_u64_order(acc_docs)
                # block bi covers [firsts[bi], firsts[bi+1])
                idx = np.searchsorted(firsts, acc_u, side="right") - 1
                has_acc = np.zeros(firsts.size, dtype=bool)
                has_acc[np.clip(idx, 0, firsts.size - 1)] = True
                can_enter = (bmi + suffix[pos]) * MARGIN >= theta
                need = has_acc | can_enter
                if not need.all():
                    sel = np.flatnonzero(need)
                    d, t, l = decode_blocks(
                        row.doc_ids, row.tfs, row.doclens, row.skips, sel, int(row.df)
                    )
                else:
                    d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            else:
                d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)

            if row.term in phrase_terms:
                # FULL per-doc positions (decoded before any filtering —
                # phrase matching runs over final candidates only anyway)
                phrase_data[row.term] = (d, t, decode_positions(row.positions, t))
            keep = _keep_mask(d, filter_docs)
            if keep is not None:
                d, t, l = d[keep], t[keep], l[keep]
            if row.term in syn_members:
                # synonym members never accumulate individually — the
                # group merges below as ONE blended pseudo-term
                syn_data[row.term] = (d, t, l)
                continue
            contrib = (
                qweights[row.term]
                * row.idf_row
                * scoring.tf_norm_np(t, l, avgdl)
            )
            if row.term in must_terms:
                # prune is off with clauses → d is the FULL (filtered)
                # posting list of this must term in this shard
                must_seen[row.term] = d
            if row.term in should_terms:
                # prune off with min_should → d is this optional clause's
                # full (filtered) matched set in this shard
                should_seen[row.term] = d
            _merge(d, contrib)
            if acc_docs is not None and acc_docs.size >= k and k > 0:
                theta = np.partition(acc_scores, acc_scores.size - k)[
                    acc_scores.size - k
                ]

        # blended synonym groups (Lucene SynonymQuery): per group, union
        # the member postings with per-doc tf SUMMED, score ONCE with
        # idf(max member global df) — a doc matching two synonyms scores
        # like one term seen twice, never twice over
        for weight, group_df, members in syn_groups:
            parts = [syn_data[m] for m in members if m in syn_data]
            if not parts:
                continue
            gd = np.concatenate([p[0] for p in parts])
            gt = np.concatenate([p[1] for p in parts]).astype(np.float64)
            gl = np.concatenate([p[2] for p in parts]).astype(np.float64)
            order = np.argsort(gd, kind="stable")
            gd, gt, gl = gd[order], gt[order], gl[order]
            starts = np.flatnonzero(
                np.concatenate([[True], gd[1:] != gd[:-1]])
            )
            tf_sum = np.add.reduceat(gt, starts)
            # doclen is a per-doc property — identical across members
            gd, gl = gd[starts], gl[starts]
            gidf = float(
                scoring.idf_np(
                    np.array([group_df], dtype=np.float64), n_docs
                )[0]
            )
            contrib = weight * gidf * scoring.tf_norm_np(tf_sum, gl, avgdl)
            group_seen.append(gd)
            _merge(gd, contrib)

        if acc_docs is None or acc_docs.size == 0 or k <= 0:
            return _empty_hits(score_dtype, with_total)
        if must_terms:
            if len(must_seen) < len(must_terms):
                # a must term has no postings in this shard ⇒ no matches
                return _empty_hits(score_dtype, with_total)
            msk: np.ndarray | None = None
            for arr in must_seen.values():
                msk = arr if msk is None else msk[np.isin(msk, arr)]
                if msk.size == 0:
                    return _empty_hits(score_dtype, with_total)
            keep = np.isin(acc_docs, msk)
            acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
        if excl_parts:
            excl = np.concatenate(excl_parts)
            keep = ~np.isin(acc_docs, excl)
            acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
        if min_should > 0:
            if min_should > n_optional:
                # Lucene rewrites this case to MatchNoDocsQuery
                return _empty_hits(score_dtype, with_total)
            counts = np.zeros(acc_docs.size, dtype=np.int64)
            for arr in should_seen.values():
                counts += np.isin(acc_docs, arr)
            for arr in group_seen:
                counts += np.isin(acc_docs, arr)
            keep = counts >= min_should
            acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
        for toks, slop in phrases:
            if acc_docs.size == 0:
                break
            if any(t not in phrase_data for t in toks):
                return _empty_hits(score_dtype, with_total)
            pm = _phrase_match_mask(acc_docs, toks, slop, phrase_data)
            acc_docs, acc_scores = acc_docs[pm], acc_scores[pm]
        if acc_docs.size == 0:
            return _empty_hits(score_dtype, with_total)
        scores32 = acc_scores.astype(score_dtype)
        if cursor is not None:
            cm = _cursor_mask(scores32, acc_docs, shard_id, cursor)
            acc_docs, scores32 = acc_docs[cm], scores32[cm]
            if acc_docs.size == 0:
                return _empty_hits(score_dtype, with_total)
        # top-k with exact tie-break: score DESC, doc_id ASC
        kk = min(k, acc_docs.size)
        order = np.lexsort((acc_docs, -scores32))[:kk]
        out = pd.DataFrame(
            {
                "shard_id": np.full(kk, shard_id, dtype=np.int32),
                "doc_id": acc_docs[order],
                "score": scores32[order],
            }
        )
        if with_total:
            out["shard_total"] = np.int64(acc_docs.size)
        return out

    return kernel


def _make_and_kernel(
    qweights: dict[str, float], n_docs: float, avgdl: float, k: int,
    score_dtype: str = "float32",
    with_total: bool = False,
    cursor: tuple | None = None,
):
    """Conjunctive (AND) kernel: posting-list intersection with skip-pointer
    galloping — SURVEY.md §2.3 J1, the operation Lucene's BooleanQuery runs
    inside the reference (invoked at LuceneServer.java:682).

    Smallest-df list drives; for each further term only the blocks that can
    contain surviving candidates are decoded (skip pointers), and the
    candidate set shrinks monotonically.
    """
    n_terms = len(qweights)

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        empty = _empty_hits(score_dtype, with_total)
        if len(pdf) < n_terms or k <= 0:
            return empty  # a term missing from this shard ⇒ no AND matches
        shard_id = int(pdf["shard_id"].iloc[0])
        pdf = pdf.sort_values("df")  # rarest term drives the intersection

        rows = list(pdf.itertuples(index=False))
        d0, t0, l0 = decode_posting_list(rows[0].doc_ids, rows[0].tfs, rows[0].doclens)
        keep0 = _keep_mask(d0, filter_docs)
        if keep0 is not None:
            d0, t0, l0 = d0[keep0], t0[keep0], l0[keep0]
        cand = d0
        # dl is per (doc, FIELD): a keyword posting carries dl=1 while the
        # text posting of the same doc carries its token count — each
        # term's tf_norm must use its own posting's dl.
        tfdl_by_term: list[tuple[str, np.ndarray, np.ndarray]] = [
            (rows[0].term, t0, l0)
        ]
        for row in rows[1:]:
            if cand.size == 0:
                return empty
            skips = read_skips(row.skips)
            firsts = skips["first_doc"]
            cand_u = i64_to_u64_order(cand)
            idx = np.searchsorted(firsts, cand_u, side="right") - 1
            needed = np.unique(np.clip(idx, 0, firsts.size - 1))
            d, t, l = decode_blocks(
                row.doc_ids, row.tfs, row.doclens, row.skips, needed, int(row.df)
            )
            if d.size == 0:
                return empty
            pos = np.searchsorted(d, cand)
            pos_c = np.minimum(pos, d.size - 1)
            keep = d[pos_c] == cand
            cand = cand[keep]
            tfdl_by_term = [
                (term, tf[keep], dl[keep]) for term, tf, dl in tfdl_by_term
            ]
            tfdl_by_term.append((row.term, t[pos_c[keep]], l[pos_c[keep]]))
        if cand.size == 0:
            return empty
        idf_of = {
            t: float(scoring.idf_np(np.array([d], dtype=np.float64), n_docs)[0])
            for t, d in zip(pdf["term"], pdf["df_g"])
        }
        scores = np.zeros(cand.size, dtype=np.float64)
        for term, tf, dl in tfdl_by_term:
            scores += qweights[term] * idf_of[term] * scoring.tf_norm_np(tf, dl, avgdl)
        scores32 = scores.astype(score_dtype)
        if cursor is not None:
            cm = _cursor_mask(scores32, cand, shard_id, cursor)
            cand, scores32 = cand[cm], scores32[cm]
            if cand.size == 0:
                return empty
        kk = min(k, cand.size)
        order = np.lexsort((cand, -scores32))[:kk]
        out = pd.DataFrame(
            {
                "shard_id": np.full(kk, shard_id, dtype=np.int32),
                "doc_id": cand[order],
                "score": scores32[order],
            }
        )
        if with_total:
            out["shard_total"] = np.int64(cand.size)
        return out

    return kernel


def _make_match_kernel(
    qweights: dict[str, float], n_docs: float, avgdl: float, k: int,
    score_dtype: str = "float32",
    with_total: bool = False,
):
    """Match-only kernel: the distinct docIDs matching ≥1 query term, no
    scoring, no stats — the cheap path for field-sorted search with
    track_scores=False (Katta skips score tracking unless asked,
    LuceneServer.java:97,145) and for coverage counts."""

    def kernel(
        pdf: pd.DataFrame, filter_docs: np.ndarray | None = None
    ) -> pd.DataFrame:
        if not len(pdf):
            return _empty_hits(score_dtype, with_total)
        shard_id = int(pdf["shard_id"].iloc[0])
        parts = [
            decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
            for r in pdf.itertuples(index=False)
        ]
        docs = np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
        keep_m = _keep_mask(docs, filter_docs)
        if keep_m is not None:
            docs = docs[keep_m]
        kk = min(k, docs.size)
        out = pd.DataFrame(
            {
                "shard_id": np.full(kk, shard_id, dtype=np.int32),
                "doc_id": docs[:kk],
                "score": np.zeros(kk, dtype=score_dtype),
            }
        )
        if with_total:
            out["shard_total"] = np.int64(docs.size)
        return out

    return kernel


_DV_FILTER_COL = "\x00filter"


def _dv_with_filter(dvdf: DataFrame, fdf: DataFrame) -> DataFrame:
    """Union the co-sharded filter docIDs INTO the docvalue side of the
    dv-sort cogroup (applyInPandas cogroup takes exactly two sides):
    filter rows travel as pseudo-docvalue rows with col=_DV_FILTER_COL
    and the docID in an extra ``fdoc`` long column; real dv rows carry
    fdoc=0. ``fdoc`` is non-null EVERYWHERE so the Arrow→pandas transfer
    keeps exact int64 (a nullable column would round-trip through float64
    and corrupt 64-bit hash docIDs). '\\x00' cannot start a user column
    name coming out of build_index's docvalue_cols, so the marker never
    collides with a real sidecar column."""
    dvdf = dvdf.withColumn("fdoc", F.lit(0).cast("long"))
    frows = fdf.select(
        "shard_id",
        F.lit(_DV_FILTER_COL).alias("col"),
        F.lit(0).alias("bucket"),
        F.lit(None).cast("binary").alias("doc_ids"),
        F.lit(None).cast("binary").alias("vals"),
        F.lit(None).cast("binary").alias("nulls"),
        F.col("doc_id").alias("fdoc"),
    )
    return dvdf.unionByName(frows)


def _deny_handle(spark: SparkSession, index: IndexHandle):
    """Broadcast handle of the index's deleted-id array (the in-RAM
    liveDocs analog, torrent-distributed to executors once) — memoized
    per handle per tombstone-file signature; None without tombstones."""
    arr = index.deleted_array(spark)
    if arr is None or arr.size == 0:
        return None
    sig = index.__dict__["_tomb_cache"][0]
    cached = index.__dict__.get("_tomb_bc")
    if cached is not None and cached[0] == sig:
        return cached[1]
    bc = spark.sparkContext.broadcast(arr)
    index.__dict__["_tomb_bc"] = (sig, bc)
    return bc


_MULTI_DENY_CACHE: dict = {}


def _deny_handle_multi(spark: SparkSession, handles: list):
    """Combined deny broadcast across several searched indexes. DocIDs are
    globally unique over doc-disjoint indexes, so one sorted union array
    is exact. Memoized per (dir, tombstone-signature) tuple."""
    tagged = [
        (h, h.deleted_array(spark)) for h in handles if h.has_tombstones()
    ]
    tagged = [(h, a) for h, a in tagged if a is not None and a.size]
    if not tagged:
        return None
    if len(tagged) == 1:
        return _deny_handle(spark, tagged[0][0])
    key = tuple(
        (h.index_dir, h.__dict__["_tomb_cache"][0]) for h, _ in tagged
    )
    cached = _MULTI_DENY_CACHE.get(key)
    if cached is not None:
        return cached
    bc = spark.sparkContext.broadcast(
        np.sort(np.concatenate([a for _, a in tagged]))
    )
    _MULTI_DENY_CACHE[key] = bc
    return bc


def _deny_val(deny) -> "np.ndarray | None":
    """Resolve a deny handle (pyspark Broadcast or ndarray) inside a
    kernel closure."""
    if deny is None:
        return None
    return deny.value if hasattr(deny, "value") else deny


def _make_dv_sort_cog(
    kernel, specs: list, dv_k: int, score_dtype: str, filtered: bool = False,
    deny=None,
):
    """Wrap a match/score kernel with the in-index field-sort cap — the
    TopFieldCollector analog (LuceneServer.java:672-677): the wrapped
    kernel emits EVERY shard match (k=maxint upstream), this stage looks
    each match's sort keys up in the shard's docvalue sidecar (cogrouped —
    nothing shuffles) and keeps only the dv_k best by
    (spec order, doc_id asc), emitting order-preserving mapped keys
    ``__sv<i>`` (nullable long; NULL ordering matches Spark's
    asc_nulls_first / desc_nulls_last) for the global merge.

    ``filtered``: the right side additionally carries the shard's allowed
    docIDs as _DV_FILTER_COL pseudo-rows (_dv_with_filter) — they are
    split off and passed to the kernel as its filter set, so Katta's
    search(query, sort, filter) composition (ILuceneServer.java:84-101)
    keeps the per-shard k cap."""
    from katta_spark.codec import u64_to_i64_order
    from katta_spark.docvalues import decode_shard_column

    n_specs = len(specs)

    def _empty() -> pd.DataFrame:
        out = _empty_hits(score_dtype)
        for i in range(n_specs):
            out[f"__sv{i}"] = pd.array([], dtype="Int64")
        return out

    def cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return _empty()
        dny = _deny_val(deny)
        if filtered:
            fmask = (right["col"] == _DV_FILTER_COL).to_numpy()
            allowed = np.unique(
                right["fdoc"].to_numpy(np.int64)[fmask]
            )
            right = right.loc[~fmask]
            hits = kernel(left, DocFilter(allowed, dny))
        elif dny is not None:
            hits = kernel(left, DocFilter(None, dny))
        else:
            hits = kernel(left)
        if not len(hits):
            return _empty()
        docs = hits["doc_id"].to_numpy(np.int64)
        per_spec = []
        for name, direction in specs:
            dv_docs, dv_vals, dv_null = decode_shard_column(right, name)
            if dv_docs.size:
                ix = np.minimum(
                    np.searchsorted(dv_docs, docs), dv_docs.size - 1
                )
                found = dv_docs[ix] == docs
                vals = np.where(found, dv_vals[ix], np.uint64(0))
                isnull = ~found | dv_null[ix]
            else:
                vals = np.zeros(docs.size, dtype=np.uint64)
                isnull = np.ones(docs.size, dtype=bool)
            per_spec.append((vals, isnull, direction))
        # lexsort keys, innermost first: doc asc tiebreak, then specs from
        # last to first as (value key, null-rank key) pairs
        lex: list[np.ndarray] = [docs]
        for vals, isnull, direction in reversed(per_spec):
            vkey = vals if direction == "asc" else ~vals
            vkey = np.where(isnull, np.uint64(0), vkey)
            # asc_nulls_first: null rank 0 < non-null 1;
            # desc_nulls_last: non-null 0 < null 1
            nkey = (
                (~isnull if direction == "asc" else isnull)
            ).astype(np.uint8)
            lex.append(vkey)
            lex.append(nkey)
        order = np.lexsort(tuple(lex))[:dv_k]
        out = hits.iloc[order].reset_index(drop=True)
        for i, (vals, isnull, _) in enumerate(per_spec):
            col = pd.array(
                u64_to_i64_order(vals[order]), dtype="Int64"
            )
            col[isnull[order]] = pd.NA
            out[f"__sv{i}"] = col
        return out

    return cog


def _group_lookup(hits: pd.DataFrame, right: pd.DataFrame, group_col: str):
    """(docs int64, scores f64, gkey int64, isnull bool) — each hit's group
    key looked up in the shard's docvalue sidecar (order-preserving mapped
    key, i64-ordered); docs missing from the sidecar group with NULL.
    NULL rows carry gkey=0 so (isnull, gkey) is a canonical composite."""
    from katta_spark.codec import u64_to_i64_order
    from katta_spark.docvalues import decode_shard_column

    docs = hits["doc_id"].to_numpy(np.int64)
    dv_docs, dv_vals, dv_null = decode_shard_column(right, group_col)
    if dv_docs.size:
        ix = np.minimum(np.searchsorted(dv_docs, docs), dv_docs.size - 1)
        found = dv_docs[ix] == docs
        vals = np.where(found, dv_vals[ix], np.uint64(0))
        isnull = ~found | dv_null[ix]
    else:
        vals = np.zeros(docs.size, dtype=np.uint64)
        isnull = np.ones(docs.size, dtype=bool)
    gkey = u64_to_i64_order(vals)
    gkey = np.where(isnull, np.int64(0), gkey)
    return docs, hits["score"].to_numpy(np.float64), gkey, isnull


def _make_dv_group_cog(
    kernel, group_col: str, pass_spec: tuple, score_dtype: str,
    filtered: bool = False,
    deny=None,
):
    """Wrap a score kernel with one pass of two-pass grouped search — the
    Lucene grouping-module analog (TermFirstPassGroupingCollector /
    TermSecondPassGroupingCollector), distributed with per-shard caps:

    pass_spec = ('pass1', k_groups, order): emit each shard's top-k_groups
    GROUP HEADS. order='score' (Lucene's relevance groupSort) ranks
    groups by (best score desc, doc asc) — exact, because a group in the
    global top-k_groups has its global-best doc in some shard where at
    most k_groups-1 other groups' shard-bests beat it. order='key_asc' /
    'key_desc' (field groupSort) ranks groups by the group KEY — exact
    because a key in the global top-k precedes at most k-1 other keys in
    EVERY shard it appears in (asc: NULL group first, Spark
    asc_nulls_first; desc: NULL group last). ≤ k_groups rows leave per
    shard either way; each emitted row is the group's shard-best hit so
    the score tie-break stays available to the merge.

    pass_spec = ('pass2', k_docs, selected_keys, null_selected): restrict
    matches to the selected groups (tiny tuple, travels in the closure)
    and emit each shard's top-k_docs docs PER GROUP plus the shard's exact
    per-group match count — ≤ |selected|·k_docs rows per shard; the driver
    merge (Katta's client merge shape) sums counts and takes the global
    per-group top-k_docs.

    ``filtered``: the right side carries _DV_FILTER_COL pseudo-rows
    (_dv_with_filter) split off as the kernel's allowed set — Katta's
    filter composes with grouping like with sorting."""
    mode = pass_spec[0]
    if mode == "pass2":
        _, k_docs, selected_keys, null_selected = pass_spec
        sel = np.asarray(selected_keys, dtype=np.int64)
    else:
        _, k_groups, g_order = pass_spec

    def _empty() -> pd.DataFrame:
        out = _empty_hits(score_dtype)
        out["gkey"] = pd.array([], dtype="int64")
        out["gnull"] = pd.array([], dtype="bool")
        if mode == "pass2":
            out["gtotal"] = pd.array([], dtype="int64")
        return out

    def cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return _empty()
        dny = _deny_val(deny)
        if filtered:
            fmask = (right["col"] == _DV_FILTER_COL).to_numpy()
            allowed = np.unique(right["fdoc"].to_numpy(np.int64)[fmask])
            right = right.loc[~fmask]
            hits = kernel(left, DocFilter(allowed, dny))
        elif dny is not None:
            hits = kernel(left, DocFilter(None, dny))
        else:
            hits = kernel(left)
        if not len(hits):
            return _empty()
        docs, scores, gkey, isnull = _group_lookup(hits, right, group_col)
        if mode == "pass2":
            m = (~isnull & np.isin(gkey, sel)) | (isnull & null_selected)
            if not m.any():
                return _empty()
            hits = hits.loc[m]
            docs, scores, gkey, isnull = docs[m], scores[m], gkey[m], isnull[m]
        # one sort groups runs contiguously AND orders docs within each run
        # by the reference tie-break (score desc, doc asc; shard constant)
        order = np.lexsort((docs, -scores, gkey, isnull.astype(np.uint8)))
        gk_s, gn_s = gkey[order], isnull[order]
        newgrp = np.ones(order.size, dtype=bool)
        newgrp[1:] = (gk_s[1:] != gk_s[:-1]) | (gn_s[1:] != gn_s[:-1])
        if mode == "pass1":
            heads = order[newgrp]
            if g_order == "score":
                top = heads[
                    np.lexsort((docs[heads], -scores[heads]))[:k_groups]
                ]
            elif g_order == "key_asc":
                # lexsort put non-null keys (asc) first, the NULL group
                # last; asc_nulls_first moves the NULL head to the FRONT
                top = np.concatenate(
                    [heads[isnull[heads]], heads[~isnull[heads]]]
                )[:k_groups]
            else:  # key_desc: keys descending, NULL group last
                nn = heads[~isnull[heads]][::-1]
                top = np.concatenate([nn, heads[isnull[heads]]])[:k_groups]
            out = hits.iloc[top].reset_index(drop=True)
            out["gkey"] = gkey[top]
            out["gnull"] = isnull[top]
            return out
        starts = np.flatnonzero(newgrp)
        run_lens = np.diff(np.append(starts, order.size))
        rank_in_grp = np.arange(order.size) - np.repeat(starts, run_lens)
        keep = rank_in_grp < k_docs
        pick = order[keep]
        out = hits.iloc[pick].reset_index(drop=True)
        out["gkey"] = gkey[pick]
        out["gnull"] = isnull[pick]
        out["gtotal"] = np.repeat(run_lens, run_lens)[keep]
        return out

    return cog


_DV_RANGES_SCHEMA = "ridx int, n long"
_DV_STATS_SCHEMA = (
    "n long, missing long, kmin long, kmax long, sum_l long, sum_d double, "
    "sumsq double"
)


def _make_dv_agg_cog(kernel, col: str, spec: tuple, kind: str,
                     filtered: bool = False, deny=None):
    """Wrap a match/score kernel with an in-index AGGREGATE over the
    matched docs' docvalue column — the Lucene facet-module range-count
    (LongRangeFacetCounts / DoubleRangeFacetCounts) and Solr
    StatsComponent analog. The kernel emits every shard match (k=maxint,
    prune=False upstream — MaxScore pruning would drop low-scoring
    matches the aggregate must count); this stage looks each match's
    value up in the shard's cogrouped docvalue sidecar and collapses to
    a CONSTANT-size partial per shard — nothing per-doc ever leaves the
    kernels, so the operator costs one postings+sidecar scan at any
    corpus size.

    spec = ('ranges', ((ge, le), ...)): closed intervals in MAPPED i64
    key space (resolved driver-side — mapped keys are integers under a
    strictly monotonic bijection, so >lo ⇔ ≥lo+1 and <hi ⇔ ≤hi-1 hold
    exactly); emits (ridx, count) rows for non-empty ranges — ranges may
    overlap (each doc counts in every range containing it, the Lucene
    range-facet contract); docs with NULL / missing values count in no
    range.

    spec = ('stats',): emits one partial row per shard — n (matched docs
    with a value), missing (matched docs without), kmin/kmax (mapped
    keys, nullable), sum_l (exact int64 sum for the 'long' kind),
    sum_d/sumsq (float64 sums of the ORIGINAL values, for mean/stddev).

    ``filtered``/``deny`` compose exactly like the sort/group cogs:
    Katta's Filter and the deletion tombstones restrict the match set
    before anything is counted."""
    mode = spec[0]
    if mode == "ranges":
        bounds = np.asarray(spec[1], dtype=np.int64).reshape(-1, 2)

    def _empty() -> pd.DataFrame:
        if mode == "ranges":
            return pd.DataFrame({
                "ridx": pd.array([], dtype="int32"),
                "n": pd.array([], dtype="int64"),
            })
        return pd.DataFrame({
            "n": pd.array([], dtype="int64"),
            "missing": pd.array([], dtype="int64"),
            "kmin": pd.array([], dtype="Int64"),
            "kmax": pd.array([], dtype="Int64"),
            "sum_l": pd.array([], dtype="int64"),
            "sum_d": pd.array([], dtype="float64"),
            "sumsq": pd.array([], dtype="float64"),
        })

    def cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return _empty()
        dny = _deny_val(deny)
        if filtered:
            fmask = (right["col"] == _DV_FILTER_COL).to_numpy()
            allowed = np.unique(right["fdoc"].to_numpy(np.int64)[fmask])
            right = right.loc[~fmask]
            hits = kernel(left, DocFilter(allowed, dny))
        elif dny is not None:
            hits = kernel(left, DocFilter(None, dny))
        else:
            hits = kernel(left)
        if not len(hits):
            return _empty()
        docs, _scores, gkey, isnull = _group_lookup(hits, right, col)
        vals = gkey[~isnull]
        if mode == "ranges":
            ridx: list[int] = []
            ns: list[int] = []
            for i in range(bounds.shape[0]):
                c = int(np.count_nonzero(
                    (vals >= bounds[i, 0]) & (vals <= bounds[i, 1])
                ))
                if c:
                    ridx.append(i)
                    ns.append(c)
            return pd.DataFrame({
                "ridx": np.asarray(ridx, dtype=np.int32),
                "n": np.asarray(ns, dtype=np.int64),
            })
        n = int(vals.size)
        missing = int(docs.size - n)
        if n:
            kmin = pd.array([int(vals.min())], dtype="Int64")
            kmax = pd.array([int(vals.max())], dtype="Int64")
            if kind == "double":
                orig = u64_to_f64_order(i64_to_u64_order(vals))
                sum_l = 0
                sum_d = float(orig.sum())
                sumsq = float((orig * orig).sum())
            else:
                # exact int64 sum (overflow needs ~9e18 — a shard would
                # have to hold 1e14 docs of 1e4-valued keys)
                sum_l = int(vals.sum(dtype=np.int64))
                sum_d = float(sum_l)
                sumsq = float((vals.astype(np.float64) ** 2).sum())
        else:
            kmin = pd.array([pd.NA], dtype="Int64")
            kmax = pd.array([pd.NA], dtype="Int64")
            sum_l, sum_d, sumsq = 0, 0.0, 0.0
        return pd.DataFrame({
            "n": np.asarray([n], dtype=np.int64),
            "missing": np.asarray([missing], dtype=np.int64),
            "kmin": kmin,
            "kmax": kmax,
            "sum_l": np.asarray([sum_l], dtype=np.int64),
            "sum_d": np.asarray([sum_d], dtype=np.float64),
            "sumsq": np.asarray([sumsq], dtype=np.float64),
        })

    return cog


# Kernel-mode registry — the content-server extension point (SURVEY.md
# §2.12; reference IContentServer, node/IContentServer.java:28-107):
# registering a factory adds a new search mode. Factories share the
# signature (qweights, n_docs, avgdl, k, prune, score_dtype, with_total).
KERNEL_MODES: dict[str, object] = {
    "or": lambda qw, n, a, k, prune, dt, wt: _make_score_kernel(
        qw, n, a, k, prune, dt, wt
    ),
    "and": lambda qw, n, a, k, prune, dt, wt: _make_and_kernel(
        qw, n, a, k, dt, wt
    ),
    "match": lambda qw, n, a, k, prune, dt, wt: _make_match_kernel(
        qw, n, a, k, dt, wt
    ),
}


def _resolve_syn_groups(
    spark: SparkSession,
    index: IndexHandle,
    synonyms: "dict[str, list[str]] | None",
    qweights: dict[str, float],
    must: set[str],
    must_not: set[str],
    phrases: list,
) -> list[tuple[float, int, tuple[str, ...]]]:
    """Validate a ``synonyms`` mapping against the parsed query and
    resolve each group to ``(weight, group_df, members)`` — the
    SynonymQuery construction step. members[0] is the query term itself
    (Lucene's SynonymQuery includes the original term); group_df = max
    member GLOBAL df (SynonymQuery.java's docFreq), resolved once
    driver-side (memoized per handle) so every shard scores the group
    with the same idf."""
    if not synonyms:
        return []
    syn_groups: list[tuple[float, int, tuple[str, ...]]] = []
    phrase_toks = {t for toks, _ in phrases for t in toks}
    claimed: set[str] = set()
    for raw_key, raw_syns in sorted(synonyms.items()):
        ktoks = tokenize_str(raw_key)
        if len(ktoks) != 1:
            raise ValueError(
                f"synonym key {raw_key!r} must analyze to exactly one "
                f"term (got {ktoks!r}) — multi-token synonyms need "
                "phrase positions, which SynonymQuery does not model"
            )
        key = ktoks[0]
        if key not in qweights:
            raise ValueError(
                f"synonym key {raw_key!r} is not a term of the query"
            )
        if key in must or key in must_not or key in phrase_toks:
            raise ValueError(
                f"synonym key {raw_key!r} is a MUST/MUST_NOT/phrase "
                "clause — SynonymQuery replaces an optional term "
                "clause only"
            )
        members = [key]
        for s in raw_syns:
            stoks = tokenize_str(s)
            if len(stoks) != 1:
                raise ValueError(
                    f"synonym {s!r} must analyze to exactly one term "
                    f"(got {stoks!r})"
                )
            if stoks[0] != key and stoks[0] not in members:
                members.append(stoks[0])
        for m in members[1:]:
            if (
                m in qweights
                or m in must_not
                or m in phrase_toks
                or m in claimed
            ):
                raise ValueError(
                    f"synonym {m!r} collides with another query "
                    "clause or synonym group — each term may belong "
                    "to one clause"
                )
        claimed.update(members)
        dfs = index.df_of_terms(spark, members)
        syn_groups.append(
            (qweights[key], max(dfs.values()), tuple(members))
        )
    return syn_groups


def search(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    k: int = 10,
    shard_ids: list[int] | None = None,
    prune: bool = True,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    ordered: bool = True,
    filter_docs: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    source: DataFrame | None = None,
    source_text_col: str = "text",
    source_id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    source_doc_id_col: str | None = None,
    offset: int = 0,
    _with_total: bool = False,
    _dv_sort: tuple | None = None,
    _dv_group: tuple | None = None,
    _dv_agg: tuple | None = None,
    _cursor: tuple | None = None,
) -> DataFrame:
    """Top-k BM25 search. Returns DataFrame(doc_id, shard_id, score) ordered
    by the exact reference tie-break, ≤ k rows.

    ``_dv_sort`` (internal, used by :func:`search_sorted`): a tuple
    ``(specs, dv_k)`` with specs = [(col, 'asc'|'desc'), ...] over the
    index's docvalue sidecar — the shard kernels then look sort keys up
    in-index (TopFieldCollector analog) and emit only their dv_k best
    rows, tagged with order-preserving mapped keys ``__sv<i>``.

    Query syntax (the Lucene QueryParser surface Katta exposes verbatim,
    Katta.java:825-826): plain terms (default OR), ``field:value``
    keyword terms, ``term^2.5`` boosts, and three dictionary rewrites —
    ``ab*`` prefix wildcards, ``term~N`` fuzzy (bounded Levenshtein),
    ``field:[lo TO hi]`` / ``{lo TO hi}`` / open-``*`` term ranges —
    each expanded globally against the stats table under the
    maxClauseCount cap, every expanded term scoring with its own df/idf.

    Boolean syntax (parse_bool_query — Lucene QueryParser's operators,
    which Katta exposes verbatim, Katta.java:825-826): ``+term`` MUST,
    ``-term`` MUST_NOT, ``"a b"`` phrase and ``"a b"~N`` sloppy phrase.
    MUST/MUST_NOT/phrase are all enforced inside the shard kernels (one
    job, no extra shuffles): phrases execute against the index's
    positional postings alone — like Lucene running PhraseQuery per shard
    (LuceneServer.java:682) — over the must-intersection candidates only.
    ``source``/``source_*`` are accepted for backward compatibility but
    no longer consulted (v8 indexes store positions). ``mode`` must be
    'or' when boolean operators are present.

    Plan at scale: parquet scan of postings pruned to the query's shards
    (partition column) and terms (pushed predicate + row-group skipping via
    the term-sorted layout) → one Arrow kernel per shard → ≤ k·shards rows
    → TakeOrderedAndProject. The corpus is never shuffled.

    Filtered search (Katta's Filter, ILuceneServer.java:84-101, applied at
    LuceneServer.java:334-345: restricts the matched set WITHOUT changing
    surviving docs' scores): pass ``filter_df`` — any DataFrame whose
    ``filter_doc_col`` holds allowed docIDs. It is shuffled by the index's
    own sharding function and COGROUPED with the postings, so each shard
    kernel sees exactly its own allowed set — fully distributed, nothing
    travels through the driver (``filter_docs`` list remains as a
    convenience wrapper for tiny driver-side sets).

    Paging: ``offset=N`` returns ranks N..N+k of the merged ranking —
    Lucene's shallow paging (a TopScoreDocCollector over offset+k, then
    slice; each shard emits offset+k rows, so cost grows with depth
    exactly as in Lucene). For deep pages use :func:`search_after`
    (IndexSearcher.searchAfter — per-shard emission stays at k).

    ``min_should_match=m`` — Lucene
    BooleanQuery.setMinimumNumberShouldMatch: a doc matches only if it
    contains >= m DISTINCT optional (SHOULD) clauses. MUST clauses never
    count toward m; a synonym group counts as ONE clause; m greater than
    the number of optional clauses matches nothing (Lucene's
    MatchNoDocsQuery rewrite). Scores of surviving docs are unchanged.

    ``synonyms={term: [syn, ...]}`` — Lucene SynonymQuery, the query
    QueryParser emits when the analyzer holds a SynonymGraphFilter: each
    mapped query term expands to a blended pseudo-term over
    (term, *syns) with per-doc tf = Σ member tfs and df = max member
    GLOBAL df (SynonymQuery.java's docFreq), so a doc matching two
    synonyms scores like one term seen twice. Keys must be single
    analyzed query terms; members must not collide with other query
    clauses. Plain-OR queries only (no tree/rewrite/shard-subset
    composition — Lucene's parser likewise applies synonyms to analyzed
    term clauses, not to wildcard/range rewrites).
    """
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    index._record_query()
    # ---- result paging (Lucene parity): ``offset`` pages like a
    # TopScoreDocCollector over offset+k (every shard emits offset+k —
    # exact, and exactly Lucene's shallow-paging cost model); ``_cursor``
    # (via search_after) is IndexSearcher.searchAfter — per-shard
    # emission stays at k regardless of page depth.
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if offset and _cursor is not None:
        raise ValueError(
            "offset and search_after are alternative paging forms — "
            "pass one"
        )
    if (offset or _cursor is not None) and (
        _dv_sort is not None
        or _dv_group is not None
        or _dv_agg is not None
        or not ordered
    ):
        raise ValueError(
            "offset/search_after page the score-ranked result; use "
            "search_sorted(offset=...) for field-sorted paging"
        )
    if _cursor is not None:
        if _with_total:
            raise ValueError("search_after does not combine with totals")
        if len(_cursor) != 3:
            raise ValueError(
                "after must be (score, doc_id, shard_id) of the last hit"
            )
        prune = False
    k_eff = k + offset
    # tombstoned (deleted) docs are denied inside the kernels before any
    # cap — Lucene's liveDocs skip at collection time; df/N/avgdl stay
    # STALE until expunge, exactly like Lucene pre-merge
    deny = _deny_handle(spark, index)
    sql_t = "float" if score_dtype == "float32" else "double"
    empty_schema = f"doc_id long, shard_id int, score {sql_t}"
    if _with_total:
        empty_schema += ", shard_total long"
    must: set[str] = set()
    must_not: set[str] = set()
    phrases: list[tuple[list[str], int]] = []
    # Route on the UNQUOTED remainder: '~' inside '"a b"~3' is a phrase
    # slop, not a fuzzy operator, and quoted spans must never reach the
    # dictionary-expansion paths.
    query = fold_spaced_fields(query)
    if min_should_match < 0:
        raise ValueError(
            f"min_should_match must be >= 0, got {min_should_match}"
        )
    unquoted = _re_mod.sub(r'"[^"]*"(~\d+)?(\^\d+(?:\.\d+)?)?', " ", query)
    has_phrase = unquoted != query
    if (min_should_match or synonyms) and (
        _TREE_RE.search(unquoted)
        or _RANGE_RE.search(unquoted)
        or "*" in unquoted
        or "~" in unquoted
        or "?" in unquoted
    ):
        raise ValueError(
            "min_should_match/synonyms apply to analyzed term clauses "
            "only — not to AND/OR/NOT grouping or wildcard/fuzzy/range "
            "rewrites (Lucene's parser applies synonym graphs and "
            "minimumNumberShouldMatch at the term-clause level too)"
        )
    if synonyms and shard_ids is not None:
        raise ValueError(
            "synonyms resolve the blended group df from GLOBAL stats; "
            "shard-subset search scores with subset stats — the two do "
            "not compose"
        )
    tree = None
    if _TREE_RE.search(unquoted):
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with AND/OR/NOT grouping"
            )
        if (
            "*" in unquoted
            or "~" in unquoted
            or "?" in unquoted
            or _RANGE_RE.search(unquoted)
        ):
            raise ValueError(
                "wildcard/fuzzy/range clauses cannot be combined with "
                "AND/OR/NOT grouping"
            )
        if mode != "or":
            raise ValueError(
                "AND/OR/NOT grouping defines its own clause semantics; "
                f"mode={mode!r} is not combinable with it"
            )
        tree, qweights = parse_tree_query(query, index.keyword_fields)
        _, must_not = tree_terms(tree)
    elif _RANGE_RE.search(unquoted):
        if has_phrase:
            raise ValueError("phrases cannot be combined with range clauses")
        qweights = expand_ranges(spark, index, query)
    elif "*" in unquoted or "~" in unquoted or "?" in unquoted:
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with wildcard/fuzzy clauses"
            )
        qweights = expand_wildcards(spark, index, query)
    else:
        qweights, must, must_not, phrases = parse_bool_query(
            query, index.keyword_fields
        )
    if phrases and not index.positions:
        raise ValueError(
            f"phrase query against index {index.index_dir!r} built with "
            "positions=False (omitted term positions) — rebuild with "
            "positions=True to run phrase/slop queries"
        )
    syn_groups = _resolve_syn_groups(
        spark, index, synonyms, qweights, must, must_not, phrases
    )
    boolean = (
        bool(must or must_not or phrases)
        or min_should_match > 0
        or bool(syn_groups)
    )
    if boolean and mode != "or":
        raise ValueError(
            "boolean operators (+/-/phrase/min_should_match/synonyms) "
            f"define their own clause semantics; mode={mode!r} is not "
            "combinable with them"
        )
    if not qweights or k <= 0:
        if _dv_agg is not None:
            return _local_df(spark, [], None, _dv_agg[3])
        return _local_df(spark, [], None, empty_schema)

    # fetch set = scoring terms ∪ excluded terms (the kernel needs the
    # excluded terms' postings to build the per-shard exclusion mask)
    # ∪ synonym-group members (they blend into their group's pseudo-term)
    terms = sorted(
        set(qweights)
        | must_not
        | {m for _, _, members in syn_groups for m in members}
    )
    # Term hashes computed DRIVER-SIDE with the pure-Python xxHash64
    # (bit-identical to F.xxhash64, parity-tested) — zero Spark jobs.
    hashes = sorted(term_hash(t) for t in terms)
    # Small term lists become a pushed In(th, …) scan predicate (row-group
    # skipping); LARGE lists (broad wildcard expansions) would bloat the
    # plan and degenerate the pushed predicate, so past the threshold the
    # term list travels as a broadcast-joined side table instead — the
    # postings are filtered by the (inner) broadcast stats join itself.
    use_isin = len(hashes) <= _ISIN_MAX_TERMS
    q_pairs = [(term_hash(t), t) for t in terms]

    def _stats_for_query(stats_df):
        # the term guard drops any query term whose xxhash64 collides with
        # a different indexed term
        if use_isin:
            return stats_df.where(
                F.col("th").isin(hashes) & F.col("term").isin(terms)
            )
        q_df = _local_df(
            spark, q_pairs, ["th", "term"], "th long, term string"
        )
        return stats_df.join(F.broadcast(q_df), ["th", "term"], "left_semi")

    # phrase queries additionally fetch the positions blobs; everything
    # else prunes them at the parquet scan (explicit column selection —
    # applyInPandas would otherwise drag every column through Arrow)
    kcols = _KERNEL_COLS + (["positions"] if phrases else [])
    if shard_ids is None:
        # Phase 1 (global df per term — Katta's getDocFrequencies,
        # LuceneClient.java:264-286) is a broadcast join of the tiny stats
        # rows into the postings scan — no driver round-trip between the
        # phases; the kernel derives idf from the joined global df. The
        # stats rows also carry the term STRING (postings store only th).
        n_docs, avgdl = float(index.n_docs), index.avgdl
        postings = index.postings(spark)
        if use_isin:
            # th is the pushed predicate (int64 min/max row-group skipping)
            postings = postings.where(F.col("th").isin(hashes))
        postings = postings.select(*kcols)
        stats_small = _stats_for_query(index.stats(spark)).select(
            "th", "term", F.col("df").alias("df_g")
        )
        postings = postings.join(F.broadcast(stats_small), "th")
    else:
        # Shard-subset search scores with SUBSET-global stats, exactly like
        # Katta's phase 1 over only the searched indices' shards
        # (LuceneClient.java:264-286). df comes from the selected postings
        # rows themselves; N/avgdl from the per-shard stats table. The
        # baked block maxima assume corpus stats, so block pruning is off.
        prune = False
        srows = (
            index.shards(spark).where(F.col("shard_id").isin(shard_ids)).collect()
        )
        n_docs = float(sum(r["n_docs"] for r in srows))
        avgdl = (
            float(sum(r["sum_dl"] for r in srows)) / n_docs if n_docs else 1.0
        )
        postings = index.postings(spark).where(F.col("shard_id").isin(shard_ids))
        if use_isin:
            postings = postings.where(F.col("th").isin(hashes))
            postings = postings.select(*kcols)
        else:
            th_df = _local_df(
                spark, [(h,) for h in hashes], ["th"], "th long"
            )
            postings = postings.select(*kcols).join(
                F.broadcast(th_df), "th", "left_semi"
            )
        term_map = _stats_for_query(index.stats(spark)).select("th", "term")
        # subset-global df joined per row (same shape as the global path)
        df_sub = postings.groupBy("th").agg(F.sum("df").alias("df_g"))
        postings = postings.join(F.broadcast(term_map), "th").join(
            F.broadcast(df_sub), "th"
        )

    if tree is not None:
        kernel = _make_tree_kernel(
            tree, qweights, n_docs, avgdl, k_eff, score_dtype, _with_total,
            prune=prune, cursor=_cursor,
        )
    elif boolean:
        kernel = _make_score_kernel(
            qweights, n_docs, avgdl, k_eff, False, score_dtype,
            _with_total, frozenset(must), frozenset(must_not),
            tuple(phrases), cursor=_cursor,
            min_should=min_should_match, syn_groups=tuple(syn_groups),
        )
    elif _cursor is not None:
        # cursor paging needs score-ranked kernels — built directly
        # (the registry's factory signature has no cursor slot)
        if mode == "or":
            kernel = _make_score_kernel(
                qweights, n_docs, avgdl, k_eff, False, score_dtype,
                _with_total, cursor=_cursor,
            )
        elif mode == "and":
            kernel = _make_and_kernel(
                qweights, n_docs, avgdl, k_eff, score_dtype, _with_total,
                cursor=_cursor,
            )
        else:
            raise ValueError(
                "search_after requires a scoring mode ('or'/'and' or a "
                f"boolean/tree query); got mode={mode!r}"
            )
    else:
        if mode not in KERNEL_MODES:
            raise ValueError(
                f"unknown search mode {mode!r}; registered: {sorted(KERNEL_MODES)}"
            )
        kernel = KERNEL_MODES[mode](
            qweights, n_docs, avgdl, k_eff, prune, score_dtype, _with_total
        )
    out_schema = f"shard_id int, doc_id long, score {sql_t}"
    if _with_total:
        out_schema += ", shard_total long"
    if filter_docs is not None and filter_df is None:
        filter_df = _local_df(
            spark, [(int(x),) for x in filter_docs], ["doc_id"],
            "doc_id long",
        )
        filter_doc_col = "doc_id"
    if _dv_sort is not None or _dv_group is not None or _dv_agg is not None:
        if _with_total:
            raise ValueError(
                "_dv_sort/_dv_group/_dv_agg do not combine with _with_total"
            )
        if _dv_agg is not None:
            agg_col, agg_spec, agg_kind, agg_schema = _dv_agg
            dv_cols = [agg_col]
            dv_cog = _make_dv_agg_cog(
                kernel, agg_col, agg_spec, agg_kind,
                filtered=filter_df is not None, deny=deny,
            )
            extra_schema = None
            extra_cols = []
        elif _dv_group is not None:
            group_col, pass_spec = _dv_group
            dv_cols = [group_col]
            dv_cog = _make_dv_group_cog(
                kernel, group_col, pass_spec, score_dtype,
                filtered=filter_df is not None, deny=deny,
            )
            extra_schema = "gkey long, gnull boolean"
            extra_cols = ["gkey", "gnull"]
            if pass_spec[0] == "pass2":
                extra_schema += ", gtotal long"
                extra_cols.append("gtotal")
        else:
            specs, dv_k = _dv_sort
            dv_cols = [n for n, _ in specs]
            dv_cog = _make_dv_sort_cog(
                kernel, specs, dv_k, score_dtype,
                filtered=filter_df is not None, deny=deny,
            )
            extra_schema = ", ".join(
                f"__sv{i} long" for i in range(len(specs))
            )
            extra_cols = [f"__sv{i}" for i in range(len(specs))]
        from katta_spark.docvalues import dv_path as _dvp

        dvdf = index._rel(spark, _dvp(index.index_dir)).where(
            F.col("col").isin(dv_cols)
        )
        if shard_ids is not None:
            dvdf = dvdf.where(F.col("shard_id").isin(shard_ids))
        if filter_df is not None:
            fdf = _filter_frame(index, filter_df, filter_doc_col)
            if shard_ids is not None:
                fdf = fdf.where(F.col("shard_id").isin(shard_ids))
            dvdf = _dv_with_filter(dvdf, fdf)
        if _dv_agg is not None:
            # aggregate cogs collapse to constant-size per-shard partials
            # with their own schema — no per-doc columns to select
            return (
                postings.groupBy("shard_id")
                .cogroup(dvdf.groupBy("shard_id"))
                .applyInPandas(dv_cog, agg_schema)
            )
        hits = (
            postings.groupBy("shard_id")
            .cogroup(dvdf.groupBy("shard_id"))
            .applyInPandas(dv_cog, out_schema + ", " + extra_schema)
        )
        return hits.select("doc_id", "shard_id", "score", *extra_cols)
    if filter_df is None:
        # 1-arg wrapper: applyInPandas treats a 2-arg function as
        # (group_key, pdf), but our kernels' 2nd arg is the filter set.
        if deny is not None:
            hits = postings.groupBy("shard_id").applyInPandas(
                lambda pdf: kernel(pdf, DocFilter(None, deny.value)),
                out_schema,
            )
        else:
            hits = postings.groupBy("shard_id").applyInPandas(
                lambda pdf: kernel(pdf), out_schema
            )
    else:
        fdf = _filter_frame(index, filter_df, filter_doc_col)
        if shard_ids is not None:
            fdf = fdf.where(F.col("shard_id").isin(shard_ids))

        def cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left):
                return _empty_hits(score_dtype, _with_total)
            allowed = np.unique(right["doc_id"].to_numpy(np.int64))
            return kernel(left, DocFilter(allowed, _deny_val(deny)))

        hits = (
            postings.groupBy("shard_id")
            .cogroup(fdf.groupBy("shard_id"))
            .applyInPandas(cog, out_schema)
        )
    sel = ["doc_id", "shard_id", "score"] + (["shard_total"] if _with_total else [])
    hits = hits.select(*sel)
    if not ordered:
        # Caller does its own ordering (e.g. field sort) — returning the
        # per-shard union unsorted avoids a global score sort that would
        # funnel every matching doc through one partition.
        return hits
    out = hits.orderBy(
        F.col("score").desc(), F.col("doc_id").asc(), F.col("shard_id").desc()
    ).limit(k_eff)
    if offset:
        # drop the first ``offset`` rows of the merged ranking — the
        # window runs over ≤ offset+k rows (the Katta client-merge
        # analog), never corpus-sized
        from pyspark.sql import Window

        w = Window.orderBy(
            F.col("score").desc(), F.col("doc_id").asc(),
            F.col("shard_id").desc(),
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    return out


def search_after(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    after: tuple,
    k: int = 10,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """Deep-paging cursor search — ``IndexSearcher.searchAfter`` (the
    reference serves Lucene, whose consumers page exactly this way; the
    shallow form, Lucene's offset+k TopScoreDocCollector, is
    ``search(offset=...)``).

    ``after`` is the (score, doc_id, shard_id) triple of the LAST hit of
    the previous page (exactly the columns every search result carries).
    Each shard kernel masks candidates strictly after the cursor in the
    reference tie-break BEFORE its top-k cap, so per-shard emission stays
    at k rows no matter how deep the page — the property searchAfter
    exists for. Scores are deterministic re-computation, so the
    score-equality comparison in the cursor predicate is exact.

    Page-1 rows never reappear and pages concatenate to the full ranking
    (tested in tests/test_paging.py). A LIST of indexes pages the
    combined ranking (cursor shard_ids are the offset ids the multi-index
    results carry). Requires a scoring query (or/and/boolean/tree);
    totals don't combine (Lucene's searchAfter collectors don't track
    them either)."""
    if isinstance(index, (list, tuple)) and len(index) == 1:
        index = index[0]  # one-element list IS a single index (cli.py does
        # the same unwrap) — clause options and shard_ids then apply
    if isinstance(index, (list, tuple)):
        if min_should_match or synonyms:
            raise ValueError(
                "min_should_match/synonyms are single-index for now — "
                "merge or compact the indexes first"
            )
        return search_multi(
            spark, list(index), query, k=k, mode=mode,
            score_dtype=score_dtype, filter_df=filter_df,
            filter_doc_col=filter_doc_col, _cursor=tuple(after),
        )
    return search(
        spark, index, query, k=k, mode=mode, score_dtype=score_dtype,
        min_should_match=min_should_match, synonyms=synonyms,
        shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col, _cursor=tuple(after),
    )


def search_with_total(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    k: int = 10,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Top-k AND exact totalHits in ONE job — Katta returns both in one
    response (Hits.java:34-51: total hit count + merged top-k;
    LuceneServer.java:460-472 sums per-shard totals).

    Each shard kernel emits its top-k rows tagged with the shard's exact
    match count; the driver merge (≤ k·shards rows — exactly Katta's
    client-level merge, LuceneClient.java:180-198) sums per-shard totals
    and applies the reference tie-break. Block pruning is disabled so the
    count is exact (Lucene's TopScoreDocCollector also visits every match
    when totalHits is tracked; under WAND it degrades to a lower bound).

    ``index`` may be a LIST of indexes: totals then accumulate across all
    searched indexes with cross-index stats, exactly like Katta's
    multi-index count summing per-node results over every index
    (LuceneClient.java:225-251) — scores stay identical to a single
    merged index.

    Returns DataFrame(doc_id, shard_id, score, total_hits, shards_hit,
    shards_total), ≤ k rows; total_hits / coverage constant across rows.
    shards_hit vs shards_total is the coverage report (Katta's Hits
    exposes missing shards, Hits.java:214-220; under Spark a job is
    all-or-nothing so "searched" coverage is always full — what varies,
    and is reported, is how many shards contributed matches).
    """
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    k_eff = k + offset
    sql_t = "float" if score_dtype == "float32" else "double"
    schema = (
        f"doc_id long, shard_id int, score {sql_t}, total_hits long, "
        "shards_hit int, shards_total int"
    )
    if isinstance(index, (list, tuple)) and len(index) == 1:
        index = index[0]  # one-element list IS a single index
    if isinstance(index, (list, tuple)):
        if min_should_match or synonyms:
            raise ValueError(
                "min_should_match/synonyms are single-index for now — "
                "merge or compact the indexes first"
            )
        handles = [
            IndexHandle.open(spark, ix) if isinstance(ix, str) else ix
            for ix in index
        ]
        shards_total = sum(h.num_shards for h in handles)
        rows = search_multi(
            spark, handles, query, k=k_eff, mode=mode, score_dtype=score_dtype,
            filter_df=filter_df, filter_doc_col=filter_doc_col,
            ordered=False, _with_total=True,
        ).collect()
    else:
        if isinstance(index, str):
            index = IndexHandle.open(spark, index)
        shards_total = index.num_shards
        rows = search(
            spark, index, query, k=k_eff, mode=mode, score_dtype=score_dtype,
            min_should_match=min_should_match, synonyms=synonyms,
            prune=False, ordered=False,
            filter_df=filter_df, filter_doc_col=filter_doc_col,
            _with_total=True,
        ).collect()
    if not rows:
        return _local_df(spark, [], None, schema)
    per_shard = {r.shard_id: int(r.shard_total) for r in rows}
    total = sum(per_shard.values())
    # paging slices the client merge (totals unaffected — Hits reports
    # the full count whatever page is displayed)
    top = sorted(rows, key=lambda r: (-r.score, r.doc_id, -r.shard_id))[
        offset:offset + k
    ]
    return _local_df(
        spark,
        [
            (r.doc_id, r.shard_id, float(r.score), total,
             len(per_shard), shards_total)
            for r in top
        ],
        ["doc_id", "shard_id", "score", "total_hits", "shards_hit",
         "shards_total"],
        schema,
    )


def search_multi(
    spark: SparkSession,
    indexes: list[IndexHandle | str],
    query: str,
    k: int = 10,
    mode: str = "or",
    score_dtype: str = "float32",
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    ordered: bool = True,
    offset: int = 0,
    _with_total: bool = False,
    _dv_sort: tuple | None = None,
    _cursor: tuple | None = None,
) -> DataFrame:
    """Search several indexes as one corpus — Katta's multi-index search
    (``search(query, ["idx1", "idx2"])``, LuceneClientTest.java:266-279).
    ``filter_df`` restricts matches like in :func:`search` (Katta's Filter
    also applies to multi-index searches): the allowed set is mapped
    through EACH index's own sharding function (+ shard offset) and
    cogrouped per shard.

    Semantics replicated exactly: phase 1 aggregates df / numDocs across
    ALL searched indexes (DocumentFrequencyWritable summing,
    LuceneClient.java:271-281), so scores are identical to a single merged
    index; phase 2 is a bag union of per-index shard streams through the
    same final top-k merge (SURVEY.md §2.7). Boolean syntax carries over:
    ``+MUST`` / ``-MUST_NOT`` clauses, phrases (index-only positional
    verify) and AND/OR/NOT grouping evaluate against the combined stats
    exactly as in :func:`search`.

    This is also the INCREMENTAL-UPDATE story: new documents build a small
    delta index and queries span [base, delta] with combined stats — the
    analog of deploying an additional index version in Katta.
    """
    handles = [
        IndexHandle.open(spark, ix) if isinstance(ix, str) else ix for ix in indexes
    ]
    if isinstance(filter_df, CachedFilter):
        raise ValueError(
            "CachedFilter is single-index (multi-index searches offset "
            "shard ids per index) — pass the raw filter DataFrame"
        )
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    if offset and _cursor is not None:
        raise ValueError(
            "offset and search_after are alternative paging forms — pass one"
        )
    if (offset or _cursor is not None) and (_dv_sort is not None or not ordered):
        raise ValueError(
            "offset/search_after page the score-ranked result; use "
            "search_sorted(offset=...) for field-sorted paging"
        )
    if _cursor is not None and _with_total:
        raise ValueError("search_after does not combine with totals")
    k_eff = k + offset
    # tombstones across every searched index (deny inside the kernels;
    # stats stay stale until expunge — Lucene liveDocs semantics)
    deny = _deny_handle_multi(spark, handles)
    sql_t = "float" if score_dtype == "float32" else "double"
    empty_schema = f"doc_id long, shard_id int, score {sql_t}"
    if _with_total:
        empty_schema += ", shard_total long"
    all_kw = tuple({f for h in handles for f in h.keyword_fields})
    # Boolean clause surface over the combined corpus: +MUST / -MUST_NOT,
    # phrases (in-index positional verify — no per-index source needed)
    # and AND/OR/NOT grouping parse exactly as in search(). Dictionary
    # rewrites (wildcard/fuzzy/range) expand PER INDEX — exactly Katta's
    # model, where Lucene rewrites the query against each shard's own
    # dictionary (LuceneServer.java:602-624) — and the expansions union
    # with combined stats, so results equal one merged index.
    query = fold_spaced_fields(query)
    unquoted = _re_mod.sub(r'"[^"]*"(~\d+)?(\^\d+(?:\.\d+)?)?', " ", query)
    has_phrase = unquoted != query
    tree = None
    must: set[str] = set()
    must_not: set[str] = set()
    phrases: list[tuple[list[str], int]] = []
    if (
        "*" in unquoted
        or "~" in unquoted
        or "?" in unquoted
        or _RANGE_RE.search(unquoted)
    ):
        if _TREE_RE.search(unquoted):
            raise ValueError(
                "wildcard/fuzzy/range clauses cannot be combined with "
                "AND/OR/NOT grouping"
            )
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with wildcard/fuzzy/range "
                "clauses"
            )
        # a term expanded by several indexes' dictionaries scores ONCE at
        # its clause boost (each shard scores its own rewrite in Katta —
        # summing across indexes would double-weight shared terms)
        qweights = {}
        for h in handles:
            for t, w in expand_ranges(spark, h, query).items():
                qweights[t] = max(qweights.get(t, 0.0), w)
    elif _TREE_RE.search(unquoted):
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with AND/OR/NOT grouping"
            )
        if mode != "or":
            raise ValueError(
                "AND/OR/NOT grouping defines its own clause semantics; "
                f"mode={mode!r} is not combinable with it"
            )
        tree, qweights = parse_tree_query(query, all_kw)
        _, must_not = tree_terms(tree)
    else:
        qweights, must, must_not, phrases = parse_bool_query(query, all_kw)
        if (must or must_not) and mode != "or":
            raise ValueError(
                "boolean operators (+/-) define their own clause "
                f"semantics; mode={mode!r} is not combinable with them"
            )
    if phrases:
        for h in handles:
            if not h.positions:
                raise ValueError(
                    f"phrase query against index {h.index_dir!r} built "
                    "with positions=False (omitted term positions) — "
                    "rebuild with positions=True to run phrase/slop queries"
                )
    if not qweights or k <= 0:
        return _local_df(spark, [], None, empty_schema)
    terms = sorted(set(qweights) | must_not)

    # phase 1: combined stats over all indexes
    n_docs = float(sum(h.n_docs for h in handles))
    # exact combined avgdl from per-index shard stats (memoized per handle
    # — repeated queries over the same handles collect nothing here)
    tot_dl = sum(h.total_dl(spark) for h in handles)
    avgdl = tot_dl / n_docs if n_docs else 1.0
    # per-handle df, memoized (df_of_terms) — repeated multi-index queries
    # over warm handles collect nothing here
    df_tot: dict[str, int] = {}
    for h in handles:
        for t, d in h.df_of_terms(spark, terms).items():
            if d:
                df_tot[t] = df_tot.get(t, 0) + d
    live_terms = sorted(df_tot)
    live_scoring = [t for t in live_terms if t in qweights]
    if not live_scoring or (
        mode == "and" and len(live_scoring) < len(set(qweights))
    ):
        return _local_df(spark, [], None, empty_schema)
    if must and not must <= set(live_terms):
        return _local_df(spark, [], None, empty_schema)  # a MUST term is absent
    live_hashes = [term_hash(t) for t in live_terms]

    # phase 2: bag union of per-index postings; shard ids are offset so the
    # per-shard kernel groups never collide across indexes. The cross-index
    # global df (and the term string — postings store only th) is
    # broadcast-joined per row, as in search().
    kcols = _KERNEL_COLS + (["positions"] if phrases else [])
    parts = []
    sh_off = 0
    for h in handles:
        p = (
            h.postings(spark)
            .where(F.col("th").isin(live_hashes))
            .select(*kcols)
            .withColumn(
                "shard_id", (F.col("shard_id") + F.lit(sh_off)).cast("int")
            )
        )
        parts.append(p)
        sh_off += h.num_shards
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)
    df_g = _local_df(
        spark,
        [(term_hash(t), t, int(d)) for t, d in df_tot.items()],
        ["th", "term", "df_g"],
        "th long, term string, df_g long",
    )
    postings = postings.join(F.broadcast(df_g), "th")

    if tree is not None:
        kernel = _make_tree_kernel(
            tree, qweights, n_docs, avgdl, k_eff, score_dtype, _with_total,
            cursor=_cursor,
        )
    elif mode == "and":
        kernel = _make_and_kernel(
            qweights, n_docs, avgdl, k_eff, score_dtype, _with_total,
            cursor=_cursor,
        )
    elif mode == "match":
        # scores-off path (Katta's default — LuceneServer.java:97 only
        # tracks scores when asked): used by multi-index search_sorted
        # with track_scores=False
        if _cursor is not None:
            raise ValueError(
                "search_after requires a scoring mode ('or'/'and' or a "
                "boolean/tree query); got mode='match'"
            )
        kernel = _make_match_kernel(
            qweights, n_docs, avgdl, k_eff, score_dtype, _with_total
        )
    else:
        # with totals the count must be exact → no block pruning; boolean
        # clauses (must/not/phrase) also disable pruning inside the kernel
        kernel = _make_score_kernel(
            qweights, n_docs, avgdl, k_eff,
            not _with_total and not must and not must_not and not phrases
            and _cursor is None,
            score_dtype,
            _with_total, frozenset(must), frozenset(must_not),
            tuple(phrases), cursor=_cursor,
        )
    out_schema = f"shard_id int, doc_id long, score {sql_t}"
    if _with_total:
        out_schema += ", shard_total long"
    if _dv_sort is not None:
        # per-index sidecars, shard ids offset like the postings — the
        # same TopFieldCollector cap as single-index (see search())
        if _with_total:
            raise ValueError("_dv_sort does not combine with _with_total")
        from katta_spark.docvalues import dv_path as _dvp

        specs, dv_k = _dv_sort
        dv_cog = _make_dv_sort_cog(
            kernel, specs, dv_k, score_dtype,
            filtered=filter_df is not None, deny=deny,
        )
        dv_parts = []
        sh_off = 0
        for h in handles:
            dv_parts.append(
                h._rel(spark, _dvp(h.index_dir))
                .where(F.col("col").isin([n for n, _ in specs]))
                .withColumn(
                    "shard_id", (F.col("shard_id") + F.lit(sh_off)).cast("int")
                )
            )
            sh_off += h.num_shards
        dvdf = dv_parts[0]
        for p in dv_parts[1:]:
            dvdf = dvdf.unionByName(p)
        if filter_df is not None:
            fbase = filter_df.select(
                F.col(filter_doc_col).cast("long").alias("doc_id")
            )
            fparts = []
            sh_off = 0
            for h in handles:
                fparts.append(
                    fbase.withColumn(
                        "shard_id",
                        (h.shard_expr(F.col("doc_id")) + F.lit(sh_off)).cast(
                            "int"
                        ),
                    )
                )
                sh_off += h.num_shards
            fdf = fparts[0]
            for fp in fparts[1:]:
                fdf = fdf.unionByName(fp)
            dvdf = _dv_with_filter(dvdf, fdf)
        sv_schema = ", ".join(f"__sv{i} long" for i in range(len(specs)))
        hits = (
            postings.groupBy("shard_id")
            .cogroup(dvdf.groupBy("shard_id"))
            .applyInPandas(dv_cog, out_schema + ", " + sv_schema)
        )
        return hits.select(
            "doc_id", "shard_id", "score",
            *[f"__sv{i}" for i in range(len(specs))],
        )
    if filter_df is None:
        if deny is not None:
            hits = postings.groupBy("shard_id").applyInPandas(
                lambda pdf: kernel(pdf, DocFilter(None, deny.value)),
                out_schema,
            )
        else:
            hits = postings.groupBy("shard_id").applyInPandas(
                lambda pdf: kernel(pdf), out_schema
            )
    else:
        fbase = filter_df.select(F.col(filter_doc_col).cast("long").alias("doc_id"))
        fparts = []
        sh_off = 0
        for h in handles:
            fparts.append(
                fbase.withColumn(
                    "shard_id",
                    (h.shard_expr(F.col("doc_id")) + F.lit(sh_off)).cast("int"),
                )
            )
            sh_off += h.num_shards
        fdf = fparts[0]
        for fp in fparts[1:]:
            fdf = fdf.unionByName(fp)

        def cog(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if not len(left):
                return _empty_hits(score_dtype, _with_total)
            allowed = np.unique(right["doc_id"].to_numpy(np.int64))
            return kernel(left, DocFilter(allowed, _deny_val(deny)))

        hits = (
            postings.groupBy("shard_id")
            .cogroup(fdf.groupBy("shard_id"))
            .applyInPandas(cog, out_schema)
        )
    sel = ["doc_id", "shard_id", "score"] + (
        ["shard_total"] if _with_total else []
    )
    hits = hits.select(*sel)
    if not ordered:
        return hits
    out = hits.orderBy(
        F.col("score").desc(), F.col("doc_id").asc(), F.col("shard_id").desc()
    ).limit(k_eff)
    if offset:
        from pyspark.sql import Window

        w = Window.orderBy(
            F.col("score").desc(), F.col("doc_id").asc(),
            F.col("shard_id").desc(),
        )
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    return out


def search_sorted(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    source: DataFrame,
    sort_cols: list,
    k: int = 10,
    track_scores: bool = True,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    doc_id_col: str | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Field-sorted search — Katta's TopFieldCollector path (T2/T4:
    LuceneServer.java:672-677, typed sort fields WritableType.java:33-35,
    score tracking flag LuceneServer.java:97 / LuceneClientTest.java:379).

    ``sort_cols`` entries may be column names, ``(name, 'asc'|'desc')``
    tuples, or arbitrary Columns. When every entry names a column the
    index carries in its docvalue sidecar (build_index docvalue_cols),
    the FAST path runs: each shard kernel looks the sort keys up IN-INDEX
    and emits only its k best rows — ≤ k·shards rows total leave the
    kernels, exactly Katta's per-shard TopFieldCollector cap at
    min(limit, maxDoc), and only the merged top-k joins back to
    ``source`` for the display columns. ``filter_df`` composes with the
    fast path (Katta's search(query, sort, filter) one-call surface,
    ILuceneServer.java:84-101): the allowed set cogroups into the kernels
    ahead of the per-shard dv cap. Otherwise every match joins to its
    stored fields and the distributed TakeOrderedAndProject does the
    k-way merge (correct, but a high-df query shuffles |matches| rows).

    ``track_scores=False`` omits the BM25 score column (Katta's default —
    scores are only computed when requested).

    A LIST of indexes sorts across all of them (Katta sorted search spans
    the searched indices, LuceneClientTest.java:330) via search_multi's
    combined-stats bag union; ``source`` must cover the union corpus.
    """
    if offset < 0:
        raise ValueError(f"offset must be >= 0, got {offset}")
    specs = _norm_sort_specs(sort_cols)
    if specs is not None:
        ihs = [
            IndexHandle.open(spark, ix) if isinstance(ix, str) else ix
            for ix in (index if isinstance(index, (list, tuple)) else [index])
        ]
        kinds0 = ihs[0].docvalue_kinds()
        if all(
            all(n in h.docvalue_kinds() for n, _ in specs) for h in ihs
        ) and all(
            h.docvalue_kinds()[n] == kinds0[n] for h in ihs for n, _ in specs
        ):
            # (a column stored as a different KIND in different indexes —
            # string in one, long in another — has no comparable mapped
            # key; those take the source-join path below, which sorts on
            # the original values)
            return _search_sorted_dv(
                spark,
                ihs if isinstance(index, (list, tuple)) else ihs[0],
                query, source, specs, k, track_scores, id_cols, doc_id_col,
                filter_df, filter_doc_col, offset,
            )
    # fallback: candidate docs = union of posting lists (huge k caps
    # nothing away); when scores aren't tracked, the match-only kernel
    # skips BM25 entirely
    if specs is not None:
        sort_cols = [
            F.col(n).asc() if d == "asc" else F.col(n).desc()
            for n, d in specs
        ]
    if isinstance(index, (list, tuple)):
        matches = search_multi(
            spark, list(index), query, k=2**31 - 1, score_dtype="float64",
            ordered=False, mode="or" if track_scores else "match",
            filter_df=filter_df, filter_doc_col=filter_doc_col,
        )
    else:
        if isinstance(index, str):
            index = IndexHandle.open(spark, index)
        matches = search(
            spark, index, query, k=2**31 - 1, prune=False,
            score_dtype="float64",
            ordered=False, mode="or" if track_scores else "match",
            filter_df=filter_df, filter_doc_col=filter_doc_col,
        )
    if doc_id_col is None:
        src = source.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols]))
    else:
        src = source.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    joined = matches.join(_join_safe_source(src, matches.columns), "doc_id")
    cols = [F.col(c) if isinstance(c, str) else c for c in sort_cols]
    out = joined.orderBy(*cols, F.col("doc_id").asc()).limit(k + offset)
    if offset:
        # TopFieldCollector paging (offset+k then slice) — the window
        # runs over <= offset+k rows
        from pyspark.sql import Window

        w = Window.orderBy(*cols, F.col("doc_id").asc())
        out = (
            out.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    if not track_scores:
        out = out.drop("score")
    return out


def _join_safe_source(src: DataFrame, hit_cols) -> DataFrame:
    """Drop source columns whose names collide with engine hit columns
    (``shard_id``, ``score``, internal sort keys) before a hits↔source
    join. The hit-side values are authoritative — Katta's HitsMapWritable
    carries shard/score, the stored document only its fields — and a
    duplicate name would make every later reference ambiguous (a source
    produced by oracle.with_doc_ids carries its own ``shard_id``)."""
    clash = [c for c in src.columns if c != "doc_id" and c in set(hit_cols)]
    return src.drop(*clash) if clash else src


def _norm_sort_specs(sort_cols) -> "list[tuple[str, str]] | None":
    """Normalize sort_cols to [(name, 'asc'|'desc'), ...] — None when any
    entry is an opaque Column (those take the source-join path)."""
    specs: list[tuple[str, str]] = []
    for c in sort_cols:
        if isinstance(c, str):
            specs.append((c, "asc"))
        elif (
            isinstance(c, (tuple, list))
            and len(c) == 2
            and isinstance(c[0], str)
            and c[1] in ("asc", "desc")
        ):
            specs.append((c[0], c[1]))
        else:
            return None
    return specs


def _search_sorted_dv(
    spark: SparkSession,
    index: IndexHandle,
    query: str,
    source: DataFrame,
    specs: list,
    k: int,
    track_scores: bool,
    id_cols: tuple[str, str],
    doc_id_col: str | None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
    offset: int = 0,
) -> DataFrame:
    """Docvalue fast path: per-shard in-index field-sort cap (≤ k·shards
    rows leave the kernels), global merge on the mapped keys, then ONE
    broadcast join of the merged top-k to ``source`` for display columns.
    ``index`` may be a LIST of dv-carrying handles (combined stats via
    search_multi, per-index sidecars cogrouped per offset shard).
    ``filter_df`` composes with the cap: the allowed docIDs cogroup into
    the kernels ahead of the per-shard dv selection — Katta's
    search(query, sort, filter) in one call (ILuceneServer.java:84-101,
    LuceneClientTest.java:562-617)."""
    dv_k = k + offset  # TopFieldCollector pages at offset+k per shard
    if isinstance(index, (list, tuple)):
        hits = search_multi(
            spark, list(index), query, k=2**31 - 1,
            score_dtype="float64", ordered=False, _dv_sort=(specs, dv_k),
            mode="or" if track_scores else "match",
            filter_df=filter_df, filter_doc_col=filter_doc_col,
        )
    else:
        hits = search(
            spark, index, query, k=2**31 - 1, prune=False,
            score_dtype="float64", ordered=False,
            mode="or" if track_scores else "match",
            _dv_sort=(specs, dv_k),
            filter_df=filter_df, filter_doc_col=filter_doc_col,
        )
    # Across MULTIPLE indexes a STRING column's mapped keys are per-index
    # dictionary RANKS — internally consistent (the per-shard cap above is
    # sound) but NOT comparable between indexes. For the global merge,
    # resolve the ≤ k·shards surviving candidates' ranks to their actual
    # string values through each index's persisted dictionary: one
    # column-pruned dictionary scan per string spec, cut to the candidate
    # ranks by a broadcast semi-join (the candidate set is tiny), then a
    # broadcast join decorates the candidates — nothing corpus-sized
    # shuffles. Single-index string sorts keep the pure-rank merge (one
    # dictionary ⇒ ranks ARE the global order).
    handles = list(index) if isinstance(index, (list, tuple)) else [index]
    str_ix = [
        i for i, (n, _) in enumerate(specs)
        if handles[0].docvalue_kinds().get(n) == "string"
    ] if len(handles) > 1 else []
    sort_key = {i: f"__sv{i}" for i in range(len(specs))}
    if str_ix:
        from katta_spark.docvalues import strings_path as _dv_strings

        iid_expr = None
        sh_off = 0
        for hi_, h in enumerate(handles):
            cond = (F.col("shard_id") >= sh_off) & (
                F.col("shard_id") < sh_off + h.num_shards
            )
            iid_expr = (
                F.when(cond, F.lit(hi_))
                if iid_expr is None
                else iid_expr.when(cond, F.lit(hi_))
            )
            sh_off += h.num_shards
        hits = hits.withColumn("__iid", iid_expr)
        for i in str_ix:
            name = specs[i][0]
            ddf = None
            for hi_, h in enumerate(handles):
                part = (
                    h._rel(
                        spark,
                        os.path.join(_dv_strings(h.index_dir), f"col={name}"),
                    ).select(
                        F.lit(hi_).alias("__iid"),
                        F.col("rank").alias(f"__sv{i}"),
                        F.col("value").alias(f"__svv{i}"),
                    )
                )
                ddf = part if ddf is None else ddf.unionByName(part)
            wanted = ddf.join(
                F.broadcast(
                    hits.select("__iid", f"__sv{i}").distinct()
                ),
                ["__iid", f"__sv{i}"],
                "leftsemi",
            )
            # left join: NULL-valued docs carry a NULL rank and keep a
            # NULL value — the nulls_first/nulls_last ordering below is
            # unchanged from the rank merge
            hits = hits.join(
                F.broadcast(wanted), ["__iid", f"__sv{i}"], "left"
            )
            sort_key[i] = f"__svv{i}"
        hits = hits.drop("__iid")
    order_cols = [
        (
            F.col(sort_key[i]).asc_nulls_first()
            if d == "asc"
            else F.col(sort_key[i]).desc_nulls_last()
        )
        for i, (_, d) in enumerate(specs)
    ]
    top = hits.orderBy(*order_cols, F.col("doc_id").asc()).limit(k + offset)
    if offset:
        # slice the merged ranking past the page boundary (≤ offset+k
        # rows in the window — the client-merge analog)
        from pyspark.sql import Window

        w = Window.orderBy(*order_cols, F.col("doc_id").asc())
        top = (
            top.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") > offset)
            .drop("__rn")
        )
    if doc_id_col is None:
        src = source.withColumn(
            "doc_id", F.xxhash64(*[F.col(c) for c in id_cols])
        )
    else:
        src = source.withColumn("doc_id", F.col(doc_id_col).cast("long"))
    src = _join_safe_source(src, top.columns)
    out = src.join(F.broadcast(top), "doc_id").orderBy(
        *order_cols, F.col("doc_id").asc()
    )
    out = out.drop(*[f"__sv{i}" for i in range(len(specs))])
    out = out.drop(*[f"__svv{i}" for i in str_ix])
    # column shape matches the join path: doc_id, shard_id, [score], source
    lead = ["doc_id", "shard_id"] + (["score"] if track_scores else [])
    rest = [c for c in out.columns if c not in lead + ["score"]]
    return out.select(*lead, *rest)


def search_grouped(
    spark: SparkSession,
    index: IndexHandle | str,
    query: str,
    group_col: str,
    k_groups: int = 10,
    k_docs: int = 3,
    group_order: str = "relevance",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """Grouped search — the Lucene grouping-module analog
    (TermFirstPassGroupingCollector / TermSecondPassGroupingCollector;
    beyond-Katta, but built from Katta's own two-phase client-merge shape,
    LuceneClient.java:264-286), distributed with per-shard caps and run
    entirely IN-INDEX: the group keys come from the docvalue sidecar, and
    the group VALUES are decoded straight back from the mapped keys
    (codec.u64_to_f64_order / the string rank dictionary), so no stored-
    field join happens at all.

    Returns the top ``k_groups`` groups of ``group_col`` with each
    group's top ``k_docs`` hits and its EXACT total match count.
    ``group_order`` is Lucene's groupSort: 'relevance' (default) orders
    groups by their best hit under the reference tie-break (score desc,
    doc asc, shard desc); 'key_asc' / 'key_desc' order groups by the
    group VALUE (asc: NULLs first, desc: NULLs last — Spark's sort
    conventions). Columns: ``<group_col>, group_total, doc_id, shard_id,
    score`` — group blocks in group order, docs by the tie-break within.
    NULL group values form their own group (SQL GROUP BY semantics).

    Two passes, both bounded exactly like Katta's scatter-gather:

    1. every shard emits its top-``k_groups`` group HEADS (≤ k_groups
       rows/shard — exact: a group in the global top-k_groups has its
       best doc in some shard where at most k_groups-1 other groups'
       shard-bests beat it); the driver merge dedups to the selected
       group set (the Katta client-merge analog, ≤ k_groups·shards rows);
    2. every shard emits its top-``k_docs`` docs PER SELECTED GROUP plus
       its exact per-group count (≤ k_groups·k_docs rows/shard); totals
       sum and a window takes the global per-group top-k_docs — all over
       ≤ k_groups·k_docs·shards rows, never corpus-sized.

    ``filter_df`` composes like in :func:`search_sorted`: the allowed set
    cogroups into the kernels ahead of both passes' caps.

    Single-index only: string group keys are per-index dictionary ranks
    (not comparable across indexes) and the two-pass cap proof assumes
    one docID space.
    """
    if isinstance(index, (list, tuple)):
        raise ValueError(
            "search_grouped is single-index; compact the indexes first "
            "(katta_spark.compact) or group each separately"
        )
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    kinds = index.docvalue_kinds()
    if group_col not in kinds:
        raise ValueError(
            f"group column {group_col!r} is not in the index's docvalue "
            f"sidecar (available: {sorted(kinds)}); rebuild with "
            "docvalue_cols including it"
        )
    if k_groups <= 0 or k_docs <= 0:
        raise ValueError("k_groups and k_docs must be positive")
    korder = {
        "relevance": "score", "key_asc": "key_asc", "key_desc": "key_desc",
    }.get(group_order)
    if korder is None:
        raise ValueError(
            f"group_order must be 'relevance', 'key_asc' or 'key_desc'; "
            f"got {group_order!r}"
        )
    kind = kinds[group_col]
    common = dict(
        k=2**31 - 1, prune=False, ordered=False, score_dtype="float64",
        shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col,
    )
    heads = search(
        spark, index, query,
        _dv_group=(group_col, ("pass1", k_groups, korder)), **common,
    )
    # ≤ k_groups·shards rows — the Katta client-merge analog
    if korder == "score":
        merge_key = lambda r: (-r["score"], r["doc_id"], -r["shard_id"])  # noqa: E731
    elif korder == "key_asc":
        # asc_nulls_first: the NULL group sorts before every key
        merge_key = lambda r: (  # noqa: E731
            0 if r["gnull"] else 1, r["gkey"] if not r["gnull"] else 0,
        )
    else:  # key_desc: keys descending, NULL group last
        merge_key = lambda r: (  # noqa: E731
            1 if r["gnull"] else 0, -r["gkey"] if not r["gnull"] else 0,
        )
    rows = sorted(heads.collect(), key=merge_key)
    order_of: dict[tuple[bool, int], int] = {}
    selected: list[int] = []
    null_selected = False
    for r in rows:
        key = (bool(r["gnull"]), 0 if r["gnull"] else int(r["gkey"]))
        if key in order_of:
            continue
        order_of[key] = len(order_of)
        if key[0]:
            null_selected = True
        else:
            selected.append(key[1])
        if len(order_of) >= k_groups:
            break
    gv_type = {"long": "long", "double": "double", "string": "string"}[kind]
    out_schema = (
        f"{group_col} {gv_type}, group_total long, doc_id long, "
        "shard_id int, score double"
    )
    if not order_of:
        return _local_df(spark, [], None, out_schema)
    hits = search(
        spark, index, query,
        _dv_group=(
            group_col, ("pass2", k_docs, tuple(selected), null_selected),
        ),
        **common,
    )
    # per-(group, shard) the exact count rides every emitted row (and a
    # shard with ≥1 match emits ≥1 row). The totals and the per-group
    # top-k both derive from the kernel output — as two JOINED branches
    # of one plan the pass-2 kernel would execute once PER BRANCH (no
    # exchange reuse under different aggregations of a cogroup kernel;
    # measured 4 kernel instances in the physical plan), so the total
    # rides the rows as a window aggregate instead: gtotal is CONSTANT
    # within a (group, shard), and summing the first row per shard is
    # exactly the old max-per-shard-then-sum, with zero extra kernel
    # passes. The windows run over ≤ k_groups·k_docs·shards rows.
    from pyspark.sql import Window

    w_sh = Window.partitionBy("gnull", "gkey", "shard_id").orderBy(
        F.col("doc_id").asc()
    )
    w_g = Window.partitionBy("gnull", "gkey")
    w = Window.partitionBy("gnull", "gkey").orderBy(
        F.col("score").desc(), F.col("doc_id").asc(), F.col("shard_id").desc()
    )
    gorder = _local_df(
        spark,
        [(gn, gk, i) for (gn, gk), i in order_of.items()],
        ["gnull", "gkey", "__grank"],
        "gnull boolean, gkey long, __grank int",
    )
    out = (
        hits.withColumn("__shrn", F.row_number().over(w_sh))
        .withColumn(
            "group_total",
            F.sum(F.when(F.col("__shrn") == 1, F.col("gtotal"))).over(w_g),
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k_docs)
        .join(F.broadcast(gorder), ["gnull", "gkey"])
    )
    if kind == "long":
        gval = F.when(F.col("gnull"), F.lit(None).cast("long")).otherwise(
            F.col("gkey")
        )
    elif kind == "double":
        from katta_spark.codec import i64_to_u64_order, u64_to_f64_order

        def _inv(s: pd.Series) -> pd.Series:
            return pd.Series(
                u64_to_f64_order(i64_to_u64_order(s.to_numpy(np.int64)))
            )

        inv = F.pandas_udf(_inv, "double")
        gval = F.when(F.col("gnull"), F.lit(None).cast("double")).otherwise(
            inv(F.col("gkey"))
        )
    else:  # string: rank → value through the persisted dictionary; the
        # selected ranks are already known DRIVER-SIDE from the pass-1
        # merge, so they prune the dictionary scan as a pushed isin
        # predicate — deriving them from `out` instead (the old
        # semi-join) re-executed the whole pass-2 kernel under the
        # broadcast, and pass 2 only ever emits the selected groups, so
        # the two row sets are identical
        from katta_spark.docvalues import strings_path as _dv_strings

        ddf = index._rel(
            spark, os.path.join(_dv_strings(index.index_dir), f"col={group_col}")
        ).select(F.col("rank").alias("gkey"), F.col("value").alias("__gv"))
        wanted = ddf.where(F.col("gkey").isin(selected))
        out = out.join(F.broadcast(wanted), "gkey", "left")
        gval = F.when(F.col("gnull"), F.lit(None).cast("string")).otherwise(
            F.col("__gv")
        )
    return (
        out.withColumn(group_col, gval)
        .orderBy(
            "__grank",
            F.col("score").desc(),
            F.col("doc_id").asc(),
            F.col("shard_id").desc(),
        )
        .select(group_col, "group_total", "doc_id", "shard_id", "score")
    )


def search_batch(
    spark: SparkSession,
    index: "IndexHandle | str",
    queries: "list[str | dict]",
    k: int = 10,
    score_dtype: str = "float32",
) -> DataFrame:
    """Execute MANY queries in ONE Spark job — the throughput shape of the
    reference's query benchmark (LuceneSearchPerformanceTest.java:20-45
    fires a whole query batch and measures aggregate QPS; Katta amortizes
    per-query cost across its node fleet, Spark amortizes the per-job
    fixed cost across the batch).

    Returns DataFrame(query_id, doc_id, shard_id, score) with ≤ k rows per
    query, ordered by (query_id, score DESC, doc_id ASC, shard_id DESC).

    Plan: ONE postings scan pruned to the UNION of all queries' terms →
    per-shard kernel decodes each distinct term once and scores every
    query against it → ≤ |queries|·k rows per shard → one tiny window
    per query_id for the global merge.

    Query surface: flat terms, ``+``/``-`` boolean clauses, phrases
    (in-index positional verify, like :func:`search`), AND/OR/NOT
    grouping, and the dictionary rewrites (wildcard/fuzzy/range — each
    expanded once driver-side, then batched like flat terms). The same
    clause-combination guards as search() apply per query.

    A batch entry may also be a dict ``{"q": <query string>,
    "min_should_match": m, "synonyms": {...}}`` carrying the per-query
    clause options of :func:`search` — semantics identical to the
    single-query path (a synonym group scores as one blended pseudo-term
    and counts as one msm clause)."""
    from pyspark.sql import Window

    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    index._record_query()
    # tombstoned docs masked at decode time for every batched query
    # (liveDocs; see search())
    deny = _deny_handle(spark, index)
    sql_t = "float" if score_dtype == "float32" else "double"
    out_schema = f"query_id int, shard_id int, doc_id long, score {sql_t}"
    # Per-query plan: ("flat", qweights, must, must_not, phrases) |
    # ("tree", tree). Routing mirrors search() exactly (same guards, same
    # rewrite paths).
    plans: list[tuple] = []
    for entry in queries:
        if isinstance(entry, dict):
            qstr = entry["q"]
            q_msm = int(entry.get("min_should_match", 0) or 0)
            q_syns = entry.get("synonyms") or None
            if q_msm < 0:
                raise ValueError(
                    f"min_should_match must be >= 0, got {q_msm}"
                )
        else:
            qstr, q_msm, q_syns = entry, 0, None
        qstr = fold_spaced_fields(qstr)
        unquoted = _re_mod.sub(r'"[^"]*"(~\d+)?(\^\d+(?:\.\d+)?)?', " ", qstr)
        has_phrase = unquoted != qstr
        if (q_msm or q_syns) and (
            _TREE_RE.search(unquoted)
            or _RANGE_RE.search(unquoted)
            or "*" in unquoted
            or "~" in unquoted
            or "?" in unquoted
        ):
            raise ValueError(
                "min_should_match/synonyms apply to analyzed term clauses "
                "only — not to AND/OR/NOT grouping or wildcard/fuzzy/"
                "range rewrites"
            )
        if (
            "*" in unquoted
            or "~" in unquoted
            or "?" in unquoted
            or _RANGE_RE.search(unquoted)
        ):
            if _TREE_RE.search(unquoted):
                raise ValueError(
                    "wildcard/fuzzy/range clauses cannot be combined with "
                    "AND/OR/NOT grouping"
                )
            if has_phrase:
                raise ValueError(
                    "phrases cannot be combined with wildcard/fuzzy/range "
                    "clauses"
                )
            plans.append(
                ("flat", expand_ranges(spark, index, qstr), frozenset(),
                 frozenset(), (), 0, ())
            )
        elif _TREE_RE.search(unquoted):
            if has_phrase:
                raise ValueError(
                    "phrases cannot be combined with AND/OR/NOT grouping"
                )
            tree, _ = parse_tree_query(qstr, index.keyword_fields)
            plans.append(("tree", tree))
        else:
            qw, must, must_not, ph = parse_bool_query(
                qstr, index.keyword_fields
            )
            groups = _resolve_syn_groups(
                spark, index, q_syns, qw, must, must_not, ph
            )
            plans.append(
                ("flat", qw, frozenset(must), frozenset(must_not),
                 tuple(ph), q_msm, tuple(groups))
            )

    def _plan_terms(plan) -> set:
        if plan[0] == "tree":
            pos_s, neg_s = tree_terms(plan[1])
            return pos_s | neg_s
        return (
            set(plan[1])
            | set(plan[3])
            | {m for _, _, members in plan[6] for m in members}
        )

    phrase_terms = {
        t
        for plan in plans
        if plan[0] == "flat"
        for toks, _ in plan[4]
        for t in toks
    }

    if phrase_terms and not index.positions:
        raise ValueError(
            f"phrase query in batch against index {index.index_dir!r} "
            "built with positions=False (omitted term positions) — "
            "rebuild with positions=True to run phrase/slop queries"
        )
    all_terms = sorted({t for plan in plans for t in _plan_terms(plan)})
    if not all_terms or k <= 0:
        return _local_df(spark, [], None, out_schema)
    hashes = sorted(term_hash(t) for t in all_terms)
    n_docs, avgdl = float(index.n_docs), index.avgdl

    # NOTE: mirrors search()'s _stats_for_query fetch contract (pushed
    # In(th) under the threshold, broadcast semi-join above it, th+term
    # double predicate as the hash-collision guard) — keep the two in step.
    bcols = _KERNEL_COLS + (["positions"] if phrase_terms else [])
    postings = index.postings(spark)
    if len(hashes) <= _ISIN_MAX_TERMS:
        postings = postings.where(F.col("th").isin(hashes)).select(*bcols)
        stats_small = (
            index.stats(spark)
            .where(F.col("th").isin(hashes) & F.col("term").isin(all_terms))
            .select("th", "term", F.col("df").alias("df_g"))
        )
    else:
        q_df = _local_df(
            spark, [(term_hash(t), t) for t in all_terms], ["th", "term"],
            "th long, term string",
        )
        stats_small = (
            index.stats(spark)
            .join(F.broadcast(q_df), ["th", "term"], "left_semi")
            .select("th", "term", F.col("df").alias("df_g"))
        )
        postings = postings.select(*bcols)
    postings = postings.join(F.broadcast(stats_small), "th")

    def _empty_batch() -> pd.DataFrame:
        return pd.DataFrame(
            {
                "query_id": pd.array([], dtype="int32"),
                "shard_id": pd.array([], dtype="int32"),
                "doc_id": pd.array([], dtype="int64"),
                "score": pd.array([], dtype=score_dtype),
            }
        )

    syn_member_terms = {
        m
        for plan in plans
        if plan[0] == "flat"
        for _, _, members in plan[6]
        for m in members
    }

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return _empty_batch()
        shard_id = int(pdf["shard_id"].iloc[0])
        dny = _deny_val(deny)
        idf_col = scoring.idf_np(pdf["df_g"].to_numpy(np.float64), n_docs)
        decoded: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        pos_data: dict[str, tuple] = {}
        # raw (docs, tfs, doclens) kept for synonym members — blending
        # sums tfs BEFORE the nonlinear tf_norm
        raw_tfdl: dict[str, tuple] = {}
        for row, idf in zip(pdf.itertuples(index=False), idf_col):
            d, t, l = decode_posting_list(row.doc_ids, row.tfs, row.doclens)
            if row.term in phrase_terms:
                # FULL per-doc positions, captured pre-mask (phrase verify
                # runs over already-masked candidates only)
                pos_data[row.term] = (d, t, decode_positions(row.positions, t))
            if dny is not None:
                keep = ~np.isin(d, dny)
                d, t, l = d[keep], t[keep], l[keep]
            if row.term in syn_member_terms:
                raw_tfdl[row.term] = (d, t, l)
            decoded[row.term] = (
                d,
                idf * scoring.tf_norm_np(t, l, avgdl),
            )
        out_q, out_d, out_s = [], [], []
        for qi, plan in enumerate(plans):
            if plan[0] == "tree":
                docs_u, s64, _ = _eval_tree_scores(plan[1], decoded)
                if docs_u is None or docs_u.size == 0:
                    continue
                sc = s64.astype(score_dtype)
            else:
                _, qw, must, must_not, phrases, q_msm, groups = plan
                members_here = {
                    m for _, _, mem in groups for m in mem
                }
                present = [
                    t for t in qw
                    if t in decoded and t not in members_here
                ]
                # blended synonym groups: member docs unioned, tfs SUMMED,
                # one contribution with idf(max member global df)
                gdocs_list: list[np.ndarray] = []
                gcontrib_list: list[np.ndarray] = []
                for weight, gdf, mem in groups:
                    parts = [raw_tfdl[m] for m in mem if m in raw_tfdl]
                    if not parts:
                        continue
                    gd = np.concatenate([p[0] for p in parts])
                    gt = np.concatenate([p[1] for p in parts]).astype(
                        np.float64
                    )
                    gl = np.concatenate([p[2] for p in parts]).astype(
                        np.float64
                    )
                    order = np.argsort(gd, kind="stable")
                    gd, gt, gl = gd[order], gt[order], gl[order]
                    starts = np.flatnonzero(
                        np.concatenate([[True], gd[1:] != gd[:-1]])
                    )
                    tf_sum = np.add.reduceat(gt, starts)
                    gd, gl = gd[starts], gl[starts]
                    gidf = float(
                        scoring.idf_np(
                            np.array([gdf], np.float64), n_docs
                        )[0]
                    )
                    gdocs_list.append(gd)
                    gcontrib_list.append(
                        weight * gidf * scoring.tf_norm_np(tf_sum, gl, avgdl)
                    )
                if (
                    not present
                    and not gdocs_list
                ) or any(t not in decoded for t in must):
                    continue
                docs_cat = np.concatenate(
                    [decoded[t][0] for t in present] + gdocs_list
                )
                contribs = np.concatenate(
                    [qw[t] * decoded[t][1] for t in present]
                    + gcontrib_list
                )
                docs_u, inv = np.unique(docs_cat, return_inverse=True)
                scores = np.zeros(docs_u.size, dtype=np.float64)
                np.add.at(scores, inv, contribs)
                keep = np.ones(docs_u.size, dtype=bool)
                for t in must:
                    keep &= np.isin(docs_u, decoded[t][0])
                for t in must_not:
                    if t in decoded:
                        keep &= ~np.isin(docs_u, decoded[t][0])
                if q_msm > 0:
                    phr_toks = {t for toks, _ in phrases for t in toks}
                    should = [
                        t for t in qw
                        if t not in must
                        and t not in phr_toks
                        and t not in members_here
                    ]
                    if q_msm > len(should) + len(groups):
                        continue  # MatchNoDocsQuery rewrite
                    cnt = np.zeros(docs_u.size, dtype=np.int64)
                    for t in should:
                        if t in decoded:
                            cnt += np.isin(docs_u, decoded[t][0])
                    for gd in gdocs_list:
                        cnt += np.isin(docs_u, gd)
                    keep &= cnt >= q_msm
                docs_u, scores = docs_u[keep], scores[keep]
                for toks, slop in phrases:
                    if docs_u.size == 0:
                        break
                    pm = _phrase_match_mask(docs_u, toks, slop, pos_data)
                    docs_u, scores = docs_u[pm], scores[pm]
                if docs_u.size == 0:
                    continue
                sc = scores.astype(score_dtype)
            if docs_u.size > k:
                order = np.lexsort((docs_u, -sc.astype(np.float64)))[:k]
                docs_u, sc = docs_u[order], sc[order]
            out_q.append(np.full(docs_u.size, qi, dtype=np.int32))
            out_d.append(docs_u)
            out_s.append(sc)
        if not out_q:
            return _empty_batch()
        qs = np.concatenate(out_q)
        return pd.DataFrame(
            {
                "query_id": qs,
                "shard_id": np.full(qs.size, shard_id, dtype=np.int32),
                "doc_id": np.concatenate(out_d),
                "score": pd.array(np.concatenate(out_s), dtype=score_dtype),
            }
        )

    hits = postings.groupBy("shard_id").applyInPandas(kernel, out_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc(), F.col("shard_id").desc()
    )
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy(
            "query_id",
            F.col("score").desc(),
            F.col("doc_id").asc(),
            F.col("shard_id").desc(),
        )
    )


def _live_tombstone_count(
    spark: SparkSession, h: "IndexHandle", dead: "np.ndarray | None"
) -> int:
    """Number of tombstoned docIDs that actually EXIST in ``h`` — decoded
    from the doc-marker (sentinel) postings, the index's authoritative
    docID set (build.py SENTINEL_HASHES: one marker posting row per
    (shard, doc_id % SENTINEL_SALT) slice, every doc in exactly one).
    The scan is th-pruned to the dead ids' own sentinel slices — bounded
    by |touched slices| x slice size (<= min(|dead|, SENTINEL_SALT)
    slices of ~n_docs/SENTINEL_SALT ids per shard), never a full-corpus
    postings scan; an empty tombstone set costs zero jobs. The dead-id
    array rides the handle's memoized deny broadcast (_deny_handle), so
    repeated counts on a tombstoned index never re-ship it."""
    if dead is None or dead.size == 0:
        return 0
    from katta_spark.build import SENTINEL_HASHES, SENTINEL_SALT

    slices = np.unique(dead % np.int64(SENTINEL_SALT))
    hashes = [int(SENTINEL_HASHES[int(s)]) for s in slices]
    rows = (
        h.postings(spark)
        .where(F.col("th").isin(hashes))
        .select("doc_ids", "tfs", "doclens")
    )
    bc = _deny_handle(spark, h)

    def kern(batches):
        dny = _deny_val(bc)
        n = 0
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                docs = decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
                n += int(np.intersect1d(dny, docs).size)
        yield pd.DataFrame({"n": [n]})

    out = (
        rows.mapInPandas(kern, "n long")
        .agg(F.sum("n").alias("t"))
        .collect()[0]
    )
    return int(out["t"] or 0)


def count_matches(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
) -> int:
    """Hit-count fast path (Katta getResultCount, LuceneServer.java:413-423):
    number of docs matching the PARSED query — no scores materialized.
    Flat queries count docs matching ≥1 term (OR); ``min_should_match``
    raises that floor to ≥m distinct optional clauses and ``synonyms``
    counts through the blended groups — both via the search kernels'
    exact totals, so the counted set matches search() exactly.

    A LIST of indexes counts across all of them (Katta's count() sums
    per-node results over every searched index, LuceneClient.java:225-251):
    match counting needs no stats, so the postings streams simply bag-union
    with offset shard ids.

    Queries with boolean clauses (``+``/``-``, phrases, AND/OR/NOT
    grouping) delegate to the search kernels' exact shard totals — Katta's
    count() likewise counts the PARSED query's matches, not term-OR
    matches (phrases verify in-index against the positional postings)."""
    handles = (
        [IndexHandle.open(spark, ix) if isinstance(ix, str) else ix for ix in index]
        if isinstance(index, (list, tuple))
        else [IndexHandle.open(spark, index) if isinstance(index, str) else index]
    )
    all_kw = tuple({f for h in handles for f in h.keyword_fields})
    query = fold_spaced_fields(query)
    if query.strip() == "*:*":
        # MatchAllDocsQuery — Lucene QueryParser's *:* production; the
        # classic "how many docs are deployed" probe
        # (client.count(new MatchAllDocsQuery())). min_should_match /
        # synonyms refuse exactly like search() does for any '*' query.
        if min_should_match or synonyms:
            raise ValueError(
                "min_should_match/synonyms apply to analyzed term clauses "
                "only — not to MatchAllDocsQuery (*:*)"
            )
        # Counted from the corpus scalars minus the tombstones that
        # reference REAL docs: delete_docs accepts ids absent from the
        # index ("ignored at query time", delete.py) — Lucene's
        # numDocs = maxDoc - numDeletedDocs is likewise unmoved by
        # deleting a non-matching term, so phantom tombstones must not
        # shift the match-all count. Tombstone-free indexes stay zero-job.
        return sum(
            int(h.n_docs)
            - _live_tombstone_count(spark, h, h.deleted_array(spark))
            for h in handles
        )
    if (
        '"' in query
        or _TREE_RE.search(query)
        or "*" in query
        or "~" in query
        or "?" in query
        or _RANGE_RE.search(query)
        or any(tok[0] in "+-" and len(tok) > 1 for tok in query.split())
        or min_should_match > 0
        or bool(synonyms)
        # tombstones: the search kernels' totals already skip deleted
        # docs (liveDocs), so a tombstoned index counts through them too
        or any(h.has_tombstones() for h in handles)
    ):
        # non-flat query: the search kernels' exact totals ARE the count
        # (rewrites expand against the dictionary there — per index when
        # several are searched, via search_multi's per-index expansion)
        multi = handles if len(handles) > 1 else handles[0]
        rows = search_with_total(
            spark, multi, query, k=1,
            min_should_match=min_should_match, synonyms=synonyms,
        ).collect()
        return int(rows[0]["total_hits"]) if rows else 0
    terms = sorted(parse_query(query, all_kw))
    if not terms:
        return 0
    hashes = [term_hash(t) for t in terms]
    parts = []
    offset = 0
    for h in handles:
        parts.append(
            h.postings(spark)
            .where(F.col("th").isin(hashes))
            .select("shard_id", "doc_ids", "tfs", "doclens")
            .withColumn(
                "shard_id", (F.col("shard_id") + F.lit(offset)).cast("int")
            )
        )
        offset += h.num_shards
    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = [decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
                for r in pdf.itertuples(index=False)]
        n = int(np.unique(np.concatenate(docs)).size) if docs else 0
        return pd.DataFrame({"shard_id": [int(pdf["shard_id"].iloc[0])], "n": [n]})

    per_shard = postings.groupBy("shard_id").applyInPandas(
        kernel, "shard_id int, n long"
    )
    row = per_shard.agg(F.sum("n").alias("total")).collect()[0]
    return int(row["total"] or 0)


def facet_counts(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    field: str,
    k: int = 10,
    mode: str = "or",
    shard_ids: list[int] | None = None,
) -> DataFrame:
    """(value, count): matching-document counts per value of NOT_ANALYZED
    keyword ``field`` — faceted search, the standard Lucene-consumer
    aggregation layered over a Katta deployment (the reference returns
    stored fields via getDetails, LuceneServer.java:390-410, and leaves
    grouping to the caller; counting in-index avoids materializing any
    per-document rows at all). Top-k facet values by (count DESC,
    value ASC); values with zero matching docs are omitted (Lucene facet
    convention). A LIST of indexes (base + streaming deltas, Katta's
    multi-index search surface) facets across all of them: the inputs are
    doc-disjoint, so per-index counts simply sum per value.

    In-index dataflow: the query terms' postings and the facet field's
    value postings (a stats-table slice scoped by the ``field:`` term
    prefix) cogroup PER SHARD; each kernel builds the shard's matching
    doc set (union for mode='or', intersection for 'and') and intersects
    it with every value's sorted doc list (np.intersect1d on unique
    sorted arrays), emitting one (value, n) row per value per shard —
    output is |values| x shards rows, never per-doc. Per-shard counts sum
    (a doc lives in exactly one shard) and TakeOrderedAndProject merges
    the top-k. Flat term queries only — rewrites/phrases/trees are
    refused (their match sets live in the scoring kernels; compose via
    search + get_details groupBy for those).
    """
    if isinstance(index, (list, tuple)):
        if len(index) == 0:
            raise ValueError("facet_counts needs at least one index")
        if len(index) > 1:
            parts = [
                facet_counts(spark, ix, query, field, k=2**31 - 1,
                             mode=mode, shard_ids=shard_ids)
                for ix in index
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return (
                out.groupBy("value")
                .agg(F.sum("count").alias("count"))
                .orderBy(F.desc("count"), F.asc("value"))
                .limit(k)
            )
        index = index[0]
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    # tombstoned docs never count toward a facet value (Lucene facets
    # consult liveDocs); counts use the live match set
    deny = _deny_handle(spark, h)
    if field not in h.keyword_fields:
        raise ValueError(
            f"field {field!r} is not a keyword field of this index "
            f"(declared: {sorted(h.keyword_fields)})"
        )
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    query = fold_spaced_fields(query)
    if (
        '"' in query
        or _TREE_RE.search(query)
        or "*" in query
        or "~" in query
        or "?" in query
        or _RANGE_RE.search(query)
        or any(tok[0] in "+-" and len(tok) > 1 for tok in query.split())
    ):
        raise ValueError(
            "facet_counts supports flat term queries; for boolean/"
            "phrase/rewrite queries compose search() + get_details() and "
            "group client-side"
        )
    terms = sorted(set(parse_query(query, h.keyword_fields)))
    out_schema = "value string, count long"
    if not terms:
        return spark.createDataFrame([], out_schema)
    q_hashes = [term_hash(t) for t in terms]
    n_terms = len(q_hashes)
    prefix = field + ":"  # build.FIELD_SEP — keyword terms are "field:value"
    facet_terms = (
        h.stats(spark)
        .where(F.col("term").startswith(prefix))
        .select("th", F.expr(f"substring(term, {len(prefix) + 1})").alias("value"))
    )
    cols = ["shard_id", "th", "doc_ids", "tfs", "doclens"]
    left = h.postings(spark).where(F.col("th").isin(q_hashes)).select(*cols)
    # fresh=True: left and right are the SAME relation on two sides of a
    # cogroup — the memoized frame would carry identical attribute ids
    # into both and trip Spark's ambiguous-self-join check
    right = h.postings(spark, fresh=True).join(
        F.broadcast(facet_terms.select("th")), "th"
    ).select(*cols)
    if shard_ids is not None:
        left = left.where(F.col("shard_id").isin(list(shard_ids)))
        right = right.where(F.col("shard_id").isin(list(shard_ids)))
    conj = mode == "and"

    def kernel(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return pd.DataFrame({"th": [], "n": []})
        per_term: dict[int, list[np.ndarray]] = {}
        for r in lpdf.itertuples(index=False):
            per_term.setdefault(int(r.th), []).append(
                decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
            )
        if conj:
            if len(per_term) < n_terms:
                return pd.DataFrame({"th": [], "n": []})
            matches = None
            for arrs in per_term.values():
                docs = np.unique(np.concatenate(arrs))
                matches = docs if matches is None else np.intersect1d(
                    matches, docs, assume_unique=True
                )
                if matches.size == 0:
                    return pd.DataFrame({"th": [], "n": []})
        else:
            matches = np.unique(
                np.concatenate([a for arrs in per_term.values() for a in arrs])
            )
        dny = _deny_val(deny)
        if dny is not None:
            matches = matches[~np.isin(matches, dny)]
            if matches.size == 0:
                return pd.DataFrame({"th": [], "n": []})
        ths, ns = [], []
        for r in rpdf.itertuples(index=False):
            docs_v = decode_posting_list(r.doc_ids, r.tfs, r.doclens)[0]
            n = int(np.intersect1d(docs_v, matches, assume_unique=True).size)
            if n:
                ths.append(int(r.th))
                ns.append(n)
        return pd.DataFrame({"th": ths, "n": ns})

    per_shard = (
        left.groupBy("shard_id")
        .cogroup(right.groupBy("shard_id"))
        .applyInPandas(kernel, "th long, n long")
    )
    return (
        per_shard.groupBy("th")
        .agg(F.sum("n").alias("count"))
        .join(F.broadcast(facet_terms), "th")
        .select("value", "count")
        .orderBy(F.desc("count"), F.asc("value"))
        .limit(k)
    )


def _dv_numeric_kind(h: IndexHandle, col: str) -> str:
    """The docvalue kind of ``col``, refusing strings — range facets and
    match stats are numeric operators (Lucene Long/DoubleRangeFacetCounts;
    string sidecar values are per-index dictionary RANKS, meaningless to
    sum or bin)."""
    kinds = h.docvalue_kinds()
    if col not in kinds:
        raise ValueError(
            f"column {col!r} is not in the index's docvalue sidecar "
            f"(available: {sorted(kinds)}); rebuild with docvalue_cols "
            "including it"
        )
    if kinds[col] == "string":
        raise ValueError(
            f"column {col!r} is a string docvalue; facet_ranges/"
            "match_stats are numeric operators (use facet_counts or "
            "search_grouped for string fields)"
        )
    return kinds[col]


_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1


def _mapped_point(v, kind: str) -> int:
    """A range edge mapped into the sidecar's order-preserving i64 key
    space (identity for integral kinds; the float bijection for doubles).
    date/timestamp docvalue columns store unix_date / unix_micros — edges
    for them are those integers."""
    if isinstance(v, float) and v != v:
        raise ValueError("range edges cannot be NaN")
    if kind == "long":
        return int(v)
    u = f64_to_u64_order(np.asarray([float(v)], dtype=np.float64))
    return int(u64_to_i64_order(u)[0])


def _resolve_ranges(ranges, kind: str):
    """(labels, [(ge, le), ...]) — each input range resolved to a CLOSED
    interval in mapped i64 key space. Accepts (label, lo, hi) with
    half-open [lo, hi) semantics, or (label, lo, hi, lo_incl, hi_incl)
    with explicit inclusivity (Lucene LongRange's minInclusive /
    maxInclusive); lo=None / hi=None open the end (an open top excludes
    NaN for double columns — Lucene ranges never match NaN). The mapped
    keys are integers under a strictly monotonic bijection, so
    exclusive bounds shift by exactly one key: >lo ⇔ ≥lo+1, <hi ⇔ ≤hi-1."""
    if not ranges:
        raise ValueError("facet_ranges needs at least one range")
    labels: list[str] = []
    bounds: list[tuple[int, int]] = []
    for r in ranges:
        if not isinstance(r, (tuple, list)) or not 3 <= len(r) <= 5:
            raise ValueError(
                "each range is (label, lo, hi) or "
                "(label, lo, hi, lo_incl, hi_incl); got "
                f"{r!r}"
            )
        label, lo, hi = r[0], r[1], r[2]
        lo_incl = bool(r[3]) if len(r) > 3 else True
        hi_incl = bool(r[4]) if len(r) > 4 else False
        if lo is not None and hi is not None and float(lo) > float(hi):
            raise ValueError(f"range {label!r}: lo {lo!r} > hi {hi!r}")
        if lo is None:
            ge = _I64_MIN
        else:
            ge = _mapped_point(lo, kind) + (0 if lo_incl else 1)
        if hi is None:
            le = (
                _mapped_point(float("inf"), kind)
                if kind == "double"
                else _I64_MAX
            )
        else:
            le = _mapped_point(hi, kind) - (0 if hi_incl else 1)
        labels.append(str(label))
        bounds.append((
            max(_I64_MIN, min(_I64_MAX, ge)),
            max(_I64_MIN, min(_I64_MAX, le)),
        ))
    return labels, bounds


def _dv_agg_common(index, query_kw: dict):
    """(handles, list_input) — normalize the index argument for the dv
    aggregate operators and fold their shared search() kwargs."""
    ihs = index if isinstance(index, (list, tuple)) else [index]
    if not ihs:
        raise ValueError("need at least one index")
    query_kw.update(
        k=2**31 - 1, prune=False, ordered=False, score_dtype="float64",
    )
    return list(ihs)


def facet_ranges(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    col: str,
    ranges: list,
    mode: str = "or",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """(label, count): matching-document counts per declared numeric range
    of docvalue column ``col`` — the Lucene facet-module
    LongRangeFacetCounts / DoubleRangeFacetCounts analog (beyond-Katta,
    layered over Katta's scatter-gather shape exactly like facet_counts;
    the reference leaves aggregation to the Lucene consumer).

    ``ranges``: (label, lo, hi) half-open [lo, hi), or (label, lo, hi,
    lo_incl, hi_incl) with explicit inclusivity; None opens an end.
    Ranges may OVERLAP (each doc counts in every range containing it —
    the Lucene contract) and every declared range appears in the output,
    zero counts included, in declaration order. Docs whose ``col`` is
    NULL count in no range. For date/timestamp docvalue columns the
    sidecar stores unix_date / unix_micros — pass edges in those units.

    Unlike facet_counts, the FULL query surface applies (boolean/
    phrase/tree/rewrites): the match set comes from the standard scoring
    kernels with pruning disabled, cogrouped with the docvalue sidecar
    (_make_dv_agg_cog) — per shard only the non-empty (range, count)
    partials leave the kernel, so cost is one postings+sidecar scan at
    any corpus size. ``filter_df`` and deletion tombstones compose like
    in search(). A LIST of doc-disjoint indexes sums per-range counts
    (numeric mapped keys are globally comparable across indexes)."""
    kw = dict(
        mode=mode, shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col,
    )
    ihs = _dv_agg_common(index, kw)
    ihs = [
        IndexHandle.open(spark, ix) if isinstance(ix, str) else ix
        for ix in ihs
    ]
    kind = _dv_numeric_kind(ihs[0], col)
    for h in ihs[1:]:
        if _dv_numeric_kind(h, col) != kind:
            raise ValueError(
                f"column {col!r} has kind {kind!r} in one index and "
                f"{_dv_numeric_kind(h, col)!r} in another — range edges "
                "cannot map consistently"
            )
    labels, bounds = _resolve_ranges(ranges, kind)
    spec = ("ranges", tuple(bounds))
    parts = None
    for h in ihs:
        p = search(
            spark, h, query,
            _dv_agg=(col, spec, kind, _DV_RANGES_SCHEMA), **kw,
        )
        parts = p if parts is None else parts.unionByName(p)
    ldf = _local_df(
        spark,
        [(i, lab) for i, lab in enumerate(labels)],
        ["ridx", "label"],
        "ridx int, label string",
    )
    return (
        ldf.join(
            parts.groupBy("ridx").agg(F.sum("n").alias("count")),
            "ridx",
            "left",
        )
        .select(
            "ridx", "label",
            F.coalesce(F.col("count"), F.lit(0)).cast("long").alias("count"),
        )
        .orderBy("ridx")
        .select("label", "count")
    )


def match_stats(
    spark: SparkSession,
    index: "IndexHandle | str | list[IndexHandle | str]",
    query: str,
    col: str,
    mode: str = "or",
    shard_ids: list[int] | None = None,
    filter_df: DataFrame | None = None,
    filter_doc_col: str = "doc_id",
) -> DataFrame:
    """One row of summary statistics of docvalue column ``col`` over the
    query's matching documents — the Solr StatsComponent analog
    (count/missing/min/max/sum/mean/stddev), run entirely IN-INDEX: each
    shard kernel collapses its match set to a constant-size partial
    (_make_dv_agg_cog 'stats' mode), partials combine associatively, and
    min/max map back to original values through the order-preserving
    bijection — no stored-field join, no per-doc rows past the kernels.

    Columns: ``count`` (matched docs with a value), ``missing`` (matched
    docs whose ``col`` is NULL), ``vmin``/``vmax``/``vsum`` (typed by the
    column kind — exact int64 sum for integral columns), ``mean``,
    ``stddev`` (sample stddev, NULL when count < 2). count=0 leaves
    vmin/vmax/mean/stddev NULL and vsum 0 (the empty sum). The full
    query surface applies; ``filter_df``, ``shard_ids`` and deletion
    tombstones compose like in search(). A LIST of doc-disjoint indexes
    combines partials across all of them."""
    kw = dict(
        mode=mode, shard_ids=shard_ids, filter_df=filter_df,
        filter_doc_col=filter_doc_col,
    )
    ihs = _dv_agg_common(index, kw)
    ihs = [
        IndexHandle.open(spark, ix) if isinstance(ix, str) else ix
        for ix in ihs
    ]
    kind = _dv_numeric_kind(ihs[0], col)
    for h in ihs[1:]:
        if _dv_numeric_kind(h, col) != kind:
            raise ValueError(
                f"column {col!r} has kind {kind!r} in one index and "
                f"{_dv_numeric_kind(h, col)!r} in another"
            )
    parts = None
    for h in ihs:
        p = search(
            spark, h, query,
            _dv_agg=(col, ("stats",), kind, _DV_STATS_SCHEMA), **kw,
        )
        parts = p if parts is None else parts.unionByName(p)
    g = parts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("count"),
        F.coalesce(F.sum("missing"), F.lit(0)).cast("long").alias("missing"),
        F.min("kmin").alias("kmin"),
        F.max("kmax").alias("kmax"),
        F.coalesce(F.sum("sum_l"), F.lit(0)).cast("long").alias("sum_l"),
        F.coalesce(F.sum("sum_d"), F.lit(0.0)).alias("sum_d"),
        F.coalesce(F.sum("sumsq"), F.lit(0.0)).alias("sumsq"),
    )
    cnt = F.col("count")
    mean = F.when(cnt > 0, F.col("sum_d") / cnt)
    # sample variance from the sum/sumsq partials; clamped at 0 against
    # float round-off on near-constant columns
    stddev = F.when(
        cnt > 1,
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (F.col("sumsq") - F.col("sum_d") * F.col("sum_d") / cnt)
                / (cnt - 1),
            )
        ),
    )
    if kind == "double":

        def _inv(s: pd.Series) -> pd.Series:
            # null-safe: when() masks the fill value back to NULL
            arr = s.fillna(0).to_numpy(np.int64)
            return pd.Series(u64_to_f64_order(i64_to_u64_order(arr)))

        inv = F.pandas_udf(_inv, "double")
        vmin = F.when(cnt > 0, inv(F.col("kmin")))
        vmax = F.when(cnt > 0, inv(F.col("kmax")))
        vsum = F.col("sum_d")
    else:
        vmin = F.when(cnt > 0, F.col("kmin"))
        vmax = F.when(cnt > 0, F.col("kmax"))
        vsum = F.col("sum_l")
    return g.select(
        cnt.alias("count"),
        F.col("missing"),
        vmin.alias("vmin"),
        vmax.alias("vmax"),
        vsum.alias("vsum"),
        mean.alias("mean"),
        stddev.alias("stddev"),
    )


def suggest_terms(
    spark: SparkSession,
    index: "IndexHandle | str",
    word: str,
    k: int = 5,
    max_edits: int = 2,
) -> DataFrame:
    """(term, df, distance): did-you-mean suggestions — the Lucene contrib
    SpellChecker analog (suggestSimilar; Katta bundles Lucene 3.x contrib
    and leaves spell-correction to the consumer): dictionary terms within
    ``max_edits`` Levenshtein of the analyzed ``word``, ranked
    (distance ASC, df DESC, term ASC), the word itself excluded.

    One pushed, vocab-sized dictionary scan: length prefilter then the
    BOUNDED levenshtein (threshold form returns -1 past max_edits, so the
    scan never pays full edit-distance on wildly different terms) —
    exactly the fuzzy-rewrite scan shape (expand_wildcards). Keyword
    ``field:value`` terms are excluded (suggestions are analyzed tokens).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    if not 1 <= max_edits <= 2:
        raise ValueError("max_edits must be 1 or 2 (Lucene fuzzy cap)")
    toks = tokenize_str(word)
    if len(toks) != 1:
        raise ValueError(
            f"suggest_terms takes one analyzed term; {word!r} analyzed to "
            f"{toks!r}"
        )
    w = toks[0]
    return (
        h.stats(spark)
        .where(~F.col("term").contains(":"))
        .where(F.col("term") != w)
        .where(F.abs(F.length("term") - F.lit(len(w))) <= F.lit(max_edits))
        .withColumn(
            "distance", F.levenshtein(F.col("term"), F.lit(w), max_edits)
        )
        .where(F.col("distance") >= 0)
        .orderBy(F.asc("distance"), F.desc("df"), F.asc("term"))
        .select("term", "df", "distance")
        .limit(k)
    )


def more_like_this(
    spark: SparkSession,
    index: "IndexHandle | str",
    text: str,
    k: int = 10,
    max_query_terms: int = 16,
    min_tf: int = 1,
    boost: bool = False,
    exclude_doc_id: int | None = None,
) -> DataFrame:
    """Top-k documents similar to ``text`` — the Lucene contrib
    MoreLikeThis analog (Katta bundles Lucene 3.x contrib; MLT is the
    classic find-similar feature its consumers run): extract the text's
    most characteristic terms by tf·idf against THIS index's corpus
    statistics, then run them as an OR query through the normal BM25
    path.

    Term selection is driver-side and bounded (one document's distinct
    terms — the same budget as query parsing): tf from the analyzed
    text, df from a pushed stats-table probe, score = tf · ln(n_docs/df),
    top ``max_query_terms`` by (score DESC, term ASC). ``boost=True``
    carries each term's tf·idf weight into the query via the ^boost
    syntax (MoreLikeThis.setBoost analog); default False matches
    Lucene's default. ``exclude_doc_id`` drops the seed document from
    the results (find-similar excludes self).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    if max_query_terms < 1:
        raise ValueError("max_query_terms must be >= 1")
    from collections import Counter

    tf = Counter(tokenize_str(text))
    tf = Counter({t: c for t, c in tf.items() if c >= min_tf})
    if not tf:
        return spark.createDataFrame([], "doc_id long, shard_id int, score float")
    dfs = {
        r["term"]: r["df"]
        for r in h.stats(spark)
        .where(F.col("term").isin(list(tf)))
        .select("term", "df")
        .collect()
    }
    import math

    scored = sorted(
        (
            (t, tf[t] * math.log(h.n_docs / dfs[t]))
            for t in tf
            if dfs.get(t, 0) > 0 and dfs[t] < h.n_docs
        ),
        key=lambda x: (-x[1], x[0]),
    )[:max_query_terms]
    if not scored:
        return spark.createDataFrame([], "doc_id long, shard_id int, score float")
    if boost:
        q = " ".join(f"{t}^{w:.6f}" for t, w in scored)
    else:
        q = " ".join(t for t, _ in scored)
    fetch = k + 1 if exclude_doc_id is not None else k
    hits = search(spark, h, q, k=fetch)
    if exclude_doc_id is not None:
        hits = hits.where(F.col("doc_id") != exclude_doc_id).limit(k)
    return hits


def term_vectors(
    spark: SparkSession,
    index: "IndexHandle | str",
    doc_ids: list[int] | None = None,
    keyword_terms: bool = False,
    broadcast_dict: bool = True,
) -> DataFrame:
    """(doc_id, term, tf, dl, tfidf): the index re-pivoted doc-major — the
    Lucene term-vectors surface (IndexReader.getTermFreqVector; Katta
    serves stored fields via getDetails and leaves term vectors to the
    consumer). Two uses: ``doc_ids`` bounded (driver-list, the getDetails
    budget) fetches per-doc sparse feature vectors for reranking/MLT;
    ``doc_ids=None`` exports the WHOLE corpus as (doc, term, tf, tfidf)
    rows — the index as a sparse feature store for downstream ML
    (tf-idf document vectors without re-tokenizing the corpus).

    Dataflow: one mapInPandas decode pass over the postings (each row
    explodes to its (doc, tf, dl) triples — vectorized, no per-row
    Python beyond the blob decode the search kernels already pay), then
    the vocab-sized (th → term, df) dictionary joins back (broadcast by
    default — same knob and rationale as unigram_lm_scores' vocab) and
    tfidf = tf · ln(n_docs / df) computes in-column. With a bounded
    ``doc_ids`` list the kernel np.isin-filters each decoded row, and
    for ``pmod_doc_id`` sharding the scan additionally prunes to the
    docs' shards (hash sharding reads all shards — the filter still
    collapses in-kernel). Sentinel doc-marker rows never appear (the
    dictionary join is inner and markers are not in the dictionary).
    ``keyword_terms=True`` includes NOT_ANALYZED ``field:value`` terms
    (tf=1 stored-field postings); default excludes them (text vectors).
    """
    h = IndexHandle.open(spark, index) if isinstance(index, str) else index
    posts = h.postings(spark).select(
        "shard_id", "th", "doc_ids", "tfs", "doclens"
    )
    want: np.ndarray | None = None
    if doc_ids is not None:
        if not doc_ids:
            return spark.createDataFrame(
                [], "doc_id long, term string, tf long, dl long, tfidf double"
            )
        want = np.unique(np.asarray(list(doc_ids), dtype=np.int64))
        if h.sharding == "pmod_doc_id":
            shards = sorted({int(d) % h.num_shards for d in want.tolist()})
            posts = posts.where(F.col("shard_id").isin(shards))
    want_arr = want

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ths, docs_o, tfs_o, dls_o = [], [], [], []
            for r in pdf.itertuples(index=False):
                docs, tfs, dls = decode_posting_list(
                    r.doc_ids, r.tfs, r.doclens
                )
                if want_arr is not None:
                    m = np.isin(docs, want_arr, assume_unique=False)
                    if not m.any():
                        continue
                    docs, tfs, dls = docs[m], tfs[m], dls[m]
                ths.append(np.full(docs.size, r.th, dtype=np.int64))
                docs_o.append(docs)
                tfs_o.append(tfs)
                dls_o.append(dls)
            if not ths:
                continue
            yield pd.DataFrame(
                {
                    "th": np.concatenate(ths),
                    "doc_id": np.concatenate(docs_o),
                    "tf": np.concatenate(tfs_o),
                    "dl": np.concatenate(dls_o),
                }
            )

    triples = posts.mapInPandas(
        kernel, "th long, doc_id long, tf long, dl long"
    )
    dct = h.stats(spark).select("th", "term", "df")
    if not keyword_terms:
        dct = dct.where(~F.col("term").contains(":"))
    if broadcast_dict:
        dct = F.broadcast(dct)
    return triples.join(dct, "th").select(
        "doc_id",
        "term",
        "tf",
        "dl",
        F.round(
            F.col("tf") * F.log(F.lit(float(h.n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )


def get_details(
    spark: SparkSession,
    hits: DataFrame,
    source: DataFrame,
    fields: list[str] | None = None,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Fetch stored fields for hits — Katta getDetails (LuceneServer.java:
    390-410; client fan-out LuceneClient.java:308-369) as a broadcast join
    of the tiny top-k against the source table (J2).

    The broadcast side must be the BUILD side: an inner join with the
    top-k broadcast lets every source partition probe the tiny hash table
    (hits are by construction drawn from the source corpus, so inner ==
    left-outer here). Broadcasting the preserved side of an outer join is
    impossible and silently degrades to a corpus-wide sort-merge join.
    """
    src = source.withColumn("doc_id", F.xxhash64(*[F.col(c) for c in id_cols]))
    if fields:
        src = src.select("doc_id", *fields)
    src = _join_safe_source(src, hits.columns)
    return src.join(F.broadcast(hits), "doc_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )


def snippet_col(
    terms: list[str], text_col: str = "text",
    before: int = 3, after: int = 3,
):
    """Column: a keyword-in-context snippet — up to ``before`` tokens, the
    first occurrence of any query term, up to ``after`` tokens after it;
    empty string when no term matches. The client-side highlighting step
    every Lucene consumer runs on getDetails output (the reference returns
    stored fields and leaves this to the caller), as ONE whole-stage-
    codegen regexp_extract — no Python in the row path. Analyzed terms
    only (keyword field:value terms match nothing in running text)."""
    import re as _re

    words = sorted(
        {t for t in terms if ":" not in t and t}, key=len, reverse=True
    )
    if not words:
        return F.lit("")
    alt = "|".join(_re.escape(w) for w in words)
    pat = (
        r"(?i)((?:[A-Za-z0-9]+[^A-Za-z0-9]+){0," + str(before) + r"}"
        r"\b(?:" + alt + r")\b"
        r"(?:[^A-Za-z0-9]+[A-Za-z0-9]+){0," + str(after) + r"})"
    )
    return F.regexp_extract(F.col(text_col), pat, 1)


def get_snippets(
    spark: SparkSession,
    index: "IndexHandle | str",
    query: str,
    hits: DataFrame,
    source: DataFrame,
    text_col: str = "text",
    before: int = 3,
    after: int = 3,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """get_details + a ``snippet`` column for the query's analyzed terms
    — hits stay the broadcast build side, the snippet evaluates in the
    same codegen stage as the probe, nothing extra shuffles."""
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    terms = sorted(parse_query(query, index.keyword_fields))
    out = get_details(
        spark, hits, source, fields=None, id_cols=id_cols
    )
    return out.withColumn(
        "snippet", snippet_col(terms, text_col, before, after)
    )


def explain_score(
    spark: SparkSession,
    index: "IndexHandle | str",
    query: str,
    doc_id: int,
    mode: str = "or",
    min_should_match: int = 0,
    synonyms: "dict[str, list[str]] | None" = None,
    score_dtype: str = "float32",
) -> DataFrame:
    """Lucene ``Searcher.explain`` analog: the per-clause BM25 breakdown of
    ONE document's score under ``query`` — the relevance-debugging surface
    every Lucene consumer reaches for (the reference serves Lucene 3.5,
    whose Searchable interface carries explain(Weight, int) right next to
    the search methods Katta scatter-gathers).

    Returns one row per clause, ordered contribution DESC then term ASC:

      term          the clause (a scoring/excluded term, or the phrase text)
      clause        'should' | 'must' | 'must_not' | 'phrase'
      qweight       query-side weight (occurrences x boost; 0 for must_not)
      tf, dl        this doc's term frequency and field length in the
                    clause's OWN posting (keyword postings carry dl=1)
      df            global document frequency (CachedDfSource invariant —
                    scores never depend on which shard serves the doc)
      idf, tf_norm  the BM25 factors (float64, scoring.py formulas)
      contribution  qweight * idf * tf_norm (0 when the doc lacks the term;
                    must_not and phrase rows never contribute)
      satisfied     this clause's verdict for THIS doc (a must_not row is
                    satisfied when the doc does NOT contain the term; a
                    phrase row when the positional match succeeds)
      matches       doc-level verdict, repeated on every row
      total_score   the engine score (score_dtype, same float32 cast as
                    Hit.java:39) when matches, else 0.0 — bit-comparable
                    to the ``score`` column search() returns for this doc

    Semantics replicate the search kernels exactly: flat OR needs >= 1
    scoring term present; mode='and' needs ALL terms; boolean queries need
    every MUST term + every phrase positionally verified + no MUST_NOT
    term; dictionary rewrites (wildcard/fuzzy/range) explain the expanded
    OR, each expansion scoring with its own df. ``synonyms`` groups
    explain as ONE blended row (clause='synonym', term='Synonym(a b)',
    tf = Σ member tfs, df = max member df — Lucene's explain prints
    SynonymQuery the same collapsed way); ``min_should_match`` gates the
    doc-level ``matches`` verdict on the count of satisfied optional
    clauses, a group counting as one. Tombstoned (deleted) docs
    never match — the liveDocs skip, while the reported stats stay stale
    until expunge, exactly like Lucene. AND/OR/NOT tree grouping is
    refused (a tree's match condition is not a flat clause list — run
    search() and read the tree kernel's verdict instead).

    Dataflow: the postings scan prunes to the query's terms (pushed
    ``In(th, ...)``) and — under pmod sharding — to the ONE shard that can
    hold the doc; per-shard kernels emit <= |terms| + |phrases| tiny rows
    (the doc's tf/dl per clause), never a per-doc result set. The BM25
    arithmetic over that bounded clause list runs driver-side, the same
    bounded-metadata budget as the k.shards client merge.
    """
    if isinstance(index, str):
        index = IndexHandle.open(spark, index)
    index._record_query()
    target = int(doc_id)
    query = fold_spaced_fields(query)
    if min_should_match < 0:
        raise ValueError(
            f"min_should_match must be >= 0, got {min_should_match}"
        )
    unquoted = _re_mod.sub(r'"[^"]*"(~\d+)?(\^\d+(?:\.\d+)?)?', " ", query)
    has_phrase = unquoted != query
    if _TREE_RE.search(unquoted):
        raise ValueError(
            "explain_score does not support AND/OR/NOT tree grouping — "
            "a tree's match condition is not a flat clause list; run "
            "search() for tree queries"
        )
    if (min_should_match or synonyms) and (
        _RANGE_RE.search(unquoted)
        or "*" in unquoted
        or "~" in unquoted
        or "?" in unquoted
    ):
        raise ValueError(
            "min_should_match/synonyms apply to analyzed term clauses "
            "only — not to wildcard/fuzzy/range rewrites"
        )
    must: set[str] = set()
    must_not: set[str] = set()
    phrases: list[tuple[list[str], int]] = []
    if _RANGE_RE.search(unquoted):
        if has_phrase:
            raise ValueError("phrases cannot be combined with range clauses")
        qweights = expand_ranges(spark, index, query)
    elif "*" in unquoted or "~" in unquoted or "?" in unquoted:
        if has_phrase:
            raise ValueError(
                "phrases cannot be combined with wildcard/fuzzy clauses"
            )
        qweights = expand_wildcards(spark, index, query)
    else:
        qweights, must, must_not, phrases = parse_bool_query(
            query, index.keyword_fields
        )
    if phrases and not index.positions:
        raise ValueError(
            f"phrase query against index {index.index_dir!r} built with "
            "positions=False (omitted term positions) — rebuild with "
            "positions=True to run phrase/slop queries"
        )
    syn_groups = _resolve_syn_groups(
        spark, index, synonyms, qweights, must, must_not, phrases
    )
    syn_members = {m for _, _, members in syn_groups for m in members}
    boolean = (
        bool(must or must_not or phrases)
        or min_should_match > 0
        or bool(syn_groups)
    )
    if boolean and mode != "or":
        raise ValueError(
            "boolean operators (+/-/phrase/min_should_match/synonyms) "
            f"define their own clause semantics; mode={mode!r} is not "
            "combinable with them"
        )
    if mode not in ("or", "and"):
        raise ValueError(
            f"explain_score explains scoring searches; mode={mode!r} "
            "has no score to explain"
        )
    out_schema = (
        "term string, clause string, qweight double, tf long, dl long, "
        "df long, idf double, tf_norm double, contribution double, "
        "satisfied boolean, matches boolean, total_score double"
    )
    if not qweights and not must_not:
        return _local_df(spark, [], None, out_schema)

    terms = sorted(set(qweights) | must_not | syn_members)
    hashes = sorted(term_hash(t) for t in terms)
    phrase_tokens = {t for toks, _ in phrases for t in toks}
    kcols = _KERNEL_COLS[:6] + (["positions"] if phrases else [])
    # (skips/block maxima are pruning state — a single-doc probe never
    # needs them)
    kcols = [
        c for c in kcols
        if c in ("shard_id", "th", "doc_ids", "tfs", "doclens", "positions")
    ]
    posts = index.postings(spark).where(F.col("th").isin(hashes))
    if index.sharding == "pmod_doc_id":
        posts = posts.where(
            F.col("shard_id") == int(target % index.num_shards)
        )
    posts = posts.select(*kcols)
    q_pairs = [(term_hash(t), t) for t in terms]
    stats_small = (
        index.stats(spark)
        .where(F.col("th").isin(hashes) & F.col("term").isin(terms))
        .select("th", "term", F.col("df").alias("df_g"))
    )
    posts = posts.join(F.broadcast(stats_small), "th")
    phrase_specs = [(tuple(toks), int(slop)) for toks, slop in phrases]
    want_pos = bool(phrase_specs)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows_out: list[tuple] = []
        tf_of: dict[str, int] = {}
        dl_of: dict[str, int] = {}
        pdata: dict[str, tuple] = {}
        for r in pdf.itertuples(index=False):
            docs, tfs, dls = decode_posting_list(r.doc_ids, r.tfs, r.doclens)
            i = int(np.searchsorted(docs, target))
            hit = i < docs.size and int(docs[i]) == target
            if hit:
                tf_of[r.term] = int(tfs[i])
                dl_of[r.term] = int(dls[i])
            if want_pos and r.term in phrase_tokens and hit:
                pdata[r.term] = (docs, tfs, decode_positions(r.positions, tfs))
        for t, tf in tf_of.items():
            rows_out.append((t, tf, dl_of[t], False))
        cand = np.array([target], dtype=np.int64)
        for toks, slop in phrase_specs:
            if all(t in pdata for t in toks):
                ok = bool(
                    _phrase_match_mask(cand, list(toks), slop, pdata)[0]
                )
            else:
                ok = False
            rows_out.append((" ".join(toks), 0, 0, ok))
        if not rows_out:
            return pd.DataFrame(
                {"term": pd.Series(dtype=object),
                 "tf": pd.Series(dtype=np.int64),
                 "dl": pd.Series(dtype=np.int64),
                 "phrase_ok": pd.Series(dtype=bool)}
            )
        return pd.DataFrame(
            rows_out, columns=["term", "tf", "dl", "phrase_ok"]
        )

    probe = (
        posts.groupBy("shard_id")
        .applyInPandas(
            lambda pdf: kernel(pdf),
            "term string, tf long, dl long, phrase_ok boolean",
        )
        .toPandas()
    )
    tf_of = {}
    dl_of = {}
    phrase_ok: dict[str, bool] = {}
    # a term row always carries the doc's dl >= 1; phrase verdict rows
    # carry tf=dl=0, so the two never collide even for one-token phrases
    pnames = {" ".join(toks) for toks, _ in phrase_specs}
    for r in probe.itertuples(index=False):
        if r.term in pnames and (r.tf == 0 and r.dl == 0):
            phrase_ok[r.term] = phrase_ok.get(r.term, False) or bool(
                r.phrase_ok
            )
        else:
            tf_of[r.term] = int(r.tf)
            dl_of[r.term] = int(r.dl)
    dfm = index.df_of_terms(spark, sorted(set(qweights)))
    n_docs, avgdl = float(index.n_docs), float(index.avgdl)
    deleted = index.deleted_array(spark)
    is_deleted = deleted is not None and bool(
        np.any(deleted == np.int64(target))
    )

    out_rows: list[tuple] = []
    contributions: list[float] = []
    any_should = False
    should_sat = 0  # satisfied optional clauses (a group counts as one)
    must_ok, not_ok = True, True
    phrase_token_set = {t for toks, _ in phrase_specs for t in toks}
    n_optional = (
        len(set(qweights) - must - phrase_token_set - syn_members)
        + len(syn_groups)
    )
    for t in sorted(qweights):
        if t in syn_members:
            # the key term explains inside its group's blended row
            continue
        qw = float(qweights[t])
        tf = tf_of.get(t, 0)
        dl = dl_of.get(t, 0)
        dfv = int(dfm.get(t, 0))
        idf = float(scoring.idf_np(np.array([dfv], np.float64), n_docs)[0])
        if tf > 0:
            tfn = float(
                scoring.tf_norm_np(
                    np.array([tf], np.float64),
                    np.array([dl], np.float64),
                    avgdl,
                )[0]
            )
        else:
            tfn = 0.0
        contrib = qw * idf * tfn if tf > 0 else 0.0
        clause = "must" if t in must else "should"
        sat = tf > 0
        if t in must and not sat:
            must_ok = False
        if clause == "should" and sat:
            any_should = True
            should_sat += 1
        contributions.append(contrib)
        out_rows.append(
            (t, clause, qw, tf, dl, dfv, idf, tfn, contrib, sat)
        )
    for weight, gdf, members in syn_groups:
        # one blended row per group — Lucene's explain collapses
        # SynonymQuery the same way (weight(Synonym(f:a f:b)) ...)
        tf_sum = int(sum(tf_of.get(m, 0) for m in members))
        dl = next(
            (dl_of[m] for m in members if tf_of.get(m, 0) > 0), 0
        )
        gidf = float(
            scoring.idf_np(np.array([gdf], np.float64), n_docs)[0]
        )
        if tf_sum > 0:
            gtfn = float(
                scoring.tf_norm_np(
                    np.array([tf_sum], np.float64),
                    np.array([dl], np.float64),
                    avgdl,
                )[0]
            )
        else:
            gtfn = 0.0
        contrib = float(weight) * gidf * gtfn if tf_sum > 0 else 0.0
        sat = tf_sum > 0
        if sat:
            any_should = True
            should_sat += 1
        contributions.append(contrib)
        out_rows.append(
            (f"Synonym({' '.join(members)})", "synonym", float(weight),
             tf_sum, dl, int(gdf), gidf, gtfn, contrib, sat)
        )
    for t in sorted(must_not):
        tf = tf_of.get(t, 0)
        sat = tf == 0
        if not sat:
            not_ok = False
        out_rows.append(
            (t, "must_not", 0.0, tf, dl_of.get(t, 0), 0, 0.0, 0.0, 0.0, sat)
        )
    phrases_sat = True
    for toks, slop in phrase_specs:
        name = " ".join(toks)
        ok = phrase_ok.get(name, False)
        phrases_sat = phrases_sat and ok
        label = name if slop == 0 else f'"{name}"~{slop}'
        out_rows.append(
            (label, "phrase", 0.0, 0, 0, 0, 0.0, 0.0, 0.0, ok)
        )
    if mode == "and":
        matches = all(tf_of.get(t, 0) > 0 for t in qweights)
    elif boolean:
        matches = (
            must_ok
            and not_ok
            and phrases_sat
            and (bool(must) or bool(phrase_specs) or any_should)
        )
        if min_should_match > 0:
            # the kernel's exact rule: a group counts as ONE clause;
            # m beyond the optional-clause count matches nothing
            matches = matches and (
                min_should_match <= n_optional
                and should_sat >= min_should_match
            )
    else:
        matches = any_should
    if is_deleted:
        matches = False
    total = float(
        np.float64(sum(contributions)).astype(score_dtype)
    ) if matches else 0.0
    out_rows = [
        r + (matches, total)
        for r in sorted(out_rows, key=lambda r: (-r[8], r[0]))
    ]
    return _local_df(spark, out_rows, None, out_schema)

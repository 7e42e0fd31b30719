"""Index build job — Katta's offline Hadoop IndexerJob re-created as one
resumable Spark application (reference: IndexerJob.java:51-181 builds one
Lucene index per input split; AbstractIndexOperation + DefaultDistributionPolicy
assign shards to nodes, master/DefaultDistributionPolicy.java:47-123).

Spark-first shape — ONE corpus-sized shuffle (tokens) plus one
postings-sized one (shard clustering), and the corpus-sized data crosses
Arrow exactly once. Measured on 300k turns / 12.5M tokens: the numpy
lexsort inside the kernel is ~2x cheaper than the JVM sortWithinPartitions
it replaces, and dropping the tdict join removed a vocab-sized join from
the blob path (a range exchange was also tried for the token shuffle — its
sampling job re-executes the tokenize lineage and cost MORE than the
second hash exchange it saved):

    phase 2 (THE pass):     tokenize (JVM codegen) → explode → fixed-width
            rows (shard_id, th=xxhash64(term), doc_id, doclen) + ONE
            doc-marker row per document (salted sentinel term family —
            per-shard doc counts and the docID-collision check fall out
            of the kernel, replacing the former separate ID-only corpus
            scan) → salted hash repartition by (shard_id, th % salt) —
            salt slices >> partitions average out imbalance; every
            (shard, th) group lands wholly in one partition; hash (not
            range) so no sampling job re-executes the tokenize lineage —
            → ONE mapInPandas kernel per partition: numpy lexsort
            (measured ~2x cheaper than the JVM row sort it replaces) +
            vectorized run-length tf + posting-list encode → one
            postings-sized hash exchange by shard → write ONE th-sorted
            file per shard (parquet min/max row-group skipping on th)
    dictionary (vocab-sized): (th → term) map + hash-collision check;
            postings store only the 8-byte th, never strings
    phase 3 (vocab-sized):  ONE job — term stats (df, cf) aggregated FROM
            the postings rows (blob columns pruned by parquet), with the
            per-shard doc counts / token totals (doc-marker rows' df and
            sum_dl) riding the same scan as Observation metrics; avgdl ≡
            total default-field tokens / n_docs

Scale notes (designed for ~100 TB / 1000 executors, tested on local[32]):
- shard_id = pmod(xxhash64(doc id), num_shards): uniform by construction —
  replaces Katta's capacity-sorted round-robin placement; the hash-spread
  of documents is also the primary hot-term defuser (a term's postings
  split evenly across shards).
- The encode shuffle moves 24-byte fixed-width int rows — term strings
  travel once, in the separate vocab-sized dictionary job (map-side
  partial agg collapses the explode before its tiny shuffle).
- encode_partitions sizes the per-task numpy working set: tokens×~32B /
  partitions should fit executor memory (e.g. 512 MB partitions at scale).
- Multi-field: ``keyword_cols`` adds NOT_ANALYZED fields (reference:
  SampleIndexGenerator.java:75-78 indexes key NOT_ANALYZED + text
  ANALYZED) as terms ``field:value`` with tf=1, dl=1 — one extra token
  row per (doc, field), same kernels, own df/idf per value.
- RESUMABILITY (replaces ZK queues + OperationWatchdog, SURVEY.md §2.10 B6):
  shards are processed in batches; each batch commits its postings
  partitions via dynamic partition overwrite (idempotent) and then appends
  a lineage row. A restarted build skips batches whose lineage row is
  status=committed.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from katta_spark.codec import encode_positions_batch, encode_posting_lists_batch
from katta_spark.oracle import with_doc_ids
from katta_spark.tokenizer import tokenize_col
from katta_spark.xxhash import term_hash

# Bump whenever the on-disk postings layout changes: a resumed build over a
# directory with a different version wipes and rebuilds (the analog of
# Katta refusing to serve a shard whose format it cannot read).
# v8: positional postings (positions blob per list) + per-row sum_dl.
FORMAT_VERSION = 8

# sd packs (shard_id, doclen, token position) into ONE long — a 4th
# UnsafeRow slot would add 8 bytes to every row of the corpus-sized
# shuffle (Tungsten aligns fields to 8 bytes), so the position rides the
# existing slot instead: sd = shard << 42 | doclen << 21 | pos.
# doclen (and hence pos < doclen) is capped at 2^21-1 analyzed tokens per
# document — enforced with a per-DOC raise_error guard at tokenize time
# (a transcript turn nowhere near it; shard ids get 22 bits = 4M shards).
_DL_BITS = 21
_DL_MASK = (1 << _DL_BITS) - 1
MAX_DOCLEN = _DL_MASK

# Doc-marker (sentinel) postings: ONE extra token row per document rides the
# existing corpus shuffle, so per-shard doc counts and the docID-collision
# check fall out of the encode kernel itself — no separate ID-only corpus
# scan (the old phase 1 job). The sentinel term family is salted over
# SENTINEL_SALT hashes ('\x00docs:<doc_id % salt>') so the marker rows
# spread across salt slices like any hot term (a single sentinel term would
# concentrate n_docs/num_shards rows into one partition at scale). '\x00'
# can occur in neither analyzed tokens ([a-z0-9]+) nor 'field:value' terms,
# so the sentinel term space never collides with real terms (modulo the
# same ~vocab²/2⁶⁴ xxhash64 birthday risk the dictionary check covers for
# real terms). Sentinel rows are excluded from stats/avgdl by the inner
# dictionary join (they are not in the dictionary) and are never queried
# (query terms hash real strings).
SENTINEL_SALT = 256
SENTINEL_HASHES = tuple(
    term_hash(f"\x00docs:{i}") for i in range(SENTINEL_SALT)
)

# Kernel output: term identified by th = xxhash64(term) only; term strings
# live in the vocab-sized dictionary table, so the corpus-sized shuffle and
# the postings blobs never carry strings.
ENCODED_SCHEMA = (
    "shard_id int, th long, df long, cf long, sum_dl long, doc_ids binary, "
    "tfs binary, doclens binary, positions binary, skips binary, "
    "max_tf int, min_dl int, block_max_tf binary, block_min_dl binary"
)
_COLS = [
    "shard_id", "th", "df", "cf", "sum_dl", "doc_ids", "tfs", "doclens",
    "positions", "skips", "max_tf", "min_dl", "block_max_tf", "block_min_dl",
]

# Keyword-field terms are stored as "<field>:<value>"; ':' cannot occur in
# an analyzed token ([a-z0-9]+), so the two term spaces never collide.
FIELD_SEP = ":"


def _pa_write_rows(
    path: str, schema, rows: list[tuple], append: bool = False
) -> None:
    """Driver-side parquet write of TINY metadata tables (corpus scalars,
    per-shard counts, lineage rows — single to dozens of rows). Each
    avoided Spark job is ~0.3-0.5 s of fixed scheduling overhead in the
    build's serial tail, which a 4N-core cluster pays exactly like an
    N-core one — the tail is the measured scaling-efficiency drag. The
    files are bit-compatible with Spark's writer (list fields named
    'element'); a _SUCCESS marker is written like Spark's so resume
    detection (stats_done) keeps working."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not append and os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=pa.schema(schema),
    )
    pq.write_table(
        table, os.path.join(path, f"part-{_uuid.uuid4().hex}.parquet")
    )
    with open(os.path.join(path, "_SUCCESS"), "w"):
        pass


def _meta_schemas():
    import pyarrow as pa

    def _lst(t):
        return pa.list_(pa.field("element", t))

    corpus = [
        pa.field("n_docs", pa.int64()),
        pa.field("avgdl", pa.float64()),
        pa.field("n_shards", pa.int32()),
        pa.field("keyword_fields", _lst(pa.string())),
        pa.field("sharding", pa.string()),
        pa.field("positions", pa.bool_()),
    ]
    shards = [
        pa.field("shard_id", pa.int32()),
        pa.field("n_docs", pa.int64()),
        pa.field("sum_dl", pa.int64()),
    ]
    lineage = [
        pa.field("run_id", pa.string()),
        pa.field("batch_id", pa.int32()),
        pa.field("shard_ids", _lst(pa.int32())),
        pa.field("status", pa.string()),
        pa.field("terms", pa.int64()),
        pa.field("postings", pa.int64()),
        pa.field("bytes", pa.int64()),
        pa.field("elapsed_ms", pa.int64()),
    ]
    return corpus, shards, lineage


def _paths(index_dir: str) -> dict[str, str]:
    return {
        "corpus": os.path.join(index_dir, "corpus.parquet"),
        "stats": os.path.join(index_dir, "stats.parquet"),
        "dict": os.path.join(index_dir, "dict.parquet"),
        "postings": os.path.join(index_dir, "postings.parquet"),
        "lineage": os.path.join(index_dir, "lineage.parquet"),
        "shards": os.path.join(index_dir, "shards.parquet"),
    }


def _encode_arrays(
    shard: np.ndarray, th: np.ndarray, doc: np.ndarray, dl: np.ndarray,
    pos: np.ndarray, block: int,
) -> pd.DataFrame:
    """Encode one partition's token rows, already sorted by
    (shard, th, doc, pos).

    Rows with repeated (shard, th, doc) are occurrences — tf is their run
    length and ``pos`` their ascending token positions (None for a
    positions=False build: empty blobs are written). All inputs are
    fixed-width ints; run detection is pure C-speed numpy and the heavy
    lifting is one vectorized multi-list encode
    (codec.encode_posting_lists_batch + encode_positions_batch).
    """
    n = shard.size
    # level 1: (shard, th, doc) runs → tf
    with_positions = pos is not None
    chg_doc = np.empty(n, dtype=bool)
    chg_doc[0] = True
    chg_doc[1:] = (doc[1:] != doc[:-1]) | (th[1:] != th[:-1]) | (
        shard[1:] != shard[:-1]
    )
    s_doc = np.flatnonzero(chg_doc)
    tf = np.diff(np.append(s_doc, n))
    doc_r, dl_r = doc[s_doc], dl[s_doc]
    th_r, shard_r = th[s_doc], shard[s_doc]
    # level 2: (shard, th) runs over the reduced arrays
    m = s_doc.size
    chg_t = np.empty(m, dtype=bool)
    chg_t[0] = True
    chg_t[1:] = (th_r[1:] != th_r[:-1]) | (shard_r[1:] != shard_r[:-1])
    starts = np.flatnonzero(chg_t)
    encoded = encode_posting_lists_batch(doc_r, tf, dl_r, starts, block=block)
    cols = [c for c in _COLS[2:] if c != "positions"]
    out = pd.DataFrame(encoded, columns=cols)
    # positions blob per run, occurrence-level (delta chain restarts per
    # doc); positions=False builds (the Lucene omit-term-positions field
    # option) write empty blobs — the column stays in the v8 schema so
    # every non-phrase code path is identical, phrase queries refuse.
    out.insert(
        cols.index("doclens") + 1,
        "positions",
        encode_positions_batch(pos, s_doc, s_doc[starts])
        if with_positions
        else [b""] * starts.size,
    )
    out.insert(0, "th", th_r[starts])
    out.insert(0, "shard_id", shard_r[starts].astype(np.int32))
    return out


def _make_encode_kernel(block: int, positions: bool = True):
    """mapInPandas kernel over salt-partitioned token rows.

    Materializes the partition (fixed-width numpy, ~32 B/row — sized by
    encode_partitions), lexsorts by (shard, th, doc) — replacing the far
    costlier JVM row sort — and emits one postings row per (shard, term).
    Equal (shard, th) keys are guaranteed whole within the partition by
    the hash exchange, so no cross-partition stitching is needed.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ths, docs, sds = [], [], []
        for pdf in batches:
            if not len(pdf):
                continue
            ths.append(pdf["th"].to_numpy(np.int64))
            docs.append(pdf["doc_id"].to_numpy(np.int64))
            sds.append(pdf["sd"].to_numpy(np.int64))
        if not ths:
            return
        th = np.concatenate(ths)
        doc = np.concatenate(docs)
        sd = np.concatenate(sds)
        shard = sd >> (2 * _DL_BITS)
        dl = (sd >> _DL_BITS) & _DL_MASK
        pos = sd & _DL_MASK
        # within equal (shard, th, doc) the dl bits are constant, so sd
        # ordering == pos ordering — sd doubles as the innermost sort key
        order = np.lexsort((sd, doc, th, shard))
        yield _encode_arrays(
            shard[order], th[order], doc[order], dl[order],
            pos[order] if positions else None, block,
        )

    return kernel


def token_rows(
    docs_with_ids: DataFrame, keyword_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(th, doc_id, sd) — one fixed-width row per token, 3 columns.

    Tokenize + posexplode entirely JVM-side (whole-stage codegen); the
    term string is immediately replaced by th = xxhash64(term) so the
    shuffle and Arrow pipe move small int rows, never strings. shard_id,
    doclen AND the token position are PACKED into one long
    (sd = shard<<42 | doclen<<21 | pos): a 4th UnsafeRow slot would add
    8 aligned bytes per row of the fabric-bound corpus shuffle, so the
    position rides the existing slot (doclen capped at 2^21-1 with a
    per-doc raise_error guard). Keyword fields add one row per
    (doc, field): term "field:value", tf=1, dl=1, pos=0 — the NOT_ANALYZED
    field postings (SampleIndexGenerator.java:75-78).
    """
    sd = (
        F.shiftleft(F.col("shard_id").cast("long"), 2 * _DL_BITS)
        + F.shiftleft(F.col("doclen").cast("long"), _DL_BITS)
        + F.col("pos")
    )
    # The doc-marker term rides the SAME explode as the real tokens (one
    # scan, one tokenize): appended as one extra array element per doc, it
    # hashes through the same xxhash64 and its sd carries the doc's
    # analyzed doclen — so the marker posting's doclens blob doubles as a
    # per-shard doc→dl (norms) sidecar (its pos slot holds doclen — never
    # queried). coalesce('') keeps null-text docs: they still emit their
    # marker (doclen 0).
    marker_term = F.concat(
        F.lit("\x00docs:"),
        F.pmod(F.col("doc_id"), F.lit(SENTINEL_SALT)).cast("string"),
    )
    toks = docs_with_ids.select(
        "shard_id",
        "doc_id",
        tokenize_col(F.coalesce(F.col("text"), F.lit(""))).alias("tokens"),
    ).withColumn(
        "doclen",
        F.when(F.size("tokens") <= F.lit(MAX_DOCLEN), F.size("tokens")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"document exceeds MAX_DOCLEN={MAX_DOCLEN} analyzed "
                        "tokens (sd packing cap); doc_id="
                    ),
                    F.col("doc_id").cast("string"),
                )
            )
        ),
    )
    base = toks.select(
        "shard_id",
        "doc_id",
        "doclen",
        F.posexplode(
            F.concat(F.col("tokens"), F.array(marker_term))
        ).alias("pos", "term"),
    ).select(
        F.xxhash64(F.col("term")).alias("th"), "doc_id", sd.alias("sd")
    )
    for fld in keyword_cols:
        kw = (
            docs_with_ids.where(F.col(fld).isNotNull())
            .select(
                F.xxhash64(
                    F.concat(F.lit(fld + FIELD_SEP), F.col(fld).cast("string"))
                ).alias("th"),
                "doc_id",
                (
                    F.shiftleft(F.col("shard_id").cast("long"), 2 * _DL_BITS)
                    + F.lit(1 << _DL_BITS).cast("long")
                ).alias("sd"),
            )
        )
        base = base.unionByName(kw)
    return base


def term_dictionary(
    docs_with_ids: DataFrame, keyword_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(th, term, _mx): the vocab-sized dictionary mapping hash → term
    string.

    Map-side partial aggregation collapses the explode to distinct terms
    per partition before the (tiny) shuffle. min(term) ≠ max(term) marks
    an xxhash64 collision: two distinct terms sharing a th would silently
    merge postings — the build refuses (probability ~ vocab²/2⁶⁴).
    min/max instead of countDistinct keeps the aggregate single-level
    (no Expand, one shuffle)."""
    toks = docs_with_ids.select(tokenize_col(F.col("text")).alias("tokens"))
    # explode_outer: InferFiltersFromGenerate would otherwise duplicate
    # the tokenize into an interpreted pre-Generate size() filter — a
    # second regex split over the whole corpus (measured 2.2x the
    # dictionary scan). Outer generates skip the rule; the NULL row an
    # empty doc adds is dropped before the aggregate.
    terms = toks.select(F.explode_outer("tokens").alias("term")).where(
        F.col("term").isNotNull()
    )
    for fld in keyword_cols:
        kw = (
            docs_with_ids.where(F.col(fld).isNotNull())
            .select(
                F.concat(
                    F.lit(fld + FIELD_SEP), F.col(fld).cast("string")
                ).alias("term")
            )
        )
        terms = terms.unionByName(kw)
    return (
        terms.groupBy(F.xxhash64(F.col("term")).alias("th"))
        .agg(F.min("term").alias("term"), F.max("term").alias("_mx"))
    )


def _docs_with_ids(transcripts, num_shards, id_cols, text_col, doc_id_col,
                   keyword_cols: tuple[str, ...] = (),
                   docvalue_cols: tuple[str, ...] = ()):
    seen: set[str] = set()
    extra = [
        c
        for c in (*keyword_cols, *docvalue_cols)
        if c != text_col and not (c in seen or seen.add(c))
    ]
    if doc_id_col is None:
        extra_sel = [c for c in extra if c not in id_cols]
        return with_doc_ids(
            transcripts.select(*id_cols, text_col, *extra_sel), num_shards
        ).select(
            "doc_id", "shard_id", F.col(text_col).alias("text"),
            *[c for c in id_cols if c in extra], *extra_sel,
        )
    return transcripts.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        # hash the CAST value so shard_expr(doc_id: long) reproduces the
        # assignment for external docID sets (filters) of any source dtype
        F.pmod(F.xxhash64(F.col(doc_id_col).cast("long")), F.lit(num_shards))
        .cast("int")
        .alias("shard_id"),
        F.col(text_col).alias("text"),
        *extra,
    )


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    num_shards: int = 8,
    salt: int = 1024,
    block: int = 128,
    shards_per_batch: int | None = None,
    encode_partitions: int | None = None,
    run_id: str | None = None,
    id_cols: tuple[str, str] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    doc_id_col: str | None = None,
    keyword_cols: tuple[str, ...] = (),
    docvalue_cols: tuple[str, ...] = (),
    positions: bool = True,
) -> dict:
    """Build the full index (postings + dict + stats + corpus + shards +
    lineage).

    Resumable: re-running with the same index_dir skips committed batches.
    Returns a summary dict (n_docs, avgdl, committed/skipped batches).

    ``salt``: term-slice granularity of the salted encode shuffle (slices
    per shard; keep >> encode_partitions for straggler-free balance).
    ``encode_partitions``: parallelism of the encode shuffle (default:
    spark.sql.shuffle.partitions); sizes the per-task numpy working set
    (tokens × ~32 B / partitions).
    ``doc_id_col``: if the input already has a unique int64 id (e.g. the
    documents table), use it instead of xxhash64(conv_id, turn_idx).
    ``keyword_cols``: NOT_ANALYZED fields indexed as ``field:value`` terms
    searchable via field-qualified queries (Katta.java:825-826 parses
    ``field:term`` with a KeywordAnalyzer QueryParser).
    ``docvalue_cols``: columns written to the per-shard sort-value sidecar
    (docvalues.py — the Lucene norms/FieldCache analog) so field-sorted
    searches cap per-shard output at k like Katta's TopFieldCollector
    (LuceneServer.java:672-677) instead of joining every match.
    ``positions=False``: omit term positions (the Lucene
    Field omit-term-positions option) — the positions column stays in the
    v8 schema but holds empty blobs, saving the occurrence-level encode
    cost on corpora that never run phrase queries; a phrase query against
    such an index refuses with a clear error (Lucene parity: PhraseQuery
    on an unpositioned field throws).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    p = _paths(index_dir)
    phase_t: dict[str, float] = {}
    t_start = time.time()
    keyword_cols = tuple(keyword_cols)
    docvalue_cols = tuple(docvalue_cols)
    docs = _docs_with_ids(
        transcripts, num_shards, id_cols, text_col, doc_id_col, keyword_cols,
        docvalue_cols,
    )
    if docvalue_cols:
        # fail fast on an unsupported sort-column type — before any batch
        # is encoded, not at the sidecar write hours into a large build
        from katta_spark.docvalues import mapped_expr

        ddt = dict(docs.dtypes)
        for c in docvalue_cols:
            if ddt[c] != "string":
                mapped_expr(docs, c)

    # Format check: an existing index of a different on-disk version cannot
    # be resumed — wipe and rebuild from scratch.
    version_file = os.path.join(index_dir, "FORMAT_VERSION")
    if os.path.exists(index_dir) and os.listdir(index_dir):
        stored = None
        if os.path.exists(version_file):
            with open(version_file) as fh:
                stored = fh.read().strip()
        if stored != str(FORMAT_VERSION):
            # Only wipe a directory that demonstrably IS an index of another
            # format — a mistyped path pointing at unknown content must
            # raise, never be recursively deleted.
            looks_like_index = stored is not None or any(
                os.path.exists(p[t]) for t in ("postings", "corpus", "stats")
            )
            if not looks_like_index:
                raise ValueError(
                    f"{index_dir!r} is non-empty but does not look like a "
                    "katta_spark index (no FORMAT_VERSION / postings / "
                    "corpus); refusing to delete it. Pass an empty or "
                    "index-shaped directory."
                )
            import shutil

            shutil.rmtree(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    with open(version_file, "w") as fh:
        fh.write(str(FORMAT_VERSION))

    # Build parameters are persisted at build START (before any batch
    # commits), so resuming a PARTIAL build with different parameters is
    # refused up front — a batch-wise mix of keyword_cols/sharding would
    # silently serve stale or missing field postings for part of the
    # corpus (the staleness class the keyword_cols guard exists for).
    meta_file = os.path.join(index_dir, "BUILD_META.json")
    build_meta = {
        "keyword_cols": list(keyword_cols),
        "num_shards": num_shards,
        "text_col": text_col,
        "doc_id_col": doc_id_col,
        "docvalue_cols": list(docvalue_cols),
        "positions": positions,
    }
    if os.path.exists(meta_file):
        with open(meta_file) as fh:
            stored_meta = json.load(fh)
        stored_meta.setdefault("docvalue_cols", [])
        stored_meta.setdefault("positions", True)
        if stored_meta != build_meta:
            raise ValueError(
                f"index at {index_dir!r} was started with build parameters "
                f"{stored_meta!r}; resume requested {build_meta!r} — "
                "committed batches would be inconsistent; rebuild into a "
                "fresh directory instead"
            )
    else:
        with open(meta_file, "w") as fh:
            json.dump(build_meta, fh)

    def _run_dictionary() -> int:
        # (th → term) dictionary, once per build (vocab-sized shuffle after
        # map-side partial agg), written in ONE job; the collision check —
        # a th collision would silently merge two terms' postings — rides
        # the write as an Observation metric (min(term) != max(term)), so
        # there is no read-back job in the serial tail.
        t0 = time.time()
        obs_d = Observation("dict_collisions")
        (
            term_dictionary(docs, keyword_cols)
            .repartition(max(1, num_shards // 8), "th")
            .sortWithinPartitions("th")
            .observe(
                obs_d,
                F.count(
                    F.when(F.col("term") != F.col("_mx"), 1)
                ).alias("collisions"),
            )
            .write.mode("overwrite")
            .parquet(p["dict"])
        )
        try:
            n = int(obs_d.get["collisions"] or 0)
        except Exception:
            # empty relation: Catalyst may fold the CollectMetrics away
            n = 0
        phase_t["dictionary"] = round(time.time() - t0, 2)
        return n

    committed: set[int] = set()
    if os.path.exists(p["lineage"]):
        for r in spark.read.parquet(p["lineage"]).where(
            F.col("status") == "committed"
        ).collect():
            committed.add(int(r["batch_id"]))

    if shards_per_batch is None:
        shards_per_batch = num_shards
    batches = [
        (bi, list(range(lo, min(lo + shards_per_batch, num_shards))))
        for bi, lo in enumerate(range(0, num_shards, shards_per_batch))
    ]

    kernel = _make_encode_kernel(block, positions)
    n_committed = n_skipped = 0
    pool = ThreadPoolExecutor(max_workers=4)
    will_commit = any(b not in committed for b, _ in batches)
    fut_dict = pool.submit(_run_dictionary) if will_commit else None
    # Sort-value sidecar (docvalues.py): its own slim corpus scan,
    # independent of the postings — overlapped with the encode batches on
    # the driver pool, exactly like the dictionary (it sat in the serial
    # tail before, a full docvalue-scan of wait after the last batch).
    fut_dv = None
    if docvalue_cols:
        from katta_spark.docvalues import dv_path, write_docvalues

        if will_commit or not os.path.exists(
            os.path.join(dv_path(index_dir), "_SUCCESS")
        ):

            def _run_dv():
                t_dv = time.time()
                write_docvalues(
                    spark, docs, index_dir, docvalue_cols, num_shards
                )
                phase_t["docvalues"] = round(time.time() - t_dv, 2)

            fut_dv = pool.submit(_run_dv)
    try:
        for batch_id, shard_ids in batches:
            if batch_id in committed:
                n_skipped += 1
                continue
            # Surface overlapped-job failures (dictionary write errors,
            # earlier lineage appends) as soon as they are known instead
            # of only after every batch has been fully written.
            if fut_dict is not None and fut_dict.done():
                fut_dict.result()
            t0 = time.time()
            batch_docs = docs
            if len(shard_ids) < num_shards:
                batch_docs = docs.where(F.col("shard_id").isin(shard_ids))
            tokens = token_rows(batch_docs, keyword_cols)
            # Salted hash repartition of the fixed-width token rows by
            # (shard_id, th % salt): salt slices (>> partitions) average out
            # per-partition imbalance, every (shard, term) group lands wholly
            # in one partition, and — unlike a range exchange — no sampling
            # job re-executes the tokenize lineage. The kernel lexsorts in
            # numpy (measured ~2x cheaper than the JVM sortWithinPartitions it
            # replaces) and encodes. The second, postings-sized hash exchange
            # spreads each shard's (shard_id, th % 16) slices over the
            # batch's len(shard_ids) tasks, so a shard is written as up to
            # min(16, len(shard_ids)) files, each th-sorted — parquet min/max
            # row-group skipping on th still holds; hash (not range) so
            # nothing is sampled and the kernel runs exactly once.
            n_encode_parts = encode_partitions or int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
            postings = (
                tokens.repartition(
                    n_encode_parts,
                    F.shiftright(F.col("sd"), 2 * _DL_BITS),
                    F.pmod(F.col("th"), F.lit(salt)),
                )
                .mapInPandas(kernel, ENCODED_SCHEMA)
                # keys = (shard, th%16 slice) >> partitions: hashing bare
                # shard ids into as many partitions collides (Poisson max
                # bucket 2-3x mean = a write-stage straggler, measured ~20%);
                # files stay th-sorted so row-group min/max skipping holds,
                # ≤ min(16, len(shard_ids)) files per shard.
                .repartition(
                    len(shard_ids), F.col("shard_id"), F.pmod(F.col("th"), F.lit(16))
                )
                .sortWithinPartitions("shard_id", "th")
            )
            # Batch metrics piggyback on the write itself (CollectMetrics
            # node): no blob-sized read-back job after the commit.
            # exclude the doc-marker family from the batch metrics (InSet
            # over the 256 sentinel hashes — a codegen hash-set probe)
            real = ~F.col("th").isin(list(SENTINEL_HASHES))
            obs = Observation(f"batch{batch_id}")
            postings = postings.observe(
                obs,
                F.count(F.when(real, 1)).alias("terms"),
                F.sum(F.when(real, F.col("df"))).alias("postings"),
                F.sum(
                    F.when(
                        real,
                        F.length("doc_ids") + F.length("tfs")
                        + F.length("doclens") + F.length("positions"),
                    )
                ).alias("bytes"),
            )
            (
                postings.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard_id")
                .parquet(p["postings"])
            )
            t1 = time.time()
            # Lineage row AFTER the data commit — crash between the two
            # replays the batch idempotently (dynamic partition overwrite).
            # The append itself runs in a driver thread, overlapping the
            # next batch / the phase-3 jobs: deferring it only widens the
            # replay window, never corrupts (at-least-once batches).
            summary = obs.get
            # driver-side pyarrow append — a 1-row metadata write is not
            # worth a Spark job's fixed overhead in the serial tail
            _pa_write_rows(
                p["lineage"],
                _meta_schemas()[2],
                [
                    (
                        run_id,
                        batch_id,
                        shard_ids,
                        "committed",
                        int(summary["terms"] or 0),
                        int(summary["postings"] or 0),
                        int(summary["bytes"] or 0),
                        int((time.time() - t0) * 1000),
                    )
                ],
                append=True,
            )
            phase_t[f"batch{batch_id}_encode_write"] = round(t1 - t0, 2)
            phase_t[f"batch{batch_id}_summary_lineage"] = round(time.time() - t1, 2)
            n_committed += 1

        # Join the overlapped dictionary job; fail the build on a term-hash
        # collision. (Lineage appends keep running — they are joined at the
        # end of the build, overlapped with the phase-3 stats jobs.)
        if fut_dict is not None:
            n_collisions = fut_dict.result()
            if n_collisions:
                raise RuntimeError(f"xxhash64 term collision(s) detected: {n_collisions}")
    except BaseException:
        # Abandon overlapped driver-thread jobs without blocking: queued
        # futures are cancelled, running ones are detached (Spark jobs
        # in driver threads cannot be interrupted from here).
        pool.shutdown(wait=False, cancel_futures=True)
        raise

    # Everything past the batch loop runs with the lineage appends
    # still in flight on the pool — any failure here must not leak
    # those driver threads.
    try:
        # Empty-corpus / all-empty-text edge: a write of zero rows can leave
        # only _SUCCESS, which a later read cannot infer a schema from —
        # materialize explicitly-typed empty tables so every query path works.
        def _ensure_readable(path: str, schema: str) -> None:
            try:
                spark.read.parquet(path).schema
            except Exception:
                spark.createDataFrame([], schema).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(path)

        # The readability probe is only needed for the empty/all-empty-text
        # corpus edge, but spark.read.parquet().schema LISTS every postings
        # file — a measurable serial cost right before the stats job lists
        # them again. Probe lazily: run phase 3 optimistically and
        # materialize the empty tables ONLY if its analysis fails.
        def _ensure_phase3_readable() -> None:
            _ensure_readable(p["postings"], ENCODED_SCHEMA)
            _ensure_readable(p["dict"], "th long, term string, _mx string")

        t2 = time.time()
        # ---- Phase 3: term stats AND marker-derived doc/avgdl scalars in
        # ONE job (vocab-sized; parquet prunes the blob columns). Katta's
        # DocumentFrequencyWritable sums per-shard dfs the same way
        # (LuceneClient.java:271-281). avgdl ≡ total default-field tokens /
        # n_docs. Per (shard, slice) marker posting: df = distinct doc_ids,
        # cf = input rows (a 64-bit doc_id birthday collision — likely
        # around ~4e9 docs — or duplicate input ids makes cf exceed df),
        # and the per-row sum_dl column (written by the encode kernel) is
        # the run's Σ doclens, so the shard's total tokens is a plain SUM —
        # no blob decode, no Python, no second job: the marker aggregates
        # ride the stats write as Observation metrics (the r3 tail of two
        # 2-5 s fixed-overhead jobs is gone; markers themselves drop out of
        # the stats output via the inner dictionary join).
        stats_done = all(
            os.path.exists(os.path.join(p[t], "_SUCCESS"))
            for t in ("stats", "shards", "corpus")
        )
        if not stats_done or n_committed:
            marker = F.col("th").isin(list(SENTINEL_HASHES))

            def _run_stats(obs3):
                tdict_r = spark.read.parquet(p["dict"]).select("th", "term")
                stats_src = spark.read.parquet(p["postings"]).select(
                    "shard_id", "th", "df", "cf", "sum_dl"
                )
                if obs3 is not None:
                    stats_src = stats_src.observe(
                        obs3,
                        F.collect_list(
                            F.when(
                                marker,
                                F.struct(
                                    F.col("shard_id"),
                                    F.col("df"),
                                    F.col("cf"),
                                    F.col("sum_dl"),
                                ),
                            )
                        ).alias("mk"),
                    )
                (
                    stats_src.groupBy("th")
                    .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                    .join(tdict_r, "th")
                    .select("term", "df", "cf", "th")
                    .write.mode("overwrite")
                    .parquet(p["stats"])
                )

            # Per-shard marker sums as ONE Observation metric on the stats
            # write (zero extra jobs at any shard count): collect_list of
            # the marker rows' (shard_id, df, cf, sum_dl) structs —
            # bounded by SENTINEL_SALT x shards x files-per-shard rows
            # (driver-KB scale), summed per shard driver-side. This
            # replaces both the 3-aggregates-per-shard Observe (whose
            # codegen compile cost seconds past 8 shards) and the
            # separate marker-scan job that large-shard builds paid in
            # the serial tail.
            obs3 = Observation("phase3_markers")
            try:
                _run_stats(obs3)
            except Exception:
                # empty-corpus edge: the postings/dict writes left only
                # _SUCCESS — materialize typed empty tables and retry
                # (an Observation cannot be reused: make a fresh one)
                _ensure_phase3_readable()
                obs3 = (
                    Observation("phase3_markers_retry")
                    if obs3 is not None
                    else None
                )
                _run_stats(obs3)
            m = None
            if obs3 is not None:
                try:
                    m = obs3.get
                except Exception:
                    # an empty postings relation lets Catalyst's
                    # PropagateEmptyRelation drop the CollectMetrics node —
                    # fall back to the explicit marker aggregation
                    m = None
            if m is not None:
                per_shard: dict[int, list[int]] = {}
                n_rows = 0
                for r in m["mk"] or []:
                    acc = per_shard.setdefault(int(r["shard_id"]), [0, 0])
                    acc[0] += int(r["df"])
                    acc[1] += int(r["sum_dl"])
                    n_rows += int(r["cf"])
                shard_counts = [
                    (s, nd, dl)
                    for s, (nd, dl) in sorted(per_shard.items())
                    if nd
                ]
            else:
                mrows = (
                    spark.read.parquet(p["postings"])
                    .where(marker)
                    .groupBy("shard_id")
                    .agg(
                        F.sum("df").alias("nd"),
                        F.sum("cf").alias("nr"),
                        F.sum("sum_dl").alias("dl"),
                    )
                    .collect()
                )
                shard_counts = [
                    (int(r["shard_id"]), int(r["nd"]), int(r["dl"]))
                    for r in mrows
                ]
                n_rows = sum(int(r["nr"]) for r in mrows)
            n_docs = sum(c for _, c, _ in shard_counts)
            if n_rows != n_docs:
                raise RuntimeError(
                    f"doc_id collision or duplicate input ids: {n_rows} rows "
                    f"but {n_docs} distinct doc_ids"
                )
            _ensure_readable(p["stats"], "term string, df long, cf long, th long")
            sum_dl = sum(dl for _, _, dl in shard_counts)
            avgdl = (sum_dl / n_docs) if n_docs else 1.0
            # Guard avgdl==0 (every doc's analyzed text empty but keyword fields
            # present): tf_norm divides by avgdl — mirror the oracle's
            # avgdl==0 → 1.0 so keyword-term scores stay finite (oracle.py).
            if avgdl == 0.0:
                avgdl = 1.0
            sharding = "pmod_doc_id" if doc_id_col is None else "pmod_xxhash64"

            # two tiny metadata tables: driver-side pyarrow writes (the
            # former pair of Spark jobs was pure fixed overhead in the
            # serial tail)
            corpus_s, shards_s, _ = _meta_schemas()
            _pa_write_rows(p["shards"], shards_s, shard_counts)
            _pa_write_rows(
                p["corpus"],
                corpus_s,
                [
                    (
                        n_docs, avgdl, num_shards, list(keyword_cols),
                        sharding, positions,
                    )
                ],
            )
        else:
            # Fully-resumed build (no new batches, stats committed): the
            # scalars are already on disk — nothing to recompute.
            row = spark.read.parquet(p["corpus"]).collect()[0]
            assert int(row["n_shards"]) == num_shards, "num_shards mismatch on resume"
            stored_kw = tuple(row["keyword_fields"] or ())
            if stored_kw != keyword_cols:
                raise ValueError(
                    f"index at {index_dir!r} was built with keyword_cols="
                    f"{stored_kw!r}, resume requested {keyword_cols!r} — the "
                    "committed postings would be stale; rebuild into a fresh "
                    "directory instead"
                )
            n_docs = int(row["n_docs"])
            avgdl = float(row["avgdl"])

        if fut_dv is not None:
            fut_dv.result()
    except BaseException:
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    pool.shutdown()

    phase_t["phase3_stats"] = round(time.time() - t2, 2)
    return {
        "phase_timings": phase_t,
        "run_id": run_id,
        "n_docs": n_docs,
        "avgdl": avgdl,
        "num_shards": num_shards,
        "batches_committed": n_committed,
        "batches_skipped": n_skipped,
    }
